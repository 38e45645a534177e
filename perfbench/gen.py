"""Seeded input generators. Pure numpy/pyarrow: no Spark, so the same
seed gives byte-identical files whatever engine version reads them.

Base tables are the sf0.01/sf0.1 copies under ``data/``; the seed only
picks positions (of dirty values, of documents, of time slices), never
the sizes or the rates, so every seed gives a workload of the same cost.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# -- orders leg ---------------------------------------------------------------------

PAD_RATE = 0.10     # padded string / quantity cells
BLANK_RATE = 0.02   # blank l_linestatus cells
NULLQ_RATE = 0.02   # blank l_quantity cells


def _pick(rng: np.random.Generator, n: int, rate: float) -> np.ndarray:
    """A mask with exactly round(n * rate) seeded positions set."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=int(round(n * rate)), replace=False)] = True
    return mask


def orders_inputs(out_dir: str, seed: int, days: int) -> list[dict]:
    """The sf0.01 lineitem and orders tables as dirty daily deliveries:
    a lineitem CSV and an orders JSONL per day, each day a contiguous
    order-key range. Padding, blanks and null quantities are injected
    at fixed rates at seeded positions."""
    rng = np.random.default_rng(seed)
    li = pq.read_table(f"{DATA}/sf0.01/lineitem.parquet").to_pandas()
    od = pq.read_table(f"{DATA}/sf0.01/orders.parquet").to_pandas()
    n = len(li)
    qty = li.l_quantity.map(lambda v: f"{v:.1f}")
    pad = _pick(rng, n, PAD_RATE)
    qty[pad] = "  " + qty[pad] + " "
    qty[_pick(rng, n, NULLQ_RATE)] = ""
    li["l_quantity"] = qty
    flag = li.l_returnflag.copy()
    pad = _pick(rng, n, PAD_RATE)
    flag[pad] = " " + flag[pad] + "  "
    li["l_returnflag"] = flag
    status = li.l_linestatus.copy()
    status[_pick(rng, n, BLANK_RATE)] = ""
    li["l_linestatus"] = status
    li["l_shipdate"] = li.l_shipdate.dt.strftime("%Y-%m-%d %H:%M:%S")
    prio = od.o_orderpriority.copy()
    pad = _pick(rng, len(od), PAD_RATE)
    prio[pad] = prio[pad] + "   "
    od["o_orderpriority"] = prio
    od["o_orderdate"] = od.o_orderdate.dt.strftime("%Y-%m-%d")

    os.makedirs(out_dir, exist_ok=True)
    bounds = np.quantile(od.o_orderkey, np.linspace(0, 1, days + 1))
    bounds[-1] += 1
    out = []
    for day in range(days):
        lo, hi = bounds[day], bounds[day + 1]
        d_od = od[(od.o_orderkey >= lo) & (od.o_orderkey < hi)]
        d_li = li[(li.l_orderkey >= lo) & (li.l_orderkey < hi)]
        csv_path = os.path.join(out_dir, f"lineitem_day{day:03d}.csv")
        jsonl_path = os.path.join(out_dir, f"orders_day{day:03d}.jsonl")
        d_li.to_csv(csv_path, index=False)
        with open(jsonl_path, "w") as f:
            for rec in d_od.to_dict("records"):
                f.write(json.dumps(rec) + "\n")
        out.append({"csv": csv_path, "jsonl": jsonl_path,
                    "lineitem_rows": len(d_li), "orders_rows": len(d_od)})
    return out


# -- daily_increment ---------------------------------------------------------------

NEAR_DUP_TAIL = " near dup tail"
ISOLATION = 0.25


def _similar_docs(ids, texts, threshold: float) -> set[int]:
    """Ids of documents whose 3-word-shingle Jaccard with some other
    document reaches ``threshold`` (exact, via an inverted index)."""
    shingles = []
    owners: dict[tuple, list[int]] = {}
    for i, t in enumerate(texts):
        w = t.split()
        sh = {tuple(w[k:k + 3]) for k in range(len(w) - 2)}
        shingles.append(len(sh))
        for s in sh:
            owners.setdefault(s, []).append(i)
    inter: dict[tuple[int, int], int] = {}
    for docs in owners.values():
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                key = (docs[a], docs[b])
                inter[key] = inter.get(key, 0) + 1
    out = set()
    for (a, b), k in inter.items():
        if k / (shingles[a] + shingles[b] - k) >= threshold:
            out.update((int(ids[a]), int(ids[b])))
    return out


def _docs_table(ids, texts) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())})


def daily_inputs(out_dir: str, seed: int, days: int, fresh: int,
                 copies: int, near: int, vectors: int, sf: str = "sf0.1") -> dict:
    """The standing halves and ``days`` seeded day batches.

    Documents: the even ids form the standing corpus; each day takes
    ``fresh`` unused odd-id documents, ``copies`` exact copies and
    ``near`` near-duplicates (text + a fixed tail) of corpus documents.
    Fresh documents are drawn only from those whose 3-word-shingle
    Jaccard with every other document stays below ``ISOLATION``, well
    under the 0.5 the near-duplicate check uses, so the right answer of
    each day is known: exactly the fresh documents are accepted.
    Vectors: the even ids form the standing ANN index; each day appends
    ``vectors`` unused odd-id vectors. Events: the first half by time is
    the bootstrap; the rest is cut into ``days`` equal time slices."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    docs = pq.read_table(f"{DATA}/{sf}/documents.parquet",
                         columns=["doc_id", "text"]).sort_by("doc_id")
    ids = docs["doc_id"].to_numpy()
    texts = docs["text"].to_pylist()
    shared = _similar_docs(ids, texts, ISOLATION)
    corpus_mask = ids % 2 == 0
    corpus_ids = ids[corpus_mask]
    pool = np.array([d for d in ids[~corpus_mask] if int(d) not in shared])
    need = days * fresh
    if len(pool) < need:
        raise ValueError(f"{len(pool)} isolated documents, {need} needed")
    fresh_ids = rng.choice(pool, size=need, replace=False)
    text_of = dict(zip(ids.tolist(), texts))

    pq.write_table(_docs_table(corpus_ids, [text_of[int(d)] for d in corpus_ids]),
                   os.path.join(out_dir, "corpus.parquet"))
    day_docs = []
    for day in range(days):
        f_ids = fresh_ids[day * fresh:(day + 1) * fresh]
        src = rng.choice(corpus_ids, size=copies + near, replace=False)
        base = 1_000_000 * (day + 1)
        out_ids = ([int(d) for d in f_ids]
                   + [base + k for k in range(copies + near)])
        out_txt = ([text_of[int(d)] for d in f_ids]
                   + [text_of[int(d)] for d in src[:copies]]
                   + [text_of[int(d)] + NEAR_DUP_TAIL for d in src[copies:]])
        path = os.path.join(out_dir, f"docs_day{day:03d}.parquet")
        pq.write_table(_docs_table(out_ids, out_txt), path)
        day_docs.append({"path": path, "fresh": sorted(int(d) for d in f_ids),
                         "copies": [base + k for k in range(copies)],
                         "near": [base + copies + k for k in range(near)]})

    emb = pq.read_table(f"{DATA}/{sf}/embeddings.parquet",
                        columns=["vec_id", "embedding"]).sort_by("vec_id")
    vid = emb["vec_id"].to_numpy()
    even = pc.equal(pc.bit_wise_and(emb["vec_id"], 1), 0)
    pq.write_table(emb.filter(even), os.path.join(out_dir, "vectors.parquet"))
    odd = emb.filter(pc.invert(even))
    order = rng.permutation(len(odd))
    if len(odd) < days * vectors:
        raise ValueError("not enough vectors for the day batches")
    day_vecs = []
    for day in range(days):
        path = os.path.join(out_dir, f"vecs_day{day:03d}.parquet")
        pq.write_table(odd.take(order[day * vectors:(day + 1) * vectors]), path)
        day_vecs.append(path)
    # a fixed probe set: every 37th vector id
    pq.write_table(emb.filter(pa.array(vid % 37 == 0)),
                   os.path.join(out_dir, "probes.parquet"))

    ev = pq.read_table(f"{DATA}/{sf}/events.parquet",
                       columns=["event_id", "ts", "event_type", "value"])
    ev = ev.set_column(1, "ts", ev["ts"].cast(pa.timestamp("us", tz="UTC"))).sort_by(
        [("ts", "ascending"), ("event_id", "ascending")])
    half = len(ev) // 2
    pq.write_table(ev.slice(0, half), os.path.join(out_dir, "events_boot.parquet"))
    rest = len(ev) - half
    day_events = []
    for day in range(days):
        a = half + rest * day // days
        b = half + rest * (day + 1) // days
        path = os.path.join(out_dir, f"events_day{day:03d}.parquet")
        pq.write_table(ev.slice(a, b - a), path)
        day_events.append(path)

    return {"dir": out_dir, "docs": day_docs, "vecs": day_vecs,
            "events": day_events, "corpus_docs": int(len(corpus_ids))}
