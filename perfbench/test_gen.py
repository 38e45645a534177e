"""The benchmark's own tests: a seed always generates the same inputs,
and another seed generates different inputs of the same size.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _rows(root: str) -> dict[str, int]:
    return {n: pq.read_metadata(os.path.join(root, n)).num_rows
            for n in sorted(os.listdir(root)) if n.endswith(".parquet")}


def test_orders_inputs_repeat_per_seed(tmp_path):
    a = gen.orders_inputs(str(tmp_path / "a"), seed=7, days=4)
    b = gen.orders_inputs(str(tmp_path / "b"), seed=7, days=4)
    c = gen.orders_inputs(str(tmp_path / "c"), seed=8, days=4)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    for key in ("lineitem_rows", "orders_rows"):
        assert [d[key] for d in a] == [d[key] for d in c]
    assert sum(d["lineitem_rows"] for d in a) == 60_000


def test_daily_inputs_repeat_per_seed(tmp_path):
    args = dict(days=3, fresh=20, copies=5, near=5, vectors=40)
    a = gen.daily_inputs(str(tmp_path / "a"), seed=7, **args)
    b = gen.daily_inputs(str(tmp_path / "b"), seed=7, **args)
    c = gen.daily_inputs(str(tmp_path / "c"), seed=8, **args)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    assert _rows(tmp_path / "a") == _rows(tmp_path / "c")
    assert [d["fresh"] for d in a["docs"]] == [d["fresh"] for d in b["docs"]]


def test_daily_batches_hold_the_injected_shares(tmp_path):
    inp = gen.daily_inputs(str(tmp_path), seed=3, days=2, fresh=20, copies=5,
                           near=5, vectors=40)
    corpus = pq.read_table(tmp_path / "corpus.parquet").to_pydict()
    texts = set(corpus["text"])
    for day in inp["docs"]:
        batch = pq.read_table(day["path"]).to_pydict()
        text_of = dict(zip(batch["doc_id"], batch["text"]))
        assert len(day["fresh"]) == 20
        assert all(text_of[i] in texts for i in day["copies"])
        assert all(text_of[i] not in texts for i in day["fresh"] + day["near"])
