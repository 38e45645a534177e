"""daily_increment: a daily ingest and index-maintenance loop.

Set-up builds the standing state: a document corpus with its LSH and
bloom indexes, an ANN index, and a ``stream_rollup`` table bootstrapped
on the first half of the events. An op is one seeded day in four legs:

- orders: the day's dirty order-lines delivery through the DAG of
  ``orders_leg`` (sources, functions, join, groupby, quality, sinks);
- documents: bloom probe, ``dedup_against``, ``lsh_index_candidates``,
  ``ngram_jaccard_pairs``; the accepted documents are appended to the
  corpus and, through ``stream_index_append('lsh')``, to the LSH index;
- vectors: the day's vectors stream into the ANN index through
  ``stream_index_append('ann')``, then ``ann_index_search`` runs on a
  fixed probe set;
- events: the day's time slice lands in the events inbox and the
  rollup stream restarts with ``availableNow`` on its standing
  checkpoint.

Each standing stream reads an inbox directory and keeps one checkpoint
for the whole run, so a restart picks up exactly the day's new files.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from harness import dir_bytes

SF = "sf0.1"
DAYS = 4           # generated day batches; a run uses at most this many
FRESH, COPIES, NEAR = 20, 5, 5
VECTORS = 40       # vectors appended per day
K, NPROBE = 5, 2
GRAINS = ("hour", "day")
DAY_S = 15.0       # nominal warm day time


def _vectors(path: str) -> dict:
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    return dict(zip(t["vec_id"].to_pylist(),
                    np.array(t["embedding"].to_pylist(), dtype=np.float64)))


class Workload:
    name = "daily_increment"
    # an op group is one day; a traced run adds an untraced and a
    # traced day after the timed ones
    warm_ops = group_size = 1
    trace_pairs = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.w = os.path.join(ctx.work, "state")

    # -- inputs and oracle ---------------------------------------------------

    def generate(self) -> None:
        import gen

        self.inp = gen.daily_inputs(os.path.join(self.ctx.work, "in"),
                                    self.ctx.seed, DAYS, FRESH, COPIES, NEAR,
                                    VECTORS, SF)
        self.orders = gen.orders_inputs(os.path.join(self.ctx.work, "in_orders"),
                                        self.ctx.seed, DAYS)
        d = self.inp["dir"]
        self.indexed = _vectors(f"{d}/vectors.parquet")  # what the ANN index holds
        self.probes = _vectors(f"{d}/probes.parquet")

    def _duck_rollup(self, i: int) -> dict:
        """DuckDB's rollup of the bootstrap events plus days 0..i."""
        import duckdb

        files = [f"{self.inp['dir']}/events_boot.parquet", *self.inp["events"][:i + 1]]
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        rows = con.execute(" UNION ALL ".join(
            f"""SELECT '{g}' AS grain, date_trunc('{g}', ts::TIMESTAMP) AS bucket,
                       event_type, count(*) AS n,
                       sum(value::DECIMAL(38,6))::DOUBLE AS s,
                       min(value) AS vmin, max(value) AS vmax
                FROM read_parquet({files!r})
                WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY ALL""" for g in GRAINS)).fetchall()
        con.close()
        return {(r[0], r[1], r[2]): r[3:] for r in rows}

    # -- standing state ------------------------------------------------------

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from goetl_spark.operators.bloom import (
            bloom_build_keys, bloom_index_write, bloom_params)
        from goetl_spark.operators.dedup import lsh_index_write
        from goetl_spark.operators.similarity import ann_index_write
        from goetl_spark.streaming.warehouse import stream_rollup

        from orders_leg import OrdersLeg

        self.spark = spark
        self.orders_leg = OrdersLeg(spark, self.ctx.tracer)
        w, d = self.w, self.inp["dir"]
        for sub in ("docs_inbox", "vecs_inbox", "events_inbox"):
            os.makedirs(f"{w}/{sub}")
        os.makedirs(f"{w}/corpus")
        shutil.copy(f"{d}/corpus.parquet", f"{w}/corpus/part-base.parquet")
        corpus = spark.read.parquet(f"{w}/corpus")
        lsh_index_write(corpus, f"{w}/lsh")
        bits, hashes = bloom_params(self.inp["corpus_docs"], fpp=0.01)
        bloom_index_write(
            bloom_build_keys(corpus.select(F.md5("text").alias("digest")),
                             ["digest"], bits, hashes),
            f"{w}/bloom", ["digest"], hashes)
        ann_index_write(spark.read.parquet(f"{d}/vectors.parquet"), f"{w}/ann",
                        k_cells=4, iterations=1)
        shutil.copy(f"{d}/events_boot.parquet", f"{w}/events_inbox/boot.parquet")
        self.events_schema = spark.read.parquet(f"{d}/events_boot.parquet").schema
        stream_rollup(self._events_stream(), f"{w}/rollup", "ts",
                      ["event_type"], "value", f"{w}/rollup_ckpt",
                      grains=GRAINS).awaitTermination()
        self.docs_schema = corpus.schema
        self.vecs_schema = spark.read.parquet(f"{d}/vectors.parquet").schema
        self.corpus_rows = self.inp["corpus_docs"]
        self.state0 = self.in_bytes = 0  # for write_amp
        self.near_accepted = 0
        self.leg_s: list[list[float]] = []  # orders, documents, vectors, events

    def _events_stream(self):
        return (self.spark.readStream.schema(self.events_schema)
                .parquet(f"{self.w}/events_inbox"))

    # -- one day -------------------------------------------------------------

    def op(self, i: int):
        from pyspark.sql import functions as F

        from goetl_spark import sinks, sources
        from goetl_spark.operators.bloom import _with_bloom_flag, bloom_index_read
        from goetl_spark.operators.dedup import (
            dedup_against, lsh_index_candidates, ngram_jaccard_pairs)
        from goetl_spark.operators.similarity import ann_index_search
        from goetl_spark.streaming.indexes import stream_index_append
        from goetl_spark.streaming.warehouse import stream_rollup

        span, tracer = self.ctx.tracer.span, self.ctx.tracer
        spark, w, d = self.spark, self.w, self.inp["dir"]
        day = self.inp["docs"][i]

        legs = [time.perf_counter()]
        # orders
        delivery = self.orders[i]
        orders = self.orders_leg.run(delivery["csv"], delivery["jsonl"],
                                     f"{w}/orders/day{i:03d}")

        legs.append(time.perf_counter())
        # documents
        with span("sources"):
            batch = sources.read_parquet(spark, day["path"])
            corpus = sources.read_parquet(spark, f"{w}/corpus")
        with span("operators.bloom"):
            packed, cols, hashes = bloom_index_read(f"{w}/bloom", ["digest"])
            probed = _with_bloom_flag(batch.withColumn("digest", F.md5("text")),
                                      packed, hashes, cols, "maybe_seen")
            definitely_new = probed.filter(~F.col("maybe_seen")).select("doc_id").collect()
        with span("operators.dedup"):
            no_exact = dedup_against(batch, corpus)
            cand = lsh_index_candidates(no_exact, f"{w}/lsh", include_new_pairs=False)
            cand_docs = no_exact.join(
                cand.select(F.col("query_id").alias("doc_id")).distinct(), "doc_id")
            universe = cand_docs.unionByName(corpus.join(
                cand.select(F.col("match_id").alias("doc_id")).distinct(), "doc_id"))
            verified = ngram_jaccard_pairs(universe, threshold=0.5)
            drop = verified.select(F.greatest("id_a", "id_b").alias("doc_id")).distinct()
            accepted = no_exact.join(drop, "doc_id", "left_anti").localCheckpoint()
            accepted_ids = sorted(r["doc_id"] for r in accepted.select("doc_id").collect())
        with span("sinks"):
            sinks.write_parquet(accepted, f"{w}/corpus", mode="append")
            sinks.write_parquet(accepted, f"{w}/docs_inbox", mode="append")
        tracer.run_stream("streaming.indexes", lambda: stream_index_append(
            spark.readStream.schema(self.docs_schema).parquet(f"{w}/docs_inbox"),
            f"{w}/lsh", f"{w}/lsh_ckpt", "lsh"), f"{w}/lsh")

        legs.append(time.perf_counter())
        # vectors
        shutil.copy(self.inp["vecs"][i], f"{w}/vecs_inbox/day{i:03d}.parquet")
        tracer.run_stream("streaming.indexes", lambda: stream_index_append(
            spark.readStream.schema(self.vecs_schema).parquet(f"{w}/vecs_inbox"),
            f"{w}/ann", f"{w}/ann_ckpt", "ann"), f"{w}/ann")
        with span("sources"):
            probes = sources.read_parquet(spark, f"{d}/probes.parquet")
        with span("operators.similarity"):
            hits = ann_index_search(probes,
                                    f"{w}/ann", k=K, nprobe=NPROBE).collect()

        legs.append(time.perf_counter())
        # events
        shutil.copy(self.inp["events"][i], f"{w}/events_inbox/day{i:03d}.parquet")
        tracer.run_stream("streaming.warehouse", lambda: stream_rollup(
            self._events_stream(), f"{w}/rollup", "ts", ["event_type"], "value",
            f"{w}/rollup_ckpt", grains=GRAINS), f"{w}/rollup")
        legs.append(time.perf_counter())
        self.leg_s.append([round(b - a, 2) for a, b in zip(legs, legs[1:])])
        return orders, definitely_new, accepted_ids, hits

    # -- output check --------------------------------------------------------

    def check(self, i: int, out) -> str | None:
        import orders_leg

        orders, definitely_new, accepted_ids, hits = out
        delivery, day = self.orders[i], self.inp["docs"][i]
        if i < self.warm_ops:
            self.state0 = self._state_bytes()
        else:
            self.in_bytes += sum(os.path.getsize(p) for p in (
                delivery["csv"], delivery["jsonl"], day["path"],
                self.inp["vecs"][i], self.inp["events"][i]))
        problem = orders_leg.check(
            orders, delivery["lineitem_rows"],
            orders_leg.duck_expected(delivery["csv"], delivery["jsonl"]))
        if problem:
            return problem
        self.ctx.tracer.count("sinks.files", dir_bytes(orders["out"])[1])
        new_ids = {r["doc_id"] for r in definitely_new}
        if new_ids & set(day["copies"]):
            return "bloom probe called an exact copy definitely new"
        accepted, fresh, near = set(accepted_ids), set(day["fresh"]), set(day["near"])
        if accepted & set(day["copies"]):
            return "an exact copy was accepted"
        if fresh - accepted or accepted - fresh - near:
            return (f"accepted {sorted(accepted)}: expected all {len(fresh)} "
                    "fresh documents and nothing else but near-duplicates")
        # The LSH index returns a pair of shingle Jaccard s as a candidate
        # with probability 1 - (1 - s^4)^8 (32 hashes in bands of 4), so
        # a near-duplicate may slip through: 1 in 200 at s = 0.83, the
        # Jaccard of a 20-word document with its 3-word tail added.
        self.near_accepted += len(accepted & near)
        self.corpus_rows += len(accepted_ids)
        files = glob.glob(f"{self.w}/corpus/*.parquet")
        n = sum(pq.read_metadata(f).num_rows for f in files)
        if n != self.corpus_rows:
            return f"corpus holds {n} rows, expected {self.corpus_rows}"

        self.indexed.update(_vectors(self.inp["vecs"][i]))
        if len(hits) != len(self.probes) * K:
            return f"{len(hits)} ANN hits for {len(self.probes)} probes"
        for h in hits:
            v = self.indexed.get(h["neighbor_id"])
            if v is None:
                return f"ANN hit {h['neighbor_id']} is not indexed"
            q = self.probes[h["query_id"]]
            cos = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            if abs(cos - h["cos_sim"]) > 1e-5:
                return f"ANN cos_sim {h['cos_sim']} != {cos}"

        got = {}
        root = f"{self.w}/rollup"
        table = pads.dataset(glob.glob(f"{root}/*/*/*.parquet"), format="parquet",
                             partitioning="hive", partition_base_dir=root).to_table()
        for r in table.to_pylist():
            bucket = r["bucket"].replace(tzinfo=None)
            got[(r["grain"], bucket, r["event_type"])] = (
                r["n"], float(r["sum_dec"]), r["vmin"], r["vmax"])
        want = self._duck_rollup(i)
        if got.keys() != want.keys():
            return f"rollup has {len(got)} buckets, DuckDB {len(want)}"
        for k, (n, s, lo, hi) in got.items():
            if (n, lo, hi) != tuple(want[k][:1] + want[k][2:]) \
                    or abs(s - want[k][1]) > 1e-6 * max(1.0, abs(s)):
                return f"rollup {k}: {got[k]} != {want[k]}"
        return None

    # -- sizes ---------------------------------------------------------------

    def input_rows(self, i: int) -> int:
        return (self.orders[i]["lineitem_rows"] + self.orders[i]["orders_rows"]
                + FRESH + COPIES + NEAR + VECTORS
                + pq.read_metadata(self.inp["events"][i]).num_rows)

    def timed_groups(self, seconds: float) -> int:
        # leave enough generated days for the warm and traced-phase days
        return min(max(1, round(seconds / DAY_S)),
                   DAYS - self.warm_ops - 2 * self.trace_pairs)

    def _state_bytes(self) -> int:
        return sum(dir_bytes(f"{self.w}/{s}")[0]
                   for s in ("orders", "corpus", "lsh", "ann", "rollup"))

    def notes(self) -> str:
        return (f"; near-duplicates accepted (LSH misses): {self.near_accepted}"
                f"; leg seconds (orders, documents, vectors, events) per day: {self.leg_s}")

    def write_amp(self) -> float:
        # standing-state growth over the timed days per input byte
        return (self._state_bytes() - self.state0) / self.in_bytes
