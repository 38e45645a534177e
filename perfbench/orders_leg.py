"""The orders leg of a day: the reference's DAG example shape on the
day's dirty order-lines delivery.

A DAG built with ``plans.dag.DAGBuilder`` and run by ``DAGExecutor``
(sequential default): read the dirty lineitem CSV (schema inference,
``IOStats``) and the orders JSONL; trim, convert and filter; join, then
group; validate; write the enriched rows as parquet and the aggregate
as JSONL. The outputs are checked against DuckDB over the same files.
"""

from __future__ import annotations

import glob
import json
import math

import pyarrow.parquet as pq

KEYS = ["o_orderpriority", "l_returnflag"]


def duck_expected(csv_path: str, jsonl_path: str) -> tuple[int, dict]:
    """(enriched row count, {group: (count, qty sum, price sum)})."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"""
        CREATE VIEW clean AS
        SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
               TRY_CAST(trim(l_quantity) AS DOUBLE) AS l_quantity,
               CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
               trim(l_returnflag) AS l_returnflag
        FROM read_csv('{csv_path}', header = true, all_varchar = true)
        WHERE TRY_CAST(trim(l_quantity) AS DOUBLE) > 0""")
    con.execute(f"""
        CREATE VIEW enriched AS
        SELECT c.*, trim(o.o_orderpriority) AS o_orderpriority
        FROM clean c JOIN read_json('{jsonl_path}', format = 'newline_delimited',
                                    columns = {{o_orderkey: 'BIGINT',
                                               o_orderpriority: 'VARCHAR'}}) o
          ON c.l_orderkey = o.o_orderkey""")
    n = con.execute("SELECT count(*) FROM enriched").fetchone()[0]
    agg = {(r[0], r[1]): r[2:] for r in con.execute(f"""
        SELECT {', '.join(KEYS)}, count(*), sum(l_quantity), sum(l_extendedprice)
        FROM enriched GROUP BY ALL""").fetchall()}
    con.close()
    return n, agg


class OrdersLeg:
    def __init__(self, spark, tracer):
        from goetl_spark.plans.dag import DAGBuilder

        span = tracer.span
        self.tracer = tracer
        self.io: dict = {}  # this run's paths, and what the tasks hand back
        box = self.io

        def extract_lineitem(ctx):
            from goetl_spark import sources
            from goetl_spark.stats import IOStats

            with span("stats"):
                box["stats"] = IOStats()
            with span("sources"):
                return sources.read_csv(spark, box["csv"], infer_schema=True,
                                        stats=box["stats"])

        def extract_orders(ctx):
            from goetl_spark import sources

            with span("sources"):
                return sources.read_jsonl(spark, box["jsonl"])

        def clean(ctx):
            from goetl_spark.functions import filters as flt
            from goetl_spark.functions import transforms as tf

            with span("functions"):
                df = tf.trim_space(ctx.input, "l_returnflag", "l_linestatus")
                df = tf.convert_type(df, "l_quantity", "float", on_error="null")
                return df.filter(flt.all_of(flt.not_null("l_quantity"),
                                            flt.greater_than("l_quantity", 0)))

        def enrich(ctx):
            from goetl_spark.functions import transforms as tf
            from goetl_spark.operators.join import JoinConfig, join

            with span("functions"):
                orders = tf.trim_space(
                    tf.select(ctx.source_map["extract_orders"],
                              ["o_orderkey", "o_orderpriority", "o_orderdate"]),
                    "o_orderpriority")
            with span("operators.join"):
                return join(ctx.source_map["clean"], orders,
                            JoinConfig("inner", ["l_orderkey"], ["o_orderkey"]))

        def aggregate(ctx):
            from goetl_spark.operators import groupby as gb

            with span("operators.groupby"):
                return gb.group_by(ctx.input, KEYS, gb.count(),
                                   gb.sum_("l_quantity"),
                                   gb.sum_("l_extendedprice"))

        def validate(ctx):
            from goetl_spark.quality import DataQualityValidator, FieldRule

            with span("quality"):
                box["validation"] = DataQualityValidator(
                    min_records=1, required_fields=["l_orderkey", "o_orderpriority"],
                    max_null_rate={"l_linestatus": 0.05},
                    rules=[FieldRule("l_quantity", min_value=1, max_value=50)],
                ).validate(ctx.input)
            return None

        def load(ctx):
            from goetl_spark import sinks

            with span("sinks"):
                sinks.write_parquet(ctx.source_map["enrich"], f"{box['out']}/enriched")
                sinks.write_jsonl(ctx.source_map["aggregate"], f"{box['out']}/agg",
                                  partitions=1)
            with span("stats"):
                box["records"] = box["stats"].record_count
            return None

        self.dag = (DAGBuilder("orders")
                    .add_task("extract_lineitem", extract_lineitem)
                    .add_task("extract_orders", extract_orders)
                    .add_task("clean", clean, ["extract_lineitem"])
                    .add_task("enrich", enrich, ["clean", "extract_orders"])
                    .add_task("aggregate", aggregate, ["enrich"])
                    .add_task("validate", validate, ["enrich"])
                    .add_task("load", load, ["enrich", "aggregate", "validate"])
                    .build())

    def run(self, csv: str, jsonl: str, out: str) -> dict:
        """One DAG run; returns what the output check needs."""
        from goetl_spark.plans.dag import DAGExecutor

        self.io.clear()
        self.io.update(csv=csv, jsonl=jsonl, out=out)
        with self.tracer.span("plans"):
            results = DAGExecutor().execute(self.dag)
        return {"results": results, **self.io}


def check(got: dict, lineitem_rows: int, expected: tuple[int, dict]) -> str | None:
    """Compare one run's outputs with DuckDB's answer."""
    bad = [t for t, r in got["results"].items() if r.status.name != "SUCCESS"]
    if bad:
        return f"DAG tasks not successful: {bad}"
    if not got["validation"].passed:
        return f"validation: {got['validation'].violations}"
    if got["records"] != lineitem_rows:
        return f"IOStats counted {got['records']} of {lineitem_rows} records"
    want_rows, want_agg = expected
    files = glob.glob(f"{got['out']}/enriched/*.parquet")
    n = sum(pq.read_metadata(f).num_rows for f in files)
    if n != want_rows:
        return f"enriched rows {n} != {want_rows}"
    agg = {}
    for f in glob.glob(f"{got['out']}/agg/*.json"):
        with open(f) as fh:
            for line in fh:
                r = json.loads(line)
                agg[(r[KEYS[0]], r[KEYS[1]])] = (
                    r["count"], r["l_quantity_sum"], r["l_extendedprice_sum"])
    if agg.keys() != want_agg.keys():
        return f"aggregate groups {sorted(agg)} != {sorted(want_agg)}"
    for k, (c, q, p) in agg.items():
        wc, wq, wp = want_agg[k]
        if c != wc or not math.isclose(q, wq, rel_tol=1e-9) \
                or not math.isclose(p, wp, rel_tol=1e-9):
            return f"aggregate {k}: {(c, q, p)} != {(wc, wq, wp)}"
    return None
