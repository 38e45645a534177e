"""Capture ``.explain("formatted")`` for one or more registered queries.

The r17 optimization round's plan-artifact tool: writes
``plans/r17/<query>_<tag>.txt`` (tag = before/after) so plan claims in
OPTIMIZATION_r17.md are checkable without running Spark.

Usage:
    python scripts/explain_query.py <tag> <query_name> [...]  [--sf DIR]

Streaming queries execute inside the query fn (plan not capturable via
explain); for those we record the batch-side topology note instead.
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--sf")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    tag, names = args[0], args[1:]

    from goetl_spark import queries as catalog
    from goetl_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("goetl-spark-explain", master=f"local[{cpus}]")
    out_dir = Path(__file__).resolve().parent.parent / "plans" / "r18"
    out_dir.mkdir(parents=True, exist_ok=True)
    allq = catalog.queries()
    for name in names:
        fn = allq[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = out_dir / f"{name}_{tag}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
