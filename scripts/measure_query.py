"""Standalone per-query wall-time measurement — the BENCHNOTES
adjudication protocol as a script (the "q24 recipe", VERDICT r10/r11):
fresh session, the EXACT bench.py warm prefix, then N timed in-session
reps of one query. Run on an otherwise idle machine.

Usage:
    python scripts/measure_query.py q95_llm_pipeline_e2e [reps] [sf_dir]

Prints one JSON line: {"query": ..., "reps": [...], "sf": ..., "cpus": N}.
Each rep forces full execution with .count(); scratch dirs the query
creates are re-wiped by the query itself per rep (_scratch contract).
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import bench
    from goetl_spark import queries as catalog
    from goetl_spark.session import get_spark

    fn = catalog.queries()[name]
    spark = get_spark("goetl-spark-measure", master=f"local[{cpus}]")
    bench.warm(spark, sf_dir, cpus)

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        times.append(round(time.perf_counter() - t0, 2))
        print(f"measure: {name} {times[-1]}s", file=sys.stderr)
    print(json.dumps({"query": name, "reps": times,
                      "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
                      "cpus": int(cpus)}))


if __name__ == "__main__":
    main()
