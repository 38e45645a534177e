"""measure_query for a LIST of queries in one warmed session — the
same protocol (bench.py warm prefix, N timed in-session reps per
query, idle machine) amortizing the ~60 s session+warm cost across
queries. Prints one JSON line per query.

Usage:
    python scripts/measure_many.py q175_lsh_index_roundtrip q200_dsir_select [--reps=3]
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 3
    for a in sys.argv[1:]:
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import bench
    from goetl_spark import queries as catalog
    from goetl_spark.session import get_spark

    allq = catalog.queries()
    spark = get_spark("goetl-spark-measure", master=f"local[{cpus}]")
    bench.warm(spark, sf_dir, cpus)
    for name in names:
        fn = allq[name]
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            times.append(round(time.perf_counter() - t0, 2))
        print(json.dumps({"query": name, "reps": times}), flush=True)


if __name__ == "__main__":
    main()
