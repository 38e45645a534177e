"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and values (columns sorted by name, rows sorted, exact match with
a tiny float report so drift is visible before the real gate runs).

A run over the whole registry writes FULLCHECK.json with the failures,
the query names, the scale-factor directory and ``code_hash()`` of the
code it ran; tests/test_registry.py requires that hash to match HEAD.

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def code_hash() -> str:
    """sha256 over the sorted relative paths and bytes of every
    ``goetl_spark/**/*.py`` file plus ``__spark_entry__.py``."""
    files = sorted([*REPO.glob("goetl_spark/**/*.py"),
                    REPO / "__spark_entry__.py"])
    h = hashlib.sha256()
    for f in files:
        h.update(f.relative_to(REPO).as_posix().encode() + b"\0")
        h.update(f.read_bytes() + b"\0")
    return h.hexdigest()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return df
    # stringify for a stable row sort across engines
    key = df.astype(str).agg("|".join, axis=1)
    df = df.loc[key.sort_values().index].reset_index(drop=True)
    return df


def compare(name: str, spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pd) != len(duck_pd):
        problems.append(f"row count: spark={len(spark_pd)} duck={len(duck_pd)}")
    scols, dcols = sorted(spark_pd.columns), sorted(duck_pd.columns)
    if scols != dcols:
        problems.append(f"columns: spark={scols} duck={dcols}")
    if problems:
        return problems
    s, d = normalize(spark_pd), normalize(duck_pd)
    for col in s.columns:
        sv, dv = s[col], d[col]
        # the driver hashes canonicalized VALUES: int64 45 vs float64 45.0
        # stringify differently and break its hash even when numerically
        # equal (DuckDB SUM(int) -> HUGEINT -> float64). Flag dtype-kind
        # skew between int and float as a hard failure.
        if {sv.dtype.kind, dv.dtype.kind} == {"i", "f"}:
            problems.append(
                f"col {col}: dtype-kind skew spark={sv.dtype} duck={dv.dtype} "
                "(driver hash would fail; CAST the oracle aggregate)")
            continue
        # object-vs-float is the SAME hash hazard (r14: q221/q223 emitted
        # DecimalType -> Spark hands back Decimal objects, DuckDB float64;
        # numerically equal, hashes differently). Hard-fail it identically
        # rather than numerically coercing past it.
        if {sv.dtype.kind, dv.dtype.kind} == {"O", "f"}:
            problems.append(
                f"col {col}: dtype-kind skew spark={sv.dtype} duck={dv.dtype} "
                "(object vs float — driver hash would fail; emit double, "
                "not decimal/object)")
            continue
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            sv2 = pd.to_numeric(sv, errors="coerce")
            dv2 = pd.to_numeric(dv, errors="coerce")
            both_nan = sv2.isna() & dv2.isna()
            eq = (sv2 == dv2) | both_nan
            if not eq.all():
                diff = (sv2 - dv2).abs().max()
                problems.append(f"col {col}: {int((~eq).sum())} mismatches, max|diff|={diff}")
        else:
            eq = (sv.astype(str) == dv.astype(str))
            if not eq.all():
                i = int((~eq).idxmax())
                problems.append(
                    f"col {col}: {int((~eq).sum())} mismatches, first at row {i}: "
                    f"spark={sv.iloc[i]!r} duck={dv.iloc[i]!r}")
    return problems


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    head = code_hash()

    import __spark_entry__ as entry_mod
    from goetl_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            # emitted-type contract (r14 lesson): DecimalType outputs hash
            # differently at the driver even when numerically equal — any
            # decimal column in an OUTPUT schema is a hard failure here,
            # mirroring tests/test_plan_quality.py::test_hash_safe_output_types
            dec = [f.name for f in sdf.schema.fields
                   if f.dataType.simpleString().startswith("decimal")]
            if dec:
                failed.append(name)
                print(f"FAIL {name}: DecimalType output column(s) {dec} "
                      "(driver hash hazard; cast to double before emitting)")
                continue
            spark_pd = sdf.toPandas()
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(spark_pd)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            duck_pd = con.execute(oracles[name]).df()
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = compare(name, spark_pd, duck_pd)
        if problems:
            failed.append(name)
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"   - {p}")
        else:
            print(f"OK   {name} ({len(spark_pd)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    if not only:
        (REPO / "FULLCHECK.json").write_text(json.dumps({
            "code_hash": head,
            "sf_dir": sf_dir,
            "queries": sorted(qs),
            "failures": sorted(failed),
        }, indent=1))
        print(f"wrote FULLCHECK.json ({len(qs)} queries, "
              f"{len(failed)} failures, code_hash {head[:12]})")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
