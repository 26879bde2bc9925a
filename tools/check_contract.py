"""Local stand-in for the driver's correctness check: runs every
queries()[name] on Spark and the matching oracle_sql()[name] on DuckDB at
sf0.01, compares row count, column names, and order-insensitive values.
A query that needs the absent reference tree reports ABSENT: it is
neither verified nor a failure.
Runs on local[$SPARK_GRAFT_CPUS] (default: the cores this process may use)
with as many shuffle partitions.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # DuckDB HUGEINT comes back as object-of-int — keep it object so
            # the dtype comparison below flags the drift (like the driver's
            # value hash would). Mark genuine NULLs with a sentinel BEFORE
            # stringifying so a real null never compares equal to the
            # literal strings 'None'/'nan'.
            nulls = df[c].isna()
            df[c] = df[c].astype(str)
            df.loc[nulls, c] = "\x00NULL"
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype) in ("int8", "int16", "int32", "uint32"):
            # width-only differences (Spark int vs DuckDB bigint) are fine;
            # the driver compares values, not integer widths
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent
    from palladian_spark.sources.reference import ReferenceTreeAbsent
    from palladian_spark.sources.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = get_spark("contract-check", master=f"local[{cpus}]", shuffle_partitions=cpus)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    qs = ent.queries()
    oracles = ent.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must fail loudly, not silently verify nothing
        print(f"FAILURES: unknown query names {sorted(unknown)}")
        return 1
    failures = []
    absent = []  # needs the reference tree: neither verified nor failed
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except ReferenceTreeAbsent as e:
            absent.append(name)
            results[name] = {"status": "reference_absent", "err": str(e)[:300]}
            print(f"ABSENT {name}: {e}")
            continue
        except Exception as e:
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"spark: {e}"[:300]}
            print(f"FAIL  {name}: spark error: {e}")
            continue
        elapsed = time.time() - t0
        if name not in oracles:
            results[name] = {
                "status": "rows_only", "rows": len(sdf), "sec": round(elapsed, 1),
            }
            print(f"rows  {name}: {len(sdf)} rows ({elapsed:.1f}s, rows-only)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"duckdb: {e}"[:300]}
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            results[name] = {"status": "FAIL", "err": "columns differ"}
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"rowcount {len(a)} vs {len(b)}"}
            print(f"FAIL  {name}: rowcount {len(a)} vs {len(b)}")
            continue
        if [str(t) for t in a.dtypes] != [str(t) for t in b.dtypes]:
            failures.append(name)
            results[name] = {"status": "FAIL", "err": "dtype drift"}
            print(
                f"FAIL  {name}: dtypes {[str(t) for t in a.dtypes]} "
                f"vs {[str(t) for t in b.dtypes]} (int128/float drift)"
            )
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except AssertionError as e:
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"values: {str(e)[:200]}"}
            print(f"FAIL  {name}: values differ: {str(e)[:500]}")
            continue
        results[name] = {
            "status": "OK", "rows": len(a), "sec": round(elapsed, 1),
            "rows_match": True, "schema_match": True, "values_match": True,
        }
        print(f"OK    {name}: {len(a)} rows ({elapsed:.1f}s)")

    # session-end artifact (verdict r4 item 2): a full-contract record so
    # correctness coverage is inspectable without a judge rerun
    out_json = os.environ.get("CONTRACT_JSON")
    if out_json:
        import json

        with open(out_json, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_ok": sum(1 for r in results.values() if r["status"] == "OK"),
                    "n_rows_only": sum(
                        1 for r in results.values() if r["status"] == "rows_only"
                    ),
                    "n_reference_absent": len(absent),
                    "failures": failures,
                    "reference_absent": absent,
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {out_json}")

    if not only:
        t0 = time.time()
        res = ent.entry(spark)
        n = res.count()
        print(f"entry: {n} rows ({time.time() - t0:.1f}s), schema={res.schema.simpleString()}")
    spark.stop()
    if absent:
        print("REFERENCE TREE ABSENT (not verified):", absent)
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
