"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.
The headline queries are the contract queries registered with
headline=True (__spark_entry__.headline); $SPARK_GRAFT_CPUS defaults to
the cores this process may use.

The flagship north-rule metric (end-to-end triples/sec for the KG
pipeline) is reported alongside under "triples_per_sec". Each query is
forced by aggregating xxhash64 over EVERY output column (count() alone
would let Catalyst prune unreferenced columns and undercount the work);
the xor-style hash total doubles as a cross-run determinism check.

Scaling-efficiency evidence (local[8] vs local[32], same input) lives in
tools/scaling_bench.py -> BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def build_spark(cpus: int):
    """The SAME engine configuration the contract check verifies
    (sources/session.get_spark: AQE + skew join, Arrow 512-row batches,
    64 MB broadcast threshold), plus bench-host-specific knobs layered via
    extra_conf — the benchmark must measure the production session, not a
    drifted twin."""
    from palladian_spark.sources.session import get_spark

    return get_spark(
        "palladian-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))),
        extra_conf={
            # measured on this sandbox: a huge heap (e.g. 2 GB x 32 slots)
            # makes local[32] shuffle jobs ~15x SLOWER (GC over tens of GB
            # of freshly faulted pages); a moderate heap is strictly better
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            # e.g. -XX:ParallelGCThreads=N: local mode conflates executor
            # size with cluster size — a real cluster scales by MORE
            # fixed-size JVMs, so scaling comparisons pin GC parallelism
            "spark.driver.extraJavaOptions": os.environ.get("SPARK_GRAFT_JAVA_OPTS", ""),
            "spark.local.dir": "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
        },
    )


def force(df) -> tuple[int, int]:
    """Execute the full plan with every output column materialized; return
    (row count, value-hash total). xxhash64(*cols) references all columns,
    so Catalyst cannot prune any of them out of the scan/UDF stages the
    way count() allows."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # mod a prime before summing: ANSI mode (Spark 4 default) raises on
        # long overflow, and raw 64-bit hashes overflow after ~2 rows
        F.sum(F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(1_000_000_007))).alias("h"),
    ).collect()[0]
    return row["n"], (row["h"] if row["h"] is not None else 0)


def warmup(spark) -> None:
    """Spawn the Python worker pool + JIT the common codepaths before
    timing: a pandas-UDF pass over defaultParallelism partitions and one
    small shuffle. Steady-state throughput is what the numbers must
    reflect — worker fork and codegen warm-up are one-time costs that
    vanish at real job scale."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _noop(x: pd.Series) -> pd.Series:
        return x

    df = spark.range(0, 10_000, 1, CPUS)
    df.select(F.sum(_noop(F.col("id")))).collect()
    df.groupBy((F.col("id") % 7).alias("k")).count().collect()


def main() -> None:
    import __spark_entry__ as entrymod

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark)
    qs = entrymod.queries()

    # Best-of-N per query (default 2). The first pass pays per-query
    # one-time costs — broadcast build, UDF pickle/ship, Arrow worker
    # spin-up — that vanish at real job scale and otherwise land in a
    # ±2-3x host-noise band (BENCH.md r3: identical code recorded
    # 57-171s across a session). The recorded number must measure the
    # operator's steady-state throughput, not JVM init under load.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    rows: dict[str, int] = {}
    nondeterministic: list[str] = []
    for name in entrymod.headline():
        fn = qs[name]
        best = float("inf")
        seen: set[tuple[int, int]] = set()
        for i in range(runs):
            t0 = time.perf_counter()
            n, h = force(fn(spark, SF_DIR))
            dt = time.perf_counter() - t0
            rows[name] = n
            seen.add((n, h))
            if i == 0:
                cold[name] = round(dt, 3)
            best = min(best, dt)
        if len(seen) > 1:
            # the best-of-N timing is only meaningful if every run computed
            # the same answer — flag value drift instead of hiding it
            nondeterministic.append(name)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    triples_sec = None
    if timings.get("kg_triples"):
        triples_sec = round(rows["kg_triples"] / timings["kg_triples"], 1)
    if nondeterministic:
        print(
            f"WARNING: cross-run value drift in {nondeterministic}",
            file=sys.stderr,
        )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "rows": rows,
        "triples_per_sec": triples_sec,
        "cpus": CPUS,
        "runs_per_query": runs,
        "queries_first_run": cold,
        "nondeterministic": nondeterministic,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
