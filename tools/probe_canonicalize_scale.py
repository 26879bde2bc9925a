"""Scale probe for the DISTRIBUTED canonicalization path (verdict r4
item 3): the `small_values` gate means the LSH -> Jaro-Winkler -> CC
DataFrame path is what runs at 100 TB, but its only prior scale
datapoints were toy component sets.  This generates >=550k distinct
surface forms DETERMINISTICALLY (no external data): ~220k base entities
with hash-derived 10-hex prefixes (cross-base JW ~0.5, far below the
0.9 threshold) and 1-4 suffix variants each (within-base JW >= 0.97),
then runs canonicalize_values with small_values=0 to force the
distributed path end-to-end and reports wall time, pair volume, and
component stats.

Usage: python tools/probe_canonicalize_scale.py [n_base] [cpus]
(cpus defaults to $SPARK_GRAFT_CPUS, else the cores this process may use)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 220_000
    cpus = int(
        sys.argv[2]
        if len(sys.argv) > 2
        else os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )

    from pyspark.sql import functions as F

    from palladian_spark.operators.canonicalize import (
        candidate_pairs,
        canonicalize_values,
        score_pairs,
    )
    from palladian_spark.sources.session import get_spark

    spark = get_spark(
        "canon-scale-probe", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )

    # prefix alphabet: 'hex' (16 chars -> only 256 two-char blocks; the
    # degenerate-blocking worst case) or 'b36' (36 chars -> 1296 blocks;
    # realistic entity-name prefix diversity)
    alphabet = sys.argv[3] if len(sys.argv) > 3 else "hex"
    if alphabet == "b36":
        prefix = "conv(substring(md5(cast(id as string)), 1, 12), 16, 36)"
    else:
        prefix = "substring(md5(cast(id as string)), 1, 10)"
    base = spark.range(n_base).select(
        F.expr(f"concat(lower({prefix}), '-entity')").alias("base"),
        (F.col("id") % 4).alias("nv"),
    )
    values = base.select(
        F.explode(
            F.expr(
                "slice(array(base, concat(base, 'x'), concat(base, 'xy'),"
                " concat(base, 'z')), 1, cast(nv + 1 as int))"
            )
        ).alias("value")
    ).localCheckpoint()
    n_values = values.count()

    t0 = time.time()
    pairs = candidate_pairs(values.distinct())
    n_pairs = pairs.count()
    t_pairs = time.time() - t0

    t0 = time.time()
    n_edges = score_pairs(pairs, 0.9).count()
    t_score = time.time() - t0

    t0 = time.time()
    mapping = canonicalize_values(values, small_values=0)
    rows = mapping.groupBy("canonical").count()
    stats = rows.agg(
        F.count(F.lit(1)).alias("n_components"),
        F.max("count").alias("max_component"),
    ).collect()[0]
    t_total = time.time() - t0

    out = {
        "metric": "canonicalize_distributed_scale",
        "n_distinct_values": n_values,
        "n_candidate_pairs": n_pairs,
        "n_edges": n_edges,
        "n_components": stats["n_components"],
        "max_component": stats["max_component"],
        "pairs_sec": round(t_pairs, 2),
        "score_sec": round(t_score, 2),
        "end_to_end_sec": round(t_total, 2),
        "cpus": cpus,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
