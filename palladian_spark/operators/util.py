"""Shared physical-layout helpers for UDF-heavy operators, the one Spark
step every text -> annotation-rows tagger runs through (annotate), and the
one step every operator pairing the members of a key runs through
(member_pairs)."""

from __future__ import annotations

import re as _re
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# 31-bit Mersenne prime: a*h'+b stays < 2^62 (no ANSI long overflow)
MERSENNE = (1 << 31) - 1


def banding_params(num_hashes: int):
    """Affine minhash permutation constants (a_i odd, b_i seeded crc32)."""
    import numpy as np
    from zlib import crc32

    a = np.array([2 * i + 1 for i in range(num_hashes)], dtype=np.int64)[:, None]
    b = np.array(
        [crc32(f"mh-seed-{i}".encode()) % MERSENNE for i in range(num_hashes)],
        dtype=np.int64,
    )[:, None]
    return a, b


def band_hashes_for_shingles(shingles, a, b, band_size: int) -> list[int]:
    """Banded minhash of a shingle set -> one hash per band.

    Pure function shared by the LSH operators (value canonicalization, on
    the driver and on executors, and document dedup), so every caller
    blocks identically. numpy beats Catalyst higher-order functions here:
    HOF lambda bodies are interpreted per element (no codegen) and a
    nested-lambda expression per permutation costs seconds of analysis
    time per query.
    """
    import numpy as np
    from zlib import crc32

    if not shingles:
        shingles = [""]
    h = np.fromiter(
        (crc32(s.encode()) for s in shingles), dtype=np.int64, count=len(shingles)
    )
    mh = ((a * h + b) % MERSENNE).min(axis=1)
    n_bands = len(mh) // band_size
    return [
        int(crc32(mh[k * band_size : (k + 1) * band_size].tobytes()))
        for k in range(n_bands)
    ]


# leaves (Relation/Range/LocalRelation/LogicalRDD) + narrow unary ops: all
# preserve the width of an upstream explicit Repartition
_NARROW_NODES = (
    "Project",
    "Filter",
    "Relation",
    "SubqueryAlias",
    "View",
    "Repartition",
    "Range",
    "LocalRelation",
    "LogicalRDD",
)

_REPARTITION_RE = _re.compile(r"^Repartition (\d+), true")


def _analyzed_lines(df: DataFrame) -> list[str] | None:
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    return [ln.lstrip(" +-:") for ln in plan.splitlines() if ln.strip(" +-:")]


def _already_spread(df: DataFrame, target: int) -> bool:
    """True when the plan is narrow ops over an explicit ``Repartition(n)``
    with n >= target: projections/filters preserve the partition count, and
    AQE never coalesces a user-specified repartition width, so the probe
    (and its AQE side effect — ``df.rdd`` under AQE EXECUTES every upstream
    shuffle stage just to finalize the plan, a whole wasted stage per call)
    can be skipped. Any wide node (Aggregate/Join/Window) disqualifies:
    its output width is AQE-coalesced and only the physical probe knows it.
    """
    lines = _analyzed_lines(df)
    if lines is None:
        return False
    best = 0
    for node in lines:
        if not node.startswith(_NARROW_NODES):
            return False
        m = _REPARTITION_RE.match(node)
        if m:
            best = max(best, int(m.group(1)))
    return best >= target


def spread(df: DataFrame) -> DataFrame:
    """Ensure a DataFrame has at least defaultParallelism partitions before
    an expensive per-row scan (a UDF, or the StringTagger regex).

    Small parquet inputs arrive as a single split, which would serialize a
    pandas-UDF or regex pass onto one core. On a real cluster reading
    TB-scale tables the split count already exceeds core count and this is
    a no-op — the repartition only fires when the input is under-parallel,
    so it never adds a shuffle at scale.

    Parallelism probe: ``df.rdd.getNumPartitions()``. On a file scan it is
    exact (large files split, small ones pack) and runs no job: AQE only
    wraps plans that have an exchange. Plans that narrow an explicit
    ``Repartition`` wide enough skip it (see ``_already_spread``).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _already_spread(df, target) or df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


ANNOTATION_STRUCT = StructType(
    [
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("value", StringType()),
        StructField("tag", StringType()),
    ]
)


def annotate(
    df: DataFrame,
    text_col: str,
    keep_cols: list[str] | None,
    struct: StructType,
    make_rows: Callable[[], Callable[[str], list[tuple]]],
) -> DataFrame:
    """df -> one row per annotation a tagger finds in ``text_col``:
    (keep_cols..., struct's fields); keep_cols defaults to every other
    column.

    ``make_rows()`` runs once per Arrow batch on the executor (read a
    broadcast, compile a matcher, parse rules) and returns the function
    from one text to that text's row tuples; a null text is read as "".
    Everything else is this step: one pandas UDF over ``spread(df)``,
    flattened by an inline generator over the UDF call,
    ``F.inline(udf(col))``.

    Feed a UDF's generator this way, never through an aliased column
    (``select(udf(c).alias("a"))`` then ``explode("a")``). Catalyst's
    InferFiltersFromGenerate infers ``Filter size(a) > 0`` only when the
    generator's input is a plain column; predicate pushdown then moves
    that filter, UDF included, below the ``spread()`` repartition, and the
    UDF runs twice per row. With the call inline no filter is inferred,
    and the generator itself drops the rows whose array is empty
    (tests/test_udf_plans.py pins this for every caller).
    """
    if keep_cols is None:
        keep_cols = [c for c in df.columns if c != text_col]

    @F.pandas_udf(ArrayType(struct))
    def annotations(texts: pd.Series) -> pd.Series:
        rows = make_rows()
        return texts.map(lambda t: rows(t or ""))

    return spread(df).select(*keep_cols, F.inline(annotations(F.col(text_col))))


def member_pairs(
    df: DataFrame,
    key_cols: list[str],
    member: str | list[str],
    max_members: int | None = None,
) -> DataFrame:
    """(key_cols..., a, b) for every two distinct members sharing a key,
    a < b: the blocked self-join ``a.key == b.key & a.m < b.m``, as
    group-then-pair.

    One aggregate collects each key's sorted distinct members; two
    explodes over that array emit each pair once. ``df`` is read once,
    so nothing upstream (a UDF, a scan) runs twice and no cut is needed
    to feed two join sides. Rows with a null key or a null member are
    dropped, as the equi-join drops them. Keys with fewer than 2
    distinct members, or more than ``max_members``, pair nothing: the
    cap guards the quadratic pair count of a hub key.

    ``member`` is one column, or a list of columns whose first orders
    the pairs and the rest ride along as payload; then ``a`` and ``b``
    are structs of those columns, and two rows with the same first
    column never pair. Duplicate (key, member) rows count once, where a
    self-join would pair each copy.
    """
    fields = [member] if isinstance(member, str) else member
    m = F.col(member) if isinstance(member, str) else F.struct(*member)
    n = F.size("_m")
    grouped = (
        df.dropna(subset=[*key_cols, fields[0]])
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_set(m)).alias("_m"))
        .where((n >= 2) if max_members is None else n.between(2, max_members))
    )
    pairs = grouped.select(*key_cols, "_m", F.posexplode("_m").alias("_i", "a")).select(
        *key_cols, "a", F.explode(F.slice("_m", F.col("_i") + 2, n)).alias("b")
    )
    if isinstance(member, str):
        return pairs
    return pairs.where(F.col(f"a.{fields[0]}") < F.col(f"b.{fields[0]}"))
