"""Mention detection over a DataFrame text column.

Spark mapping of the reference taggers (SURVEY.md §2.2): one vectorized
pandas-UDF pass per content blob returning an array of annotation structs,
flattened by an inline generator over the UDF call,
``F.inline(udf(col))``. Regexes compile once per executor (module import
time), the counterpart of the reference's static Pattern constants
(StringTagger.java:17).

Every per-row UDF in the package feeds its generator this way, never
through an aliased column (``select(udf(c).alias("a"))`` then
``explode("a")``). Catalyst's InferFiltersFromGenerate infers
``Filter size(a) > 0`` only when the generator's input is a plain column;
predicate pushdown then moves that filter, UDF included, below the
``spread()`` repartition, and the UDF runs twice per row. With the call
inline no filter is inferred, and the inner generator itself drops the
rows whose array is null or empty (tests/test_udf_plans.py pins this).
"""

from __future__ import annotations

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

from ..kernels import tagging
from .util import spread

ANNOTATION_STRUCT = StructType(
    [
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("value", StringType()),
        StructField("tag", StringType()),
    ]
)


def detect_mentions(
    df: DataFrame,
    text_col: str = "content",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """df -> one row per StringTagger candidate (StringTagger.java:13-77):
    (keep_cols..., start, end, value, tag).

    The UDF is the only Python hop; everything downstream (explode, filters,
    joins) stays JVM-side so Catalyst prunes the scan to keep_cols + text.
    """
    keep_cols = keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]

    @F.pandas_udf(ArrayType(ANNOTATION_STRUCT))
    def tag_series(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: [
                (a.start, a.end, a.value, a.tag) for a in tagging.string_tag(t or "")
            ]
        )

    return spread(df).select(*keep_cols, F.inline(tag_series(F.col(text_col))))


def dictionary_mentions(
    df: DataFrame,
    dictionary: dict[str, str],
    text_col: str = "content",
    case_sensitive: bool = False,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Gazetteer matching (DictionaryTagger.java:24-83) as a broadcast-
    variable pandas UDF — the dictionary ships once per executor, and the
    combined leftmost-longest alternation (tagging.dictionary_matcher)
    compiles once per executor process, so each document costs one regex
    scan regardless of gazetteer size."""
    keep_cols = keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]
    spark = df.sparkSession
    dict_bc = spark.sparkContext.broadcast(tuple(dictionary.items()))

    @F.pandas_udf(ArrayType(ANNOTATION_STRUCT))
    def tag_series(texts: pd.Series) -> pd.Series:
        # matcher build is lru_cached on the broadcast items tuple — the
        # O(|gazetteer|) alternation compile happens once per process, not
        # per batch or per row
        pattern, lookup = tagging.dictionary_matcher(dict_bc.value, case_sensitive)
        if pattern is None:
            return pd.Series([[] for _ in range(len(texts))])
        out = []
        for t in texts:
            t = t or ""
            out.append(
                [
                    (
                        m.start(),
                        m.end(),
                        m.group(),
                        lookup[m.group() if case_sensitive else m.group().lower()],
                    )
                    for m in pattern.finditer(t)
                ]
            )
        return pd.Series(out)

    return spread(df).select(*keep_cols, F.inline(tag_series(F.col(text_col))))
