"""Distributed geo-coordinate tagging: the CoordinateTagger kernel
(kernels/geo.py, reference extraction/location/CoordinateTagger.java)
applied per content blob via one Arrow hop, fixed-point microdegree
output so two engines can compare values exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .util import spread

GEO_STRUCT = StructType(
    [
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("value", StringType()),
        StructField("lat_udeg", LongType()),
        StructField("lng_udeg", LongType()),
    ]
)


def tag_coordinates(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """df -> one row per coordinate mention:
    (keep_cols..., start, end, value, lat_udeg, lng_udeg)."""
    keep_cols = (
        keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]
    )

    @F.pandas_udf(ArrayType(GEO_STRUCT))
    def tag_series(texts: pd.Series) -> pd.Series:
        from ..kernels.geo import coordinate_tag, to_microdegrees

        return texts.map(
            lambda t: [
                (a.start, a.end, a.value, to_microdegrees(a.lat), to_microdegrees(a.lng))
                for a in coordinate_tag(t or "")
            ]
        )

    return spread(df).select(*keep_cols, F.inline(tag_series(F.col(text_col))))


def tag_addresses(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """df -> one row per street / street-number annotation:
    (keep_cols..., start, end, value, tag). Kernel: kernels/geo.address_tag
    (reference extraction/location/AddressTagger.java, golden-pinned)."""
    from .mentions import ANNOTATION_STRUCT

    keep_cols = (
        keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]
    )

    @F.pandas_udf(ArrayType(ANNOTATION_STRUCT))
    def tag_series(texts: pd.Series) -> pd.Series:
        from ..kernels.geo import address_tag

        return texts.map(
            lambda t: [(a.start, a.end, a.value, a.tag) for a in address_tag(t or "")]
        )

    return spread(df).select(*keep_cols, F.inline(tag_series(F.col(text_col))))
