"""Distributed geo-coordinate tagging: the CoordinateTagger kernel
(kernels/geo.py, reference extraction/location/CoordinateTagger.java)
applied per content blob via one Arrow hop, fixed-point microdegree
output so two engines can compare values exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .util import ANNOTATION_STRUCT, annotate

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

    def make_rows():
        from ..kernels.geo import coordinate_tag, to_microdegrees

        return lambda t: [
            (a.start, a.end, a.value, to_microdegrees(a.lat), to_microdegrees(a.lng))
            for a in coordinate_tag(t)
        ]

    return annotate(df, text_col, keep_cols, GEO_STRUCT, make_rows)


def tag_addresses(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """df -> one row per street / street-number annotation:
    (keep_cols..., start, end, value, tag). Kernel: kernels/geo.address_tag
    (reference extraction/location/AddressTagger.java, golden-pinned)."""

    def make_rows():
        from ..kernels.geo import address_tag

        return lambda t: [(a.start, a.end, a.value, a.tag) for a in address_tag(t)]

    return annotate(df, text_col, keep_cols, ANNOTATION_STRUCT, make_rows)
