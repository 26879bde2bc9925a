"""Date normalization operator: tagged date strings -> typed date parts.

North-rule enhancement over the string-only date tagging (SURVEY §1
scopes tagging to strings; the reference's extraction/date stack rates
and normalizes them): one vectorized pandas-UDF pass runs the reference's
ordered find-and-mask tagger loop (kernels.dateformats.find_dates_with_format,
DateParser.java:185-198) and the DateParserLogic normalization port
(kernels.dateparse.parse_date, golden-pinned vs the compiled reference)
per document, emitting one row per found date with nullable
year/month/day/hour/minute/second parts plus a canonical timestamp
string for fully-dated values.

Scale shape: the ``util.annotate`` step of mention detection — a single
Arrow hop over the content column (regexes compile once per worker
process at module import), then pure JVM explode/projection; no shuffle
at all. The KG side joins these rows as typed date nodes on (doc, value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.dateformats import DEFAULT_TAGGER_FORMATS, find_dates_with_format
from ..kernels.dateparse import parse_date
from .util import annotate

DATE_STRUCT = StructType(
    [
        StructField("value", StringType()),
        StructField("fmt", StringType()),
        StructField("year", IntegerType()),
        StructField("month", IntegerType()),
        StructField("day", IntegerType()),
        StructField("hour", IntegerType()),
        StructField("minute", IntegerType()),
        StructField("second", IntegerType()),
        StructField("timezone", StringType()),
    ]
)


def normalize_dates(
    df: DataFrame,
    text_col: str = "content",
    keep_cols: list[str] | None = None,
    formats=None,
) -> DataFrame:
    """df -> one row per found date: (keep_cols..., value, fmt, year,
    month, day, hour, minute, second, timezone, ts) where ts is the
    canonical 'YYYY-MM-DD HH:MM:SS' string when year+month+day are all
    present (missing time parts default to 0, like a midnight-anchored
    DATETIME) and NULL otherwise."""
    formats = formats if formats is not None else DEFAULT_TAGGER_FORMATS

    def make_rows():
        def rows(t):
            out = []
            for value, fmt in find_dates_with_format(t, formats):
                d = parse_date(value, fmt)
                out.append(
                    (value, fmt, d["year"], d["month"], d["day"],
                     d["hour"], d["minute"], d["second"], d["timezone"])
                )
            return out

        return rows

    exploded = annotate(df, text_col, keep_cols, DATE_STRUCT, make_rows)
    ts = F.when(
        F.col("year").isNotNull() & F.col("month").isNotNull() & F.col("day").isNotNull(),
        F.format_string(
            "%04d-%02d-%02d %02d:%02d:%02d",
            F.col("year"), F.col("month"), F.col("day"),
            F.coalesce(F.col("hour"), F.lit(0)),
            F.coalesce(F.col("minute"), F.lit(0)),
            F.coalesce(F.col("second"), F.lit(0)),
        ),
    )
    return exploded.withColumn("ts", ts)
