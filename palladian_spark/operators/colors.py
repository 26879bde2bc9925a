"""Distributed color features — the Spark shape of the reference's
``ImageHandler.detectColors`` (``ImageHandler.java:977-1050``) and the
named-color matching it drives, over the real-PNG media table
(operators/multimodal.py).

Two surfaces:

* :func:`media_pixel_colors` — decode the PNG (one Python hop, the
  same single-decode discipline as image_features), sample 5
  deterministic pixels, then do ALL scoring JVM-side: Lab conversion
  (the reference's exact sRGB->XYZ->Lab pipeline re-rendered as a SQL
  expression shared verbatim with the DuckDB oracle), cross join with
  the 348-row named-color table, argmin by (distance, table position)
  — the strict-< first-wins tie rule of the Java scan.  Fully
  SQL-oracle-able INCLUDING the decode (the oracle recomputes pixel
  values analytically from the gradient formula).
* :func:`detect_media_colors` — the full greedy cluster algorithm
  (golden-tested kernel, sequential per image by design) in one Arrow
  hop; top-3 distinct main colors per image.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType
from pyspark.sql.window import Window

from ..kernels.color_table import COLORS


def _lin(c: str) -> str:
    """sRGB linearization * 100 (ColorSpaceConverter.java:204-227) —
    common Spark/DuckDB SQL."""
    return (
        f"(case when ({c}) / 255.0 <= 0.04045 then ({c}) / 255.0 / 12.92 "
        f"else pow((({c}) / 255.0 + 0.055) / 1.055, 2.4) end) * 100.0"
    )


def _f(t: str) -> str:
    """Lab companding (ColorSpaceConverter.java:287-301)."""
    return (
        f"(case when ({t}) > 0.008856 then pow({t}, 1.0/3.0) "
        f"else 7.787 * ({t}) + 16.0 / 116.0 end)"
    )


def lab_exprs(r: str, g: str, b: str) -> tuple[str, str, str]:
    """(L, a, b) SQL expressions from integer RGB columns — the exact
    constants of ColorSpaceConverter.java:31-33 (matrix) and :15 (D65).
    Shared verbatim between the Spark plan and the DuckDB oracle, so
    both engines compute identical IEEE doubles."""
    lr, lg, lb = _lin(r), _lin(g), _lin(b)
    x = f"(({lr}) * 0.4124 + ({lg}) * 0.3576 + ({lb}) * 0.1805)"
    y = f"(({lr}) * 0.2126 + ({lg}) * 0.7152 + ({lb}) * 0.0722)"
    z = f"(({lr}) * 0.0193 + ({lg}) * 0.1192 + ({lb}) * 0.9505)"
    fx = _f(f"({x}) / 95.0429")
    fy = _f(f"({y}) / 100.0")
    fz = _f(f"({z}) / 108.8900")
    return (
        f"(116.0 * ({fy}) - 16.0)",
        f"(500.0 * (({fx}) - ({fy})))",
        f"(200.0 * (({fy}) - ({fz})))",
    )


def color_table_rows() -> list[tuple[int, str, str, str, int, int, int]]:
    """(pos, hex, specific, main, r, g, b) — table order is the tie
    rule."""
    out = []
    for pos, (hex_code, fine, main) in enumerate(COLORS):
        s = hex_code.lstrip("#")
        out.append(
            (pos, hex_code, fine, main,
             int(s[0:2], 16), int(s[2:4], 16), int(s[4:6], 16))
        )
    return out


_PIXEL_SCHEMA = StructType(
    [
        StructField("px", StringType()),
        StructField("r", IntegerType()),
        StructField("g", IntegerType()),
        StructField("b", IntegerType()),
    ]
)


def _decode_pixels(media_df: DataFrame, media_col: str, id_col: str) -> DataFrame:
    """One Python decode hop: 5 deterministic sample pixels per image
    (corners + center)."""

    @F.pandas_udf(ArrayType(_PIXEL_SCHEMA))
    def sample_px(blobs: pd.Series) -> pd.Series:
        from ..kernels.png import decode_png

        out = []
        for blob in blobs:
            img = decode_png(bytes(blob))
            h, w = len(img), len(img[0])
            pts = [
                ("tl", 0, 0), ("tr", w - 1, 0), ("bl", 0, h - 1),
                ("br", w - 1, h - 1), ("c", w // 2, h // 2),
            ]
            out.append(
                [
                    (name, int(img[y][x][0]), int(img[y][x][1]), int(img[y][x][2]))
                    for name, x, y in pts
                ]
            )
        return pd.Series(out)

    from .util import spread

    return spread(media_df).select(
        F.col(id_col).alias("media_id"), F.inline(sample_px(F.col(media_col)))
    )


def media_pixel_colors(
    media_df: DataFrame, media_col: str = "media", id_col: str = "media_id"
) -> DataFrame:
    """(media_id, px, r, g, b, specific_color, main_color): nearest
    named color for 5 sample pixels per image."""
    spark = media_df.sparkSession
    pixels = _decode_pixels(media_df, media_col, id_col).localCheckpoint(eager=False)

    colors = spark.createDataFrame(
        color_table_rows(),
        "pos int, hex string, specific_color string, main_color string,"
        " cr int, cg int, cb int",
    )
    # project Lab ONCE per pixel row and ONCE per color row BEFORE the
    # cross join — inlining the pow-heavy conversion into the distance
    # expression would recompute it per (pixel, color) pair (~350x)
    pl, pa, pb = lab_exprs("r", "g", "b")
    cl, ca, cb = lab_exprs("cr", "cg", "cb")
    # Lab columns are named lab1_*/lab2_* — 'cb' would COLLIDE with the
    # blue-channel column of the color table (ambiguous in DuckDB,
    # silently replaced in Spark)
    pixels_lab = pixels.withColumns(
        {"lab1_l": F.expr(pl), "lab1_a": F.expr(pa), "lab1_b": F.expr(pb)}
    ).localCheckpoint(eager=False)
    colors_lab = colors.withColumns(
        {"lab2_l": F.expr(cl), "lab2_a": F.expr(ca), "lab2_b": F.expr(cb)}
    )
    scored = pixels_lab.crossJoin(F.broadcast(colors_lab)).withColumn(
        "dist",
        F.expr(
            "sqrt(pow(lab1_l - lab2_l, 2) + pow(lab1_a - lab2_a, 2)"
            " + pow(lab1_b - lab2_b, 2))"
        ),
    )
    w = Window.partitionBy("media_id", "px").orderBy(
        F.col("dist").asc(), F.col("pos").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("media_id", "px", "r", "g", "b", "specific_color", "main_color")
    )


_COLOR_SCHEMA = ArrayType(
    StructType(
        [
            StructField("hex", StringType()),
            StructField("specific_color", StringType()),
            StructField("main_color", StringType()),
        ]
    )
)


def detect_media_colors(
    media_df: DataFrame, media_col: str = "media", id_col: str = "media_id"
) -> DataFrame:
    """Full detectColors clustering per image (kernel twin), one Arrow
    hop.  Output: (media_id, rank, hex, specific_color, main_color)."""

    @F.pandas_udf(_COLOR_SCHEMA)
    def detect(blobs: pd.Series) -> pd.Series:
        from ..kernels.colors import detect_colors
        from ..kernels.png import decode_png

        return pd.Series(
            [detect_colors(decode_png(bytes(blob))) for blob in blobs]
        )

    from .util import spread

    return (
        spread(media_df)
        .select(
            F.col(id_col).alias("media_id"),
            F.posexplode(detect(F.col(media_col))).alias("rank0", "c"),
        )
        .select(
            "media_id",
            (F.col("rank0") + 1).cast("long").alias("rank"),
            "c.hex", "c.specific_color", "c.main_color",
        )
    )


def media_pixel_colors_sql(documents: str = "documents") -> str:
    """Full independent DuckDB oracle for the media_pixel_colors
    contract query: pixel RGB recomputed ANALYTICALLY from the gradient
    PNG formula (operators/multimodal.py synthesize_media_table — so a
    wrong decode fails the hash), then the identical Lab + argmin
    scoring over the inlined color table."""
    def _q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ", ".join(
        f"({pos}, {_q(h)}, {_q(fine)}, {_q(main)}, {r}, {g}, {b})"
        for pos, h, fine, main, r, g, b in color_table_rows()
    )
    pl, pa, pb = lab_exprs("r", "g", "b")
    cl, ca, cb = lab_exprs("cr", "cg", "cb")
    return f"""
with mc_dim as (
  select doc_id, 'm' || doc_id as media_id,
         (16 + doc_id % 32)::int as w,
         (12 + (doc_id * 7) % 24)::int as h
  from {documents}),
mc_pts as (
  select media_id, doc_id, px, x, y from (
    select media_id, doc_id,
           unnest(['tl', 'tr', 'bl', 'br', 'c']) as px,
           unnest([0, w - 1, 0, w - 1, w // 2]) as x,
           unnest([0, 0, h - 1, h - 1, h // 2]) as y
    from mc_dim)),
mc_px as (
  select media_id, px,
         ((x * 3 + doc_id) % 256)::int as r,
         ((y * 5 + doc_id * 11) % 256)::int as g,
         ((x + y + doc_id * 7) % 256)::int as b
  from mc_pts),
mc_px_lab as (
  select media_id, px, r, g, b,
         {pl} as lab1_l, {pa} as lab1_a, {pb} as lab1_b
  from mc_px),
mc_colors as (
  select *, {cl} as lab2_l, {ca} as lab2_a, {cb} as lab2_b
  from (values {rows})
    t(pos, hex, specific_color, main_color, cr, cg, cb)),
mc_scored as (
  select p.media_id, p.px, p.r, p.g, p.b,
         c.pos, c.specific_color, c.main_color,
         sqrt(pow(p.lab1_l - c.lab2_l, 2) + pow(p.lab1_a - c.lab2_a, 2)
              + pow(p.lab1_b - c.lab2_b, 2)) as dist
  from mc_px_lab p cross join mc_colors c)
select media_id, px, r, g, b, specific_color, main_color from (
  select *, row_number() over (partition by media_id, px
                               order by dist asc, pos asc) as rn
  from mc_scored) where rn = 1
"""
