"""Media contract queries over the synthesized real-PNG media table:
decoded dimensions, nearest named color per pixel and main colors."""

from __future__ import annotations

from palladian_spark.operators.colors import (
    detect_media_colors, media_pixel_colors as _media_pixel_colors,
    media_pixel_colors_sql,
)
from palladian_spark.operators.multimodal import image_features, synthesize_media_table

from contract import query
from contract.common import _read


@query(headline=True, oracle=media_pixel_colors_sql)
def media_pixel_colors(spark, sf_dir):
    # nearest-named-color per sampled pixel of the real-PNG media
    # table (ColorSpaceConverter + ImageHandler color matching
    # twins): decode is the only Python hop; Lab + argmin run
    # JVM-side with the same SQL expressions the oracle uses, and
    # the oracle recomputes pixels analytically so a wrong decode
    # fails the hash
    media = synthesize_media_table(spark, _read(spark, sf_dir, "documents"))
    return _media_pixel_colors(media)


@query(headline=True)
def media_colors(spark, sf_dir):
    # full detectColors greedy clustering (ImageHandler.java:977-1050
    # twin, golden-tested kernel): top-3 distinct main colors per
    # image; sequential per image by design -> no SQL oracle (rows
    # check only), semantics pinned by tests/test_colors.py
    media = synthesize_media_table(spark, _read(spark, sf_dir, "documents"))
    return detect_media_colors(media)


# ---- multimodal: REAL PNG decode (stdlib codec), oracled ----
@query(headline=True, oracle=lambda: """
            select 'm' || doc_id as media_id,
                   (16 + doc_id % 32)::int as width,
                   (12 + (doc_id * 7) % 24)::int as height
            from documents
        """)
def media_features(spark, sf_dir):
    # synthesize_media_table encodes a real PNG whose dimensions are a
    # pure function of doc_id; image_features must DECODE those bytes
    # (stdlib PNG codec, interop-tested vs Java ImageIO), so the SQL
    # oracle predicting the dimensions verifies the decode end-to-end.
    media = synthesize_media_table(spark, _read(spark, sf_dir, "documents"))
    return image_features(media).select("media_id", "width", "height")
