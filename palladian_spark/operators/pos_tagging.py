"""Distributed POS tagging: the PalladianPosTagger kernel applied per
document via a broadcast model + one Arrow hop.

Same Spark mapping as mention detection (the ``util.annotate`` step): the
trained PosModel (a few dictionaries) ships once per executor as a
broadcast variable; each Arrow batch runs the golden-tested kernel
(kernels/pos.py, parity-gated against the compiled reference tagger) and
returns annotation structs exploded JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..kernels.pos import PosModel
from .util import ANNOTATION_STRUCT, annotate


def pos_tag_documents(
    df: DataFrame,
    model: PosModel,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    model_bc = df.sparkSession.sparkContext.broadcast(model)

    def make_rows():
        from ..kernels.pos import classify_token
        from ..kernels.text import iterate_tokens

        m = model_bc.value
        # POS classification is a pure function of the token value, and
        # corpora repeat tokens heavily (Zipf) — memoize on the broadcast
        # model object so the cache survives across Arrow batches within
        # an executor; bounded so a 100 TB vocabulary cannot exhaust memory
        cache = getattr(m, "_tag_cache", None)
        if cache is None:
            cache = {}
            m._tag_cache = cache

        def tag_of(token: str) -> str:
            tag = cache.get(token)
            if tag is None:
                tag = classify_token(token, m).upper()
                if len(cache) < 262_144:
                    cache[token] = tag
            return tag

        return lambda t: [
            (start, start + len(value), value, tag_of(value))
            for start, value in iterate_tokens(t)
        ]

    return annotate(df, text_col, keep_cols, ANNOTATION_STRUCT, make_rows)
