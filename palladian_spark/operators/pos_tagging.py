"""Distributed POS tagging: the PalladianPosTagger kernel applied per
document via a broadcast model + one Arrow hop.

Same Spark mapping as mention detection (operators/mentions.py): the
trained PosModel (a few dictionaries) ships once per executor as a
broadcast variable; each Arrow batch runs the golden-tested kernel
(kernels/pos.py, parity-gated against the compiled reference tagger) and
returns annotation structs exploded JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.pos import PosModel
from .mentions import ANNOTATION_STRUCT
from .util import spread


def pos_tag_documents(
    df: DataFrame,
    model: PosModel,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    keep_cols = (
        keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]
    )
    spark = df.sparkSession
    model_bc = spark.sparkContext.broadcast(model)

    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(ANNOTATION_STRUCT))
    def tag_series(texts: pd.Series) -> pd.Series:
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

        return texts.map(
            lambda t: [
                (start, start + len(value), value, tag_of(value))
                for start, value in iterate_tokens(t or "")
            ]
        )

    return spread(df).select(*keep_cols, F.inline(tag_series(F.col(text_col))))
