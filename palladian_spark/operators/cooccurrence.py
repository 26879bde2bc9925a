"""Scoped term co-occurrence over a documents DataFrame.

Spark mapping of CoOccurrenceRetriever's three context scopes
(palladian-core/.../retrieval/cooccurrence/CoOccurrenceRetriever.java:
27-155): DOCUMENT (both terms anywhere in the text), SENTENCE (both terms
inside one sentence, reference Tokenizer.getSentences = the masked
Palladian sentence detector), CONTEXT_200_CHARS (regex
``term1.{0,N}term2`` match count, both directions for distinct terms).
Term matching is SUBSTRING containment, faithful to the reference's
String.contains / regex — not word-boundary gazetteer matching (that is
operators/mentions.dictionary_mentions).

Scale notes: document and sentence scopes pair each unit's present terms
(util.member_pairs: one scan + one unit-key shuffle, term list broadcast
as literal predicates). The window scope compiles |terms|^2 pair regexes
into one projection — right for the reference's use case (a handful of
candidate relation pairs), wrong for 10^5-term gazetteers; use sentence
scope there.
"""

from __future__ import annotations

import re as _re

import pandas as pd  # module-level: pandas-UDF string hints resolve here
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import member_pairs, spread

DOCUMENT = "document"
SENTENCE = "sentence"
CONTEXT_WINDOW = "window"


def _presence(
    unit_df: DataFrame, terms: list[str], unit_cols: list[str], text_col: str
) -> DataFrame:
    """(unit_cols..., term) rows for units whose text CONTAINS the term.

    One pass over the units: the term list explodes as a literal array and
    filters JVM-side — a per-term union of filters would replay the whole
    upstream subtree (including any sentence-explode UDF) once per term.
    """
    return (
        unit_df.select(
            *unit_cols,
            F.col(text_col),
            F.explode(F.array(*[F.lit(t) for t in sorted(set(terms))])).alias("term"),
        )
        .where(F.col(text_col).contains(F.col("term")))
        .select(*unit_cols, "term")
    )


def _pair_counts(presence: DataFrame, unit_cols: list[str]) -> DataFrame:
    """(term_a, term_b, n): the units holding both terms, term_a < term_b;
    each unit's terms are paired by util.member_pairs, so the presence
    rows (and the sentence UDF under them) are read once."""
    return (
        member_pairs(presence, unit_cols, "term")
        .groupBy(F.col("a").alias("term_a"), F.col("b").alias("term_b"))
        .agg(F.count("*").alias("n").cast("long").alias("n"))
    )


def scoped_cooccurrences(
    docs: DataFrame,
    terms: list[str],
    scope: str = DOCUMENT,
    window: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    case_insensitive: bool = False,
) -> DataFrame:
    """(term_a, term_b, n) co-occurrence counts under the given scope.

    DOCUMENT: n = number of documents containing both terms
    (CoOccurrenceRetriever.java:115-120). SENTENCE: n = number of
    sentences containing both (:122-133). CONTEXT_WINDOW: n = count of
    ``a.{0,window}b`` plus (for distinct terms) ``b.{0,window}a`` regex
    matches (:135-152).
    """
    text = F.lower(F.col(text_col)) if case_insensitive else F.col(text_col)
    terms = sorted({t.lower() for t in terms} if case_insensitive else set(terms))
    # spread: a single-split documents table would run the contains-filter /
    # sentence UDF / pair-regex projection on one core (no-op at real scale)
    base = spread(docs.select(F.col(id_col).alias("doc"), text.alias("t")))

    if scope == DOCUMENT:
        return _pair_counts(_presence(base, terms, ["doc"], "t"), ["doc"])

    if scope == SENTENCE:
        from pyspark.sql.types import ArrayType, StringType

        from ..kernels.text import detect_sentences

        @F.pandas_udf(ArrayType(StringType()))
        def _sentences(texts: pd.Series) -> pd.Series:
            return texts.map(
                lambda t: [s for _, s in detect_sentences(t or "")]
            )

        sent = base.select(
            "doc", F.posexplode(_sentences(F.col("t"))).alias("sent_idx", "s")
        )
        return _pair_counts(
            _presence(sent, terms, ["doc", "sent_idx"], "s"), ["doc", "sent_idx"]
        )

    if scope == CONTEXT_WINDOW:
        # ONE projection per document emitting an array of
        # (term_a, term_b, _n) structs — a single corpus scan regardless
        # of |pairs|, vs the naive per-pair union-of-scans plan that
        # re-reads the corpus |pairs| times.
        pair_structs = []
        for a in terms:
            for b in terms:
                if a >= b:
                    continue
                fwd = f"{_re.escape(a)}.{{0,{window}}}{_re.escape(b)}"
                bwd = f"{_re.escape(b)}.{{0,{window}}}{_re.escape(a)}"
                n = F.size(
                    F.regexp_extract_all(F.col("t"), F.lit(fwd), F.lit(0))
                ) + F.size(F.regexp_extract_all(F.col("t"), F.lit(bwd), F.lit(0)))
                pair_structs.append(
                    F.struct(
                        F.lit(a).alias("term_a"),
                        F.lit(b).alias("term_b"),
                        n.alias("_n"),
                    )
                )
        return (
            base.select(F.inline(F.array(*pair_structs)))
            .groupBy("term_a", "term_b")
            .agg(F.sum("_n").cast("long").alias("n"))
            .where(F.col("n") > 0)
        )

    raise ValueError(f"unknown scope {scope!r}")
