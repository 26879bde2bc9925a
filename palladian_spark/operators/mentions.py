"""Mention detection over a DataFrame text column.

Spark mapping of the reference taggers (SURVEY.md §2.2): each tagger is
its kernel plus the one ``util.annotate`` step, a vectorized pandas-UDF
pass per content blob whose annotation rows an inline generator
flattens. Regexes compile once per executor (module import time), the
counterpart of the reference's static Pattern constants
(StringTagger.java:17).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..kernels import tagging
from .util import ANNOTATION_STRUCT, annotate


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

    def make_rows():
        return lambda t: [(a.start, a.end, a.value, a.tag) for a in tagging.string_tag(t)]

    return annotate(df, text_col, keep_cols, ANNOTATION_STRUCT, make_rows)


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
    scan. That scan still grows with the gazetteer (about 0.05 ms per
    text at 20 entries, 68 ms at 100,000; see dictionary_matcher for the
    trie / Aho-Corasick follow-up)."""
    dict_bc = df.sparkSession.sparkContext.broadcast(tuple(dictionary.items()))

    def make_rows():
        # lru_cached on the broadcast items tuple: the O(|gazetteer|)
        # alternation compile happens once per process, not per batch
        pattern, lookup = tagging.dictionary_matcher(dict_bc.value, case_sensitive)
        return lambda t: [
            (a.start, a.end, a.value, a.tag)
            for a in tagging.dictionary_scan(t, pattern, lookup, case_sensitive)
        ]

    return annotate(df, text_col, keep_cols, ANNOTATION_STRUCT, make_rows)
