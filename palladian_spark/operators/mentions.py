"""Mention detection over a DataFrame text column.

Spark mapping of the reference taggers (SURVEY.md §2.2). The StringTagger
scan (``detect_mentions``) is Spark SQL: java.util.regex runs the
kernel's own pattern (tagging.STRING_TAGGER_REGEX) with no Python hop.
The gazetteer tagger is its kernel plus the one ``util.annotate`` step, a
vectorized pandas-UDF pass per content blob whose annotation rows an
inline generator flattens; its matcher compiles once per executor, the
counterpart of the reference's static Pattern constants
(StringTagger.java:17).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels import tagging
from .util import ANNOTATION_STRUCT, annotate, spread

# match delimiters spliced into the text; the scan first maps any U+0001 or
# U+0002 already there to U+0003, which the pattern treats alike (no class
# holds a control character) and which keeps every length
_OPEN, _CLOSE, _OTHER = "\u0001", "\u0002", "\u0003"


def detect_mentions(
    df: DataFrame,
    text_col: str = "content",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """df -> one row per StringTagger candidate (StringTagger.java:13-77):
    (keep_cols..., start, end, value, tag), the rows and code-point
    offsets of ``tagging.string_tag``; keep_cols defaults to every other
    column, and a null text has no rows.

    One regex pass per text: after U+00A0 -> space (the kernel's
    replace_protected_space), ``regexp_replace`` wraps each match in
    U+0001 ... U+0002, and a split on U+0001 gives the text before the
    first match, then one "value U+0002 gap" part per match. Part k's
    start is the running sum of the text lengths of parts 0..k-1 in its
    row, a window over the exploded parts; Spark's ``length`` counts code
    points, like Python's offsets.

    The generator takes the split inline, not through an aliased column:
    Catalyst would infer a ``size(..) > 0`` filter over the alias and push
    it, regex included, below the ``spread()`` repartition, so the regex
    would run twice per row (tests/test_udf_plans.py pins the plan).
    """
    if keep_cols is None:
        keep_cols = [c for c in df.columns if c != text_col]
    text = F.translate(F.col(text_col), "\u00a0" + _OPEN + _CLOSE, " " + _OTHER + _OTHER)
    marked = F.regexp_replace(text, tagging.STRING_TAGGER_REGEX, _OPEN + "$0" + _CLOSE)
    parts = (
        spread(df)
        .withColumn("_row", F.monotonically_increasing_id())
        .select(*keep_cols, "_row", F.posexplode(F.split(marked, _OPEN)).alias("_k", "_part"))
    )
    # part k > 0 is "value U+0002 gap": its text is one char shorter
    value = F.when(F.col("_k") > 0, F.substring_index("_part", _CLOSE, 1))
    text_len = F.length("_part") - F.least(F.col("_k"), F.lit(1))
    upto = Window.partitionBy("_row").orderBy("_k").rowsBetween(Window.unboundedPreceding, 0)
    return (
        parts.select(*keep_cols, "_row", "_k", value.alias("value"), text_len.alias("_len"))
        .withColumn("start", (F.sum("_len").over(upto) - F.col("_len")).cast("int"))
        .where(F.col("_k") > 0)
        .select(
            *keep_cols,
            "start",
            (F.col("start") + F.length("value")).alias("end"),
            "value",
            F.lit(tagging.CANDIDATE_TAG).alias("tag"),
        )
    )


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
