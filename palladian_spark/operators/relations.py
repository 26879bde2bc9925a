"""Pattern-based relation extraction over a documents DataFrame.

Spark mapping of the reference's "PatternBasedExtractor" role (SURVEY.md
§2.6): AnnotationRuleEngine (extraction/location/AnnotationRuleEngine.java:
27-217) applied per document inside a pandas UDF using the golden-tested
kernel, PatternAnalyzer context mining (palladian-experimental/.../
PatternAnalyzer.java:11-74) as a pure JVM regexp + groupBy aggregate, and
FPGrowth association mining (extraction/apriori/Apriori.java counterpart)
via pyspark.ml.fpm over per-document entity sets.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..kernels import tagging
from ..kernels.rules import apply_rules, parse_rules
from .util import ANNOTATION_STRUCT, annotate, spread


def apply_rule_engine(
    df: DataFrame,
    dictionary: dict[str, str],
    rules_text: str,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Detect gazetteer mentions per document, then run the rule engine on
    them; emit only classified mentions (keep_cols..., start, end, value,
    tag).

    Doc-local by construction (mention contexts never cross documents), so
    one Arrow-batched pass with the dictionary + parsed rules shipped via
    broadcast — no shuffle until the caller aggregates.
    """
    sc = df.sparkSession.sparkContext
    dict_bc = sc.broadcast(tuple(dictionary.items()))
    rules_bc = sc.broadcast(rules_text)

    def make_rows():
        pattern, lookup = tagging.dictionary_matcher(dict_bc.value, False)
        rules = parse_rules(rules_bc.value)

        def rows(t):
            mentions = tagging.dictionary_scan(t, pattern, lookup)
            return [
                (a.start, a.end, a.value, tag)
                for a, tag in apply_rules(t, mentions, rules)
                if tag is not None
            ]

        return rows

    return annotate(df, text_col, keep_cols, ANNOTATION_STRUCT, make_rows)


def classified_mention_counts(
    df: DataFrame,
    dictionary: dict[str, str],
    rules_text: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, value, tag, n): rule-classified mention counts per doc."""
    tagged = apply_rule_engine(
        df, dictionary, rules_text, text_col=text_col, keep_cols=[id_col]
    )
    return tagged.groupBy(id_col, "value", "tag").agg(F.count("*").alias("n"))


def rule_instance_triples(
    df: DataFrame,
    dictionary: dict[str, str],
    rules_text: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(subj, pred='instance-of', obj, support): typed triples emitted from
    rule-engine hits — the Hearst-style "context pattern => label" relation
    producer generalizing WiktionaryParser's triple emission
    (semantics/WiktionaryParser.java:192-257)."""
    tagged = apply_rule_engine(
        df, dictionary, rules_text, text_col=text_col, keep_cols=[id_col]
    )
    return tagged.groupBy(
        F.col("value").alias("subj"),
        F.lit("instance-of").alias("pred"),
        F.col("tag").alias("obj"),
    ).agg(F.count("*").alias("support"))


def mine_context_patterns(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    prefix_words: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """PatternAnalyzer semantics: mine `prefix_words`-token windows that
    precede known entity terms, ranked by frequency.

    Pure JVM path (regexp_extract_all + explode + hash aggregate) — pattern
    mining is a counting problem, so it stays in whole-stage codegen with
    map-side partial aggregation; no Python.

    Terms are re.escape()d and the pattern is bound via F.lit (never
    interpolated into SQL text), so quotes / regex metacharacters in
    caller-supplied gazetteers cannot break parsing or matching; prefix and
    term come from separate capture groups, so multi-word terms survive
    intact (no re-splitting of the match on spaces).
    """
    import re as _re

    alt = "|".join(_re.escape(t) for t in sorted(terms))
    words = " ".join([r"\w+"] * prefix_words)
    pattern = f"({words}) ({alt})\\b"
    matches = spread(df).select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
        ).alias("m")
    )
    split = matches.select(
        F.regexp_extract(F.col("m"), pattern, 1).alias("prefix"),
        F.regexp_extract(F.col("m"), pattern, 2).alias("term"),
    )
    counts = split.groupBy("prefix", "term").agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("prefix"), F.asc("term"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select("prefix", "term", "cnt", "rnk")
    )


def _gazetteer_baskets(
    df: DataFrame, dictionary: dict[str, str], text_col: str, id_col: str
) -> DataFrame:
    """Per-document distinct-gazetteer-term presence sets (the transaction
    input for itemset mining). One regexp_extract_all pass, JVM-side."""
    import re as _re

    alt = "|".join(_re.escape(t) for t in sorted(dictionary))
    pattern = f"\\b({alt})\\b"
    return (
        spread(df)
        .select(
            F.col(id_col),
            F.array_sort(
                F.array_distinct(
                    F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(1))
                )
            ).alias("items"),
        )
        .where(F.size("items") > 0)
    )


def frequent_itemsets(
    df: DataFrame,
    dictionary: dict[str, str],
    text_col: str = "text",
    id_col: str = "doc_id",
    min_support: float = 0.05,
    max_size: int = 2,
) -> DataFrame:
    """Frequent entity itemsets over per-document gazetteer presence sets
    (Apriori.java counterpart, via pyspark.ml.fpm.FPGrowth).

    Returns (items: comma-joined sorted string, freq) for itemsets of size
    <= max_size — string-typed output keeps the result oracle-hashable.
    """
    from pyspark.ml.fpm import FPGrowth

    baskets = _gazetteer_baskets(df, dictionary, text_col, id_col)
    model = FPGrowth(
        itemsCol="items", minSupport=min_support, minConfidence=0.5
    ).fit(baskets)
    return (
        model.freqItemsets.where(F.size("items") <= max_size)
        .select(
            F.array_join(F.array_sort("items"), ",").alias("items"),
            F.col("freq"),
        )
    )


def association_rules(
    df: DataFrame,
    dictionary: dict[str, str],
    text_col: str = "text",
    id_col: str = "doc_id",
    min_support: float = 0.05,
    min_confidence: float = 0.5,
) -> DataFrame:
    """Association rules with confidence over gazetteer presence baskets.

    Reference: extraction/apriori/Apriori.java:150-190 (buildRules) emits
    ``X => Y`` rules with support, confidence = supp(X∪Y)/supp(X), and
    lift; pyspark.ml's FPGrowth.associationRules computes the same
    quantities from the frequent itemsets, distributed. Exposed here
    restricted to 1→1 rules (single-item antecedent and consequent), which
    keeps the SQL oracle independent and exact.

    confidence/support are emitted in basis points via floor(x * 10000):
    both engines perform the identical IEEE-double division freq_pair /
    freq_antecedent (resp. / n_baskets), so the floored integer is
    engine-portable where a rounded double might not hash-match.
    """
    from pyspark.ml.fpm import FPGrowth

    baskets = _gazetteer_baskets(df, dictionary, text_col, id_col)
    model = FPGrowth(
        itemsCol="items", minSupport=min_support, minConfidence=min_confidence
    ).fit(baskets)
    return (
        model.associationRules.where(
            (F.size("antecedent") == 1) & (F.size("consequent") == 1)
        )
        .select(
            F.element_at("antecedent", 1).alias("antecedent"),
            F.element_at("consequent", 1).alias("consequent"),
            F.floor(F.col("confidence") * 10000).cast("long").alias("confidence_bp"),
            F.floor(F.col("support") * 10000).cast("long").alias("support_bp"),
        )
    )


def wiktionary_triples(
    pages: DataFrame,
    language: str = "german",
    title_col: str = "title",
    text_col: str = "text",
) -> DataFrame:
    """Wiktionary dump pages -> (subj, pred, obj) lexical-relation triples.

    Spark mapping of WiktionaryParser (semantics/WiktionaryParser.java:
    76-262): the reference streams the XML dump through a SAX handler into
    an H2 WordDB; here the (title, text) page table is the input (one
    XML-to-table conversion upstream) and the markup-extraction kernel
    (kernels/wiktionary.py) runs per page in one Arrow hop, emitting
    synonym/hypernym/hyponym/plural/word-type edges instead of DB rows.
    """
    from ..kernels.wiktionary import (
        entry_triples,
        parse_page_english,
        parse_page_german,
    )

    parse = parse_page_german if language.lower() in ("german", "de") else parse_page_english
    triple_t = StructType(
        [
            StructField("subj", StringType()),
            StructField("pred", StringType()),
            StructField("obj", StringType()),
        ]
    )

    @F.pandas_udf(ArrayType(triple_t))
    def _parse(titles: pd.Series, texts: pd.Series) -> pd.Series:
        out = []
        for title, text in zip(titles, texts):
            out.append(entry_triples(parse(title or "", text or "")))
        return pd.Series(out)

    return spread(pages).select(F.inline(_parse(F.col(title_col), F.col(text_col))))
