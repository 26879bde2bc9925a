"""What several contract families share: the table reader, the gazetteer
and its mentions, the capitalized corpus with its SQL twin, and the
PageRank oracle."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from palladian_spark.operators.mentions import dictionary_mentions

# checked-in reference fixtures: the POS training corpus and the frozen
# Java NER tagger outputs
REFERENCE_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures", "reference"
)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Shared fixtures: gazetteer over the synthetic corpus vocabulary, and a
# derived "code-like" corpus where marker words are capitalized so the
# StringTagger candidate regex (uppercase-driven) has entities to find.
# ---------------------------------------------------------------------------
GAZETTEER = {
    "spark": "ENGINE",
    "vector": "ENGINE",
    "stream": "ENGINE",
    "table": "OBJECT",
    "column": "OBJECT",
    "row": "OBJECT",
    "join": "OP",
    "scan": "OP",
    "filter": "OP",
    "merge": "OP",
    "sort": "OP",
}

_CAP_WORDS = ["spark", "vector", "stream", "table", "customer", "window"]


def _capitalized_corpus(docs: DataFrame) -> DataFrame:
    """documents.text with marker words Title-Cased (deterministic derivation
    of an entity-bearing corpus from the driver's synthetic table)."""
    content = F.col("text")
    for w in _CAP_WORDS:
        content = F.regexp_replace(content, r"\b" + w + r"\b", w.capitalize())
    return docs.select("doc_id", "lang", "source", content.alias("content"))


def _doc_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer mentions over documents: (doc_id, start, end, value, tag)."""
    docs = _read(spark, sf_dir, "documents")
    # case_sensitive: the gazetteer is lowercase code tokens and the DuckDB
    # oracles match \\bterm\\b case-sensitively — insensitive matching here
    # would emit original-cased subjects the SQL side cannot reproduce on a
    # corpus with case variants (latent divergence; none in the sf corpora)
    return dictionary_mentions(
        docs, GAZETTEER, text_col="text", keep_cols=["doc_id"], case_sensitive=True
    )


def _capitalized_corpus_sql(text_expr: str = "text") -> str:
    """SQL twin of _capitalized_corpus: Title-case the marker words."""
    expr = text_expr
    for w in _CAP_WORDS:
        expr = f"regexp_replace({expr}, '\\b{w}\\b', '{w.capitalize()}', 'g')"
    return expr


def _gazetteer_presence_sql() -> str:
    parts = []
    for term in GAZETTEER:
        parts.append(
            f"select doc_id, '{term}' as value from documents "
            f"where regexp_matches(text, '\\b{term}\\b')"
        )
    return " union all ".join(parts)


def _pagerank_sql(graph_sql: str, iterations: int = 5) -> str:
    """Unrolled fixed-iteration weighted PageRank (the operators/graph.py
    recurrence verbatim): damping/teleport as parallel double literals
    (0.85 / 0.15), same IEEE op per step; sum-order drift sits far below
    the round(rank*1e9) grain.

    ``graph_sql``: CTE text (bodies only, no WITH) ending in a ``sym``
    relation (src, dst, weight).
    """
    its = []
    prev = "r0"
    for i in range(1, iterations + 1):
        its.append(
            f"""r{i} as (
              select nodes.node as node,
                     0.15::double / (select n from nn)
                     + 0.85::double * coalesce(sum({prev}.rank * ep.p), 0.0)
                         as rank
              from nodes
              left join ep on ep.dst = nodes.node
              left join {prev} on {prev}.node = ep.src
              group by nodes.node)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(its)
    return f"""
        with {graph_sql},
        outw as (select src, sum(weight::double) as ow from sym group by src),
        ep as (select s.src, s.dst, s.weight::double / o.ow as p
               from sym s join outw o using (src)),
        nodes as (select distinct src as node from sym),
        nn as (select count(*) as n from nodes),
        r0 as (select node, 1.0::double / (select n from nn) as rank
               from nodes),
        {chain}
        select node, round(rank * 1e9)::bigint as rank_ppb from {prev}
    """
