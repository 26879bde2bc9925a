"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The queries live in the ``contract`` package, one module per operator
family (kg, code, doc, ann, relational, classify, media), each query
registered beside its oracle by ``contract.query``; this module only
serves that registry. Each query maps to an operator from SURVEY.md §2.
Every query but ``media_colors`` (rows-only, a sequential per-image
scan) carries an oracle that recomputes it independently in DuckDB;
where the operator itself is not SQL-expressible, the oracle inlines
only the part no SQL engine can compute (e.g. the POS vocabulary map),
and that part is pinned separately by reference goldens in pytest.

All oracle-verified outputs are integers/strings (or exact decimals as
integer cents) so the value-hash never depends on float summation order
or rounding-mode differences between Spark and DuckDB.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# make the package importable when the driver runs this file from /root/repo
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# importing a family module registers its queries
from contract import REGISTRY, ann, classify, code, doc, kg, media, relational  # noqa: E402,F401
from contract.common import _capitalized_corpus, _read  # noqa: E402
from palladian_spark.pipeline import documents_as_source, extract_triples  # noqa: E402


# ---------------------------------------------------------------------------
# Flagship: end-to-end KG construction (mention detection -> co-occurrence /
# provenance edges -> LSH-blocked canonicalization -> deduplicated triples).
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    source = documents_as_source(_capitalized_corpus(docs))
    return extract_triples(source, model=None, canonicalize=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per operator; callables take (spark, sf_dir)."""
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin of every oracled query, over the views region nation
    customer supplier part orders lineitem events documents embeddings."""
    return {name: q.oracle() for name, q in REGISTRY.items() if q.oracle is not None}


def headline() -> list[str]:
    """The queries bench.py times: a cross-section of SURVEY §2 (the full
    KG pipeline, mention detection, dedup/LSH, canonicalization, ANN and
    the relational agg/join/window shapes)."""
    return [name for name, q in REGISTRY.items() if q.headline]
