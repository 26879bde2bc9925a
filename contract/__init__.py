"""The contract queries, one module per operator family.

A family module registers each query with :func:`query`, which takes the
query's name from the function and records, at the same spot, the
function that builds its DuckDB oracle and whether ``bench.py`` times it.
``__spark_entry__`` imports every family and serves this registry.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class Query(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    # builds the oracle's DuckDB SQL when oracle_sql() is called; None
    # means the query is checked by row count only
    oracle: Callable[[], str] | None
    headline: bool  # one of the queries bench.py times


REGISTRY: dict[str, Query] = {}


def query(*, oracle: Callable[[], str] | None = None, headline: bool = False):
    """Register the decorated ``(spark, sf_dir) -> DataFrame`` function as
    the contract query of its name; a name can be registered once."""

    def register(fn):
        if fn.__name__ in REGISTRY:
            raise ValueError(f"contract query {fn.__name__!r} is registered twice")
        REGISTRY[fn.__name__] = Query(fn, oracle, headline)
        return fn

    return register
