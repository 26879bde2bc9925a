"""Every contract query is checked value by value against a DuckDB oracle,
except for an explicit rows-only allowlist: a new query without an oracle
must be added to the allowlist on purpose, never become rows-only
silently."""

import pytest

import __spark_entry__ as ent
from contract import REGISTRY, query

# queries with no SQL-expressible oracle, checked by row count only
ROWS_ONLY = {"media_colors"}


def test_every_query_has_an_oracle_unless_allowlisted():
    queries, oracles = set(ent.queries()), set(ent.oracle_sql())
    assert queries - oracles == ROWS_ONLY
    assert oracles <= queries


def test_registering_a_name_twice_raises():
    before = dict(REGISTRY)

    def kg_triples(spark, sf_dir):  # same name as the registered query
        raise AssertionError("never called")

    with pytest.raises(ValueError, match="'kg_triples' is registered twice"):
        query()(kg_triples)
    assert REGISTRY == before


def test_every_headline_query_is_registered_with_an_oracle():
    headline = ent.headline()
    assert headline
    assert set(headline) <= set(ent.queries())
    assert {n for n in headline if REGISTRY[n].oracle is None} <= ROWS_ONLY
