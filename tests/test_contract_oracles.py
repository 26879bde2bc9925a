"""Every contract query is checked value by value against a DuckDB oracle,
except for an explicit rows-only allowlist: a new query without an oracle
must be added to the allowlist on purpose, never become rows-only
silently."""

import __spark_entry__ as ent

# queries with no SQL-expressible oracle, checked by row count only
ROWS_ONLY = {"media_colors"}


def test_every_query_has_an_oracle_unless_allowlisted():
    queries, oracles = set(ent.queries()), set(ent.oracle_sql())
    assert queries - oracles == ROWS_ONLY
    assert oracles <= queries
