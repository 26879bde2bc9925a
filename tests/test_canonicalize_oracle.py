"""Guards for the de-pinned canonicalize_mentions DuckDB oracle.

The oracle (``contract.kg._canonicalize_sql``) substitutes DuckDB's
standard Jaro-Winkler for the kernel's reference variant
(kernels/similarity.py — nonstandard match range). That substitution is
only sound while no value pair sits close enough to the threshold for
the variants to disagree about an edge; these tests pin that premise so
any gazetteer/threshold change that breaks it fails HERE with a clear
message instead of as an opaque driver hash mismatch.
"""

import itertools

import duckdb
import pytest

from contract.common import GAZETTEER
from contract.kg import _canonicalize_sql
from palladian_spark.kernels.similarity import jaro_winkler_similarity

THRESHOLD = 0.85
MARGIN = 0.05


def _duckdb_jw(a: str, b: str) -> float:
    return duckdb.sql(
        "select jaro_winkler_similarity(upper(?), upper(?))", params=[a, b]
    ).fetchone()[0]


def test_variants_agree_on_every_edge_decision():
    for a, b in itertools.combinations(sorted(GAZETTEER), 2):
        kernel = jaro_winkler_similarity(a, b)
        duck = _duckdb_jw(a, b)
        assert (kernel >= THRESHOLD) == (duck >= THRESHOLD), (a, b, kernel, duck)


def test_every_pair_clears_the_margin():
    """Stronger than edge agreement: both variants stay MARGIN away from
    the threshold, so float drift can never flip a decision either."""
    for a, b in itertools.combinations(sorted(GAZETTEER), 2):
        for score in (jaro_winkler_similarity(a, b), _duckdb_jw(a, b)):
            assert abs(score - THRESHOLD) > MARGIN, (a, b, score)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_oracle_sql_is_total_and_idempotent(sf_dir):
    """The oracle's own output invariants on both small scale factors:
    one row per present value, canonical drawn from the value set,
    idempotent mapping."""
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{sf_dir}/documents.parquet'"
    )
    rows = con.execute(_canonicalize_sql(THRESHOLD)).fetchall()
    mapping = dict(rows)
    assert len(rows) == len(mapping)
    present = {
        r[0]
        for r in con.execute(
            " union all ".join(
                f"(select '{t}' as v from documents "
                f"where regexp_matches(text, '\\b{t}\\b') limit 1)"
                for t in GAZETTEER
            )
        ).fetchall()
    }
    assert set(mapping) == present
    for value, canonical in mapping.items():
        assert canonical in mapping
        assert mapping[canonical] == canonical
