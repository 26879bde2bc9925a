"""Crash-proofing: every contract query must survive adversarial rows.

At 10^12-row scale every pathological row shape occurs (null/empty/
whitespace text, unicode case-fold edges, megabyte docs, null/zero
embeddings). The driver data is uniformly clean — the round-3
short-document crash in the word shingler (sequence(0,-1) descending)
proved that clean-data-only testing misses whole bug classes. This
suite derives a hostile copy of the sf0.001 tables (tools/
make_hostile_data.py) and executes EVERY queries() entry over it:
results may differ from the clean run, but nothing may throw. Each result
is forced the way bench.force forces it, hashing every column: a count()
lets Catalyst prune the columns it does not need, and a UDF that only
feeds a pruned column never runs.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.001"
HOSTILE_DIR = "/tmp/spark_graft_sf_hostile"

# queries that read fixture files or train on the reference corpus — they
# do not consume the documents/embeddings tables in a way hostile rows can
# break, and ner_reference_agreement takes ~40s of pure fixed cost
SKIP = {"ner_reference_agreement"}


@pytest.fixture(scope="module")
def hostile_dir():
    if not os.path.isdir(SRC):
        pytest.skip("driver testdata not present")
    marker = os.path.join(HOSTILE_DIR, "documents.parquet")
    if not os.path.isdir(marker):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "make_hostile_data.py"),
             "--src", SRC, "--out", HOSTILE_DIR],
            check=True, capture_output=True, text=True, cwd=REPO,
        )
    return HOSTILE_DIR


def _query_names():
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    return [n for n in e.queries() if n not in SKIP]


@pytest.mark.parametrize("name", _query_names())
def test_query_survives_hostile_rows(spark, hostile_dir, name):
    import __spark_entry__ as e
    from bench import force

    fn = e.queries()[name]
    df = fn(spark, hostile_dir)
    n, _ = force(df)
    assert n >= 0  # executed without throwing; emptiness is legitimate
