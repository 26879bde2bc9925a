"""Independent checks on the six frozen-fixture oracles.

A frozen fixture (tests/fixtures/oracle/*.parquet) pins full row/value
granularity but cannot catch a semantic regression that is re-frozen
along with the code. These tests recompute everything SQL- or
corpus-expressible about each fixture FROM THE RAW INPUTS (DuckDB over
the sf0.01 parquet, the checked-in POS corpus) with no palladian_spark
code in the loop — so a bad re-freeze fails here unless the regression
is invisible to position/lineage/ordering/value arithmetic too.

Verdict r2 item 3: "where any sub-stage is SQL-expressible, oracle that
sub-stage independently."
"""

from __future__ import annotations

import os
import re

import duckdb
import pytest

BASE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIR = os.path.join(BASE, "tests", "fixtures", "oracle")
SF_DIR = "/root/testdata/sf0.01"

# mirrors contract.common._CAP_WORDS / _capitalized_corpus
_CAP_WORDS = ["spark", "vector", "stream", "table", "customer", "window"]

# mirrors contract.doc._TOKEN_REGEX_SQL (duckdb RE2 dialect)
_TOKEN_REGEX_SQL = (
    r"(?:[A-Z][a-z]?\.)+"
    r"|[\p{L}\w+]+(?:[-\.,][\p{L}\w]+)*"
    r"|\.[\p{L}\w]+"
    r"|</?[\p{L}\w]+>"
    r"|\$\d+\.\d+"
    r"|[^\w\s<]+"
)


def _fx(name: str) -> str:
    return os.path.join(FIXTURE_DIR, f"{name}_sf001.parquet")


@pytest.fixture(scope="module")
def db():
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{SF_DIR}/documents.parquet'"
    )
    con.execute(
        f"create view embeddings as select * from '{SF_DIR}/embeddings.parquet'"
    )
    cap = "text"
    for w in _CAP_WORDS:
        cap = f"regexp_replace({cap}, '\\b{w}\\b', '{w.capitalize()}', 'g')"
    con.execute(
        f"""create view derived as
            select doc_id,
                   'corpus/' || source || '/docs/' || doc_id || '.txt' as doc_ref,
                   {cap} as content
            from documents"""
    )
    yield con
    con.close()


def test_string_tagger_fixture_positions(db):
    """Every frozen candidate row must read back EXACTLY from the derived
    corpus at its (start, end) span — an independent positional oracle
    (the lookaround regex itself is not SQL-expressible, but span/text
    agreement is)."""
    bad = db.execute(
        f"""select count(*) from '{_fx("string_tagger_candidates")}' f
            join derived d using (doc_id)
            where substr(d.content, f.start + 1, f."end" - f.start) <> f.value"""
    ).fetchone()[0]
    assert bad == 0
    # candidates are uppercase-initial by construction (StringTagger.java)
    bad_case = db.execute(
        f"""select count(*) from '{_fx("string_tagger_candidates")}'
            where not regexp_matches(value, '^[A-Z0-9]')"""
    ).fetchone()[0]
    assert bad_case == 0


def test_kg_triples_fixture_lineage_and_membership(db):
    """kg_triples sub-stages recomputed independently: pred domain,
    lineage-sha containment in sha256(derived content), mentioned-in
    subj-substring-of-doc, co-occurrence ordering, synonym shape."""
    fx = _fx("kg_triples")
    preds = {
        r[0]
        for r in db.execute(f"select distinct pred from '{fx}'").fetchall()
    }
    assert preds <= {"mentioned-in", "co-occurs-with", "synonym-of"}

    # per-row lineage invariant (north rule): every non-null sha is the
    # sha256 of some source-table content blob
    orphans = db.execute(
        f"""select count(*) from (
              select distinct content_sha256 from '{fx}'
              where content_sha256 is not null) f
            where content_sha256 not in (select sha256(content) from derived)"""
    ).fetchone()[0]
    assert orphans == 0

    # mentioned-in: obj must be a real doc_ref AND subj must occur
    # verbatim in that document's derived content
    bad_ref = db.execute(
        f"""select count(*) from '{fx}' f
            left join derived d on f.obj = d.doc_ref
            where f.pred = 'mentioned-in'
              and (d.doc_ref is null or position(f.subj in d.content) = 0)"""
    ).fetchone()[0]
    assert bad_ref == 0

    # mentioned-in lineage must be the sha of exactly the doc it points to
    bad_sha = db.execute(
        f"""select count(*) from '{fx}' f
            join derived d on f.obj = d.doc_ref
            where f.pred = 'mentioned-in'
              and f.content_sha256 <> sha256(d.content)"""
    ).fetchone()[0]
    assert bad_sha == 0

    bad_pair = db.execute(
        f"""select count(*) from '{fx}'
            where pred = 'co-occurs-with' and subj >= obj"""
    ).fetchone()[0]
    assert bad_pair == 0

    bad_syn = db.execute(
        f"""select count(*) from '{fx}'
            where pred = 'synonym-of'
              and (subj = obj or content_sha256 is not null)"""
    ).fetchone()[0]
    assert bad_syn == 0

    n = db.execute(f"select count(*) from '{fx}'").fetchone()[0]
    dedup = db.execute(
        f"select count(distinct (subj, pred, obj)) from '{fx}'"
    ).fetchone()[0]
    assert n == dedup  # dedup_triples output is unique per edge


def test_doc_pos_tags_fixture_token_counts(db):
    """The POS fixture's per-doc token totals must equal the tokenizer
    oracle's counts (verdict suggestion: segmentation is SQL-expressible
    even though classification is not)."""
    mism = db.execute(
        f"""with fx as (
              select doc_id, sum(n_tokens)::bigint as n
              from '{_fx("doc_pos_tags")}' group by 1),
            tok as (
              select doc_id,
                     len(regexp_extract_all(text, '{_TOKEN_REGEX_SQL}'))::bigint as n
              from documents)
            select count(*) from fx join tok using (doc_id)
            where fx.n <> tok.n"""
    ).fetchone()[0]
    assert mism == 0
    # every document must appear
    n_docs = db.execute(
        f"select count(distinct doc_id) from '{_fx('doc_pos_tags')}'"
    ).fetchone()[0]
    assert n_docs == db.execute("select count(*) from documents").fetchone()[0]

    # tag vocabulary must come from the training corpus
    corpus = os.path.join(
        BASE, "tests", "fixtures", "reference", "pos_train_corpus.txt"
    )
    with open(corpus, encoding="utf-8") as f:
        train_tags = {
            tok.rsplit("/", 1)[1] for tok in f.read().split() if "/" in tok
        }
    fx_tags = {
        r[0]
        for r in db.execute(
            f"select distinct tag from '{_fx('doc_pos_tags')}'"
        ).fetchall()
    }
    assert fx_tags <= train_tags


def test_canonicalize_fixture_mapping_invariants(db):
    """Canonical map over the 11 gazetteer values: total, idempotent,
    canonical chosen from within the group."""
    rows = db.execute(
        f"select value, canonical from '{_fx('canonicalize_mentions')}'"
    ).fetchall()
    mapping = dict(rows)
    gazetteer = {
        "spark", "vector", "stream", "table", "column", "row",
        "join", "scan", "filter", "merge", "sort",
    }
    assert set(mapping) == gazetteer          # total over the value set
    assert len(rows) == len(mapping)          # one canonical per value
    for value, canonical in mapping.items():
        assert canonical in mapping           # canonical is a known value
        assert mapping[canonical] == canonical  # idempotent


def test_ann_lsh_fixture_rank_order(db):
    """LSH top-k is approximate (candidate set depends on the md5-integer
    planes) but its RANKING is exact cosine: recompute each (query,
    result) cosine in DuckDB and demand non-increasing order by rnk,
    dense ranks 1..5, and valid vec_ids."""
    fx = _fx("ann_lsh_topk")
    shape = db.execute(
        f"""select count(*),
                   count(distinct (query_id, rnk)),
                   min(rnk), max(rnk)
            from '{fx}'"""
    ).fetchone()
    assert shape == (15, 15, 1, 5)
    bad_order = db.execute(
        f"""with c as (
              select f.query_id, f.rnk,
                     list_cosine_similarity(q.embedding, e.embedding) as cos
              from '{fx}' f
              join embeddings q on q.vec_id = f.query_id
              join embeddings e on e.vec_id = f.vec_id)
            select count(*) from c a join c b
              on a.query_id = b.query_id and b.rnk = a.rnk + 1
            where b.cos > a.cos + 1e-9"""
    ).fetchone()[0]
    assert bad_order == 0


def test_embedding_near_dups_fixture_cosines(db):
    """Every frozen near-dup pair's cosine_ppm must match a DuckDB
    recomputation from the embeddings table (+-2 ppm float-order slack)
    and clear the 0.3 threshold. Recall vs the exact pair set is gated
    separately (pytest recall test); here precision is made independent
    of the Spark code path."""
    fx = _fx("embedding_near_dups")
    rows = db.execute(
        f"""select f.id_a, f.id_b, f.cosine_ppm,
                   (list_cosine_similarity(a.embedding, b.embedding)
                    * 1000000)::bigint as ref_ppm
            from '{fx}' f
            join embeddings a on a.vec_id = f.id_a
            join embeddings b on b.vec_id = f.id_b"""
    ).fetchall()
    assert len(rows) == 34  # every pair joined to real embeddings
    for id_a, id_b, got, ref in rows:
        assert id_a < id_b
        assert abs(got - ref) <= 2, (id_a, id_b, got, ref)
        assert got >= 300000 - 2
