"""Source-code contract queries over the code corpus: entity extraction,
code triples, cross-file resolution, components and PageRank over the
call graph, and the curation stages (clones, licenses, secrets, forks,
quality, snapshots, docstrings, test links, winnowing).

The oracles re-render the corpus derivation and every per-language regex
from the operators' own TEMPLATES/PATTERNS into DuckDB SQL (the *_sql
renderers in operators/code.py, code_curation.py and code_enrich.py): a
full recomputation in a second regex engine (RE2 against
java.util.regex; the patterns stay in the common subset) and a second
join engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from palladian_spark.operators.canonicalize import connected_components
from palladian_spark.operators.code import (
    call_edges, call_edges_sql, code_call_graph_sql, code_corpus, code_corpus_sql,
    code_entities_sql, code_entity_link_sql, code_triples as _code_triples,
    duplicate_files, duplicate_files_sql, extract_code_entities, link_call_entities,
    repo_shared_deps as _repo_shared_deps, repo_shared_deps_sql, resolve_calls,
)
from palladian_spark.operators.code_curation import (
    augment_corpus, augment_corpus_sql, clone_groups, clone_groups_sql,
    code_quality as _code_quality, code_quality_sql, curation_report,
    curation_report_sql, fork_pairs, fork_pairs_sql, latest_snapshot,
    latest_snapshot_sql, license_report, license_report_sql, near_clone_pairs,
    near_clone_pairs_sql, secret_hits, secret_hits_sql, with_forks, with_forks_sql,
    with_generated, with_generated_sql, with_history, with_history_sql,
)
from palladian_spark.operators.code_enrich import (
    api_usage, api_usage_sql, doc_triples, doc_triples_sql, test_links, test_links_sql,
    with_docstrings, with_docstrings_sql, with_tests, with_tests_sql,
)
from palladian_spark.operators.graph import pagerank
from palladian_spark.operators.winnow import winnow_pairs, winnow_pairs_sql

from contract import query
from contract.common import _pagerank_sql, _read


# ---- source-code entity extraction (north-rule input shape: the
# Iceberg source-code table; lang-dispatched pure-JVM regexp ops) ----
@query(oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()}
            select repo, path, lang, obj as module, count(*)::bigint as n_refs
            from code_ents where pred = 'imports'
            group by 1, 2, 3, 4
        """)
def code_imports(spark, sf_dir):
    ents = extract_code_entities(
        code_corpus(_read(spark, sf_dir, "documents"))
    )
    return (
        ents.where(F.col("pred") == "imports")
        .groupBy("repo", "path", "lang", F.col("obj").alias("module"))
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )


@query(oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()}
            select repo, path, lang, substr(pred, 9) as kind,
                   obj as symbol, count(*)::bigint as n_refs
            from code_ents where pred like 'defines-%'
            group by 1, 2, 3, 4, 5
        """)
def code_defs(spark, sf_dir):
    ents = extract_code_entities(
        code_corpus(_read(spark, sf_dir, "documents"))
    )
    return (
        ents.where(F.col("pred").startswith("defines-"))
        .groupBy(
            "repo",
            "path",
            "lang",
            F.expr("substring(pred, 9)").alias("kind"),
            F.col("obj").alias("symbol"),
        )
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )


def _code_triples_sql() -> str:
    return f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            code_file_agg as (
              select repo, path, pred, obj,
                     min(sha) as content_sha256, count(*)::bigint as support
              from (select e.*, sha256(s.content) as sha
                    from code_ents e
                    join code_src s using (repo, path, lang))
              group by 1, 2, 3, 4)
            select repo || '/' || path as subj, pred, obj,
                   content_sha256, support
            from code_file_agg
            union all
            select repo as subj, 'depends-on' as pred, obj,
                   min(content_sha256) as content_sha256,
                   count(*)::bigint as support
            from code_file_agg where pred = 'imports'
            group by 1, 2, 3
        """


@query(headline=True, oracle=_code_triples_sql)
def code_triples(spark, sf_dir):
    return _code_triples(code_corpus(_read(spark, sf_dir, "documents")))


# ---- cross-file resolution over the code entity table: call graph,
# entity linking (north-rule stage 2 over code symbols), repo
# dependency similarity ----
@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {code_call_graph_sql()}
        """)
def code_call_graph(spark, sf_dir):
    return resolve_calls(code_corpus(_read(spark, sf_dir, "documents")))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {code_entity_link_sql()}
        """)
def code_entity_link(spark, sf_dir):
    return link_call_entities(code_corpus(_read(spark, sf_dir, "documents")))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {repo_shared_deps_sql()}
        """)
def repo_shared_deps(spark, sf_dir):
    return _repo_shared_deps(code_corpus(_read(spark, sf_dir, "documents")))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()}
            {duplicate_files_sql()}
        """)
def code_exact_dupes(spark, sf_dir):
    return duplicate_files(code_corpus(_read(spark, sf_dir, "documents")))


@query(headline=True, oracle=lambda: f"""
            with recursive {code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            cc_nodes as (
              select subj as f from call_edges
              union
              select obj from call_edges),
            cc_edges as (
              select subj as src, obj as dst from call_edges
              union
              select obj, subj from call_edges),
            reach(a, b) as (
              select f, f from cc_nodes
              union
              select r.a, e.dst from reach r join cc_edges e on r.b = e.src)
            select a as file, min(b) as component from reach group by a
        """)
def code_components(spark, sf_dir):
    # connected components over the call-file graph — the DISTRIBUTED
    # contraction rounds (small_graph_edges=0), verified
    # against an independent recursive-CTE transitive closure (same
    # posture as doc_dup_clusters)
    e = call_edges(code_corpus(_read(spark, sf_dir, "documents")))
    edges = e.select(
        F.col("subj").alias("left_value"), F.col("obj").alias("right_value")
    )
    comp = connected_components(edges, small_graph_edges=0)
    return comp.select(
        F.col("value").alias("file"), F.col("component")
    )


# the incremental merge must equal the full recompute, so the query
# shares code_triples' oracle (per-file groups never straddle the
# disjoint batches; depends-on supports sum)
@query(headline=True, oracle=_code_triples_sql)
def code_triples_incremental(spark, sf_dir):
    # incremental-ingest equivalence on the CODE side: per-batch
    # code_triples over disjoint file sets merge additively
    # (file-grain groups never straddle batches; repo-grain
    # depends-on supports sum; lineage folds as min) — compared
    # against the SAME full-recompute oracle as code_triples
    docs = _read(spark, sf_dir, "documents")
    parts = [
        _code_triples(code_corpus(docs.where(F.col("doc_id") % 2 == par)))
        for par in (0, 1)
    ]
    return (
        parts[0]
        .unionByName(parts[1])
        .groupBy("subj", "pred", "obj")
        .agg(
            F.min("content_sha256").alias("content_sha256"),
            F.sum("support").alias("support"),
        )
    )


@query(headline=True, oracle=lambda: _pagerank_sql(
    iterations=5,
    graph_sql=f"""{code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            ce as (select subj as src, obj as dst, count(*)::bigint as weight
                   from call_edges group by 1, 2),
            sym as (select src, dst, weight from ce
                    union all
                    select dst as src, src as dst, weight from ce)""",
))
def code_pagerank(spark, sf_dir):
    # file salience over the resolved call graph: weight = number of
    # (caller fn -> defining file) resolutions between the file pair.
    # Same iteration strategy as kg_pagerank (edge table partitioned
    # once on src, rank vector the only per-iteration shuffle).
    e = (
        call_edges(code_corpus(_read(spark, sf_dir, "documents")))
        .groupBy(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return pagerank(e, iterations=5)


# ---- code curation: type-2 clones, license gate, secret scan (the
# canonical pre-training curation stages over the code table; the
# license/secret content is injected deterministically by
# augment_corpus per BASELINE.json's synthesize-at-small-scale rule) ----
def _aug_corpus(spark, sf_dir):
    return augment_corpus(code_corpus(_read(spark, sf_dir, "documents")))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {augment_corpus_sql()}
            {clone_groups_sql()}
        """)
def code_clone_groups(spark, sf_dir):
    return clone_groups(_aug_corpus(spark, sf_dir))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {augment_corpus_sql()}
            {license_report_sql()}
        """)
def code_licenses(spark, sf_dir):
    return license_report(_aug_corpus(spark, sf_dir))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {augment_corpus_sql()}
            {secret_hits_sql()}
        """)
def code_secret_hits(spark, sf_dir):
    return secret_hits(_aug_corpus(spark, sf_dir))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {with_forks_sql(src="code_src")},
            {fork_pairs_sql()}
        """)
def code_fork_pairs(spark, sf_dir):
    # repo-level fork detection over the fork-injected corpus:
    # blob-sha containment between repo pairs, boilerplate-blob
    # degree cap mirrored in the oracle
    return fork_pairs(with_forks(code_corpus(_read(spark, sf_dir, "documents"))))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {augment_corpus_sql()},
            {with_forks_sql(src="code_aug")},
            {curation_report_sql()}
        """)
def code_curation_report(spark, sf_dir):
    # per-repo keep/drop funnel over the fully augmented corpus
    # (licenses + secrets + forks): exact dups, type-2 clones,
    # secrets, copyleft files, verdict
    return curation_report(with_forks(_aug_corpus(spark, sf_dir)))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {with_generated_sql(src="code_src")},
            {code_quality_sql()}
        """)
def code_quality(spark, sf_dir):
    # StarCoder-class per-file quality gates over the corpus with
    # generated-banner and long-line injection: line stats, alnum
    # fraction, keep/drop verdict
    return _code_quality(with_generated(code_corpus(_read(spark, sf_dir, "documents"))))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {with_history_sql()}
            {latest_snapshot_sql()}
        """)
def code_latest_snapshot(spark, sf_dir):
    # Iceberg-style latest-snapshot view over the history-injected
    # multi-commit table: one live row per (repo, path) with its
    # superseded-version count — ONE (repo, path) window shuffle
    return latest_snapshot(
        with_history(code_corpus(_read(spark, sf_dir, "documents")))
    )


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {near_clone_pairs_sql()}
        """)
def code_near_clones(spark, sf_dir):
    # type-3 near-clones (token-set Jaccard >= 0.6, prefix-filtered);
    # the oracle twin is ALL-PAIRS, so a green row proves the Spark
    # prefix filter lossless, not just self-consistent
    return near_clone_pairs(code_corpus(_read(spark, sf_dir, "documents")))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {with_docstrings_sql(src="code_src")}
            {doc_triples_sql(src="code_docsrc")}
        """)
def code_docstrings(spark, sf_dir):
    # documented-by triples: doc comments injected on every DOC_MOD-th
    # file, extracted by per-language patterns (python docstring,
    # go Package comment, /*..*/ blocks) — zero-shuffle scan projection
    return doc_triples(with_docstrings(code_corpus(_read(spark, sf_dir, "documents"))))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {with_tests_sql(src="code_src")}
            {test_links_sql(src="code_testsrc")}
        """)
def code_test_links(spark, sf_dir):
    # tests triples: test twins injected for every TEST_MOD-th file,
    # then linked back to their source file by the tests/test_<id>
    # path convention (equi-join on (repo, file-id), unique per side)
    return test_links(with_tests(code_corpus(_read(spark, sf_dir, "documents"))))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {winnow_pairs_sql(src="code_src")}
        """)
def code_winnow_pairs(spark, sf_dir):
    # MOSS winnowing (Schleimer et al. 2003): partial-copy pairs via
    # shared window-min k-gram fingerprints; the oracle recomputes
    # selection through an independent SQL window-function formulation
    return winnow_pairs(code_corpus(_read(spark, sf_dir, "documents")))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()}
            {api_usage_sql(ents="code_ents")}
        """)
def code_api_usage(spark, sf_dir):
    # cross-repo module popularity: per (lang, module) distinct-repo /
    # distinct-file / total-mention counts — the dependency-entity
    # ranking table (aggregate-only; no cross-repo join)
    return api_usage(code_corpus(_read(spark, sf_dir, "documents")))
