"""Knowledge-graph contract queries: the flagship triple pipeline (batch,
incremental and streaming), mention detection and canonicalization, rule
triples, the reference NER agreement, graph analytics over the mention
and call graphs, and the KG query surface (BGP and path queries, shape
validation, walks, typing, diffs, history and export).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from palladian_spark.kernels.evaluation import EXACT_MATCH, MUC, evaluate
from palladian_spark.kernels.fileformats import get_text_from_column
from palladian_spark.kernels.ner import tag_text, train_english
from palladian_spark.kernels.tagging import Annotation
from palladian_spark.operators.canonicalize import canonicalize_values
from palladian_spark.operators.code import (
    call_edges, call_edges_sql, code_corpus, code_corpus_sql, code_entities_sql,
    code_triples, triples_spo_sql,
)
from palladian_spark.operators.graph import (
    bfs_distances, bfs_distances_sql, clustering_coefficients,
    clustering_coefficients_sql, common_neighbor_scores, common_neighbor_scores_sql,
    degree_stats, export_edges, export_edges_sql, export_nodes, export_nodes_sql,
    export_ntriples, export_ntriples_sql, k_hop_counts, k_hop_counts_sql,
    label_propagation, label_propagation_sql, link_training_pairs,
    link_training_pairs_sql, mention_edges, pagerank, pmi_edges, pmi_edges_sql,
    triangle_counts, triangle_counts_sql,
)
from palladian_spark.operators.kg_query import (
    BGP_CALL_CHAIN, BGP_CALL_CHAIN_NEQ, BGP_PATH_QUERY, BGP_PATH_QUERY_NEQ,
    KG_FUNCTIONAL_PREDS, KG_LITERAL_SHAPES, KG_REF_PREDS, bgp_query, bgp_query_sql,
    describe_hubs, describe_hubs_sql, diff_triples, diff_triples_sql, infer_node_types,
    infer_node_types_sql, random_walks, random_walks_sql, schema_graph,
    schema_graph_sql, triple_history, triple_history_sql, validate_triples,
    validate_triples_sql, walk_skipgram_pairs, walk_skipgram_pairs_sql,
    weighted_random_walks, weighted_random_walks_sql,
)
from palladian_spark.operators.mentions import detect_mentions
from palladian_spark.operators.relations import (
    classified_mention_counts, rule_instance_triples,
)
from palladian_spark.pipeline import documents_as_source, extract_triples, merge_triples
from palladian_spark.sources.reference import reference_path
from palladian_spark.streaming.pipeline import compact_triples, start_triple_stream

from contract import query
from contract.common import (
    GAZETTEER, REFERENCE_FIXTURES, _capitalized_corpus, _capitalized_corpus_sql,
    _doc_mentions, _gazetteer_presence_sql, _pagerank_sql, _read,
)
from contract.doc import doc_cooccur


# ---- mention detection (SURVEY §2.2) ----
def _gazetteer_union_sql() -> str:
    parts = []
    for term, tag in GAZETTEER.items():
        parts.append(
            f"select doc_id, '{tag}' as tag, "
            f"len(regexp_extract_all(text, '\\b{term}\\b')) as cnt from documents"
        )
    return " union all ".join(parts)


@query(headline=True, oracle=lambda: f"""
            with hits as ({_gazetteer_union_sql()})
            select doc_id, tag, sum(cnt)::bigint as n_mentions
            from hits where cnt > 0
            group by doc_id, tag
        """)
def dict_mentions(spark, sf_dir):
    return (
        _doc_mentions(spark, sf_dir)
        .groupBy("doc_id", "tag")
        .agg(F.count("*").alias("n_mentions"))
    )


# RE2-expressible twin of the StringTagger candidate alternation on the
# contract corpus. The full Palladian pattern (kernels/tagging.py
# STRING_TAGGER_REGEX, StringTagger.java:25-77) needs lookarounds DuckDB's
# RE2 cannot run; on the synthetic corpus (alphabet = lowercase words +
# Title-cased marker words, no digits/punctuation/hyphens) every candidate
# is a maximal run of Title-case words, which this pattern matches
# leftmost-first exactly like the full one. Agreement is asserted
# span-for-span at sf0.001/sf0.01/sf0.1 by
# tests/test_string_tagger_oracle.py; the contract check then re-verifies
# the DuckDB side at full row/value granularity every run.
_CANDIDATE_RE2 = "[A-Z][a-z]+( [A-Z][a-z]+)*"


def _string_tagger_sql() -> str:
    """Full independent recomputation (de-pinned round 4) of the
    StringTagger candidate mentions, match positions included: DuckDB has
    no match-position API, so starts are reconstructed from the
    regexp_split_to_array gap segments — start(i) = sum(len(gap[1..i])) +
    sum(len(match[1..i-1])) via two running windows over the match index.
    """
    return f"""
        with corpus as (select doc_id, {_capitalized_corpus_sql()} as content
                        from documents),
        m as (select doc_id,
                     regexp_extract_all(content, '{_CANDIDATE_RE2}') as vals,
                     regexp_split_to_array(content, '{_CANDIDATE_RE2}') as segs
              from corpus),
        u as (select doc_id, i, vals[i] as value,
                     len(segs[i]) as seg_len, len(vals[i]) as val_len
              from m, unnest(generate_series(1, len(vals))) as t(i)),
        pos as (select doc_id, value,
                       (sum(seg_len) over w
                        + coalesce(sum(val_len) over w2, 0))::int as start
                from u
                window w as (partition by doc_id order by i
                             rows unbounded preceding),
                       w2 as (partition by doc_id order by i
                              rows between unbounded preceding
                              and 1 preceding))
        select doc_id, start, (start + len(value))::int as "end",
               'CANDIDATE' as tag, value
        from pos
    """


# De-pinned round 4: full independent DuckDB recomputations (the
# RE2-twin pattern + position reconstruction; see the helper
# docstrings and tests/test_string_tagger_oracle.py for the
# agreement guards).
@query(headline=True, oracle=_string_tagger_sql)
def string_tagger_candidates(spark, sf_dir):
    corpus = _capitalized_corpus(_read(spark, sf_dir, "documents"))
    return detect_mentions(corpus, text_col="content", keep_cols=["doc_id"])


# the measured reference-agreement values (basis points); the
# BASELINE.md bar is >= 9500 on every metric
@query(oracle=lambda: """
            select * from (values
              ('train', 9975, 9991, 9981, 9996),
              ('test',  9990, 9990, 9993, 9993)
            ) t(corpus, exact_p_bp, exact_r_bp, muc_p_bp, muc_r_bp)
        """)
def ner_reference_agreement(spark, sf_dir):
    # The north-rule acceptance bar AS a contract query: train on the
    # reference NER corpus, tag BOTH corpora, and score agreement
    # against the FROZEN outputs of the actual Java reference tagger
    # (tests/fixtures/reference/, produced by
    # tools/reference_harness/build_and_run.sh). Values in basis
    # points so the hash check pins them exactly; the oracle inlines
    # the measured values (all >= 9975, far above the 9500 bar).
    # Deliberately NOT a data-path operator: the corpus is a fixed-size
    # acceptance fixture, so training/tagging runs single-threaded on
    # the driver — the distributed twins live in operators/ner_pipeline.
    # raises ReferenceTreeAbsent on a host without the reference tree
    ref_dir = reference_path("src", "test", "resources", "ner")
    with open(os.path.join(ref_dir, "training.txt"), encoding="utf-8") as f:
        model = train_english(f.read())

    rows = []
    for corpus, corpus_file, fixture in [
        ("train", "training.txt", "ref_train_annotations.tsv"),
        ("test", "test.txt", "ref_test_annotations.tsv"),
    ]:
        with open(os.path.join(ref_dir, corpus_file), encoding="utf-8") as f:
            text = get_text_from_column(f.read())
        frozen = []
        with open(os.path.join(REFERENCE_FIXTURES, fixture), encoding="utf-8") as f:
            for line in f:
                s, _e, v, t = line.rstrip("\n").split("\t")
                frozen.append(Annotation(int(s), v, t))
        r = evaluate(frozen, tag_text(text, model))
        rows.append(
            (
                corpus,
                int(r.precision(EXACT_MATCH) * 10000),
                int(r.recall(EXACT_MATCH) * 10000),
                int(r.precision(MUC) * 10000),
                int(r.recall(MUC) * 10000),
            )
        )
    return spark.createDataFrame(
        rows, ["corpus", "exact_p_bp", "exact_r_bp", "muc_p_bp", "muc_r_bp"]
    )


# ---- full KG triples (north-rule pipeline) ----
def _kg_triples_sql(threshold: float = 0.9, max_per_doc: int = 100) -> str:
    """Full independent recomputation (de-pinned round 4) of the flagship
    extract_triples pipeline: capitalized source shape + sha256 lineage,
    candidate mentions via _CANDIDATE_RE2, mentioned-in edges (one row per
    match), capped distinct-per-doc co-occurrence pairs, all-pairs-JW +
    recursive-CTE canonicalization for synonym-of edges, then the dedup
    fold (min lineage, support count). JW caveat mirrors
    canonicalize_mentions: DuckDB's standard JW stands in for the kernel
    variant — edge sets may differ near the 0.9 threshold (one pair does
    at sf0.01), but the connected-component PARTITION, the only thing the
    triples depend on, is asserted equal under both variants at
    sf0.001/0.01/0.1 by tests/test_string_tagger_oracle.py. That equality
    holds on these three corpora, not on every subsample: on 10% document
    samples of sf0.1 one pair straddles 0.9 between the two variants, and
    pairs both variants score >= 0.9 share no blocking key, so the Spark
    path never scores them (the pairs are pinned in that test)."""
    return f"""
        with recursive
        corpus as (select doc_id, source,
                          {_capitalized_corpus_sql()} as content
                   from documents),
        src as (select 'corpus/' || source || '/docs/' || doc_id || '.txt'
                           as doc_ref,
                       sha256(content) as sha, content
                from corpus),
        mention as (select doc_ref, sha,
                           unnest(regexp_extract_all(
                               content, '{_CANDIDATE_RE2}')) as value
                    from src),
        mi as (select value as subj, 'mentioned-in' as pred,
                      doc_ref as obj, sha
               from mention),
        perdoc as (select doc_ref, sha, value,
                          row_number() over (partition by doc_ref
                                             order by value) as rn
                   from (select distinct doc_ref, sha, value from mention)),
        coocc as (select a.value as subj, 'co-occurs-with' as pred,
                         b.value as obj, a.sha as sha
                  from perdoc a join perdoc b
                    on a.doc_ref = b.doc_ref and a.value < b.value
                  where a.rn <= {max_per_doc} and b.rn <= {max_per_doc}),
        vals as (select value, count(*)::bigint as freq
                 from mention group by 1),
        pairs as (select a.value as va, b.value as vb
                  from vals a join vals b on a.value < b.value
                  where jaro_winkler_similarity(upper(a.value),
                                                upper(b.value))
                        >= {threshold}),
        cnodes as (select va as v from pairs union select vb from pairs),
        cedges as (select va as src, vb as dst from pairs
                   union select vb, va from pairs),
        reach(a, b) as (
          select v, v from cnodes
          union
          select r.a, e.dst from reach r join cedges e on r.b = e.src),
        comp as (select a as value, min(b) as component from reach group by a),
        members as (select v.value, v.freq,
                           coalesce(c.component, v.value) as component
                    from vals v left join comp c on c.value = v.value),
        canon as (select component, value as canonical from (
                    select component, value,
                           row_number() over (
                             partition by component
                             order by freq desc, length(value) desc,
                                      value asc) as rn
                    from members) t
                  where rn = 1),
        syn as (select m.value as subj, 'synonym-of' as pred,
                       c.canonical as obj, null::varchar as sha
                from members m join canon c using (component)
                where m.value <> c.canonical),
        allt as (select * from mi union all select * from coocc
                 union all select * from syn)
        select subj, pred, obj, min(sha) as content_sha256,
               count(*)::bigint as support
        from allt group by 1, 2, 3
    """


@query(headline=True, oracle=_kg_triples_sql)
def kg_triples(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    source = documents_as_source(_capitalized_corpus(docs))
    return extract_triples(source, model=None, canonicalize=True)


# same full-recompute oracle on purpose: passing proves the
# incremental merge path emits byte-identical triples
@query(headline=True, oracle=_kg_triples_sql)
def kg_triples_incremental(spark, sf_dir):
    # Incremental-ingest equivalence, machine-checked: build triples
    # per disjoint document batch (canonicalize=False), merge with
    # pipeline.merge_triples (additive supports + value-set
    # re-canonicalization), and compare against the SAME full-
    # recompute DuckDB oracle as kg_triples. The 100 TB daily-ingest
    # shape: old content is never re-scanned.
    docs = _read(spark, sf_dir, "documents")
    source = documents_as_source(_capitalized_corpus(docs))
    parts = [
        extract_triples(
            source.where(F.pmod(F.xxhash64("path"), F.lit(2)) == i),
            model=None,
            canonicalize=False,
        )
        for i in (0, 1)
    ]
    return merge_triples(parts, canonicalize=True)


# ---- KG graph analytics (graph-materialize consumers: degree /
# PageRank salience over the bipartite doc<->entity mention graph) ----
def _mention_graph_sql() -> str:
    """Shared CTE prefix for the KG graph-analytics oracles: the
    symmetrized bipartite doc<->entity mention graph, recomputed from the
    raw documents table (same \\bterm\\b counts as operators/graph.py)."""
    occ = " union all ".join(
        f"select doc_id, '{t}' as term, "
        f"len(regexp_extract_all(text, '\\b{t}\\b')) as cnt from documents"
        for t in sorted(GAZETTEER)
    )
    return f"""
        occ as ({occ}),
        pos as (select * from occ where cnt > 0),
        e as (select 'd:' || doc_id as src, 't:' || term as dst,
                     cnt::bigint as weight
              from pos),
        sym as (select src, dst, weight from e
                union all
                select dst as src, src as dst, weight from e)
    """


@query(headline=True, oracle=lambda: f"""
            with {_mention_graph_sql()}
            select src as node, count(*)::bigint as degree,
                   sum(weight)::bigint as strength
            from sym group by 1
        """)
def kg_degree_stats(spark, sf_dir):
    return degree_stats(
        mention_edges(_read(spark, sf_dir, "documents"), list(GAZETTEER))
    )


@query(headline=True, oracle=lambda: link_training_pairs_sql(_mention_graph_sql(), 3))
def kg_training_pairs(spark, sf_dir):
    # deterministic corrupt-tail negative sampling over the mention
    # graph's directed edges - the KG-embedding training-data step;
    # hash-chosen tails make the sample a pure function of the graph
    return link_training_pairs(
        mention_edges(_read(spark, sf_dir, "documents"), list(GAZETTEER)),
        k_negatives=3,
    )


@query(headline=True, oracle=lambda: label_propagation_sql(_mention_graph_sql(), 4))
def kg_label_prop(spark, sf_dir):
    # synchronous weighted label propagation (4 rounds) over the
    # mention graph - community detection beside components/PageRank;
    # deterministic (sync updates, integer vote sums, lexicographic
    # ties), oracle = unrolled rounds over the same sym relation
    return label_propagation(
        mention_edges(_read(spark, sf_dir, "documents"), list(GAZETTEER)),
        iterations=4,
    )


@query(headline=True, oracle=lambda: _pagerank_sql(_mention_graph_sql(), iterations=5))
def kg_pagerank(spark, sf_dir):
    return pagerank(
        mention_edges(_read(spark, sf_dir, "documents"), list(GAZETTEER)),
        iterations=5,
    )


@query(headline=True, oracle=lambda: f"""
            with pres as ({_gazetteer_presence_sql()}),
            cooc as (
              select a.value as subj, b.value as obj
              from pres a join pres b
                on a.doc_id = b.doc_id and a.value < b.value
              group by 1, 2),
            {triangle_counts_sql("cooc")}
        """)
def kg_triangles(spark, sf_dir):
    # edges = the doc_cooccur entity co-occurrence projection (subj,
    # obj); triangle_counts canonicalizes/dedups internally
    return triangle_counts(doc_cooccur(spark, sf_dir))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            {common_neighbor_scores_sql("call_edges")}
        """)
def kg_link_prediction(spark, sf_dir):
    # propose missing call-graph edges: non-adjacent files sharing
    # >= 2 neighbors, scored by integer-thousandths Jaccard (the
    # entity co-occurrence graph is near-complete at contract scale,
    # so the sparse file graph is the meaningful edge source)
    return common_neighbor_scores(
        call_edges(code_corpus(_read(spark, sf_dir, "documents")))
    )


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            {k_hop_counts_sql("call_edges", k=2)}
        """)
def kg_neighborhood(spark, sf_dir):
    # depth-2 neighborhood size per file node (WordDB traversal twin)
    return k_hop_counts(
        call_edges(code_corpus(_read(spark, sf_dir, "documents"))), k=2
    )


@query(headline=True, oracle=lambda: f"""
            select pred, count(*)::bigint as n_triples,
                   count(distinct subj)::bigint as n_subjects,
                   count(distinct obj)::bigint as n_objects,
                   sum(support)::bigint as total_support
            from ({_kg_triples_sql(threshold=0.9)})
            group by 1
        """)
def kg_stats(spark, sf_dir):
    # the per-predicate metrics roll-up a KG build reports (triple
    # counts, entity cardinalities, support mass) over the flagship
    # pipeline's output
    return (
        kg_triples(spark, sf_dir)
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct("obj").alias("n_objects"),
            F.sum("support").alias("total_support"),
        )
    )


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            {clustering_coefficients_sql("call_edges")}
        """)
def kg_clustering(spark, sf_dir):
    # local clustering coefficient per file node over the call graph
    return clustering_coefficients(
        call_edges(code_corpus(_read(spark, sf_dir, "documents")))
    )


# shared DuckDB CTE: the code_triples derivation (also the base of the
# export twins) — identical text to the code_triples oracle body
_CODE_TRIP_CTE = """code_file_agg as (
              select repo, path, pred, obj,
                     min(sha) as content_sha256, count(*)::bigint as support
              from (select e.*, sha256(s.content) as sha
                    from code_ents e
                    join code_src s using (repo, path, lang))
              group by 1, 2, 3, 4),
            code_trip as (
              select repo || '/' || path as subj, pred, obj,
                     content_sha256, support
              from code_file_agg
              union all
              select repo as subj, 'depends-on' as pred, obj,
                     min(content_sha256) as content_sha256,
                     count(*)::bigint as support
              from code_file_agg where pred = 'imports'
              group by 1, 2, 3)"""


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {_CODE_TRIP_CTE}
            {export_nodes_sql(src="code_trip")}
        """)
def kg_export_nodes(spark, sf_dir):
    # graph-materialize handoff: node dictionary with portable
    # two-long (120-bit) md5 ids + in/out degree over the code
    # triple graph (GraphFrames-style consumption shape)
    return export_nodes(code_triples(code_corpus(_read(spark, sf_dir, "documents"))))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {_CODE_TRIP_CTE}
            {export_edges_sql(src="code_trip")}
        """)
def kg_export_edges(spark, sf_dir):
    # id-keyed edge list: ids recomputed per row (pure projection,
    # no node-dictionary join), so the export never shuffles
    return export_edges(code_triples(code_corpus(_read(spark, sf_dir, "documents"))))


# ---- KG query surface: BGP / shape validation / walk corpus ----
def _bgp_triples_df(spark, sf_dir):
    # the BGP triple universe: code triples + the resolved call graph
    # as 'calls-file' edges (single source of truth for kg_bgp_query
    # and kg_path_query — mirrors the oracle's bgp_triples CTE)
    corpus = code_corpus(_read(spark, sf_dir, "documents"))
    return (
        code_triples(corpus)
        .select("subj", "pred", "obj")
        .unionByName(
            call_edges(corpus).select(
                "subj", F.lit("calls-file").alias("pred"), "obj"
            )
        )
    )


# KG query surface (operators/kg_query.py *_sql renderers): the
# triple set is re-derived from code_ents by the second engine,
# then the BGP / validation / walk computations are recomputed
# independently (flat-join BGP, union-all rules, unrolled walk
# steps with the same portable md5 successor choice).
@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            {triples_spo_sql("code_ents", prefix="bgp_")},
            bgp_triples as (
              select subj, pred, obj from bgp_spo
              union
              select distinct subj, 'calls-file' as pred, obj
              from call_edges)
            {bgp_query_sql("bgp_triples", BGP_CALL_CHAIN, BGP_CALL_CHAIN_NEQ)}
        """)
def kg_bgp_query(spark, sf_dir):
    # the declarative read path over the materialized KG: triple
    # patterns compiled to selectivity-ordered joins (SPARQL BGP
    # semantics, distinct bindings)
    return bgp_query(
        _bgp_triples_df(spark, sf_dir),
        BGP_CALL_CHAIN,
        neq=BGP_CALL_CHAIN_NEQ,
    )


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {triples_spo_sql("code_ents", prefix="kgv_")},
            kgv_triples as (select subj, pred, obj from kgv_spo)
            {validate_triples_sql("kgv_triples", KG_FUNCTIONAL_PREDS, KG_REF_PREDS, KG_LITERAL_SHAPES)}
        """)
def kg_validate(spark, sf_dir):
    # SHACL-lite shape report over the code KG: multi-class files
    # (functional), unresolvable dependencies (dangling = external),
    # malformed import identifiers
    triples = code_triples(code_corpus(_read(spark, sf_dir, "documents")))
    return validate_triples(
        triples.select("subj", "pred", "obj"),
        functional=KG_FUNCTIONAL_PREDS,
        ref=KG_REF_PREDS,
        literal_shapes=KG_LITERAL_SHAPES,
    )


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            {random_walks_sql("call_edges", walk_length=4, walks_per_node=1)}
        """)
def kg_walks(spark, sf_dir):
    # deterministic DeepWalk corpus over the call graph: successor at
    # each step picked by a portable md5 hash, so the oracle (and any
    # resumed run) regenerates the identical walk set
    return random_walks(
        call_edges(code_corpus(_read(spark, sf_dir, "documents"))),
        walk_length=4,
        walks_per_node=1,
    )


@query(headline=True, oracle=lambda: f"""
            with docs_old as (select * from documents where doc_id % 4 <> 3),
            docs_new as (select * from documents where doc_id % 4 <> 0),
            {code_corpus_sql(documents="docs_old", prefix="old_")},
            {code_corpus_sql(documents="docs_new", prefix="new_")},
            {code_entities_sql(src="old_code_src", name="old_ents")},
            {code_entities_sql(src="new_code_src", name="new_ents")},
            {triples_spo_sql("old_ents", prefix="old_")},
            {triples_spo_sql("new_ents", prefix="new_")}
            {diff_triples_sql("old_spo", "new_spo")}
        """)
def kg_snapshot_diff(spark, sf_dir):
    # incremental-maintenance delta between two ingest windows (75%
    # overlap): added / removed / support-changed triples only — the
    # per-batch report the merge_triples path emits alongside the
    # additive fold
    docs = _read(spark, sf_dir, "documents")
    old = code_triples(code_corpus(docs.where(F.col("doc_id") % 4 != 3)))
    new = code_triples(code_corpus(docs.where(F.col("doc_id") % 4 != 0)))
    return diff_triples(
        old.select("subj", "pred", "obj", "support"),
        new.select("subj", "pred", "obj", "support"),
    )


def _code_spo(spark, sf_dir):
    return code_triples(code_corpus(_read(spark, sf_dir, "documents"))).select(
        "subj", "pred", "obj"
    )


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {triples_spo_sql("code_ents", prefix="kgt_")},
            {infer_node_types_sql("kgt_spo")}
            select node, node_type, n_votes from nt_types
        """)
def kg_node_types(spark, sf_dir):
    # ontology induction: majority predicate-participation vote per
    # node with a deterministic tie-break (typed nodes for export)
    return infer_node_types(_code_spo(spark, sf_dir))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {triples_spo_sql("code_ents", prefix="kgt_")},
            {infer_node_types_sql("kgt_spo")}
            {schema_graph_sql("kgt_spo")}
        """)
def kg_schema(spark, sf_dir):
    # the induced schema summary: triples per (subj_type, pred,
    # obj_type) under the inferred node typing
    spo = _code_spo(spark, sf_dir)
    return schema_graph(spo, infer_node_types(spo))


@query(headline=True, oracle=lambda: f"""
            with pres as ({_gazetteer_presence_sql()}),
            {pmi_edges_sql("pres", "documents")}
        """)
def kg_pmi_edges(spark, sf_dir):
    # PMI-weighted entity co-occurrence (marginal-normalized relation
    # strength over the gazetteer mention presence table)
    return pmi_edges(
        _doc_mentions(spark, sf_dir).select("doc_id", "value"),
        _read(spark, sf_dir, "documents"),
    )


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            {bfs_distances_sql("call_edges", max_hops=3)}
        """)
def kg_reachability(spark, sf_dir):
    # min-distance pairs to depth 3 over the directed call graph —
    # the pair-grain traversal surface (WordDB getRelatedWords twin)
    return bfs_distances(
        call_edges(code_corpus(_read(spark, sf_dir, "documents"))),
        max_hops=3,
    )


@query(headline=True, oracle=lambda: f"""
            with docs_g0 as (select * from documents where doc_id % 4 <> 0),
            docs_g1 as (select * from documents where doc_id % 4 <> 1),
            docs_g2 as (select * from documents where doc_id % 4 <> 2),
            {code_corpus_sql(documents="docs_g0", prefix="g0_")},
            {code_corpus_sql(documents="docs_g1", prefix="g1_")},
            {code_corpus_sql(documents="docs_g2", prefix="g2_")},
            {code_entities_sql(src="g0_code_src", name="g0_ents")},
            {code_entities_sql(src="g1_code_src", name="g1_ents")},
            {code_entities_sql(src="g2_code_src", name="g2_ents")},
            {triples_spo_sql("g0_ents", prefix="g0_")},
            {triples_spo_sql("g1_ents", prefix="g1_")},
            {triples_spo_sql("g2_ents", prefix="g2_")}
            {triple_history_sql([(0, "g0_spo"), (1, "g1_spo"), (2, "g2_spo")], last_gen=2)}
        """)
def kg_triple_history(spark, sf_dir):
    # temporal-KG fold: first-seen / last-seen / liveness per triple
    # across three overlapping ingest generations (gen g drops the
    # doc_id % 4 == g slice; gen 2 is live)
    docs = _read(spark, sf_dir, "documents")
    gens = [
        (
            g,
            code_triples(code_corpus(docs.where(F.col("doc_id") % 4 != g))).select(
                "subj", "pred", "obj"
            ),
        )
        for g in (0, 1, 2)
    ]
    return triple_history(gens, last_gen=2)


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {triples_spo_sql("code_ents", prefix="kgt_")}
            {describe_hubs_sql("kgt_spo", top_n=5)}
        """)
def kg_describe(spark, sf_dir):
    # SPARQL-DESCRIBE for the top-5 hub nodes: full adjacency
    # (direction, pred, counterpart, support), deterministic hub pick
    return describe_hubs(_code_spo(spark, sf_dir), top_n=5)


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            {triples_spo_sql("code_ents", prefix="bgp_")},
            bgp_triples as (
              select subj, pred, obj from bgp_spo
              union
              select distinct subj, 'calls-file' as pred, obj
              from call_edges)
            {bgp_query_sql("bgp_triples", BGP_PATH_QUERY, BGP_PATH_QUERY_NEQ, max_path_hops=3)}
        """)
def kg_path_query(spark, sf_dir):
    # SPARQL 1.1 property path: `?a calls-file+ ?c . ?c
    # defines-class ?k` — the transitive-closure pattern compiled to
    # a bounded BFS scan joined like any other pattern
    return bgp_query(
        _bgp_triples_df(spark, sf_dir),
        BGP_PATH_QUERY,
        neq=BGP_PATH_QUERY_NEQ,
        max_path_hops=3,
    )


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            wce as (select subj, obj, count(*)::bigint as weight
                    from call_edges group by 1, 2),
            {weighted_random_walks_sql("wce", walk_length=4, walks_per_node=1)}
        """)
def kg_weighted_walks(spark, sf_dir):
    # node2vec-style weighted walk corpus: successor probability
    # proportional to call count, chosen by the portable hash over
    # cumulative-weight intervals — deterministic and oracle-exact
    e = (
        call_edges(code_corpus(_read(spark, sf_dir, "documents")))
        .groupBy("subj", "obj")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return weighted_random_walks(e, walk_length=4, walks_per_node=1)


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {triples_spo_sql("code_ents", prefix="kgt_")}
            {export_ntriples_sql("kgt_spo")}
        """)
def kg_export_ntriples(spark, sf_dir):
    # RDF interchange: N-Triples lines with md5-minted IRIs + one
    # escaped label literal per node
    return export_ntriples(_code_spo(spark, sf_dir))


@query(headline=True, oracle=lambda: f"""
            with {code_corpus_sql()},
            {code_entities_sql()},
            {call_edges_sql()},
            {random_walks_sql("call_edges", walk_length=4, walks_per_node=1, final_cte="rw_walks")},
            {walk_skipgram_pairs_sql("rw_walks", window=2)}
        """)
def kg_walk_pairs(spark, sf_dir):
    # node2vec training positives: skip-gram (center, context) pairs
    # from the deterministic walk corpus, window 2
    walks = random_walks(
        call_edges(code_corpus(_read(spark, sf_dir, "documents"))),
        walk_length=4,
        walks_per_node=1,
    )
    return walk_skipgram_pairs(walks, window=2)


# ---- canonicalization (SURVEY §2.7; LSH + JW + connected components) ----
def _canonicalize_sql(threshold: float = 0.85) -> str:
    """Blocking-free exact recomputation of canonicalize_values over the
    gazetteer mention values: freq from raw \\bterm\\b counts, all-pairs
    JW >= threshold edges, recursive-CTE CC, freq/length/lex pick."""
    occ = " union all ".join(
        f"select doc_id, '{t}' as value, "
        f"len(regexp_extract_all(text, '\\b{t}\\b')) as cnt from documents"
        for t in sorted(GAZETTEER)
    )
    return f"""
        with recursive occ as ({occ}),
        vals as (select value, sum(cnt)::bigint as freq
                 from occ where cnt > 0 group by 1),
        pairs as (
          select a.value as va, b.value as vb
          from vals a join vals b on a.value < b.value
          where jaro_winkler_similarity(upper(a.value), upper(b.value))
                >= {threshold}),
        cnodes as (select va as v from pairs union select vb from pairs),
        cedges as (select va as src, vb as dst from pairs
                   union select vb, va from pairs),
        reach(a, b) as (
          select v, v from cnodes
          union
          select r.a, e.dst from reach r join cedges e on r.b = e.src),
        comp as (select a as value, min(b) as component from reach group by a),
        members as (
          select v.value, v.freq, coalesce(c.component, v.value) as component
          from vals v left join comp c on c.value = v.value),
        canon as (
          select component, value as canonical from (
            select component, value,
                   row_number() over (
                     partition by component
                     order by freq desc, length(value) desc, value asc) as rn
            from members) t
          where rn = 1)
        select m.value as value, c.canonical as canonical
        from members m join canon c using (component)
    """


# Full independent recomputation (de-pinned round 4): per-value
# mention frequencies from raw regex counts, exact ALL-PAIRS
# Jaro-Winkler edges (no blocking — exhaustive, so it also checks
# the Spark path's LSH recall), recursive-CTE connected components
# (min reachable value), then the same freq/length/lex canonical
# pick. Caveat, asserted in tests/test_canonicalize_oracle.py:
# DuckDB's standard JW stands in for the kernel's reference
# variant (kernels/similarity.py); valid because on the contract
# corpus every value pair sits far from the 0.85 threshold under
# BOTH variants (min margin > 0.17), so no edge can flip.
@query(headline=True, oracle=lambda: _canonicalize_sql(threshold=0.85))
def canonicalize_mentions(spark, sf_dir):
    values = _doc_mentions(spark, sf_dir).select("value")
    return canonicalize_values(values, threshold=0.85)


# ---- pattern-based relation extraction (SURVEY §2.6) ----
# AnnotationRuleEngine fixture rules (reference grammar,
# AnnotationRuleEngine.java:140-193): `X |` = suffix rule, matches the
# 1-token LEFT context of a mention; CLASSIFY_THIS labels that mention.
RULES_TEXT = "fast |\tCLASSIFY_THIS\tFAST_OP\nslow |\tCLASSIFY_THIS\tSLOW_OP"
_RULE_OUTCOMES = [("fast", "FAST_OP"), ("slow", "SLOW_OP")]


def _rule_hits_sql() -> str:
    """Per (doc_id, term, rule-outcome): count of mentions whose 1-token
    left context equals the rule context (regex `\\bctx term\\b` — the
    corpus is single-space separated so the window semantics align with the
    kernel's get_left_contexts)."""
    parts = []
    for ctx, outcome in _RULE_OUTCOMES:
        for term in GAZETTEER:
            parts.append(
                f"select doc_id, '{term}' as value, '{outcome}' as tag, "
                f"len(regexp_extract_all(text, '\\b{ctx} {term}\\b')) as n "
                f"from documents"
            )
    return " union all ".join(parts)


@query(headline=True, oracle=lambda: f"""
            with hits as ({_rule_hits_sql()})
            select doc_id, value, tag, n
            from hits where n > 0
        """)
def rule_engine_tags(spark, sf_dir):
    return classified_mention_counts(
        _read(spark, sf_dir, "documents"), GAZETTEER, RULES_TEXT
    )


@query(oracle=lambda: f"""
            with hits as ({_rule_hits_sql()})
            select value as subj, 'instance-of' as pred, tag as obj,
                   sum(n)::bigint as support
            from hits where n > 0
            group by 1, 2, 3
        """)
def rule_triples(spark, sf_dir):
    return rule_instance_triples(
        _read(spark, sf_dir, "documents"), GAZETTEER, RULES_TEXT
    )


# ---- streaming surface: foreachBatch triple log + compaction ----
def _streaming_triples_sql() -> str:
    """DuckDB recomputation of the compacted streaming triple log
    (streaming/pipeline.py): per-term occurrence counts -> mentioned-in
    edges (support = match count), presence pairs -> co-occurs-with
    edges (support = co-containing doc count), min-sha256 lineage."""
    occ = " union all ".join(
        f"select doc_id, '{t}' as value, "
        f"len(regexp_extract_all(text, '\\b{t}\\b')) as n from documents"
        for t in GAZETTEER
    )
    return f"""
        with occ as ({occ}),
        docs as (
          select doc_id,
                 'corpus/' || source || '/docs/' || doc_id || '.txt' as doc_ref,
                 sha256(text) as sha
          from documents),
        present as (select * from occ where n > 0)
        select p.value as subj, 'mentioned-in' as pred, d.doc_ref as obj,
               min(d.sha) as content_sha256, sum(p.n)::bigint as support
        from present p join docs d using (doc_id)
        group by 1, 2, 3
        union all
        select a.value as subj, 'co-occurs-with' as pred, b.value as obj,
               min(d.sha) as content_sha256, count(*)::bigint as support
        from present a join present b using (doc_id) join docs d using (doc_id)
        where a.value < b.value
        group by 1, 2, 3
    """


# Independent recomputation of the streamed-and-compacted triple
# log: gazetteer occurrence counts per doc drive mentioned-in
# support (one triple row per regex match folds to the match
# count) and co-occurs-with support (distinct per doc, folds to
# doc count); lineage is min(sha256(text)) over contributing docs,
# matching dedup semantics across micro-batches.
@query(oracle=_streaming_triples_sql)
def streaming_triples(spark, sf_dir):
    # Two file drops -> >=2 micro-batches through the REAL
    # writeStream/foreachBatch/checkpoint path (streaming/pipeline.py);
    # the compacted append-log is verified against an independent
    # DuckDB recomputation (gazetteer mentioned-in + co-occurs-with
    # edges, per-doc sha256 lineage). Exercises the one surface the
    # round-2 contract did not: exactly-once batch append + compaction.
    tmp = tempfile.mkdtemp(prefix="spark_graft_stream_")
    in_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    for parity in (0, 1):  # two drops -> two micro-batches
        (
            docs.where(F.col("doc_id") % 2 == parity)
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )
    query = start_triple_stream(
        spark, in_dir, out_dir, ckpt,
        max_files_per_trigger=1, gazetteer=GAZETTEER,
        # match the \\bterm\\b case-sensitive DuckDB oracle exactly
        gazetteer_case_sensitive=True,
    )
    # awaitTermination(timeout) returns False WITHOUT raising when the
    # stream has not finished — compacting a partial log and rmtree'ing
    # dirs under a live query would corrupt the result, so fail loudly
    # (and stop the orphaned query) instead
    finished = query.awaitTermination(300)
    if not finished:
        query.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        raise TimeoutError("streaming_triples: stream not done in 300s")
    out = (
        compact_triples(spark, out_dir)
        .select(
            "subj", "pred", "obj", "content_sha256",
            F.col("support").cast("long").alias("support"),
        )
        # materialize into Spark block storage so the temp parquet
        # dirs can be deleted before the driver collects the result
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return out
