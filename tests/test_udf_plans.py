"""Every per-row Python UDF runs once per row.

Each operator below is fed a one-partition input, so spread() inserts its
repartition, and the optimized plans it executes are read: the output
frame's plan plus the plan behind each localCheckpoint cut it takes.
Within those plans a UDF call (with #ids stripped) must not be evaluated
twice over the same rows:
- no Python node may sit above another one with the same call (a filter
  pushed below a projection or the spread() repartition re-runs the UDF);
- no two Python nodes may evaluate the same call over identical inputs (a
  frame read twice without a cut, e.g. both sides of a self-join).
Nor may any plan hold the `size(pythonUDF..) > 0` filter that
InferFiltersFromGenerate infers for a generator over an aliased UDF
column (see operators/util.annotate). The StringTagger scan
(mentions.detect_mentions) is a JVM regex, not a UDF; the same rule is
checked on its regexp_replace.

The second half checks the inline generator's row semantics at each
tagger: null, empty and no-match texts give no rows, and a matching text
gives exactly the kernel's annotations. The last part checks that every
operator pairing the members of a key does it through util.member_pairs
(group, then pair), with no self-join left in its plans.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from palladian_spark.kernels.ner import NerModel
from palladian_spark.operators import (
    canonicalize, code, code_curation, colors, cooccurrence, curation, dates, dedup,
    geo, graph, mentions, ner_pipeline, pos_tagging, relations, similarity_search as ss,
    sketches, triples, winnow,
)
from palladian_spark.operators.multimodal import synthesize_media_table

_ID = re.compile(r"#\d+L?")
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython")


def _udf_calls(node: str) -> list[str]:
    """The UDF calls of one Python plan node: its first bracketed list."""
    calls, depth, cur = [], 0, ""
    for ch in node[node.index("[") + 1 :]:
        if depth == 0 and ch in ",]":
            calls.append(cur.strip())
            if ch == "]":
                break
            cur = ""
            continue
        depth += (ch in "([") - (ch in ")]")
        cur += ch
    return calls


def _evaluations(plan: str) -> list[tuple[str, str, bool]]:
    """(call, plan below its node, same call again below) per UDF call."""
    lines = _ID.sub("", plan).splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    nodes = [ln.lstrip(" :+-") for ln in lines]
    out = []
    for i, node in enumerate(nodes):
        if not node.startswith(_PY_NODES):
            continue
        j = i + 1
        while j < len(nodes) and depth[j] > depth[i]:
            j += 1
        below = nodes[i + 1 : j]
        below_calls = {c for n in below if n.startswith(_PY_NODES) for c in _udf_calls(n)}
        for call in _udf_calls(node):
            out.append((call, "\n".join(below), call in below_calls))
    return out


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture
def cut_frames(spark, monkeypatch):
    """Record every frame an operator cuts with localCheckpoint; the cut
    itself still happens."""
    cls = type(spark.range(1))
    original = cls.localCheckpoint
    frames = []

    def recording(self, *args, **kwargs):
        frames.append(self)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    return frames


_TEXTS = [
    "Mary Smith moved to Berlin on May 3, 2024. She lives at 123 Main Street.",
    "Mary Smith moved to Berlin on May 3, 2024. He lives at 123 Main Street.",
    "The summit at 40.446195, -79.948862 was reached in 2019 by Tom Jones.",
    "alpha beta gamma delta epsilon. Alpha and beta again; gamma delta zeta.",
    "lower case words only with nothing to tag at all here",
    "",
    None,
]


@pytest.fixture(scope="module")
def one_split(spark):
    """make(rows, columns) -> a DataFrame of those rows in ONE partition."""

    def make(rows, columns):
        return spark.createDataFrame(rows, columns).coalesce(1)

    return make


@pytest.fixture(scope="module")
def docs(one_split):
    return one_split([(i, t) for i, t in enumerate(_TEXTS)], "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(one_split):
    """(embeddings, queries): 64 8-dim vectors and 3 queries among them."""
    rows = [
        (i, [float((i * (d + 3)) % 11) - 5.0 for d in range(8)]) for i in range(64)
    ]
    emb = one_split(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return emb, q


@pytest.fixture(scope="module")
def pos_model():
    from palladian_spark.kernels.pos import train_pos_tagger

    path = os.path.join(os.path.dirname(__file__), "fixtures", "reference", "pos_train_corpus.txt")
    with open(path, encoding="utf-8") as f:
        return train_pos_tagger(f.read())


_RULES = "to |\tCLASSIFY_THIS\tPLACE"
_GAZETTEER = {"berlin": "LOC", "sound": "X", "istanbul": "LOC"}
_KW = dict(text_col="text", keep_cols=["doc_id"])

# name -> op(docs, pos_model): the per-row tagger operators
_TAGGERS = {
    "dictionary_mentions": lambda d, _: mentions.dictionary_mentions(d, _GAZETTEER, **_KW),
    "tag_coordinates": lambda d, _: geo.tag_coordinates(d, **_KW),
    "tag_addresses": lambda d, _: geo.tag_addresses(d, **_KW),
    "normalize_dates": lambda d, _: dates.normalize_dates(d, **_KW),
    "pos_tag_documents": lambda d, m: pos_tagging.pos_tag_documents(d, m, **_KW),
    "tag_documents": lambda d, _: ner_pipeline.tag_documents(d, NerModel(), **_KW),
    "apply_rule_engine": lambda d, _: relations.apply_rule_engine(d, _GAZETTEER, _RULES, **_KW),
}


def _media(d):
    return synthesize_media_table(d.sparkSession, d.where(F.col("doc_id") < 4))


def _code(d):
    """The documents as a source-code table: three repos of python files
    that share two imports."""
    return d.select(
        F.concat(F.lit("repo"), (F.col("doc_id") % 3).cast("string")).alias("repo"),
        F.concat(F.col("doc_id").cast("string"), F.lit(".py")).alias("path"),
        F.lit("python").alias("lang"),
        F.concat(F.lit("import os\nimport sys\n"), F.coalesce("text", F.lit(""))).alias("content"),
    )


def _words(d):
    """(doc_id, word) rows of the documents."""
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("value"))


# name -> op(docs, (embeddings, queries)): the other per-row UDF operators
_OPERATORS = {
    "media_pixel_colors": lambda d, v: colors.media_pixel_colors(_media(d)),
    "detect_media_colors": lambda d, v: colors.detect_media_colors(_media(d)),
    "pq_encode": lambda d, v: ss.pq_encode(v[0]),
    "pq_topk": lambda d, v: ss.pq_topk(*v, k=3, rescore_factor=2),
    "ivf_topk": lambda d, v: ss.ivf_topk(*v, k=3),
    "ivfpq_topk": lambda d, v: ss.ivfpq_topk(*v, k=3),
    "lsh_topk": lambda d, v: ss.lsh_topk(*v, k=3),
    "brute_force_topk": lambda d, v: ss.brute_force_topk(*v, k=3),
    "embedding_near_duplicates": lambda d, v: ss.embedding_near_duplicates(v[0], threshold=0.9),
    "ngram_jaccard_pairs": lambda d, v: dedup.ngram_jaccard_pairs(d),
    "ngram_jaccard_pairs_exact": lambda d, v: dedup.ngram_jaccard_pairs_exact(d),
    "minhash_lsh_pairs": lambda d, v: dedup.minhash_lsh_pairs(d),
    "benchmark_overlap": lambda d, v: curation.benchmark_overlap(d, bench_mod=2),
    "benchmark_bloom_bits": lambda d, v: sketches.benchmark_bloom_bits(d, bench_mod=2),
    "winnow_fingerprints": lambda d, v: winnow.winnow_fingerprints(
        d.select(F.lit("r").alias("repo"), F.col("doc_id").cast("string").alias("path"),
                 F.col("text").alias("content"))
    ),
    "candidate_pairs": lambda d, v: canonicalize.candidate_pairs(d.select(F.col("text").alias("value"))),
    "sentence_cooccurrences": lambda d, v: cooccurrence.scoped_cooccurrences(
        d, ["alpha", "beta"], scope=cooccurrence.SENTENCE
    ),
    "wiktionary_triples": lambda d, v: relations.wiktionary_triples(d.withColumn("title", F.lit("Haus"))),
    "winnow_pairs": lambda d, v: winnow.winnow_pairs(_code(d)),
}


@pytest.mark.parametrize("name", [*_TAGGERS, *_OPERATORS])
def test_each_udf_runs_once_per_row(docs, vectors, pos_model, cut_frames, name):
    out = _TAGGERS[name](docs, pos_model) if name in _TAGGERS else _OPERATORS[name](docs, vectors)
    plans = [_optimized(df) for df in [out, *cut_frames]]
    evals = [e for plan in plans for e in _evaluations(plan)]
    assert evals, f"{name}: no Python UDF in its plans"
    for plan in plans:
        assert "size(pythonUDF" not in _ID.sub("", plan), plan
    twice_in_line = sorted({call for call, _, again in evals if again})
    assert not twice_in_line, f"{name}: evaluated again above itself: {twice_in_line}"
    same_input = [call for (call, _), n in Counter((c, b) for c, b, _ in evals).items() if n > 1]
    assert not same_input, f"{name}: evaluated twice over the same input: {same_input}"


def test_detect_mentions_runs_the_regex_once(docs, cut_frames):
    """The StringTagger scan is a JVM regex, no UDF, and the same rule
    holds for it: its optimized plan evaluates the regexp_replace once, and
    no inferred size(..) filter sinks below spread()'s repartition to run
    it again."""
    out = mentions.detect_mentions(docs, **_KW)
    assert not cut_frames
    plan = _ID.sub("", _optimized(out))
    assert "Repartition" in plan and not any(n in plan for n in _PY_NODES), plan
    assert plan.count("regexp_replace(") == 1, plan
    assert "size(" not in plan, plan


def _kernel_rows(name, text, pos_model):
    """The kernel's annotations for one text, in each operator's columns."""
    from palladian_spark.kernels import ner, tagging
    from palladian_spark.kernels.dateformats import DEFAULT_TAGGER_FORMATS, find_dates_with_format
    from palladian_spark.kernels.dateparse import parse_date
    from palladian_spark.kernels.geo import address_tag, coordinate_tag, to_microdegrees
    from palladian_spark.kernels.pos import classify_token
    from palladian_spark.kernels.rules import apply_rules, parse_rules
    from palladian_spark.kernels.text import iterate_tokens

    if name == "dictionary_mentions":
        return [(a.start, a.end, a.value, a.tag)
                for a in tagging.dictionary_tag(text, _GAZETTEER, case_sensitive=False)]
    if name == "tag_coordinates":
        return [(a.start, a.end, a.value, to_microdegrees(a.lat), to_microdegrees(a.lng))
                for a in coordinate_tag(text)]
    if name == "tag_addresses":
        return [(a.start, a.end, a.value, a.tag) for a in address_tag(text)]
    if name == "normalize_dates":
        rows = []
        for value, fmt in find_dates_with_format(text, DEFAULT_TAGGER_FORMATS):
            d = parse_date(value, fmt)
            rows.append((value, fmt, *(d[k] for k in (
                "year", "month", "day", "hour", "minute", "second", "timezone"))))
        return rows
    if name == "pos_tag_documents":
        return [(s, s + len(v), v, classify_token(v, pos_model).upper())
                for s, v in iterate_tokens(text)]
    if name == "tag_documents":
        return [(a.start, a.end, a.value, a.tag)
                for a in ner.tag_text(text, NerModel(), ner.TaggingSettings())]
    if name == "apply_rule_engine":
        found = tagging.dictionary_tag(text, _GAZETTEER, case_sensitive=False)
        return [(a.start, a.end, a.value, tag)
                for a, tag in apply_rules(text, found, parse_rules(_RULES))
                if tag is not None]
    raise KeyError(name)


_MATCH = {
    # case-fold matches whose .lower() is not a gazetteer key
    "dictionary_mentions": "Mary Smith heard the ſound of İstanbul in Berlin.",
    "tag_coordinates": "The summit at 40.446195, -79.948862 was reached.",
    "tag_addresses": "She lives at 123 Main Street now.",
    "normalize_dates": "Released on 2023-05-17 and again on May 3, 2024.",
}
_NO_MATCH = {"pos_tag_documents": "   "}


@pytest.mark.parametrize("name", _TAGGERS)
def test_tagger_rows_match_kernel(spark, pos_model, name):
    """Null, empty and no-match texts give no rows; the matching text
    gives exactly the kernel's annotations."""
    match = _MATCH.get(name, "Mary Smith moved to Berlin with John Smith.")
    no_match = _NO_MATCH.get(name, "lower case words only, nothing to tag")
    want = _kernel_rows(name, match, pos_model)
    assert want and not _kernel_rows(name, no_match, pos_model)
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, no_match), (4, match)], "doc_id long, text string"
    )
    got = _TAGGERS[name](docs, pos_model).collect()
    assert {r["doc_id"] for r in got} == {4}
    ncols = len(want[0])
    assert sorted(tuple(r)[1 : 1 + ncols] for r in got) == sorted(want)


def _callers(helper: str) -> set[str]:
    """The functions in palladian_spark/operators that call ``helper``."""
    callers = set()
    for path in Path(mentions.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.FunctionDef) and any(
                isinstance(c, ast.Call) and ast.unparse(c.func).split(".")[-1] == helper
                for c in ast.walk(node)
            ):
                callers.add(node.name)
    return callers


def test_every_annotate_caller_is_a_covered_tagger():
    """The operators that build rows through util.annotate are exactly
    _TAGGERS, so a new tagger gets the plan and null-row checks above."""
    assert _callers("annotate") == set(_TAGGERS)


# caller of util.member_pairs -> op(docs, (embeddings, queries)) reaching it
_PAIRERS = {
    "co_occurrence_triples": lambda d, v: triples.co_occurrence_triples(
        _words(d).select(
            F.concat(F.lit("r/"), F.col("doc_id").cast("string")).alias("doc_ref"),
            "value",
            F.sha2(F.col("doc_id").cast("string"), 256).alias("content_sha256"),
        )
    ),
    "candidate_pairs": _OPERATORS["candidate_pairs"],
    "_shingle_overlap": _OPERATORS["ngram_jaccard_pairs_exact"],
    "minhash_lsh_pairs": _OPERATORS["minhash_lsh_pairs"],
    "simhash_pairs": lambda d, v: dedup.simhash_pairs(dedup.simhash_signatures(d)),
    "simhash_pairs_wide": lambda d, v: dedup.simhash_pairs_wide(dedup.simhash_signatures_wide(d)),
    "embedding_near_duplicates": _OPERATORS["embedding_near_duplicates"],
    "_pair_counts": _OPERATORS["sentence_cooccurrences"],
    "pmi_edges": lambda d, v: graph.pmi_edges(_words(d), d),
    "common_neighbor_scores": lambda d, v: graph.common_neighbor_scores(
        _words(d).select(F.col("doc_id").cast("string").alias("subj"), F.col("value").alias("obj"))
    ),
    "repo_shared_deps": lambda d, v: code.repo_shared_deps(_code(d)),
    "fork_pairs": lambda d, v: code_curation.fork_pairs(_code(d)),
    "near_clone_pairs": lambda d, v: code_curation.near_clone_pairs(_code(d)),
    "winnow_pairs": _OPERATORS["winnow_pairs"],
}


@pytest.mark.parametrize("name", _PAIRERS)
def test_pairs_come_from_member_pairs(docs, vectors, cut_frames, name):
    """The pairs are emitted by member_pairs' explode over each key's
    sorted members, and no plan joins a frame to itself on ``a.m < b.m``."""
    out = _PAIRERS[name](docs, vectors)
    nodes = [
        ln.lstrip(" :+-")
        for df in [out, *cut_frames]
        for ln in _ID.sub("", _optimized(df)).splitlines()
    ]
    assert any(n.startswith("Generate explode(slice(") for n in nodes), name
    self_joins = [n for n in nodes if n.startswith("Join ") and " < " in n]
    assert not self_joins, f"{name}: {self_joins}"


def test_every_member_pairs_caller_is_covered():
    """The operators that pair through util.member_pairs are exactly
    _PAIRERS, so a new one gets the plan check above."""
    assert _callers("member_pairs") == set(_PAIRERS)
