"""Source-code entity extraction for the KG pipeline.

The north rule (BASELINE.json) targets an Iceberg table of source-code
repositories `(repo, path, commit, lang, content)` at 10^12-file scale.
The reference's extraction stack is natural-language only
(/root/reference/palladian-core/src/main/java/ws/palladian/extraction);
these operators add the code-content twin the deployment table implies:
language-dispatched import / definition / call-site extraction as
pure-JVM ``regexp_extract_all`` projections (whole-stage codegen, no
Python in the scan), emitting the same ``(subj, pred, obj,
content_sha256, support)`` triple shape as ``operators/triples.py``.

Scale shape: the extraction is a single codegen projection over the
source scan (one ``regexp_extract_all`` chain per language, dispatched
by a CASE on ``lang``), two chained explodes of bounded arrays, then ONE
shuffle — the ``(repo, path, pred, obj)`` aggregate.  The repo-grain
``depends-on`` roll-up consumes that aggregate's output (already
file-distinct), so mega-repos cost one extra small shuffle, never a
second content scan.

Everything is deterministic and dual-rendered: ``TEMPLATES`` /
``PATTERNS`` below are the single source of truth, rendered once as
Spark Column expressions and once as DuckDB SQL
(:func:`code_corpus_sql`, :func:`code_entities_sql`), so the driver's
oracle recomputes the whole derivation + extraction independently — no
fixture pins.  The synthetic corpus derivation follows BASELINE.json's
input_hint ("synthesise it deterministically at small scale"): each
`documents` row becomes one source file whose language is
``doc_id % len(CODE_LANGS)`` and whose body is a per-language template filled with
the document's leading tokens.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import member_pairs

CODE_LANGS = ["python", "java", "go", "javascript", "rust", "c"]

EXTENSIONS = {
    "python": ".py",
    "java": ".java",
    "go": ".go",
    "javascript": ".js",
    "rust": ".rs",
    "c": ".c",
}

# Placeholders {0}..{7} are the document's first 8 whitespace tokens
# (empty/missing tokens padded to 'w<i>'). Braces outside {digit} are
# literal — a custom renderer parses these, not str.format.
TEMPLATES = {
    "python": (
        "import {0}\n"
        "from {1} import {2}\n"
        "import {3}.{4}\n"
        "\n"
        "def {5}(x):\n"
        "    return {0}.{2}(x)\n"
        "\n"
        "class {6}:\n"
        "    pass\n"
    ),
    "java": (
        "package {0};\n"
        "import {1}.{2};\n"
        "import {3}.{4};\n"
        "\n"
        "public class {5} {\n"
        "    void {6}() {\n"
        "        {2}.{7}();\n"
        "    }\n"
        "}\n"
    ),
    "go": (
        "package {0}\n"
        "\n"
        'import "{1}/{2}"\n'
        'import "{3}"\n'
        "\n"
        "func {4}() {\n"
        "    {2}.{5}()\n"
        "}\n"
    ),
    "javascript": (
        "const {0} = require('{1}');\n"
        "import {2} from '{3}/{4}';\n"
        "\n"
        "function {5}() {\n"
        "    return {0}.{6}();\n"
        "}\n"
    ),
    "rust": (
        "use {0}::{1};\n"
        "use {2};\n"
        "\n"
        "fn {3}() {\n"
        "    {1}::{4}();\n"
        "}\n"
        "\n"
        "struct {5};\n"
    ),
    "c": (
        "#include <{0}.h>\n"
        '#include "{1}.h"\n'
        "\n"
        "void {2}(int x) {\n"
        "    {3}_{4}(x);\n"
        "}\n"
    ),
}

# (pred, regex-with-one-capture-group) per language. Patterns are kept in
# the RE2 ∩ java.util.regex common subset (no lookaround, ASCII \w, inline
# (?m)) so Spark and DuckDB match identically.
PATTERNS = {
    "python": [
        ("imports", r"(?m)^import ([\w.]+)"),
        ("imports", r"(?m)^from ([\w.]+) import"),
        ("defines-function", r"(?m)^def (\w+)\("),
        ("defines-class", r"(?m)^class (\w+)"),
        ("calls", r"(\w+\.\w+)\("),
    ],
    "java": [
        ("imports", r"(?m)^import ([\w.]+);"),
        ("defines-class", r"\bclass (\w+)"),
        ("defines-function", r"\bvoid (\w+)\("),
        ("calls", r"(\w+\.\w+)\("),
    ],
    "go": [
        ("imports", r'(?m)^import "([\w/]+)"'),
        ("defines-function", r"(?m)^func (\w+)\("),
        ("calls", r"(\w+\.\w+)\("),
    ],
    "javascript": [
        ("imports", r"require\('([\w/]+)'\)"),
        ("imports", r"(?m)^import \w+ from '([\w/]+)'"),
        ("defines-function", r"(?m)^function (\w+)\("),
        ("calls", r"(\w+\.\w+)\("),
    ],
    "rust": [
        ("imports", r"(?m)^use ([\w:]+);"),
        ("defines-function", r"(?m)^fn (\w+)\("),
        ("defines-class", r"(?m)^struct (\w+);"),
        ("calls", r"(\w+::\w+)\("),
    ],
    "c": [
        ("imports", r"(?m)^#include <(\w+)\.h>"),
        ("imports", r'(?m)^#include "(\w+)\.h"'),
        ("defines-function", r"(?m)^void (\w+)\("),
        ("calls", r"(\w+_\w+)\("),
    ],
    # Dispatch-only languages: real deployment tables carry more `lang`
    # values than the synthetic corpus derives (CODE_LANGS). Extraction
    # dispatches over ALL of PATTERNS, so these rows extract too; the
    # contract corpus simply never produces them (their oracle branches
    # match zero rows, keeping every code query hash-identical).
    "typescript": [
        ("imports", r"(?m)^import .+ from '([\w/]+)'"),
        ("defines-function", r"(?m)^(?:export )?function (\w+)\("),
        ("defines-class", r"(?m)^(?:export )?class (\w+)"),
        ("calls", r"(\w+\.\w+)\("),
    ],
    "ruby": [
        ("imports", r"(?m)^require '([\w/]+)'"),
        ("defines-function", r"(?m)^\s*def (\w+)"),
        ("defines-class", r"(?m)^class ([A-Z]\w*)"),
        ("calls", r"(\w+\.\w+)\("),
    ],
    "php": [
        ("imports", r"(?m)^(?:require|include)(?:_once)? '([\w/.]+)'"),
        ("defines-function", r"(?m)^function (\w+)\("),
        ("defines-class", r"(?m)^class (\w+)"),
        ("calls", r"(\w+->\w+)\("),
        ("calls", r"(\w+::\w+)\("),
    ],
}

PREDS = ["imports", "defines-function", "defines-class", "calls"]

N_TOKENS = 8

_PLACEHOLDER = re.compile(r"\{(\d)\}")


def _template_parts(template: str) -> list:
    """Split a template into alternating literal strings and int token ids."""
    parts: list = []
    pos = 0
    for m in _PLACEHOLDER.finditer(template):
        if m.start() > pos:
            parts.append(template[pos : m.start()])
        parts.append(int(m.group(1)))
        pos = m.end()
    if pos < len(template):
        parts.append(template[pos:])
    return parts


# ---------------------------------------------------------------------------
# Spark rendering
# ---------------------------------------------------------------------------
def _lang_index_col(id_col: str):
    return (F.col(id_col) % len(CODE_LANGS)).cast("int")


def code_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """documents -> deterministic source-code table (repo, path, commit,
    lang, content), the BASELINE.json input_hint shape.

    Pure-JVM projection: split + try_element_at + concat, no shuffle.
    """
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")

    def tok(i: int):
        return F.coalesce(
            F.nullif(F.try_element_at(toks, F.lit(i + 1)), F.lit("")),
            F.lit(f"w{i}"),
        )

    idx = _lang_index_col(id_col)
    lang = F.element_at(F.array(*[F.lit(l) for l in CODE_LANGS]), idx + 1)
    ext = F.element_at(F.array(*[F.lit(EXTENSIONS[l]) for l in CODE_LANGS]), idx + 1)

    content = None
    for i, l in enumerate(CODE_LANGS):
        rendered = F.concat(
            *[
                F.lit(p) if isinstance(p, str) else tok(p)
                for p in _template_parts(TEMPLATES[l])
            ]
        )
        content = (
            F.when(idx == i, rendered)
            if content is None
            else content.when(idx == i, rendered)
        )

    source = (
        F.col(source_col) if source_col in docs.columns else F.lit("synthetic")
    )
    return docs.select(
        F.concat(F.lit("corpus/"), F.coalesce(source, F.lit("synthetic"))).alias(
            "repo"
        ),
        F.concat(F.lit("src/"), F.col(id_col).cast("string"), ext).alias("path"),
        F.sha2(F.col(id_col).cast("string"), 256).substr(1, 12).alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )


def _pred_matches_col(pred: str):
    """CASE lang WHEN ... array of all matches for `pred` in `content`."""
    content = F.coalesce(F.col("content"), F.lit(""))
    expr = None
    for l in sorted(PATTERNS):
        arrs = [
            F.regexp_extract_all(content, F.lit(pat), F.lit(1))
            for p, pat in PATTERNS[l]
            if p == pred
        ]
        if not arrs:
            continue
        arr = arrs[0] if len(arrs) == 1 else F.concat(*arrs)
        cond = F.col("lang") == l
        expr = F.when(cond, arr) if expr is None else expr.when(cond, arr)
    return expr.otherwise(F.array().cast("array<string>"))


def extract_code_entities(source: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """(repo, path, commit, lang, content) -> (repo, path, lang, pred, obj).

    One codegen projection builds a fixed 4-element array of
    (pred, matches[]) structs; two explodes flatten it. No Python, no
    shuffle — Catalyst keeps the whole thing in the scan stage. (The
    explodes sit over JVM expressions, not UDFs, so there is no Python
    hop that a pushed-down filter could run twice; the generator rule the
    UDF operators follow is in operators/util.annotate.)
    """
    matches = F.array(
        *[
            F.struct(F.lit(p).alias("pred"), _pred_matches_col(p).alias("objs"))
            for p in PREDS
        ]
    )
    keep = [F.col(c) for c in keep_cols]
    step = source.select(
        "repo", "path", "lang", *keep, F.explode(matches).alias("m")
    )
    return step.select(
        "repo",
        "path",
        "lang",
        *[F.col(c) for c in keep_cols],
        F.col("m.pred").alias("pred"),
        F.explode(F.col("m.objs")).alias("obj"),
    )


def code_triples(source: DataFrame) -> DataFrame:
    """Full KG-shape output: (subj, pred, obj, content_sha256, support).

    File-grain triples (subj = repo/path) from one scan + one shuffle;
    the repo-grain `depends-on` roll-up consumes the file-grain
    AGGREGATE (small, post-shuffle), so no second content scan.
    """
    ents = extract_code_entities(
        source.withColumn("content_sha256", F.sha2(F.col("content"), 256)),
        keep_cols=("content_sha256",),
    )
    # lazy localCheckpoint: the file-grain and repo-grain branches of the
    # final union both consume this aggregate; without it Catalyst plans
    # TWO full content scans (the filtered depends-on branch prevents
    # exchange reuse) — the doc_cooccur_window lesson. localCheckpoint,
    # not persist, per the merge_triples idiom: checkpointed blocks are
    # GC-reclaimed, so the lazy API needs no unpersist placement.
    file_agg = (
        ents.groupBy("repo", "path", "pred", "obj")
        .agg(
            F.min("content_sha256").alias("content_sha256"),
            F.count(F.lit(1)).alias("support"),
        )
        .localCheckpoint(eager=False)
    )
    file_triples = file_agg.select(
        F.concat_ws("/", "repo", "path").alias("subj"),
        "pred",
        "obj",
        "content_sha256",
        "support",
    )
    # one row per (repo, path, 'imports', module) feeds this, so count(*)
    # is the distinct-importing-file count
    deps = (
        file_agg.where(F.col("pred") == "imports")
        .groupBy("repo", "obj")
        .agg(
            F.min("content_sha256").alias("content_sha256"),
            F.count(F.lit(1)).alias("support"),
        )
        .select(
            F.col("repo").alias("subj"),
            F.lit("depends-on").alias("pred"),
            "obj",
            "content_sha256",
            "support",
        )
    )
    return file_triples.unionByName(deps)


# ---------------------------------------------------------------------------
# DuckDB rendering (oracle side) — same TEMPLATES/PATTERNS, second engine
# ---------------------------------------------------------------------------
def _sql_str(lit: str) -> str:
    """A DuckDB string literal; newlines become chr(10) so the rendered
    SQL stays single-line-safe."""
    out = []
    for seg in lit.split("\n"):
        out.append("'" + seg.replace("'", "''") + "'")
    return " || chr(10) || ".join(out)


def _sql_template(lang: str) -> str:
    parts = []
    for p in _template_parts(TEMPLATES[lang]):
        if isinstance(p, str):
            parts.append(_sql_str(p))
        else:
            parts.append(f"tok{p}")
    return " || ".join(parts)


def code_corpus_sql(documents: str = "documents", prefix: str = "") -> str:
    """CTE body list: `{prefix}code_toks`, `{prefix}code_src` — DuckDB
    twin of :func:`code_corpus` (append to a WITH clause). `prefix` lets
    one query derive several corpora (snapshot-diff oracles)."""
    toks = ", ".join(
        f"coalesce(nullif(tk[{i + 1}], ''), 'w{i}') as tok{i}"
        for i in range(N_TOKENS)
    )
    lang_arr = "[" + ", ".join(f"'{l}'" for l in CODE_LANGS) + "]"
    ext_arr = "[" + ", ".join(f"'{EXTENSIONS[l]}'" for l in CODE_LANGS) + "]"
    _n = len(CODE_LANGS)
    content_case = f"case cast(doc_id % {_n} as int) " + " ".join(
        f"when {i} then {_sql_template(l)}" for i, l in enumerate(CODE_LANGS)
    ) + " end"
    return f"""
    {prefix}code_toks as (
      select doc_id, coalesce(source, 'synthetic') as source,
             str_split(coalesce(text, ''), ' ') as tk
      from {documents}),
    {prefix}code_tok as (
      select doc_id, source, {toks} from {prefix}code_toks),
    {prefix}code_src as (
      select 'corpus/' || source as repo,
             'src/' || cast(doc_id as varchar)
                 || ({ext_arr})[cast(doc_id % {_n} as int) + 1] as path,
             substr(sha256(cast(doc_id as varchar)), 1, 12) as commit,
             ({lang_arr})[cast(doc_id % {_n} as int) + 1] as lang,
             {content_case} as content
      from {prefix}code_tok)"""


def code_entities_sql(src: str = "code_src", name: str = "code_ents") -> str:
    """CTE body: `{name}` over `{src}` — DuckDB twin of
    :func:`extract_code_entities`."""
    branches = []
    for lang in sorted(PATTERNS):
        for pred, pat in PATTERNS[lang]:
            sql_pat = pat.replace("'", "''")
            branches.append(
                f"select repo, path, lang, '{pred}' as pred,\n"
                f"       unnest(regexp_extract_all(coalesce(content, ''),"
                f" '{sql_pat}', 1)) as obj\n"
                f"from {src} where lang = '{lang}'"
            )
    body = "\nunion all\n".join(branches)
    return f"{name} as (\n{body})"


def triples_spo_sql(ents: str = "code_ents", prefix: str = "t_") -> str:
    """CTE bodies `{prefix}fa`, `{prefix}spo`: the (subj, pred, obj,
    support) core of :func:`code_triples` minus lineage — the shape
    snapshot-diff consumers compare."""
    return f"""
    {prefix}fa as (
      select repo, path, pred, obj, count(*)::bigint as support
      from {ents} group by 1, 2, 3, 4),
    {prefix}spo as (
      select repo || '/' || path as subj, pred, obj, support
      from {prefix}fa
      union all
      select repo as subj, 'depends-on' as pred, obj,
             count(*)::bigint as support
      from {prefix}fa where pred = 'imports' group by 1, 2, 3)"""


# ---------------------------------------------------------------------------
# Cross-file resolution: call graph, entity linking, shared dependencies
# ---------------------------------------------------------------------------
# These consume the (repo, path, lang, pred, obj) entity table — never the
# content blobs — so at 10^12 files they operate on the extraction
# AGGREGATE (bounded by identifiers-per-file, orders of magnitude smaller
# than the source scan) and every join below is keyed on (repo, ...):
# partitioning by repo-hash co-locates a repository's files, mega-repo
# skew lands in map-side-combined aggregates, and no key ever spans
# repositories except the module-popularity roll-up (explicitly capped).

# Last identifier segment of a call site: `a.b` -> b (python/java/go/js),
# `a::b` -> b (rust), `a_b` -> a_b (C — `_` is \w, so the full identifier
# IS the function name, matching C's flat namespace).
CALLEE_PATTERN = r"(\w+)$"


def _entity_agg(source: DataFrame) -> DataFrame:
    """(repo, path, pred, obj, n) — the per-file entity aggregate every
    cross-file operator consumes. One content scan, one shuffle; the lazy
    localCheckpoint cuts lineage so multi-branch consumers (calls + defs,
    linker candidate + dictionary sides) materialize the scan once and
    re-read the (identifier-sized, not content-sized) aggregate.
    localCheckpoint, not persist: checkpointed blocks are GC-reclaimed,
    so this lazy API needs no unpersist placement (merge_triples idiom).
    """
    return (
        extract_code_entities(source)
        .groupBy("repo", "path", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )


CALL_MAX_DEFS_PER_NAME = 100  # (repo, fn) groups defined in more files are dropped


def resolve_calls(
    source: DataFrame, max_defs_per_name: int = CALL_MAX_DEFS_PER_NAME
) -> DataFrame:
    """Cross-file call-graph resolution within each repository.

    (repo, path, commit, lang, content) -> (repo, caller_path, def_path,
    fn, n_call_sites): a row per (caller file, defining file) pair where
    the caller contains >= 1 call site whose callee identifier (last
    ``\\w+`` segment) matches a ``defines-function`` entity in ANOTHER
    file of the same repo. Ambiguous names (defined in k files) resolve
    to all k candidates — the honest candidate set an entity linker
    scores next (:func:`link_call_entities`) — UP TO
    ``max_defs_per_name``: a name defined in more files than that
    resolves to nothing (documented contract, mirrored in the oracle).
    The cap is load-bearing at scale: output size is
    sum(callers x defs) per (repo, fn), QUADRATIC under mega-repo
    symbol duplication (vendored copies, generated code), and a name
    that ambiguous is noise for a KG edge anyway.

    Scale: the calls and defs branches both derive from ONE per-file
    entity aggregate (:func:`_entity_agg` — one content scan, one
    shuffle, lazily checkpointed so neither branch rescans the blobs);
    call sites collapse to (repo, caller_path, fn) with a map-side
    combine, defs are per-file distinct by construction, and the
    resolve join shuffles both small sides once on (repo, fn). Fan-out
    is bounded by ``max_defs_per_name``, and the composite key keeps
    popular names in DIFFERENT repos on different reducers.
    """
    agg = _entity_agg(source)
    calls = (
        agg.where(F.col("pred") == "calls")
        .select(
            "repo",
            F.col("path").alias("caller_path"),
            F.regexp_extract("obj", CALLEE_PATTERN, 1).alias("fn"),
            "n",
        )
        .groupBy("repo", "caller_path", "fn")
        .agg(F.sum("n").alias("n_call_sites"))
    )
    defs = agg.where(F.col("pred") == "defines-function").select(
        "repo", F.col("path").alias("def_path"), F.col("obj").alias("fn")
    )
    kept = (
        defs.groupBy("repo", "fn")
        .agg(F.count(F.lit(1)).alias("n_defs"))
        .where(F.col("n_defs") <= max_defs_per_name)
        .select("repo", "fn")
    )
    defs = defs.join(kept, ["repo", "fn"])
    return (
        calls.join(defs, ["repo", "fn"])
        .where(F.col("caller_path") != F.col("def_path"))
        .select("repo", "caller_path", "def_path", "fn", "n_call_sites")
    )


_CALL_GRAPH_CTES = r"""
    code_calls as (
      select repo, path as caller_path,
             regexp_extract(obj, '(\w+)$', 1) as fn,
             count(*)::bigint as n_call_sites
      from code_ents where pred = 'calls'
      group by 1, 2, 3),
    code_fdefs_all as (
      select distinct repo, path as def_path, obj as fn
      from code_ents where pred = 'defines-function'),
    code_fdefs as (
      select f.* from code_fdefs_all f
      join (select repo, fn from code_fdefs_all
            group by repo, fn having count(*) <= {max_defs}) k
        using (repo, fn))"""


def code_call_graph_sql(
    max_defs_per_name: int = CALL_MAX_DEFS_PER_NAME,
) -> str:
    """CTE bodies `code_calls`, `code_fdefs` + final select — DuckDB twin
    of :func:`resolve_calls` (append after code_ents)."""
    return (
        _CALL_GRAPH_CTES.format(max_defs=max_defs_per_name)
        + """
    select c.repo, c.caller_path, d.def_path, c.fn, c.n_call_sites
    from code_calls c join code_fdefs d using (repo, fn)
    where c.caller_path <> d.def_path"""
    )


def call_edges(source: DataFrame) -> DataFrame:
    """The resolved call graph as KG-shaped edges: (subj = repo/caller
    file, obj = repo/defining file). The edge source for file-grain graph
    analytics (link prediction, depth-bounded neighborhoods)."""
    return resolve_calls(source).select(
        F.concat_ws("/", "repo", "caller_path").alias("subj"),
        F.concat_ws("/", "repo", "def_path").alias("obj"),
    )


def call_edges_sql(max_defs_per_name: int = CALL_MAX_DEFS_PER_NAME) -> str:
    """CTE chain ending in `call_edges(subj, obj)` — DuckDB twin of
    :func:`call_edges` (append after code_ents)."""
    return (
        _CALL_GRAPH_CTES.format(max_defs=max_defs_per_name)
        + """,
    call_edges as (
      select c.repo || '/' || c.caller_path as subj,
             c.repo || '/' || d.def_path as obj
      from code_calls c join code_fdefs d using (repo, fn)
      where c.caller_path <> d.def_path)"""
    )


LINK_MIN_SCORE_1000 = 500  # trigram-Jaccard >= 0.5, as integer thousandths


def link_call_entities(
    source: DataFrame, min_score_1000: int = LINK_MIN_SCORE_1000
) -> DataFrame:
    """Candidate entity-link scoring for UNRESOLVED call identifiers —
    the north rule's "candidate entity-link scoring via broadcast
    dictionary join + blocking" stage instantiated over code symbols.

    Call identifiers with no exact ``defines-*`` match in their repo
    (typo'd, renamed, or partially-qualified references) are linked to
    the repo's symbol dictionary by character-trigram Jaccard: pairs are
    BLOCKED on a shared trigram (complete for any threshold > 0 — a pair
    with Jaccard > 0 shares a trigram, so blocking loses nothing), scored
    as integer thousandths ``(1000*|A∩B|) div |A∪B|`` (integer arithmetic
    end-to-end, so Spark and DuckDB agree bit-for-bit), and the best
    symbol per call name kept (score desc, symbol asc tiebreak).

    Output: (repo, fn, linked_symbol, score_1000), one row per linkable
    unresolved name with score >= ``min_score_1000``. Names shorter than
    3 chars have no trigrams and are not linkable.

    Scale: everything downstream of :func:`_entity_agg` is
    identifier-sized. The trigram explode fans each name out ~len times;
    the blocking join is keyed (repo, trigram) — within one repo a common
    trigram bucket is |names-with-that-trigram|², the same banded-bucket
    profile as MinHash-LSH (operators/dedup.py), and the repo component
    spreads hot trigrams across reducers. The exact-match rejection is a
    broadcast-able anti-join (dictionary side is distinct symbols).
    """
    agg = _entity_agg(source)
    calls = (
        agg.where(F.col("pred") == "calls")
        .select("repo", F.regexp_extract("obj", CALLEE_PATTERN, 1).alias("fn"))
        .distinct()
    )
    syms = (
        agg.where(F.col("pred").startswith("defines-"))
        .select("repo", F.col("obj").alias("sym"))
        .distinct()
    )
    unresolved = calls.join(
        syms.withColumnRenamed("sym", "fn"), ["repo", "fn"], "left_anti"
    ).where(F.length("fn") >= 3)
    linkable_syms = syms.where(F.length("sym") >= 3)

    def tri(col: str):
        return F.array_distinct(
            F.expr(
                f"transform(sequence(1, length({col}) - 2),"
                f" i -> substring(lower({col}), i, 3))"
            )
        )

    tri_c = unresolved.select("repo", "fn", tri("fn").alias("grams"))
    tri_s = linkable_syms.select("repo", "sym", tri("sym").alias("grams"))
    sz_c = tri_c.select("repo", "fn", F.size("grams").alias("n_c"))
    sz_s = tri_s.select("repo", "sym", F.size("grams").alias("n_s"))
    ex_c = tri_c.select("repo", "fn", F.explode("grams").alias("g"))
    ex_s = tri_s.select("repo", "sym", F.explode("grams").alias("g"))
    inter = (
        ex_c.join(ex_s, ["repo", "g"])
        .groupBy("repo", "fn", "sym")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = (
        inter.join(sz_c, ["repo", "fn"])
        .join(sz_s, ["repo", "sym"])
        .select(
            "repo",
            "fn",
            "sym",
            F.expr("cast((1000 * inter) div (n_c + n_s - inter) as bigint)").alias(
                "score_1000"
            ),
        )
        .where(F.col("score_1000") >= min_score_1000)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("repo", "fn").orderBy(
        F.col("score_1000").desc(), F.col("sym").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("repo", "fn", F.col("sym").alias("linked_symbol"), "score_1000")
    )


def code_entity_link_sql(min_score_1000: int = LINK_MIN_SCORE_1000) -> str:
    """CTE bodies + final select — DuckDB twin of
    :func:`link_call_entities` (append after code_ents)."""
    return rf"""
    link_calls as (
      select distinct repo, regexp_extract(obj, '(\w+)$', 1) as fn
      from code_ents where pred = 'calls'),
    link_syms as (
      select distinct repo, obj as sym
      from code_ents where pred like 'defines-%'),
    link_unres as (
      select c.repo, c.fn from link_calls c
      anti join link_syms s on c.repo = s.repo and c.fn = s.sym
      where length(c.fn) >= 3),
    link_tri_c as (
      select repo, fn,
             unnest(list_distinct([substr(lower(fn), i, 3)
                                   for i in range(1, length(fn) - 1)])) as g
      from link_unres),
    link_tri_s as (
      select repo, sym,
             unnest(list_distinct([substr(lower(sym), i, 3)
                                   for i in range(1, length(sym) - 1)])) as g
      from link_syms where length(sym) >= 3),
    link_sz_c as (select repo, fn, count(*) as n_c from link_tri_c group by 1, 2),
    link_sz_s as (select repo, sym, count(*) as n_s from link_tri_s group by 1, 2),
    link_inter as (
      select c.repo, c.fn, s.sym, count(*) as inter
      from link_tri_c c join link_tri_s s on c.repo = s.repo and c.g = s.g
      group by 1, 2, 3),
    link_scored as (
      select i.repo, i.fn, i.sym,
             ((1000 * i.inter) // (c.n_c + s.n_s - i.inter))::bigint as score_1000
      from link_inter i
      join link_sz_c c on i.repo = c.repo and i.fn = c.fn
      join link_sz_s s on i.repo = s.repo and i.sym = s.sym),
    link_ranked as (
      select repo, fn, sym, score_1000,
             row_number() over (partition by repo, fn
                                order by score_1000 desc, sym asc) as rk
      from link_scored where score_1000 >= {min_score_1000})
    select repo, fn, sym as linked_symbol, score_1000
    from link_ranked where rk = 1"""


REPO_DEP_MAX_FANOUT = 1000  # drop modules imported by more repos than this


def repo_shared_deps(
    source: DataFrame, max_fanout: int = REPO_DEP_MAX_FANOUT
) -> DataFrame:
    """Repo-similarity edges from shared dependencies: (repo_a, repo_b,
    n_shared) counts the distinct modules both repositories import.

    Scale: the input is the distinct (repo, module) dependency set (tiny
    versus content). Pairing the repos of a module (util.member_pairs)
    is quadratic in repos-per-module, so ubiquitous modules (stdlib —
    imported by every repo, which would make it O(n_repos²)) are
    EXPLICITLY dropped above ``max_fanout`` importing repos; the cap is
    the operator's documented contract, mirrored in the oracle, not a
    silent truncation.
    A shared-nothing alternative at extreme scale is min-hashing the
    dependency sets (operators/dedup.py machinery) — this exact variant
    is the oracle-able baseline.
    """
    deps = (
        extract_code_entities(source)
        .where(F.col("pred") == "imports")
        .select("repo", F.col("obj").alias("module"))
    )
    return (
        member_pairs(deps, ["module"], "repo", max_fanout)
        .groupBy(F.col("a").alias("repo_a"), F.col("b").alias("repo_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def repo_shared_deps_sql(max_fanout: int = REPO_DEP_MAX_FANOUT) -> str:
    """CTE bodies + final select — DuckDB twin of :func:`repo_shared_deps`
    (append after code_ents)."""
    return f"""
    dep_set as (
      select distinct repo, obj as module
      from code_ents where pred = 'imports'),
    dep_kept as (
      select repo, module from dep_set
      where module in (select module from dep_set
                       group by module having count(*) <= {max_fanout}))
    select a.repo as repo_a, b.repo as repo_b, count(*)::bigint as n_shared
    from dep_kept a join dep_kept b
      on a.module = b.module and a.repo < b.repo
    group by 1, 2"""


def duplicate_files(source: DataFrame) -> DataFrame:
    """Cross-repo exact file duplicates — the vendored-copy detector a
    10^12-file corpus needs before any per-file work is budgeted.

    (repo, path, commit, lang, content) -> (content_sha256, n_files,
    n_repos, canonical_file) for every content blob appearing in >= 2
    files; canonical_file = lexicographic min repo/path (the
    representative a curation pass keeps).

    Scale: one scan projecting (sha256, repo, repo/path) — content never
    leaves the scan stage — then one hash aggregate keyed by the sha
    (uniform by construction, no skew), with map-side combine absorbing
    mega-duplicate groups.
    """
    h = source.select(
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias(
            "content_sha256"
        ),
        "repo",
        F.concat_ws("/", "repo", "path").alias("file"),
    )
    return (
        h.groupBy("content_sha256")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.countDistinct("repo").alias("n_repos"),
            F.min("file").alias("canonical_file"),
        )
        .where(F.col("n_files") > 1)
    )


def duplicate_files_sql() -> str:
    """Final select — DuckDB twin of :func:`duplicate_files` (append
    after code_src)."""
    return """
    select sha256(coalesce(content, '')) as content_sha256,
           count(*)::bigint as n_files,
           count(distinct repo)::bigint as n_repos,
           min(repo || '/' || path) as canonical_file
    from code_src
    group by 1 having count(*) > 1"""
