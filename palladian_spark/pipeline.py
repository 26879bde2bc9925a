"""End-to-end KG-construction pipeline (the north rule's four stages):

1. batched mention detection per content blob,
2. candidate entity-link scoring (broadcast dictionary classify),
3. connected-components canonicalization (MinHash-LSH blocked),
4. deduplicated (subj, pred, obj) triple materialization, partitioned by
   repo-hash with salted skew handling.

Stages checkpoint through StageStore (resume on restart); per-row
sha256(content) lineage flows source -> mentions -> triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernels.ner import NerModel
from .operators import triples as T
from .operators.canonicalize import canonicalize_values
from .operators.mentions import detect_mentions
from .operators.ner_pipeline import tag_documents
from .sources.checkpoint import StageStore


def extract_triples(
    source: DataFrame,
    model: NerModel | None = None,
    canonicalize: bool = True,
    store: StageStore | None = None,
    code: bool = False,
) -> DataFrame:
    """source(repo, path, commit, lang, content) -> deduplicated triples.

    With a trained NerModel the full T1-T14 chain runs (typed entities);
    without one, StringTagger candidates become untyped `mentioned-in`/
    `co-occurs-with` edges only.

    With code=True, rows whose `lang` is a code language additionally get
    source-code entity triples (imports / defines-* / calls at file grain
    plus repo-grain depends-on — operators/code.py); the code preds are
    disjoint from the mention preds, so the branch unions in after dedup
    with its own checkpointable stage and its own single content scan.

    With a ``store`` every stage runs (or resumes) through
    ``StageStore.run``; without one each stage is its plain build.
    """

    def stage(name: str, build, lineage_col: str | None = None) -> DataFrame:
        if store is None:
            return build()
        return store.run(name, build, lineage_col=lineage_col)

    lineage = T.with_lineage(source).withColumn(
        "doc_ref", F.concat_ws("/", F.col("repo"), F.col("path"))
    )
    keep = ["doc_ref", "content_sha256"]

    def build_mentions() -> DataFrame:
        if model is not None:
            return tag_documents(lineage, model, text_col="content", keep_cols=keep)
        return detect_mentions(lineage, text_col="content", keep_cols=keep)

    mentions = stage("mentions", build_mentions, lineage_col="content_sha256")
    if store is None:
        # the mention edge families and canonicalization all consume
        # mentions; without a cut each branch would re-run the regex scan
        # (and its offset window) over every content blob. localCheckpoint,
        # not persist: repeated extract_triples calls in one session would
        # otherwise pin mention caches forever (no unpersist placement
        # exists — the returned plan is consumed lazily by the caller);
        # checkpointed blocks are GC-reclaimed with the DataFrame.
        mentions = mentions.localCheckpoint(eager=False)

    all_triples = T.mention_triples(mentions, typed=model is not None)
    if canonicalize:
        canonical_map = stage("canonical", lambda: canonicalize_values(mentions.select("value")))
        all_triples = all_triples.unionByName(T.synonym_triples(canonical_map))

    result = stage(
        "triples", lambda: T.dedup_triples(all_triples), lineage_col="content_sha256"
    )
    if code:
        from .operators.code import code_triples

        # code_triples recomputes the identical sha256(content), so the
        # per-row lineage invariant holds for the code stage too
        result = result.unionByName(
            stage("code_triples", lambda: code_triples(source), lineage_col="content_sha256")
        )
    return result


def merge_triples(parts: list[DataFrame], canonicalize: bool = True) -> DataFrame:
    """Incremental KG construction: merge per-batch triple tables (built
    with canonicalize=False over DISJOINT document sets) into the exact
    table a full recompute over the union would produce.

    Additive by construction: mentioned-in groups are doc-scoped (obj =
    doc_ref) so they never straddle batches; co-occurs-with groups overlap
    across batches and their per-doc supports sum. Lineage folds as
    min(sha). Canonicalization is the one non-additive stage — components
    can merge when a new batch bridges two old values — so it reruns over
    the merged VALUE SET (tiny: distinct surface forms, not mentions),
    with frequencies reconstructed from mentioned-in support sums. This is
    the daily-ingest shape at 100 TB: each batch pays only its own mention
    scan; the merge is one support aggregation plus a value-set-sized
    canonicalization, never a recompute over old content.

    Equivalence to the batch path is machine-checked: the
    kg_triples_incremental contract query runs this over a two-way doc
    split and the driver compares it against the SAME DuckDB oracle as
    kg_triples (full recomputation over the union). The streaming
    compact_triples folds its append-only triple log through this too.
    """
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    merged = merged.groupBy("subj", "pred", "obj").agg(
        F.min("content_sha256").alias("content_sha256"),
        F.sum("support").alias("support"),
    )
    if not canonicalize:
        return merged
    # localCheckpoint, not persist: the canonicalization branch actions
    # inside canonicalize_values while the merged rows are consumed again
    # by the final union — checkpointed blocks are GC-reclaimed, so this
    # lazy API needs no unpersist placement
    merged = merged.localCheckpoint(eager=False)
    freqs = (
        merged.where(F.col("pred") == "mentioned-in")
        .groupBy("subj")
        .agg(F.sum("support").alias("freq"))
        .select(F.col("subj").alias("value"), "freq")
    )
    canonical_map = canonicalize_values(freqs, freq_col="freq")
    return merged.unionByName(T.dedup_triples(T.synonym_triples(canonical_map)))


def verify_lineage(source: DataFrame, triples: DataFrame) -> int:
    """Per-row invariant check: every non-null triple lineage hash must
    exist in the source table's sha256 set. Returns violation count (0 =
    pass). Anti-join — no collect."""
    source_hashes = T.with_lineage(source).select("content_sha256").distinct()
    return (
        triples.where(F.col("content_sha256").isNotNull())
        .select("content_sha256")
        .distinct()
        .join(source_hashes, "content_sha256", "left_anti")
        .count()
    )


def documents_as_source(documents: DataFrame) -> DataFrame:
    """Adapt the synthetic documents table (doc_id, text, lang, source,
    n_chars) to the source-code-table shape from BASELINE.json input_hint.
    The body column may be named either `text` (raw table) or `content`
    (already-adapted corpora) — both map to `content` in the output."""
    text_col = "text" if "text" in documents.columns else "content"
    source_col = F.col("source") if "source" in documents.columns else F.lit("synthetic")
    return documents.select(
        F.concat(F.lit("corpus/"), source_col).alias("repo"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.sha2(F.col("doc_id").cast("string"), 256).substr(1, 12).alias("commit"),
        F.col("lang"),
        F.col(text_col).alias("content"),
    )
