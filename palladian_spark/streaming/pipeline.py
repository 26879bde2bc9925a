"""Structured-Streaming surface for incremental KG construction.

The reference engine is batch-only; this is the Spark-native incremental
twin of `palladian_spark.pipeline.extract_triples`: new document files
landing in a directory stream through the SAME mention/triple operators
(stateless per-document — mention detection, lineage hashing, and the
``triples.mention_triples`` edge assembly are all row-local, so they run
unchanged inside the micro-batch plan) and append to a triples sink.

Canonicalization is iterative (connected components) and therefore not
expressible as a streaming operator; it runs in the periodic batch
compaction job over the appended triple log (``compact_triples``, the
batch ``merge_triples`` fold — canonicalize-on-read).

Local test recipe: ``trigger(availableNow=True)`` drains the directory
and stops — used by tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ]
)


def stream_documents(
    spark: SparkSession,
    input_dir: str,
    file_format: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over a documents directory with the synthetic-table
    schema (explicit schema — streaming sources cannot infer)."""
    reader = spark.readStream.format(file_format).schema(DOCUMENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir)


def stream_triples(
    docs: DataFrame,
    gazetteer: dict[str, str] | None = None,
    gazetteer_case_sensitive: bool = False,
) -> DataFrame:
    """Streaming documents -> streaming (subj, pred, obj, content_sha256,
    support) triples. Every operator here is stateless per document, so
    the micro-batch plan is identical to the batch plan: one Arrow hop
    for the mention UDF, JVM-side lineage/explode/pair logic.

    With ``gazetteer`` the mention stage is the DictionaryTagger
    (``dictionary_mentions``, broadcast alternation) instead of the
    StringTagger candidate regex — the contract query uses this so the
    compacted log has an independent SQL oracle (gazetteer matching is
    SQL-expressible; the candidate lookaround regex is not). That
    operator resolves tags through the kernel's ``tagging.dictionary_scan``
    (.lower() key, .casefold() key, then the first entry's tag), so a
    case-insensitive match whose ``.lower()`` is no gazetteer key
    (``ſound``, ``İstanbul``) cannot fail a micro-batch with a KeyError.

    Edges assemble through ``triples.mention_triples``, as in the batch
    ``extract_triples``; ``foreachBatch`` hands this function plain batch
    frames, so it serves both micro-batches and batch comparisons.

    ``support`` is per-micro-batch (append mode cannot re-aggregate
    history); the downstream compaction job (compact_triples over the
    sink) folds support across batches — the same partial/final split a batch
    groupBy performs, materialized across time instead of across tasks.
    """
    from ..operators import triples as T
    from ..operators.mentions import detect_mentions, dictionary_mentions
    from ..pipeline import documents_as_source

    lineage = T.with_lineage(documents_as_source(docs)).withColumn(
        "doc_ref", F.concat_ws("/", F.col("repo"), F.col("path"))
    )
    keep = ["doc_ref", "content_sha256"]
    if gazetteer is not None:
        mentions = dictionary_mentions(
            lineage, gazetteer, text_col="content", keep_cols=keep,
            case_sensitive=gazetteer_case_sensitive,
        )
    else:
        mentions = detect_mentions(lineage, text_col="content", keep_cols=keep)
    out = T.mention_triples(mentions)
    # per-document dedup of (subj, pred, obj) — row-local w.r.t. lineage,
    # so it stays a stateless streaming projection/aggregate per batch
    return out.groupBy("subj", "pred", "obj", "content_sha256").agg(
        F.count("*").cast("long").alias("support")
    )


def start_triple_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    gazetteer: dict[str, str] | None = None,
    gazetteer_case_sensitive: bool = False,
):
    """Wire stream_documents -> stream_triples -> parquet append sink.

    complete/update modes cannot write parquet; the per-batch aggregate
    runs inside foreachBatch, making the sink an immutable triple log.

    Idempotence: foreachBatch is at-least-once — a batch whose parquet
    commit lands but whose streaming-checkpoint commit does not is re-run
    with the SAME batch_id on restart. A plain append would then double
    every triple's support at compaction. Each batch therefore OVERWRITES
    its own batch-id-keyed partition directory (`ingest_batch=<id>`):
    replaying a batch rewrites identical data over itself, so the log is
    exactly-once as observed by compact_triples.

    Lineage + metrics parity with the batch StageStore: each batch also
    overwrites `<output_dir>_metrics/ingest_batch=<id>` with one row
    (rows, distinct lineage hashes, support sum) COMPUTED FROM THE
    COMMITTED partition — the incremental twin of the per-stage metrics
    table, and the audit surface for "which batch landed what".
    """
    docs = stream_documents(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = f"{output_dir}/ingest_batch={batch_id}"
        (
            stream_triples(
                batch_df, gazetteer=gazetteer,
                gazetteer_case_sensitive=gazetteer_case_sensitive,
            )
            .write.mode("overwrite")
            .parquet(part)
        )
        committed = batch_df.sparkSession.read.parquet(part)
        # batch-local counts are exact; the HLL register map makes the
        # metrics CROSS-batch mergeable — corpus-wide distinct-content
        # estimates fold from the tiny metrics rows (register-wise max)
        # without ever running a distinct over the full triple log (the
        # StageStore manifests' sketch, applied per micro-batch)
        from ..operators.sketches import lineage_register_rho

        reg, rho = lineage_register_rho("content_sha256")
        regs = (
            committed.where(F.col("content_sha256").isNotNull())
            .select(reg.alias("r"), rho.alias("m"))
            .groupBy("r")
            .agg(F.max("m").alias("m"))
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("r", "m"))
                ).alias("hll_regs")
            )
        )
        (
            committed.agg(
                F.count(F.lit(1)).alias("rows"),
                F.count_distinct(F.col("content_sha256")).alias("n_docs"),
                F.sum("support").cast("long").alias("total_support"),
            )
            .crossJoin(regs)
            .write.mode("overwrite")
            .parquet(f"{output_dir}_metrics/ingest_batch={batch_id}")
        )

    writer = (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_triples(
    spark: SparkSession, triple_log_dir: str, canonicalize: bool = False
) -> DataFrame:
    """Fold the append-only triple log with the batch merge fold
    (pipeline.merge_triples): sum support per (subj, pred, obj), keep the
    lexicographically-first lineage hash — identical semantics to the
    batch pipeline's dedup_triples.

    canonicalize=True additionally emits the synonym-of edges a full
    batch recompute would — canonicalization is deferred to compaction
    because components can merge as new micro-batches arrive
    (canonicalize-on-read).

    The log is hive-layout (`ingest_batch=<id>` partition dirs, one per
    micro-batch — see start_triple_stream); partition discovery adds the
    batch id as a column, and the fold aggregates it away."""
    from ..pipeline import merge_triples

    return merge_triples([spark.read.parquet(triple_log_dir)], canonicalize=canonicalize)
