"""Triple materialization: (subj, pred, obj) edges from tagged mentions,
with sha256 row lineage, dedup, and salted repo-hash partitioned writes.

Generalizes the reference's WordDB triple store (semantics/WordDB.java,
WiktionaryParser.java:192-257): predicates `instance-of` (NER label),
`mentioned-in` (entity -> repo/path), `co-occurs-with` (sentence/document
co-occurrence, CoOccurrenceRetriever.java:27-110), `synonym-of`
(canonicalization components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .util import member_pairs

N_SALT = 64  # salt fan-out for mega-repo skew (north rule requirement)
# co-occurrence cap per document: a quadratic-blowup guard (see
# co_occurrence_triples); the kg_triples oracle applies the same cap
MAX_PER_DOC = 100


def with_lineage(df: DataFrame) -> DataFrame:
    """Attach the per-row invariant sha256(content) at ingest
    (BASELINE.json input hint). Built-in F.sha2 — stays in codegen."""
    return df.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def instance_of_triples(mentions: DataFrame) -> DataFrame:
    """(entity value, 'instance-of', tag) from tagged mentions."""
    return mentions.select(
        F.col("value").alias("subj"),
        F.lit("instance-of").alias("pred"),
        F.col("tag").alias("obj"),
        "content_sha256",
    )


def mentioned_in_triples(mentions: DataFrame) -> DataFrame:
    """(entity value, 'mentioned-in', repo/path) provenance edges."""
    return mentions.select(
        F.col("value").alias("subj"),
        F.lit("mentioned-in").alias("pred"),
        F.col("doc_ref").alias("obj"),
        "content_sha256",
    )


def co_occurrence_triples(mentions: DataFrame) -> DataFrame:
    """(a, 'co-occurs-with', b) for entity pairs in the same document.

    Spark mapping of CoOccurrenceRetriever (DOCUMENT scope; SENTENCE and
    200-char-window scopes live in operators/cooccurrence.py): the
    distinct values of each document, paired a < b by util.member_pairs;
    a doc_ref names one content, so its lineage hash rides in the key.
    MAX_PER_DOC caps pathological documents — a quadratic-blowup guard,
    NOT a silent semantic choice: docs whose distinct-mention count
    exceeds the cap keep only their first MAX_PER_DOC values in value
    order, so raise the cap (or pre-filter boilerplate mentions) when a
    corpus legitimately has denser documents.
    """
    w = Window.partitionBy("doc_ref").orderBy("value")
    capped = mentions.withColumn("_rk", F.dense_rank().over(w)).where(
        F.col("_rk") <= MAX_PER_DOC
    )
    return member_pairs(capped, ["doc_ref", "content_sha256"], "value").select(
        F.col("a").alias("subj"),
        F.lit("co-occurs-with").alias("pred"),
        F.col("b").alias("obj"),
        "content_sha256",
    )


def mention_triples(mentions: DataFrame, typed: bool = False) -> DataFrame:
    """The mention edge families of one mention table: mentioned-in and
    co-occurs-with, plus instance-of when the mentions carry NER tags
    (``typed``). Batch and streaming pipelines both assemble through this."""
    out = mentioned_in_triples(mentions).unionByName(co_occurrence_triples(mentions))
    return out.unionByName(instance_of_triples(mentions)) if typed else out


def synonym_triples(canonical_map: DataFrame) -> DataFrame:
    """(alias, 'synonym-of', canonical) from canonicalization output."""
    return (
        canonical_map.where(F.col("value") != F.col("canonical"))
        .select(
            F.col("value").alias("subj"),
            F.lit("synonym-of").alias("pred"),
            F.col("canonical").alias("obj"),
            F.lit(None).cast("string").alias("content_sha256"),
        )
    )


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Distinct on (subj, pred, obj); keeps one lineage hash per edge."""
    return triples.groupBy("subj", "pred", "obj").agg(
        F.min("content_sha256").alias("content_sha256"),
        F.count("*").alias("support"),
    )


def with_partition_keys(triples: DataFrame) -> DataFrame:
    """repo_hash bucket + salt column for skew-safe partitioned writes.

    The salt spreads a mega-repo's rows over up to N_SALT writer tasks;
    readers prune on repo_hash alone (salt is physical only) — the
    explicit skew handling the north rule asks for beyond AQE.
    write_triples range-partitions on (repo_hash, salt): a writer task
    owns a contiguous run of buckets, and a bucket heavier than one
    task's share splits between tasks at salt boundaries.
    """
    return triples.withColumn(
        "repo_hash", F.pmod(F.xxhash64(F.col("subj")), F.lit(256)).cast("int")
    ).withColumn(
        "salt", F.pmod(F.xxhash64(F.col("subj"), F.col("obj")), F.lit(N_SALT)).cast("int")
    )


def sink_size(spark: SparkSession, path: str) -> tuple[int, int]:
    """(part files, bytes) of a written sink, listed through the path's
    Hadoop FileSystem (local, HDFS or S3A alike)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files = size = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().startswith("part-"):
            files += 1
            size += status.getLen()
    return files, size


def write_triples(triples: DataFrame, path: str) -> None:
    """Partitioned parquet sink (Iceberg writeTo on a real cluster: same
    partitioning spec — repo_hash buckets, salt for write parallelism).

    Range-partitioned on (repo_hash, salt), not hash-partitioned: each
    writer task owns a contiguous key range, so the sink holds about
    (non-empty buckets + tasks) files instead of one per task and bucket,
    while a mega-repo's salt values still spread over several tasks.
    The range bounds come from one extra sampling job over `triples`,
    so pass a cheap-to-rescan input — every pipeline caller hands in a
    StageStore re-read."""
    (
        with_partition_keys(triples)
        .repartitionByRange("repo_hash", "salt")
        .write.mode("overwrite")
        .partitionBy("repo_hash")
        .parquet(path)
    )
