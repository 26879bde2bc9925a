"""Checkpoint-resumable stage store with per-partition lineage + metrics.

Spark has no built-in resumability; each pipeline stage writes its output
parquet plus a `_manifest.json` (row count, schema, content-hash aggregate,
pipeline-config fingerprint) and a one-file `_metrics` parquet
(per-partition row counts, lineage sums and HLL registers). On restart, a
stage whose manifest validates — status complete AND the config
fingerprint matches the current run's — is skipped and its output re-read:
the north rule's "resumable from checkpoint with per-partition lineage +
metrics".

All paths (stage parquet, metrics parquet, manifest JSON) resolve through
the Hadoop FileSystem of the checkpoint root, NOT the driver's local
filesystem: on a cluster whose defaultFS is HDFS/S3A the stage parquet
lands there via Spark, so the manifest must live beside it or resume from
a different driver node would see no manifests at all.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StageStore:
    def __init__(self, spark: SparkSession, root: str, config: dict | None = None):
        """``config``: fingerprint of every flag that changes a stage's
        semantics (model dir, canonicalize, code extraction, ...). A stage
        checkpointed under a different fingerprint is rebuilt, never
        silently reused — resuming a --model-dir run on top of a
        candidate-tagger checkpoint would otherwise emit wrong triples
        that verify_lineage cannot catch (same input ⇒ same hashes)."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.config = config
        fs, jroot = self._fs(self.root)
        fs.mkdirs(jroot)

    # -- Hadoop FS plumbing (path scheme decides the filesystem) --

    def _fs(self, path: str):
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jpath

    def _read_text(self, path: str) -> str | None:
        fs, jpath = self._fs(path)
        if not fs.exists(jpath):
            return None
        stream = fs.open(jpath)
        try:
            return self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def _write_text(self, path: str, text: str) -> None:
        fs, jpath = self._fs(path)
        stream = fs.create(jpath, True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()

    def _exists(self, path: str) -> bool:
        fs, jpath = self._fs(path)
        return fs.exists(jpath)

    # -- stage store API --

    def _paths(self, stage: str) -> tuple[str, str, str]:
        base = f"{self.root}/{stage}"
        return base, base + "_manifest.json", base + "_metrics"

    def is_complete(self, stage: str) -> bool:
        base, manifest_path, _ = self._paths(stage)
        text = self._read_text(manifest_path)
        if text is None:
            return False
        try:
            manifest = json.loads(text)
        except json.JSONDecodeError:
            return False
        if not self._exists(base):
            return False
        if manifest.get("status") != "complete":
            return False
        if self.config is not None and manifest.get("config") != self.config:
            return False
        return True

    def read(self, stage: str) -> DataFrame:
        base, _, _ = self._paths(stage)
        return self.spark.read.parquet(base)

    def write(self, stage: str, df: DataFrame, lineage_col: str | None = None) -> DataFrame:
        """Materialize a stage: parquet + metrics + manifest. Returns the
        re-read DataFrame (a clean lineage cut for the next stage).

        The freshly written output is scanned exactly once: the
        per-partition metrics aggregate also carries the per-partition
        lineage partial sums, and row count / lineage hash fold from the
        collected (partition-count-sized) metrics rows driver-side. The
        re-read takes ``df``'s schema instead of inferring it from the
        files, and the metrics rows are written and collected from one
        lazy cut, so the bookkeeping never reads back what it just wrote:
        4 Spark jobs per stage when ``df`` itself needs no shuffle.
        """
        base, manifest_path, metrics_path = self._paths(stage)
        df.write.mode("overwrite").parquet(base)
        # parquet reads every column back nullable, with or without a
        # given schema: the manifest schema is the files' own
        out = self.spark.read.schema(df.schema).parquet(base)

        has_lineage = bool(lineage_col) and lineage_col in out.columns
        aggs = [F.count("*").alias("rows")]
        if has_lineage:
            # order-insensitive aggregate of per-row content hashes: the
            # cross-stage invariant checked against the source table.
            # Partial per partition; the total folds in Python (arbitrary
            # precision — no decimal overflow at any table size).
            aggs += [
                F.count(lineage_col).alias("lineage_non_null"),
                F.sum(
                    F.conv(F.substring(lineage_col, 1, 15), 16, 10).cast("decimal(38,0)")
                ).alias("lineage_sum"),
                F.max("_rho").alias("max_rho"),
            ]
            # per-partition HLL registers of the content-hash column, in
            # the SAME single scan via grouping sets: the partition-total
            # rows (register null, level=1) carry counts + lineage sums,
            # the (partition, register) rows carry the sketch. Registers
            # max-merge across partitions/stages driver-side into the
            # manifest's approximate distinct-content count — duplicate-
            # content inflation between stages becomes visible without a
            # distinct() over a 10^12-row table.
            from ..operators.sketches import lineage_register_rho

            reg, rho = lineage_register_rho(lineage_col)
            base_df = (
                out.withColumn("_pid", F.spark_partition_id())
                .withColumn("_reg", reg)
                .withColumn("_rho", rho)
            )
            metrics = (
                base_df.groupingSets([["_pid"], ["_pid", "_reg"]], "_pid", "_reg")
                .agg(*aggs, F.grouping("_reg").alias("level"))
                .select(
                    F.col("_pid").alias("partition_id"),
                    F.col("_reg").alias("register"),
                    "rows",
                    "lineage_non_null",
                    "lineage_sum",
                    "max_rho",
                    "level",
                )
            )
        else:
            metrics = out.groupBy(F.spark_partition_id().alias("partition_id")).agg(
                *aggs
            )
        # one-file metrics table, written and collected from one lazy cut:
        # the collect reads the cut's blocks, not the files just written.
        # Not createDataFrame(collected rows): that ships the rows through
        # a Python worker (+30-60 MB peak RSS on perfbench kg_build).
        metrics = metrics.coalesce(1).localCheckpoint(eager=False)
        metrics.write.mode("overwrite").parquet(metrics_path)
        mrows = metrics.collect()

        totals = [r for r in mrows if r["level"] == 1] if has_lineage else mrows
        lineage_hash = None
        distinct_est = None
        if has_lineage:
            terms = [int(r["lineage_sum"]) for r in totals if r["lineage_sum"] is not None]
            lineage_hash = str(sum(terms)) if terms else None
            from ..operators.sketches import hll_estimate

            regs: dict[int, int] = {}
            for r in mrows:
                if r["level"] == 0 and r["register"] is not None and r["max_rho"] is not None:
                    j = int(r["register"])
                    regs[j] = max(regs.get(j, 0), int(r["max_rho"]))
            if regs:
                distinct_est = int(round(hll_estimate(regs, p=6)))
        manifest = {
            "stage": stage,
            "status": "complete",
            "rows": sum(r["rows"] for r in totals),
            "schema": out.schema.jsonValue(),
            "lineage_hash": lineage_hash,
            "distinct_lineage_est": distinct_est,
            "config": self.config,
        }
        self._write_text(manifest_path, json.dumps(manifest, indent=2))
        return out

    def run(self, stage: str, build, lineage_col: str | None = None) -> DataFrame:
        """Run-or-resume: skip `build` entirely when the manifest validates."""
        if self.is_complete(stage):
            return self.read(stage)
        return self.write(stage, build(), lineage_col=lineage_col)

    def manifest(self, stage: str) -> dict:
        _, manifest_path, _ = self._paths(stage)
        text = self._read_text(manifest_path)
        if text is None:
            raise FileNotFoundError(manifest_path)
        return json.loads(text)
