"""spark-submit entrypoint for the full KG-construction pipeline.

Cluster usage (the north-rule deployment shape):

    cd /root/repo && zip -r /tmp/palladian_spark.zip palladian_spark
    spark-submit --py-files /tmp/palladian_spark.zip \\
        tools/run_pipeline.py \\
        --input  <parquet dir OR table:catalog.db.tbl (Iceberg):
                  (repo,path,commit,lang,content)> \\
        --output <triple table path> \\
        --checkpoint-dir <stage store path> \\
        [--model-dir <trained NerModel parquet dir>]

Local smoke (same code, local master):

    python tools/run_pipeline.py --input /root/testdata/sf0.001 \\
        --output /tmp/kg_out --checkpoint-dir /tmp/kg_ckpt

Behavior:
- Stages checkpoint through StageStore (mentions / canonical / triples):
  on restart, stages whose manifest validates are skipped — resumable.
- Per-row lineage: sha256(content) attached at ingest and carried to the
  triples; verify_lineage() anti-joins triples back against the source and
  the job fails loudly on any violation.
- Sink: parquet partitioned by repo_hash (triples.write_triples),
  range-partitioned on (repo_hash, salt): each writer task owns a
  contiguous run of buckets, so the sink holds about (non-empty buckets +
  tasks) files, while a mega-repo's salt values still spread over several
  tasks. The range bounds cost one sampling job over the StageStore
  re-read of the triples.
- Metrics: each stage writes a one-file `<stage>_metrics` parquet
  (per-partition row counts, lineage non-null counts and sums, and HLL
  registers of the lineage hash) plus a manifest JSON (row count, schema,
  lineage hash, distinct-lineage estimate, config fingerprint).
- Summary: one JSON line with the triple count, throughput, lineage
  violations, the sink's part files and bytes (`sink_files`,
  `sink_bytes`) and the row count of every stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="source table dir (parquet)")
    ap.add_argument("--output", required=True, help="triple sink dir")
    ap.add_argument("--checkpoint-dir", required=True, help="stage store dir")
    ap.add_argument("--model-dir", default=None, help="trained NerModel dir")
    ap.add_argument("--no-canonicalize", action="store_true")
    ap.add_argument(
        "--code-entities",
        action="store_true",
        help="also extract source-code entity triples (imports/defines/"
        "calls/depends-on) from rows whose lang is a code language",
    )
    args = ap.parse_args()

    from palladian_spark.operators.triples import sink_size, write_triples
    from palladian_spark.pipeline import (
        documents_as_source,
        extract_triples,
        verify_lineage,
    )
    from palladian_spark.sources.checkpoint import StageStore
    from palladian_spark.sources.session import get_spark

    spark = get_spark("palladian-kg-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    # input: a source_files-shaped parquet dir, or a testdata dir holding
    # documents.parquet (adapted to the source shape, with the same
    # marker-word capitalization the driver entry uses so the lowercase
    # synthetic corpus carries entity candidates)
    docs_path = os.path.join(args.input, "documents.parquet")
    if os.path.exists(docs_path):
        import __spark_entry__ as entrymod

        docs = entrymod._capitalized_corpus(spark.read.parquet(docs_path))
        source = documents_as_source(docs)
    else:
        from palladian_spark.sources.reader import read_source_table

        # 'table:catalog.db.tbl' reads the Iceberg/catalog table on a
        # real cluster; a plain path reads a source_files-shaped parquet
        source = read_source_table(spark, args.input)

    model = None
    if args.model_dir:
        from palladian_spark.operators.ner_pipeline import load_model

        model = load_model(spark, args.model_dir)

    # fingerprint every flag that changes stage semantics: a checkpoint
    # built under different flags is rebuilt, never silently reused
    store = StageStore(
        spark,
        args.checkpoint_dir,
        config={
            "model_dir": args.model_dir,
            "canonicalize": not args.no_canonicalize,
            "code_entities": bool(args.code_entities),
        },
    )
    t0 = time.perf_counter()
    triples = extract_triples(
        source,
        model=model,
        canonicalize=not args.no_canonicalize,
        store=store,
        code=args.code_entities,
    )
    write_triples(triples, args.output)
    written = spark.read.schema(
        "subj string, pred string, obj string, content_sha256 string, "
        "support bigint, repo_hash int, salt int"
    ).parquet(args.output)
    n_triples = written.count()
    secs = time.perf_counter() - t0

    violations = verify_lineage(source, written)
    sink_files, sink_bytes = sink_size(spark, args.output)
    summary = {
        "triples": n_triples,
        "sink_files": sink_files,
        "sink_bytes": sink_bytes,
        "secs": round(secs, 2),
        "triples_per_sec": round(n_triples / secs, 1),
        "lineage_violations": violations,
        "stages": {
            s: store.manifest(s)["rows"]
            for s in ("mentions", "canonical", "triples", "code_triples")
            if store.is_complete(s)
        },
    }
    print(json.dumps(summary))
    if violations:
        raise SystemExit(f"lineage check failed: {violations} violations")
    spark.stop()


if __name__ == "__main__":
    main()
