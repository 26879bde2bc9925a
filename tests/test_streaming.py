"""Structured-Streaming KG pipeline: incremental triples must equal the
batch pipeline's stateless stages over the same documents, and the
append-log + compaction must be incremental-safe (two drops of files ==
one batch over their union)."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def doc_rows():
    return [
        (1, "the Spark engine does a fast join on the Table", "en", "s1"),
        (2, "a slow join and a filter over the row stream", "en", "s1"),
        (3, "vector scan and merge sort in the column store", "en", "s2"),
        (4, "completely unrelated text without any marker", "en", "s2"),
    ]


def _write_docs(spark, rows, path):
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source"]
    ).coalesce(1).write.mode("append").parquet(path)


def test_stream_matches_batch(spark, tmp_path, doc_rows):
    from palladian_spark.streaming.pipeline import (
        compact_triples,
        start_triple_stream,
        stream_triples,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # two separate file drops -> two micro-batches under availableNow
    _write_docs(spark, doc_rows[:2], in_dir)
    _write_docs(spark, doc_rows[2:], in_dir)

    q = start_triple_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    batch_docs = spark.createDataFrame(
        doc_rows, ["doc_id", "text", "lang", "source"]
    )
    want = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in stream_triples(batch_docs)
        .groupBy("subj", "pred", "obj")
        .agg(F.sum("support").alias("support"))
        .collect()
    }
    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in compact_triples(spark, out_dir)
        .select("subj", "pred", "obj", "support")
        .collect()
    }
    assert got == want
    assert len(got) > 0

    # restart with the same checkpoint: no new files -> no duplicate output
    q2 = start_triple_stream(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    again = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in compact_triples(spark, out_dir)
        .select("subj", "pred", "obj", "support")
        .collect()
    }
    assert again == got


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: after draining time-ordered
    file drops, the last emitted running total per user equals the batch
    events_sessionize aggregate over the union."""
    from pyspark.sql.window import Window

    from palladian_spark.streaming.sessions import (
        SESSION_OUTPUT_SCHEMA,
        sessionize_stream,
    )

    GAP_US = 1800 * 1_000_000
    rows = []
    # user 1: three events, one gap -> 2 sessions; user 2: one session
    rows_batch1 = [(1, 10, 0), (1, 11, 60_000_000), (2, 20, 0)]
    rows_batch2 = [(1, 12, 60_000_000 + GAP_US + 1), (2, 21, 120_000_000)]

    in_dir = str(tmp_path / "ev_in")
    schema = "user_id long, event_id long, us long"
    spark.createDataFrame(rows_batch1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(rows_batch2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # last emitted running total per user
    out = spark.sql(
        "select user_id, n_sessions, n_events from sess"
    ).toPandas()
    final = {}
    for _, r in out.iterrows():
        final[int(r["user_id"])] = (int(r["n_sessions"]), int(r["n_events"]))
    # batch reference: same gap logic over the full event set
    all_rows = rows_batch1 + rows_batch2
    ev = spark.createDataFrame(all_rows, schema)
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    batch = (
        ev.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > GAP_US), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
        .collect()
    )
    want = {int(r["user_id"]): (int(r["n_sessions"]), int(r["n_events"])) for r in batch}
    assert final == want
    assert final[1] == (2, 3)


def test_compact_with_canonicalize_adds_synonym_edges(spark, tmp_path):
    """canonicalize=True compaction runs the batch merge fold over the
    log: base triples keep their summed supports and synonym-of edges
    appear for values that merge under JW >= 0.9 — deferred
    canonicalization, since components can merge as micro-batches land."""
    from palladian_spark.streaming.pipeline import compact_triples

    log_dir = str(tmp_path / "log")
    rows = [
        # two micro-batch appends of the same edge: supports must sum
        ("Spark Engine", "mentioned-in", "r/a.txt", "sha-a", 2),
        ("Spark Engine", "mentioned-in", "r/a.txt", "sha-a", 1),
        # near-duplicate surface form in another doc: JW >= 0.9
        ("Spark Engines", "mentioned-in", "r/b.txt", "sha-b", 1),
        ("Spark Engine", "co-occurs-with", "Spark Engines", "sha-a", 1),
    ]
    spark.createDataFrame(
        rows, "subj string, pred string, obj string, "
        "content_sha256 string, support long"
    ).write.parquet(log_dir)

    out = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in compact_triples(spark, log_dir, canonicalize=True).collect()
    }
    # summed base edge, untouched near-dup edge, plus the synonym edge
    # (canonical = most frequent form, 3 mentions vs 1)
    assert ("Spark Engine", "mentioned-in", "r/a.txt", 3) in out
    assert ("Spark Engines", "mentioned-in", "r/b.txt", 1) in out
    assert ("Spark Engines", "synonym-of", "Spark Engine", 1) in out
    # plain compaction emits no synonym rows
    plain = {
        r["pred"] for r in compact_triples(spark, log_dir).collect()
    }
    assert "synonym-of" not in plain


def test_sessionize_out_of_order_and_bridging(spark, tmp_path):
    """Cross-batch OUT-OF-ORDER arrival: interval-merge state keeps the
    stream equal to the batch aggregate. Covers both failure modes of a
    last-event-only state: a late event spuriously opening an extra
    session for the next on-time event (user 1), and a late event
    BRIDGING two previously-separate sessions so the running count
    decreases (user 2)."""
    from pyspark.sql.window import Window

    from palladian_spark.streaming.sessions import sessionize_stream

    GAP_US = 1800 * 1_000_000
    S = 1_000_000  # one second in micros
    # user 1: arrival order 0, 3600s, then LATE 10s, then 3700s
    #   batch truth over {0,10,3600,3700}s = 2 sessions
    # user 2: arrival order 0, 3000s, then LATE 1500s which bridges them
    #   batch truth over {0,1500,3000}s = 1 session (count shrinks 2 -> 1)
    drops = [
        [(1, 10, 0), (2, 20, 0)],
        [(1, 11, 3600 * S), (2, 21, 3000 * S)],
        [(1, 12, 10 * S), (2, 22, 1500 * S)],
        [(1, 13, 3700 * S)],
    ]
    in_dir = str(tmp_path / "ooo_in")
    schema = "user_id long, event_id long, us long"
    for rows in drops:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_ooo")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.sql("select user_id, n_sessions, n_events from sess_ooo").toPandas()
    final = {}
    for _, r in out.iterrows():
        final[int(r["user_id"])] = (int(r["n_sessions"]), int(r["n_events"]))

    all_rows = [r for batch in drops for r in batch]
    ev = spark.createDataFrame(all_rows, schema)
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    batch = (
        ev.withColumn(
            "new_session", F.when(gap.isNull() | (gap > GAP_US), 1).otherwise(0)
        )
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
        .collect()
    )
    want = {int(r["user_id"]): (int(r["n_sessions"]), int(r["n_events"])) for r in batch}
    assert final == want
    assert final[1] == (2, 4)
    assert final[2] == (1, 3)


def test_merge_intervals_order_independent():
    """The interval fold is exact for any arrival split of the same
    point set: every 2-way split of the events yields the same final
    intervals as one-shot folding."""
    from itertools import combinations

    from palladian_spark.streaming.sessions import _merge_intervals

    gap = 10
    points = [0, 5, 30, 42, 100, 103, 7]
    ref_starts, ref_ends = _merge_intervals([], [], points, gap)
    assert len(ref_starts) == 4  # {0,5,7}, {30}, {42} (gap 12 > 10), {100,103}
    for k in range(len(points) + 1):
        for first in combinations(points, k):
            rest = list(points)
            for p in first:
                rest.remove(p)
            s1, e1 = _merge_intervals([], [], list(first), gap)
            s2, e2 = _merge_intervals(s1, e1, rest, gap)
            assert (s2, e2) == (ref_starts, ref_ends), (first, rest)


def test_triple_log_batch_replay_idempotent(spark, tmp_path, doc_rows):
    """foreachBatch is at-least-once: re-running a committed batch with
    the same batch_id (parquet landed, stream checkpoint did not) must
    not change the compacted log — the sink overwrites its own
    batch-id partition instead of appending."""
    from palladian_spark.streaming.pipeline import (
        compact_triples,
        start_triple_stream,
        stream_triples,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, doc_rows, in_dir)
    q = start_triple_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    before = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in compact_triples(spark, out_dir).collect()
    }
    # simulate the replay: recompute batch 0's triples from the same
    # documents and write them over the same ingest_batch partition,
    # exactly as write_batch would on restart-after-partial-commit
    docs = spark.read.parquet(in_dir)
    stream_triples(docs).write.mode("overwrite").parquet(
        f"{out_dir}/ingest_batch=0"
    )
    after = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in compact_triples(spark, out_dir).collect()
    }
    assert after == before


def test_stage_store_config_fingerprint(spark, tmp_path):
    """A checkpointed stage is reused only under the SAME pipeline
    config; a different fingerprint forces a rebuild instead of silently
    serving stale (semantically wrong) output."""
    from palladian_spark.sources.checkpoint import StageStore

    root = str(tmp_path / "stages")
    df_a = spark.range(3).withColumnRenamed("id", "v")
    df_b = spark.range(7).withColumnRenamed("id", "v")

    store_a = StageStore(spark, root, config={"model_dir": None, "code": False})
    store_a.run("s", lambda: df_a)
    assert store_a.is_complete("s")
    assert store_a.manifest("s")["config"] == {"model_dir": None, "code": False}

    # same config -> resume (build not called)
    assert store_a.run("s", lambda: (_ for _ in ()).throw(AssertionError)).count() == 3

    # different config -> manifest invalid, stage rebuilt
    store_b = StageStore(spark, root, config={"model_dir": "/m", "code": False})
    assert not store_b.is_complete("s")
    assert store_b.run("s", lambda: df_b).count() == 7
    assert store_b.is_complete("s")
    # and the original fingerprint no longer validates
    assert not store_a.is_complete("s")


def test_triple_log_batch_metrics(spark, tmp_path, doc_rows):
    """Each micro-batch writes a one-row metrics partition describing the
    COMMITTED triple partition (rows / distinct lineage hashes / support
    sum) — the streaming twin of StageStore's per-stage metrics table."""
    from palladian_spark.streaming.pipeline import start_triple_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # one mention-bearing doc per drop so BOTH micro-batches emit triples
    _write_docs(
        spark, [(1, "the Spark engine does a fast join on the Table", "en", "s1")], in_dir
    )
    _write_docs(
        spark, [(2, "a slow Join and a Filter over the row Stream", "en", "s1")], in_dir
    )
    q = start_triple_stream(spark, in_dir, out_dir, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)

    log = spark.read.parquet(out_dir)
    metrics = spark.read.parquet(out_dir + "_metrics")
    batches = {r["ingest_batch"] for r in log.select("ingest_batch").distinct().collect()}
    assert len(batches) >= 2  # two drops -> two micro-batches
    got = {r["ingest_batch"]: r for r in metrics.collect()}
    assert set(got) == batches
    for b in batches:
        part = log.where(F.col("ingest_batch") == b)
        assert got[b]["rows"] == part.count()
        assert got[b]["n_docs"] == part.select("content_sha256").distinct().count()
        assert got[b]["total_support"] == part.agg(F.sum("support")).first()[0]

    # cross-batch mergeability: register-wise max over the per-batch HLL
    # maps estimates the log-wide distinct content count without any
    # distinct over the log (tiny corpus -> linear-counting regime, so
    # the estimate is near-exact)
    from palladian_spark.operators.sketches import hll_estimate

    merged: dict = {}
    for r in metrics.collect():
        for j, m in (r["hll_regs"] or {}).items():
            merged[j] = max(merged.get(j, 0), m)
    true = log.select("content_sha256").distinct().count()
    est = hll_estimate(merged, p=6)
    assert abs(est - true) / true <= 0.40, (est, true)
