"""Structured Streaming parity: the streaming pipeline over a corpus
directory produces exactly the batch pipeline's spans."""

from __future__ import annotations

from indonesian_id_ocr_service_spark.corpus.generator import doc_rows
from indonesian_id_ocr_service_spark.pipeline import run_pipeline
from indonesian_id_ocr_service_spark.streaming.pipeline import (
    start_extraction_stream,
)

from indonesian_id_ocr_service_spark.corpus.generator import (
    SPAN_SCHEMA_DDL as SCHEMA,
)


def test_stream_batch_parity(spark, tmp_path):
    rows = list(doc_rows(40, fractions=(0.7, 0.2, 0.1)))
    df = spark.createDataFrame(rows, SCHEMA)
    src = str(tmp_path / "src")
    df.repartition(4).write.parquet(src)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = start_extraction_stream(spark, src, out, ckpt)
    q.awaitTermination(600)

    batch = {
        r["doc_id"]: [tuple(s) for s in
                      sorted(r["out_spans"], key=lambda s: s["order"])]
        for r in run_pipeline(spark.read.parquet(src)).collect()
    }
    streamed = {
        r["doc_id"]: [tuple(s) for s in
                      sorted(r["out_spans"], key=lambda s: s["order"])]
        for r in spark.read.parquet(out).collect()
    }
    assert streamed == batch


def test_stateful_session_assembly(spark, tmp_path):
    """applyInPandasWithState: spans streamed across micro-batches are
    assembled per doc when the event-time watermark passes its session
    gap — late-but-in-gap spans land in the same document."""
    import datetime as dt

    from indonesian_id_ocr_service_spark.streaming.stateful import (
        SPAN_EVENT_DDL,
        assemble_span_sessions,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ev(doc, kind, text, media, off, secs):
        return (doc, kind, text, media, off,
                t0 + dt.timedelta(seconds=secs))

    src = str(tmp_path / "events")
    # batch 1: doc A's spans (out of order) + first span of doc B
    spark.createDataFrame([
        ev("A", "text", "NIK : 123", "", 1, 0),
        ev("A", "text", "KARTU TANDA PENDUDUK", "", 0, 1),
        ev("A", "media", "", "media://A/photo/2", 2, 2),
        ev("B", "text", "hello", "", 0, 3),
    ], SPAN_EVENT_DDL).coalesce(1).write.mode("append").parquet(src)
    # batch 2: far-future events → watermark passes A's and B's gap
    spark.createDataFrame([
        ev("C", "text", "future", "", 0, 3600),
    ], SPAN_EVENT_DDL).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(SPAN_EVENT_DDL)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = assemble_span_sessions(stream, gap="10 seconds",
                                 watermark="1 second")
    q = (out.writeStream.format("memory").queryName("sessions")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    rows = {r["doc_id"]: r for r in
            spark.sql("SELECT * FROM sessions").collect()}
    assert "A" in rows, rows
    a = rows["A"]
    assert a["n_spans"] == 3 and a["n_text"] == 2 and a["n_media"] == 1
    # offsets ordered: header first despite arriving second
    assert a["joined_text"] == "KARTU TANDA PENDUDUK NIK : 123"
    assert "B" in rows and rows["B"]["joined_text"] == "hello"
    assert "C" not in rows      # still open — watermark never passed it


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark on the
    batch fingerprint) keeps exactly one doc per distinct normalized
    text across micro-batches when every duplicate arrives within the
    watermark horizon — agreeing with the batch dedup's distinct
    count. (With a shorter watermark, state for old fingerprints is
    evicted and far-apart copies may legitimately re-emit; see
    test_streaming_dedup_evicts_state.)"""
    import pyspark.sql.functions as F

    from indonesian_id_ocr_service_spark.streaming.pipeline import (
        streaming_dedup,
    )

    rows = []
    for i in range(30):
        # 10 distinct texts, each arriving 3x across separate files
        rows.append((i, f"shared text number {i % 10} with words",
                     "2026-01-01 10:%02d:00" % (i % 30)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, ts string"
    ).withColumn("ingest_time", F.col("ts").cast("timestamp")).drop("ts")
    src = str(tmp_path / "dsrc")
    # 3 files → multiple micro-batches with maxFilesPerTrigger=1
    df.repartition(3).write.parquet(src)

    stream = (
        spark.readStream
        .schema("doc_id long, text string, ingest_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "dout")
    q = (
        # arrivals span 30 min of event time; 45-min watermark keeps
        # every duplicate inside the dedup horizon → exact batch parity
        streaming_dedup(stream, watermark="45 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    got = spark.read.parquet(out).collect()
    # exactly one survivor per distinct fingerprint, even across
    # micro-batch boundaries (state carries between triggers)
    assert len(got) == 10
    assert len({r.fingerprint for r in got}) == 10
    texts = sorted({r.text for r in got})
    assert texts == sorted(f"shared text number {k} with words"
                           for k in range(10))


def test_streaming_dedup_evicts_state(spark, tmp_path):
    """The recall-for-state tradeoff: with a watermark shorter than
    the duplicate spacing, dropDuplicatesWithinWatermark EVICTS old
    fingerprints, so far-apart copies can re-emit. Every distinct
    text still appears (no false drops); some beyond-horizon
    duplicates survive (proof state is bounded, not accumulated
    forever — the unbounded-state failure dropDuplicates on a
    non-event-time key would have)."""
    import pyspark.sql.functions as F

    from indonesian_id_ocr_service_spark.streaming.pipeline import (
        streaming_dedup,
    )

    rows = []
    for copy in range(3):
        for k in range(10):
            # copies of text k spaced a full hour apart, one file per
            # copy-wave so micro-batches advance the watermark between
            rows.append((copy * 10 + k,
                         f"shared text number {k} with words",
                         "2026-01-01 %02d:00:00" % (10 + copy)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, ts string"
    ).withColumn("ingest_time", F.col("ts").cast("timestamp")).drop("ts")
    src = str(tmp_path / "esrc")
    df.repartition(3, "doc_id").write.parquet(src)

    stream = (
        spark.readStream
        .schema("doc_id long, text string, ingest_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "eout")
    q = (
        streaming_dedup(stream, watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "eckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    got = spark.read.parquet(out).collect()
    # no false drops: all 10 distinct texts present
    assert len({r.text for r in got}) == 10
    # state bounded: at least one within-horizon dedup happened, and
    # nothing beyond the input count survived
    assert 10 <= len(got) <= 30


def test_streaming_exactly_once_commit_log(spark, tmp_path):
    """Streaming extraction through the commit-log contract
    (StreamingExtractionRun): one commit directory and one lineage line
    per batch, survivors identical to the batch pipeline, replays
    idempotent, crashed partials purged, checkpoint restart a no-op."""
    from indonesian_id_ocr_service_spark.corpus.generator import corpus_df
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline
    from indonesian_id_ocr_service_spark.sinks.lineage import (
        StreamingExtractionRun,
    )
    from indonesian_id_ocr_service_spark.streaming.pipeline import (
        start_extraction_stream_committed,
    )

    src = str(tmp_path / "scorpus")
    corpus = corpus_df(spark, 40).cache()
    corpus.repartition(3).write.parquet(src)

    run = StreamingExtractionRun(str(tmp_path / "srun"), "s1")
    ckpt = str(tmp_path / "sckpt")
    q = start_extraction_stream_committed(spark, src, run, ckpt,
                                          max_files_per_trigger=1)
    q.awaitTermination(600)

    import json
    import os

    def commit_dirs():
        return sorted(os.listdir(run.results_dir))

    def lines():
        with open(run.lineage_path) as f:
            return [json.loads(ln) for ln in f]

    # one commit directory and one lineage line per batch, naming it
    recs = lines()
    assert len(recs) >= 2                # 3 files, 1 file per trigger
    assert sorted(r["commit"] for r in recs) == commit_dirs()
    assert all(len(r["buckets"]) == 1 for r in recs)
    committed = {b for r in recs for b in r["buckets"]}
    assert len(committed) == len(recs)
    assert set(run.committed_buckets()) == committed

    def spans_by_doc(df):
        return {r["doc_id"]: [tuple(s) for s in r["out_spans"]]
                for r in df.collect()}

    results = spark.read.parquet(run.results_dir)
    got = spans_by_doc(results)
    want = spans_by_doc(run_pipeline(corpus))
    assert got == want                   # batch/stream span equality
    # each batch's rows carry its batch id as the commit unit
    by_commit = {r["commit"]: b for r in recs for b in r["buckets"]}
    assert {("commit=" + r["commit"], r["bucket"])
            for r in results.select("commit", "bucket").distinct()
            .collect()} == set(by_commit.items())
    # each line's row total is what its commit directory holds
    assert {"commit=" + r["commit"]: r["count"]
            for r in results.groupBy("commit").count().collect()} == {
                r["commit"]: r["rows"] for r in recs}
    assert sum(r["rows"] for r in recs) == 40

    # replay of a committed batch id is skipped (foreachBatch redelivery)
    replay_id = min(committed)
    stats = run.process_stream_batch(corpus.limit(5), replay_id,
                                     run_pipeline)
    assert stats["skipped"] is True
    assert spans_by_doc(spark.read.parquet(run.results_dir)) == want

    # crashed write (partials, no lineage line) → the replay purges it
    crash_dir = os.path.join(run.results_dir, "commit=cdead")
    os.makedirs(crash_dir, exist_ok=True)
    with open(os.path.join(crash_dir, "junk.parquet"), "w") as f:
        f.write("partial")
    extra = corpus.limit(3)
    stats = run.process_stream_batch(extra, 99, run_pipeline)
    assert stats["skipped"] is False and stats["rows"] == 3
    assert "commit=cdead" not in commit_dirs()
    stats = run.process_stream_batch(extra, 99, run_pipeline)
    assert stats["skipped"] is True      # now committed
    assert sorted(r["commit"] for r in lines()) == commit_dirs()
    assert spark.read.parquet(run.results_dir).filter(
        "bucket = 99").count() == 3

    # checkpoint restart: no files left to process, outputs unchanged
    n_before = spark.read.parquet(run.results_dir).count()
    q2 = start_extraction_stream_committed(spark, src, run, ckpt,
                                           max_files_per_trigger=1)
    q2.awaitTermination(600)
    assert spark.read.parquet(run.results_dir).count() == n_before
