"""Streaming extraction: the batch pipeline lifted onto Structured
Streaming.

The extraction path is stateless per document (no joins/aggregations),
so the exact same transformation graph runs under ``readStream`` —
micro-batches of newly arrived corpus files flow through classify →
extract → normalize → assemble and append to the results sink. This is
the Spark-first replacement for the reference's request-at-a-time HTTP
loop (app.py:35-51): arrival-driven processing with checkpointed
exactly-once sinks instead of a web server.

``start_extraction_stream_committed`` commits each micro-batch through
the lineage commit log (sinks/lineage.py), and ``streaming_dedup`` drops
repeated content under a watermark that bounds its state. The stateful
span-session assembler is in ``streaming/stateful.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus.generator import SPAN_SCHEMA_DDL
from ..pipeline import run_pipeline


def read_span_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    """File-arrival stream over a span-corpus directory."""
    return (
        spark.readStream.schema(SPAN_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def start_extraction_stream(spark: SparkSession, src_path: str,
                            out_path: str, checkpoint: str,
                            available_now: bool = True):
    """Stream corpus files through the full pipeline into a parquet
    append sink. ``available_now`` drains what exists and stops —
    the batch-parity mode used in tests; in production use a
    processingTime trigger."""
    stream = read_span_stream(spark, src_path)
    out = run_pipeline(stream)
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup(docs: DataFrame,
                    event_time_col: str = "ingest_time",
                    watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each content
    fingerprint, drop later copies. The same 16-byte md5-of-normalized-
    text fingerprint as the batch `dedup.exact` path, so batch and
    stream agree on what is a duplicate; `dropDuplicatesWithinWatermark`
    keys the streaming state on the fingerprint and the watermark
    EVICTS state (a fingerprint whose last arrival is older than the
    watermark is dropped from the store — at 10^12-doc scale unbounded
    dedup state is the failure mode, and the watermark is the knob
    that trades recall for state size). Plain ``dropDuplicates`` on a
    key excluding the event-time column would never evict: identical
    results, unbounded state — the exact failure this prevents."""
    from ..functions.text_analysis import normalize_text

    fp = docs.withColumn("fingerprint",
                         F.md5(normalize_text(F.col("text"))))
    return (
        fp.withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def start_extraction_stream_committed(spark: SparkSession, src_path: str,
                                      run, checkpoint: str,
                                      metrics_fn=None,
                                      log_month: str | None = None,
                                      available_now: bool = True,
                                      max_files_per_trigger: int = 8):
    """Streaming extraction through the commit-log contract
    (sinks.lineage.StreamingExtractionRun): each micro-batch commits
    results (+ optional metrics) exactly once via the lineage log, so
    the stream inherits the batch path's resume semantics instead of
    relying on sink checkpointing alone."""
    stream = read_span_stream(spark, src_path,
                              max_files_per_trigger=max_files_per_trigger)
    writer = (
        stream.writeStream
        .foreachBatch(run.foreach_batch(run_pipeline, metrics_fn,
                                        log_month=log_month))
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
