"""Bucket-grain commit log + extraction-quality metrics sink
(SURVEY §4 item 4 — resumability per the north rule).

The unit of commit is a ``doc_id`` hash bucket. A run processes buckets
independently; each committed bucket appends (a) its result partition
and (b) one lineage row ``(run_id, bucket, status, rows, started_at,
finished_at)``. On restart, the driver anti-joins the bucket list
against committed lineage rows and re-processes only the missing
buckets — exactly-once per bucket via the atomic per-bucket directory
commit (with an Iceberg catalog configured this becomes
``writeTo(...).append()`` and snapshot atomicity; the directory layout
below is the catalog-free equivalent used in this sandbox).

Extraction-quality metrics (fields found per doc, per-field presence,
fuzzy-distance histogram buckets) append to a metrics table partitioned
by run_id — the Spark re-expression of the reference's per-request
prediction log (app.py:56-67).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = ["ExtractionRun", "extraction_metrics"]


def extraction_metrics(fields_df: DataFrame) -> DataFrame:
    """Per-document quality metrics from the flat output-field frame
    (the confidence_scorer.py:165-192 report, re-expressed as columns):
    fields_found, missing-critical flag, weighted completeness (C5
    shape), and a NIK structural bonus (V8)."""
    from ..dictionaries import FIELD_WEIGHTS
    from ..operators.unified_extract import OUT_COLS

    present = [
        F.when(F.col(col).isNotNull(), F.lit(1)).otherwise(F.lit(0))
        for col in OUT_COLS.values()
    ]
    weighted = [
        F.when(F.col(OUT_COLS[name]).isNotNull(),
               F.lit(w)).otherwise(F.lit(0.0))
        for name, w in FIELD_WEIGHTS.items()
    ]
    nik = F.col("nomor")
    prov = F.substring(nik, 1, 2).cast("int")
    day = F.substring(nik, 7, 2).cast("int")
    month = F.substring(nik, 9, 2).cast("int")
    seq = F.substring(nik, 13, 4).cast("int")
    nik16 = nik.isNotNull() & nik.rlike(r"^\d{16}$")
    bonus = (
        F.when((prov >= 11) & (prov <= 94), 0.03).otherwise(-0.05)
        + F.when(((day >= 1) & (day <= 31)) | ((day >= 41) & (day <= 71)),
                 0.02).otherwise(-0.08)
        + F.when((month >= 1) & (month <= 12), 0.02).otherwise(-0.08)
        + F.when(seq > 0, 0.01).otherwise(0.0)
    )
    total_w = sum(FIELD_WEIGHTS.values())
    cols = [
        F.col("doc_id"),
        sum(present[1:], present[0]).alias("fields_found"),
        (F.col("nomor").isNull() | F.col("nama").isNull()
         | F.col("tgl_lahir").isNull()).alias("missing_critical"),
        F.round(sum(weighted[1:], weighted[0]) / total_w, 6).alias(
            "weighted_completeness"),
        F.round(F.when(nik16, bonus).otherwise(F.lit(0.0)), 6).alias(
            "nik_structural_bonus"),
    ]
    # per-field extraction provenance (the reference's trace_info method
    # labels, ktp_extractor.py:344-347 / debug_ktp.py:127-133) when the
    # extractor stage carried it through
    if "field_methods" in fields_df.columns:
        cols.append(F.col("field_methods"))
    # commit-unit tag: when the caller's frame carries the bucket it
    # came from, keep it — write_metrics uses it to make the metrics
    # write idempotent per bucket (overwrite instead of append)
    if "bucket" in fields_df.columns:
        cols.append(F.col("bucket"))
    return fields_df.select(*cols)


def _observed(df: DataFrame, metrics: list, write) -> dict:
    """Run ``write`` on ``df`` with ``metrics`` (aggregate columns)
    observed on the rows it writes; return their values. The counts
    come from the write job itself, not from reading its output back.
    Result-task accumulator updates merge once per partition, so a
    retried or speculative task does not count twice."""
    obs = Observation()
    write(df.observe(obs, *metrics))
    return obs.get


class ExtractionRun:
    """Commit-log driven, resumable extraction over doc_id buckets."""

    def __init__(self, base_dir: str, run_id: str, n_buckets: int = 64):
        self.base = base_dir
        self.run_id = run_id
        self.n_buckets = n_buckets
        self.results_dir = os.path.join(base_dir, "results")
        self.metrics_dir = os.path.join(base_dir, "metrics")
        self.lineage_path = os.path.join(base_dir, "lineage.jsonl")
        os.makedirs(self.results_dir, exist_ok=True)
        os.makedirs(self.metrics_dir, exist_ok=True)

    # -- lineage -----------------------------------------------------
    def committed_buckets(self) -> set[int]:
        done: set[int] = set()
        if os.path.exists(self.lineage_path):
            with open(self.lineage_path) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec["status"] == "committed":
                        done.add(rec["bucket"])
        return done

    def _append_lineage(self, bucket: int, status: str, rows: int,
                        started: float) -> None:
        rec = {
            "run_id": self.run_id,
            "bucket": bucket,
            "status": status,
            "rows": rows,
            "started_at": round(started, 3),
            "finished_at": round(time.time(), 3),
        }
        with open(self.lineage_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    # -- processing ---------------------------------------------------
    def bucket_of(self) -> F.Column:
        """Uniform doc bucket: md5-based (portable, skew-free)."""
        return (
            F.conv(F.substring(F.md5(F.col("doc_id")), 1, 6), 16, 10)
            .cast("long") % self.n_buckets
        ).cast("int")

    def process(self, spark: SparkSession, src: DataFrame,
                pipeline_fn, metrics_fn=None,
                log_month: str | None = None) -> dict:
        """Run pipeline_fn over ALL uncommitted buckets in ONE job,
        skipping committed ones. Returns
        {buckets_run, buckets_skipped, rows}.

        ``metrics_fn``: optional ``output DataFrame → metrics-input
        DataFrame`` hook; when given, per-document extraction-quality
        metrics for the freshly committed buckets land under the
        month/run partition (write_metrics) in the same call — the
        results + lineage + metrics triple the north star requires
        from one resumable run.

        One source scan regardless of how many buckets are pending (a
        per-bucket loop would be O(n_buckets) full scans — wrong for a
        cold run at 100 TB). The write is a partitioned
        dynamic-overwrite: only the pending ``bucket=N`` directories are
        replaced, committed ones are untouched, and per-bucket lineage
        rows are appended only after the job succeeds — a crashed run
        leaves un-logged partials that the next run simply overwrites
        (same exactly-once-per-bucket contract as before). The
        per-bucket row counts the lineage rows record are observed on
        that write (one ``count_if`` per pending bucket), so the commit
        reads nothing back from ``results/``."""
        done = self.committed_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        skipped = self.n_buckets - len(todo)
        if not todo:
            return {"buckets_run": 0, "buckets_skipped": skipped,
                    "rows": 0}
        started = time.time()
        # Drop any stale partials for the pending buckets BEFORE the
        # write: dynamic partition overwrite only replaces directories
        # the job actually writes, so a todo bucket that produces 0
        # output rows would otherwise keep partials left by a crashed
        # (un-logged) earlier run, and readers of results/ (the metrics
        # read-back below among them) would take them for that
        # bucket's rows.
        import shutil

        for b in todo:
            shutil.rmtree(os.path.join(self.results_dir, f"bucket={b}"),
                          ignore_errors=True)
        src_b = src.withColumn("_bucket", self.bucket_of())
        part = src_b.filter(F.col("_bucket").isin(todo)).drop("_bucket")
        # recompute the bucket on the OUTPUT (it carries doc_id) so the
        # pipeline itself stays bucket-agnostic
        out = pipeline_fn(part).withColumn("bucket", self.bucket_of())
        counts = _observed(out, [
            F.count_if(F.col("bucket") == b).alias(str(b)) for b in todo
        ], lambda df: (df.write.mode("overwrite")
                       .option("partitionOverwriteMode", "dynamic")
                       .partitionBy("bucket")
                       .parquet(self.results_dir)))
        # Metrics BEFORE the lineage commit rows, so a crash in between
        # is retried (re-run reprocesses the bucket) instead of lost
        # forever (resume would skip it). Replay cannot duplicate
        # metrics when the frame carries its bucket: write_metrics then
        # partitions on it and dynamically OVERWRITES the same bucket
        # partitions. Metric frames without a bucket column (e.g. a
        # custom metrics_fn that drops it) still append — for those the
        # crash window trades a possible duplicate for the old silent
        # loss.
        if metrics_fn is not None:
            fresh = (spark.read.parquet(self.results_dir)
                     .filter(F.col("bucket").isin(todo)))
            self.write_metrics(metrics_fn(fresh), log_month=log_month)
        total_rows = 0
        for b in todo:
            rows = int(counts[str(b)])
            self._append_lineage(b, "committed", rows, started)
            total_rows += rows
        return {"buckets_run": len(todo), "buckets_skipped": skipped,
                "rows": total_rows}

    # -- metrics ------------------------------------------------------
    def write_metrics(self, fields_df: DataFrame,
                      log_month: str | None = None) -> str:
        """Append per-document extraction-quality metrics under a
        month partition — the reference logs each prediction to
        ``ocr_logs/YYYY-MM/`` (app.py:56-67); here the same layout is
        a ``log_month=YYYY-MM`` parquet partition (plus run_id), so a
        month's metrics prune to one directory scan.

        ``log_month`` defaults to the current UTC month; tests pass it
        explicitly for determinism. Returns the month used.

        A frame carrying the flat output fields (``nomor`` present)
        goes through ``extraction_metrics`` first; any other frame —
        e.g. the salted media-quality branch
        (operators/media_metrics.py) — is written as the metrics rows
        it already is."""
        if log_month is None:
            log_month = time.strftime("%Y-%m", time.gmtime())
        if "nomor" in fields_df.columns:
            fields_df = extraction_metrics(fields_df)
        w = (fields_df
             .withColumn("run_id", F.lit(self.run_id))
             .withColumn("log_month", F.lit(log_month))
             .write)
        if "bucket" in fields_df.columns:
            # idempotent per commit unit: a replayed bucket overwrites
            # its own metrics partition instead of appending duplicates
            (w.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("log_month", "run_id", "bucket")
             .parquet(self.metrics_dir))
        else:
            (w.mode("append")
             .partitionBy("log_month", "run_id")
             .parquet(self.metrics_dir))
        return log_month


class StreamingExtractionRun(ExtractionRun):
    """The bucket commit-log contract lifted onto Structured Streaming
    (VERDICT r4 task #7): the commit unit is the MICRO-BATCH id instead
    of the doc bucket, because a doc bucket is never 'complete' while
    files keep arriving.

    ``foreachBatch`` re-delivers a batch after a crash (its own sink
    commit is not transactional with the checkpoint); idempotency
    comes from the same lineage-log contract — a replayed batch_id
    whose commit row exists is skipped, a replayed batch_id whose
    write died before the commit row overwrites its own ``batch=N``
    directory, and a replayed batch's metrics overwrite their own
    batch partition instead of appending duplicates.

    The stream's commit log, results and metrics live under their own
    ``stream/`` namespace inside the run dir: a stream batch id and a
    batch-mode doc bucket are DIFFERENT keyspaces, and sharing the
    lineage file/results dir let a committed stream batch N silently
    mark doc bucket N done for ``process`` (and mixed ``bucket=N`` /
    ``batch=N`` partition names broke reading the results dir). A
    consumer reads each mode's own results dir; one run dir may serve
    both modes without the logs interfering."""

    def __init__(self, base_dir: str, run_id: str, n_buckets: int = 64):
        super().__init__(base_dir, run_id, n_buckets)
        stream_base = os.path.join(base_dir, "stream")
        self.results_dir = os.path.join(stream_base, "results")
        self.metrics_dir = os.path.join(stream_base, "metrics")
        self.lineage_path = os.path.join(stream_base, "lineage.jsonl")
        os.makedirs(self.results_dir, exist_ok=True)
        os.makedirs(self.metrics_dir, exist_ok=True)

    def process_stream_batch(self, batch_df: DataFrame, batch_id: int,
                             pipeline_fn, metrics_fn=None,
                             log_month: str | None = None) -> dict:
        if batch_id in self.committed_buckets():
            return {"batch_id": batch_id, "skipped": True, "rows": 0}
        started = time.time()
        import shutil

        out_dir = os.path.join(self.results_dir, f"batch={batch_id}")
        shutil.rmtree(out_dir, ignore_errors=True)   # dead replay's partials
        out = pipeline_fn(batch_df)
        rows = int(_observed(
            out, [F.count(F.lit(1)).alias("rows")],
            lambda df: df.write.mode("overwrite").parquet(out_dir))["rows"])
        spark = batch_df.sparkSession
        if metrics_fn is not None:
            # tag with the commit unit so write_metrics overwrites the
            # batch's own partition on replay (exactly-once metrics)
            self.write_metrics(
                metrics_fn(spark.read.parquet(out_dir))
                .withColumn("bucket", F.lit(batch_id)),
                log_month=log_month)
        self._append_lineage(batch_id, "committed", rows, started)
        return {"batch_id": batch_id, "skipped": False, "rows": rows}

    def foreach_batch(self, pipeline_fn, metrics_fn=None,
                      log_month: str | None = None):
        """The callable to hand to ``writeStream.foreachBatch``."""
        def fn(batch_df: DataFrame, batch_id: int) -> None:
            self.process_stream_batch(batch_df, int(batch_id),
                                      pipeline_fn, metrics_fn,
                                      log_month=log_month)
        return fn
