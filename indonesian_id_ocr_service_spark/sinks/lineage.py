"""Bucket-grain commit log + extraction-quality metrics sink
(SURVEY §4 item 4 — resumability per the north rule).

Resume is tracked per ``doc_id`` hash bucket; the unit of commit is the
job. One ``process`` call runs every pending bucket in one job, which
writes its output once, unpartitioned, into ``results/commit=<id>/``
(one parquet file per task, ``bucket`` kept as a data column, ``<id>``
= ``c`` + uuid4 hex so partition discovery reads it as a string), and
then appends, in one write, one lineage row ``(run_id, bucket, status,
rows, commit, started_at, finished_at)`` per bucket it holds, where
``commit`` names that directory. On restart the driver re-processes
only the buckets with no committed lineage row. Exactly-once per
bucket rests on the lineage log being the only source of truth: a
``results/`` entry that no committed row names is a crashed job's
partial and is deleted before the next job. (With an Iceberg catalog
configured a commit becomes one ``writeTo(...).append()`` snapshot;
the directory layout is the catalog-free equivalent used here.)

Extraction-quality metrics (fields found per doc, per-field presence,
fuzzy-distance histogram buckets) append to a metrics table partitioned
by run_id — the Spark re-expression of the reference's per-request
prediction log (app.py:56-67).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

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
    def committed_buckets(self) -> dict[int, str]:
        """Committed bucket → the ``results/`` directory its last
        committed lineage row names. Rows without a ``commit`` field
        (logs older than the one-directory-per-job layout) count as
        not committed, so their buckets run again. So does a line an
        append torn by a crash left behind: one that does not parse,
        or a last line with no trailing newline."""
        done: dict[int, str] = {}
        if os.path.exists(self.lineage_path):
            with open(self.lineage_path) as f:
                for line in f:
                    if not line.endswith("\n"):
                        continue
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        continue
                    if rec["status"] == "committed" and "commit" in rec:
                        done[rec["bucket"]] = rec["commit"]
        return done

    def _log_commit(self, commit: str, rows: dict[int, int],
                    started: float) -> None:
        """Append one committed lineage row per bucket of ``rows``
        (bucket → row count), each naming the directory ``commit``,
        in a single write. If a torn append left the log without a
        trailing newline, the write starts on a fresh line, so the
        fragment stays a line of its own that ``committed_buckets``
        skips."""
        finished = round(time.time(), 3)
        lines = "".join(json.dumps({
            "run_id": self.run_id,
            "bucket": b,
            "status": "committed",
            "rows": n,
            "commit": commit,
            "started_at": round(started, 3),
            "finished_at": finished,
        }) + "\n" for b, n in rows.items())
        with open(self.lineage_path, "ab+") as f:
            if f.tell():
                f.seek(-1, os.SEEK_END)
                if f.read(1) != b"\n":
                    lines = "\n" + lines
            f.write(lines.encode())

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
        metrics for the freshly run buckets land under the month/run
        partition (write_metrics) in the same call — the results +
        lineage + metrics triple the north star requires from one
        resumable run. It reads the new commit directory only.

        One source scan regardless of how many buckets are pending (a
        per-bucket loop would be O(n_buckets) full scans — wrong for a
        cold run at 100 TB). The job is the commit unit:

        - **Layout.** The output is written once, without
          ``partitionBy``, into a fresh ``results/commit=<id>/``: one
          parquet file per task with ``bucket`` as a data column, not
          one file per task per bucket.
        - **Purge.** First, every ``results/`` entry that no committed
          lineage row names is deleted: a job that crashed before its
          lineage append, or partials of any older layout.
        - **Carry.** Pending buckets next to committed directories
          (a lineage append torn by a crash, which may leave half a
          line that then counts as not committed; a lost line) would
          otherwise leave a pending bucket's old rows beside its re-run
          ones. So the new commit also takes, from each of those
          directories, the rows of the buckets whose lineage rows name
          it (never a pending bucket's, never a bucket a later commit
          took over), re-points those lineage rows to itself, and
          deletes the old directories once logged.
          Only the pending buckets run the pipeline again; every doc
          stays in ``results/`` exactly once. The pipeline cost of a
          recovery is the pending buckets', but its write cost is
          O(total committed output): after the first job one directory
          holds every bucket, so one lost line makes the next job read
          and rewrite all of it (the bucketed layout rewrote one
          bucket's partition).
        - **Counts and log.** The per-bucket row counts the lineage
          rows record are observed on the write (one ``count_if`` per
          logged bucket), so the commit reads nothing back; the job's
          lineage rows are appended in one write after it succeeds."""
        done = self.committed_buckets()
        live = set(done.values())
        for name in os.listdir(self.results_dir):
            if name not in live:
                path = os.path.join(self.results_dir, name)
                if os.path.isdir(path):
                    shutil.rmtree(path)
                else:
                    os.remove(path)
        todo = [b for b in range(self.n_buckets) if b not in done]
        skipped = self.n_buckets - len(todo)
        if not todo:
            return {"buckets_run": 0, "buckets_skipped": skipped,
                    "rows": 0}
        started = time.time()
        commit = f"commit=c{uuid.uuid4().hex}"
        commit_dir = os.path.join(self.results_dir, commit)
        src_b = src.withColumn("_bucket", self.bucket_of())
        part = src_b.filter(F.col("_bucket").isin(todo)).drop("_bucket")
        # recompute the bucket on the OUTPUT (it carries doc_id) so the
        # pipeline itself stays bucket-agnostic
        out = pipeline_fn(part).withColumn("bucket", self.bucket_of())
        for d in sorted(live):
            own = [b for b, c in done.items() if c == d]
            out = out.unionByName(
                spark.read.parquet(os.path.join(self.results_dir, d))
                .filter(F.col("bucket").isin(own)))
        logged = sorted(set(todo) | set(done))
        counts = _observed(out, [
            F.count_if(F.col("bucket") == b).alias(str(b)) for b in logged
        ], lambda df: df.write.parquet(commit_dir))
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
            fresh = (spark.read.parquet(commit_dir)
                     .filter(F.col("bucket").isin(todo)))
            self.write_metrics(metrics_fn(fresh), log_month=log_month)
        rows = {b: int(counts[str(b)]) for b in logged}
        self._log_commit(commit, rows, started)
        for d in live:
            shutil.rmtree(os.path.join(self.results_dir, d))
        return {"buckets_run": len(todo), "buckets_skipped": skipped,
                "rows": sum(rows[b] for b in todo)}

    # -- metrics ------------------------------------------------------
    def write_metrics(self, fields_df: DataFrame,
                      log_month: str | None = None) -> str:
        """Append per-document extraction-quality metrics under a
        month partition — the reference logs each prediction to
        ``ocr_logs/YYYY-MM/`` (app.py:56-67); here the same layout is
        a ``log_month=YYYY-MM`` parquet partition (plus run_id), so a
        month's metrics prune to one directory scan.

        Unlike ``results/``, a frame carrying ``bucket`` keeps its
        ``bucket=N`` partitions here: a replayed bucket overwrites only
        its own metrics partition (dynamic overwrite), which is what
        makes a re-run after a crash before logging not duplicate them.

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
    batch partition instead of appending duplicates. Each batch is
    one commit: its own unpartitioned ``batch=N`` directory and one
    lineage row naming it, logged by the same ``_log_commit`` as
    ``process``.

    The stream's commit log, results and metrics live under their own
    ``stream/`` namespace inside the run dir: a stream batch id and a
    batch-mode doc bucket are DIFFERENT keyspaces, and sharing the
    lineage file/results dir let a committed stream batch N silently
    mark doc bucket N done for ``process`` (and mixed ``commit=`` /
    ``batch=N`` directory names break reading the results dir). A
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
        commit = f"batch={batch_id}"
        out_dir = os.path.join(self.results_dir, commit)
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
        self._log_commit(commit, {batch_id: rows}, started)
        return {"batch_id": batch_id, "skipped": False, "rows": rows}

    def foreach_batch(self, pipeline_fn, metrics_fn=None,
                      log_month: str | None = None):
        """The callable to hand to ``writeStream.foreachBatch``."""
        def fn(batch_df: DataFrame, batch_id: int) -> None:
            self.process_stream_batch(batch_df, int(batch_id),
                                      pipeline_fn, metrics_fn,
                                      log_month=log_month)
        return fn
