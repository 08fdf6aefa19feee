"""Commit log + extraction-quality metrics sink (SURVEY §4 item 4 —
resumability per the north rule).

Resume is tracked per ``doc_id`` hash bucket; the unit of commit is the
job. ``ExtractionRun.process`` runs every bucket in one job, writes its
output once, unpartitioned, into a fresh ``results/commit=<id>/`` (one
parquet file per task, ``bucket`` kept as a data column, ``<id>`` =
``c`` + uuid4 hex so partition discovery reads it as a string), and
then appends ONE lineage line ``{run_id, commit, buckets: [...], rows:
n, started_at, finished_at}`` naming that directory, every bucket it
holds and its total row count: one aggregate observed on the write,
whatever the number of buckets (the directory's ``bucket`` column holds
the per-bucket split). A run dir is therefore either committed whole or
not at all, and a restart either skips or runs the whole job. The log
is the only source of truth: a ``results/`` entry that no line names is
a crashed job's partial and is deleted before the next commit, and a
committed directory is never read back or rewritten. (With an Iceberg
catalog configured a commit becomes one ``writeTo(...).append()``
snapshot; the directory layout is the catalog-free equivalent used
here.)

The trade: a lost or torn line re-runs its whole commit, not one
bucket. A torn line needs a crash inside one small append after the job
has finished; a crash during the job re-runs every bucket either way.

Extraction-quality metrics (fields found per doc, per-field presence,
fuzzy-distance histogram buckets) land in a metrics table partitioned
by month, run_id and bucket — the Spark re-expression of the
reference's per-request prediction log (app.py:56-67).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

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
    # DataType casts: a type string would start the SQL parser on the
    # driver for each one
    prov = F.substring(nik, 1, 2).cast(IntegerType())
    day = F.substring(nik, 7, 2).cast(IntegerType())
    month = F.substring(nik, 9, 2).cast(IntegerType())
    seq = F.substring(nik, 13, 4).cast(IntegerType())
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
    # bucket tag: write_metrics overwrites the bucket's own partition
    # with it, so a replayed commit does not duplicate rows. The
    # lineage line holds the commit's total only; the per-bucket split
    # is this column (and the results' ``bucket`` column)
    if "bucket" in fields_df.columns:
        cols.append(F.col("bucket"))
    return fields_df.select(*cols)


def _observed(df: DataFrame, write) -> int:
    """Run ``write`` on ``df`` and return the number of rows it wrote,
    one ``count`` observed on the write itself, not read back from its
    output: one aggregate, so the observation costs the driver the same
    whatever the number of buckets. Result-task accumulator
    updates merge once per partition, so a retried or speculative task
    does not count twice."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return int(obs.get["rows"])


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
        """Committed bucket → the ``results/`` directory whose lineage
        line names it in its ``buckets`` list. A line commits nothing
        when it does not parse, lacks a trailing newline (an append torn
        by a crash) or has no ``buckets`` list (logs of the older
        layouts: one row per bucket, or a ``rows`` map per commit), so
        its buckets run again."""
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
                    if isinstance(rec.get("buckets"), list):
                        done.update((int(b), rec["commit"])
                                    for b in rec["buckets"])
        return done

    def _log_commit(self, commit: str, buckets: list[int], rows: int,
                    started: float) -> None:
        """Append the one lineage line of ``commit``: its directory,
        the buckets it holds and its total row count. If a torn append
        left the log without a trailing newline, the write starts on a
        fresh line, so the fragment stays a line of its own that
        ``committed_buckets`` skips."""
        line = json.dumps({
            "run_id": self.run_id,
            "commit": commit,
            "buckets": buckets,
            "rows": rows,
            "started_at": round(started, 3),
            "finished_at": round(time.time(), 3),
        }) + "\n"
        with open(self.lineage_path, "ab+") as f:
            if f.tell():
                f.seek(-1, os.SEEK_END)
                if f.read(1) != b"\n":
                    line = "\n" + line
            f.write(line.encode())

    # -- processing ---------------------------------------------------
    def bucket_of(self) -> F.Column:
        """Uniform doc bucket: md5-based (portable, skew-free)."""
        return (
            F.conv(F.substring(F.md5(F.col("doc_id")), 1, 6), 16, 10)
            .cast(LongType()) % self.n_buckets
        ).cast(IntegerType())

    def process(self, spark: SparkSession, src: DataFrame,
                pipeline_fn, metrics_fn=None,
                log_month: str | None = None) -> dict:
        """Run pipeline_fn over ``src`` in ONE job and commit its output
        as one ``results/commit=<id>/`` directory and one lineage line,
        unless the run dir is already committed. Returns {buckets_run,
        buckets_skipped, rows}.

        ``metrics_fn``: optional ``output DataFrame → metrics-input
        DataFrame`` hook; when given, per-document extraction-quality
        metrics land under the month/run partition (write_metrics) in
        the same call — the results + lineage + metrics triple the
        north star requires from one resumable run. It reads the new
        commit directory only.

        A commit holds every bucket, so ``src`` goes to the pipeline
        unfiltered: one source scan, and no bucket predicate to plan.
        The bucket is computed on the output (it carries doc_id), so
        the pipeline itself stays bucket-agnostic. Committed buckets
        other than exactly ``range(n_buckets)`` mean the run dir was
        committed under another bucket count; resuming it would run
        documents twice, so it raises ``ValueError``.

        The commit: purge every ``results/`` entry (with nothing
        committed, each is a crashed job's partial), write the output
        into a fresh commit directory with its ``bucket`` column,
        observing its total row count on the write (``_observed``),
        write the metrics of the rows just written (tagged with their
        ``bucket`` when the frame lacks it), then append the one
        lineage line. Metrics go BEFORE the line, so a crash in between
        re-runs the commit instead of losing its metrics; the re-run
        overwrites the same ``bucket`` partitions."""
        done = self.committed_buckets()
        if done:
            if sorted(done) != list(range(self.n_buckets)):
                raise ValueError(
                    f"{self.base} was committed with {len(done)} "
                    f"buckets, not n_buckets={self.n_buckets}")
            return {"buckets_run": 0, "buckets_skipped": self.n_buckets,
                    "rows": 0}
        for name in os.listdir(self.results_dir):
            path = os.path.join(self.results_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
        started = time.time()
        commit = f"commit=c{uuid.uuid4().hex}"
        commit_dir = os.path.join(self.results_dir, commit)
        rows = _observed(
            pipeline_fn(src).withColumn("bucket", self.bucket_of()),
            lambda df: df.write.parquet(commit_dir))
        if metrics_fn is not None:
            mets = metrics_fn(spark.read.parquet(commit_dir))
            if "bucket" not in mets.columns:
                mets = mets.withColumn("bucket", self.bucket_of())
            self.write_metrics(mets, log_month=log_month)
        self._log_commit(commit, list(range(self.n_buckets)), rows,
                         started)
        return {"buckets_run": self.n_buckets, "buckets_skipped": 0,
                "rows": rows}

    # -- metrics ------------------------------------------------------
    def write_metrics(self, fields_df: DataFrame,
                      log_month: str | None = None) -> str:
        """Write per-document extraction-quality metrics under a month
        partition — the reference logs each prediction to
        ``ocr_logs/YYYY-MM/`` (app.py:56-67); here the same layout is
        a ``log_month=YYYY-MM`` parquet partition (plus run_id), so a
        month's metrics prune to one directory scan.

        The frame must carry its ``bucket`` column: each
        ``bucket=N`` partition is dynamically overwritten, so a
        replayed commit rewrites its own metrics instead of appending
        duplicates.

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
        (fields_df
         .withColumn("run_id", F.lit(self.run_id))
         .withColumn("log_month", F.lit(log_month))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("log_month", "run_id", "bucket")
         .parquet(self.metrics_dir))
        return log_month
