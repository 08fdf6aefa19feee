"""Commit log + per-document metrics sink (SURVEY §4 item 4 —
resumability per the north rule).

The unit of commit is the job. ``ExtractionRun.process`` runs the whole
source in one job, writes its output once, unpartitioned, into a fresh
``results/commit=<id>/`` (one parquet file per task, ``<id>`` = ``c`` +
uuid4 hex so partition discovery reads it as a string), and then
appends ONE lineage line ``{run_id, commit, rows: n, started_at,
finished_at}`` naming that directory and its row count, observed on
the write. A run dir is therefore either committed whole or not at
all, and a restart either skips or runs the whole job. The log is the
only source of truth: a ``results/`` or ``metrics/`` entry that no line
names is a crashed job's partial and is deleted before the next
commit, and a committed directory is never read back or rewritten.
(With an Iceberg catalog configured a commit becomes one
``writeTo(...).append()`` snapshot; the directory layout is the
catalog-free equivalent used here.)

Every file a commit writes, results and metrics alike, is zstd parquet,
the codec an Iceberg table writes by default (1.4 and later), not
Spark's default snappy: about a third fewer bytes for the same rows.
The codec is set on each write, not in the session conf, so a commit
has one format whichever session runs it (``build_session``,
``spark-submit`` or a caller's own). Readers need no option: Spark,
pyarrow and DuckDB all read zstd parquet.

The trade: a lost or torn line re-runs its whole commit. A torn line
needs a crash inside one small append after the job has finished; a
crash during the job re-runs the job either way.

Per-document metrics (``process(metrics_fn=...)``, e.g. the media
quality rows of operators/media_metrics.py) follow the same rule: one
``metrics/commit=<id>/`` directory per commit, one parquet file per
write task, named like its results directory and purged with it when
no line names it. Each row carries ``run_id`` and ``log_month`` (the UTC
month of the commit's ``started_at``) as data columns — the Spark
re-expression of the reference's per-request prediction log under
``ocr_logs/YYYY-MM/`` (app.py:56-67).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = ["ExtractionRun"]


def _observed(df: DataFrame, write) -> int:
    """Run ``write`` on ``df`` and return the number of rows it wrote,
    one ``count`` observed on the write itself, not read back from its
    output. Result-task accumulator updates merge once per partition,
    so a retried or speculative task does not count twice."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return int(obs.get["rows"])


class ExtractionRun:
    """Commit-log driven, resumable extraction: one job, one commit."""

    def __init__(self, base_dir: str, run_id: str):
        self.run_id = run_id
        self.results_dir = os.path.join(base_dir, "results")
        self.metrics_dir = os.path.join(base_dir, "metrics")
        self.lineage_path = os.path.join(base_dir, "lineage.jsonl")
        os.makedirs(self.results_dir, exist_ok=True)
        os.makedirs(self.metrics_dir, exist_ok=True)

    # -- lineage -----------------------------------------------------
    def committed(self) -> str | None:
        """The ``results/`` directory a lineage line names, or ``None``
        while the run dir is uncommitted. A line commits nothing when it
        does not parse, lacks a trailing newline (an append torn by a
        crash) or names no ``commit``."""
        if not os.path.exists(self.lineage_path):
            return None
        with open(self.lineage_path) as f:
            for line in f:
                if not line.endswith("\n"):
                    continue
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                if rec.get("commit"):
                    return rec["commit"]
        return None

    def _log_commit(self, commit: str, rows: int, started: float) -> None:
        """Append the one lineage line of ``commit``: its directory and
        row count. If a torn append left the log without a trailing
        newline, the write starts on a fresh line, so the fragment stays
        a line of its own that ``committed`` skips."""
        line = json.dumps({
            "run_id": self.run_id,
            "commit": commit,
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
    def process(self, spark: SparkSession, src: DataFrame,
                pipeline_fn, metrics_fn=None) -> dict:
        """Run pipeline_fn over ``src`` in ONE job and commit its output
        as one ``results/commit=<id>/`` directory and one lineage line,
        unless the run dir is already committed. Returns {skipped,
        rows}: ``rows`` is the committed row count, 0 when skipped.

        ``metrics_fn``: optional ``output DataFrame → metrics DataFrame``
        hook; when given, the rows it returns, plus ``run_id`` and
        ``log_month`` columns, are written as unpartitioned zstd
        parquet into ``metrics/commit=<id>/`` (the results directory's
        name) in the same call — the results + lineage + metrics triple
        the north star requires from one resumable run. It reads the new commit
        directory back, a second scan of the output: the media metrics
        shuffle, so computing them during the results write would need
        the output cached instead.

        The commit: purge every ``results/`` and ``metrics/`` entry
        (with nothing committed, each is a crashed job's partial),
        write the pipeline's output, as it is, as zstd parquet into a
        fresh commit directory, observing its row count on the write
        (``_observed``), write the metrics of the rows just written
        into the same-named metrics directory, then append the one
        lineage line. Metrics go BEFORE the line, so a crash in between
        re-runs the commit instead of losing its metrics; the re-run's
        purge deletes the crashed commit's metrics with its results."""
        if self.committed() is not None:
            return {"skipped": True, "rows": 0}
        for parent in (self.results_dir, self.metrics_dir):
            for name in os.listdir(parent):
                path = os.path.join(parent, name)
                if os.path.isdir(path):
                    shutil.rmtree(path)
                else:
                    os.remove(path)
        started = round(time.time(), 3)
        commit = f"commit=c{uuid.uuid4().hex}"
        commit_dir = os.path.join(self.results_dir, commit)
        rows = _observed(pipeline_fn(src), lambda df: df.write.option(
            "compression", "zstd").parquet(commit_dir))
        if metrics_fn is not None:
            month = time.strftime("%Y-%m", time.gmtime(started))
            (metrics_fn(spark.read.parquet(commit_dir))
             .withColumns({"run_id": F.lit(self.run_id),
                           "log_month": F.lit(month)})
             .write.option("compression", "zstd")
             .parquet(os.path.join(self.metrics_dir, commit)))
        self._log_commit(commit, rows, started)
        return {"skipped": False, "rows": rows}
