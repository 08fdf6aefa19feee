"""Commit log sink (SURVEY §4 item 4 — resumability per the north
rule).

The unit of commit is the job. ``ExtractionRun.process`` runs the whole
source in one job, writes its output once, unpartitioned, into a fresh
``results/commit=<id>/`` (one parquet file per task, ``<id>`` = ``c`` +
uuid4 hex so partition discovery reads it as a string), and then
appends ONE lineage line ``{run_id, commit, rows: n, started_at,
finished_at}`` naming that directory and its row count, observed on
the write. A run dir is therefore either committed whole or not at
all, and a restart either skips or runs the whole job. The log is the
only source of truth: a ``results/`` entry that no line names is a
crashed job's partial and is deleted before the next commit, and a
committed directory is never read back or rewritten. (With an Iceberg
catalog configured a commit becomes one ``writeTo(...).append()``
snapshot; the directory layout is the catalog-free equivalent used
here.)

Every file a commit writes is zstd parquet, the codec an Iceberg table
writes by default (1.4 and later), not Spark's default snappy: about a
third fewer bytes for the same rows. The codec is set on the write,
not in the session conf, so a commit has one format whichever session
runs it (``build_session``, ``spark-submit`` or a caller's own).
Readers need no option: Spark, pyarrow and DuckDB all read zstd
parquet.

The trade: a lost or torn line re-runs its whole commit. A torn line
needs a crash inside one small append after the job has finished; a
crash during the job re-runs the job either way.

A commit writes results and the lineage line, nothing else; a
``metrics/`` directory in an older run dir is neither read nor purged.
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
        self.lineage_path = os.path.join(base_dir, "lineage.jsonl")
        os.makedirs(self.results_dir, exist_ok=True)

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
                pipeline_fn) -> dict:
        """Run pipeline_fn over ``src`` in ONE job and commit its output
        as one ``results/commit=<id>/`` directory and one lineage line,
        unless the run dir is already committed. Returns {skipped,
        rows}: ``rows`` is the committed row count, 0 when skipped.

        The commit: purge every ``results/`` entry (with nothing
        committed, each is a crashed job's partial), write the
        pipeline's output, as it is, as zstd parquet into a fresh
        commit directory, observing its row count on the write
        (``_observed``), then append the one lineage line.

        ``spark`` is unused: the source DataFrame carries its session.
        It stays first so that callers passing ``(spark, src,
        pipeline_fn)`` positionally keep working. The purge touches
        ``results/`` only: a ``metrics/`` directory is neither read nor
        purged."""
        if self.committed() is not None:
            return {"skipped": True, "rows": 0}
        for name in os.listdir(self.results_dir):
            path = os.path.join(self.results_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
        started = round(time.time(), 3)
        commit = f"commit=c{uuid.uuid4().hex}"
        commit_dir = os.path.join(self.results_dir, commit)
        rows = _observed(pipeline_fn(src), lambda df: df.write.option(
            "compression", "zstd").parquet(commit_dir))
        self._log_commit(commit, rows, started)
        return {"skipped": False, "rows": rows}
