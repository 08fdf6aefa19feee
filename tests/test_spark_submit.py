"""The north rule's launch contract: `spark-submit --py-files`.

Launches the REAL spark-submit binary (the one shipped inside the
installed pyspark distribution, so versions always match) with the
package delivered ONLY through the --py-files zip: the job script is
copied into a bare temp directory, cwd is that directory, and
PYTHONPATH is stripped — if the zip were not wired through to driver
and executor sys.path, every `indonesian_id_ocr_service_spark` import
(including the executor-side Arrow kernel) would fail. The input is a
deterministic generator corpus written as parquet. Asserts:

1. the submitted run commits its one job as zstd parquet and prints
   the JSON line;
2. the results parquet is span-for-span identical to an in-process
   `run_pipeline` over the same parquet corpus;
3. re-submitting the identical command resumes from the lineage log
   (the committed job is skipped) — crash-resume across PROCESS
   boundaries, not just within a session.

One submit launch is a full JVM boot (~20-40 s); the corpus is kept
small and both launches share one module-scoped run.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                            "spark-submit")
N_DOCS = 240
SEED = 42


def _submit(workdir: str, input_dir: str, base_dir: str) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--driver-memory", "3g",
        "--conf", "spark.driver.extraJavaOptions=-XX:+UseParallelGC",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", os.path.join(workdir, "pkg.zip"),
        os.path.join(workdir, "extract_job.py"),
        "--input", input_dir,
        "--base-dir", base_dir,
        "--run-id", "submit-smoke",
    ]
    proc = subprocess.run(cmd, cwd=workdir, env=env, timeout=420,
                          capture_output=True, text=True)
    assert proc.returncode == 0, (
        f"spark-submit failed\nSTDOUT:\n{proc.stdout[-3000:]}\n"
        f"STDERR:\n{proc.stderr[-3000:]}")
    return proc.stdout


def _last_json_line(stdout: str) -> dict:
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise AssertionError(f"no JSON line in stdout: {stdout[-2000:]}")


@pytest.fixture(scope="module")
def submitted_run(spark, tmp_path_factory):
    from indonesian_id_ocr_service_spark.corpus.generator import corpus_df

    workdir = str(tmp_path_factory.mktemp("submit"))
    input_dir = os.path.join(workdir, "corpus")
    base_dir = os.path.join(workdir, "run_out")
    corpus_df(spark, N_DOCS, seed=SEED).write.parquet(input_dir)
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(REPO, "tools", "make_pyfiles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    zip_path = mod.build(os.path.join(workdir, "pkg.zip"))
    assert os.path.getsize(zip_path) > 50_000
    shutil.copy(os.path.join(REPO, "jobs", "extract_job.py"),
                os.path.join(workdir, "extract_job.py"))
    first = _last_json_line(_submit(workdir, input_dir, base_dir))
    return workdir, input_dir, base_dir, first


def test_submit_commits_one_directory(submitted_run):
    _, _, base_dir, first = submitted_run
    assert first["skipped"] is False
    assert first["rows"] == N_DOCS
    lineage = os.path.join(base_dir, "lineage.jsonl")
    with open(lineage) as f:
        [rec] = [json.loads(ln) for ln in f]
    assert set(rec) == {"run_id", "commit", "rows", "started_at",
                        "finished_at"}
    assert rec["rows"] == N_DOCS
    assert os.listdir(os.path.join(base_dir, "results")) == [rec["commit"]]
    # the codec is set on the write, so a session that build_session
    # did not build commits zstd too
    files = glob.glob(os.path.join(base_dir, "results", rec["commit"],
                                   "*.parquet"))
    metas = [pq.ParquetFile(f).metadata for f in files]
    codecs = {m.row_group(g).column(c).compression for m in metas
              for g in range(m.num_row_groups) for c in range(m.num_columns)}
    assert files and codecs == {"ZSTD"}, codecs


def test_submit_output_matches_in_process_pipeline(spark, submitted_run):
    _, input_dir, base_dir, _ = submitted_run
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline

    def spans_of(df):
        out = {}
        for r in df.collect():
            out[r["doc_id"]] = [
                (s["kind"], s["text"], s["media_ref"], s["order"])
                for s in sorted(r["out_spans"], key=lambda s: s["order"])
            ]
        return out

    expected = spans_of(run_pipeline(spark.read.parquet(input_dir)))
    got = spans_of(
        spark.read.parquet(os.path.join(base_dir, "results"))
        .select("doc_id", "out_spans"))
    assert len(got) == N_DOCS
    assert got == expected


def test_resubmit_resumes_from_lineage(submitted_run):
    workdir, input_dir, base_dir, _ = submitted_run
    second = _last_json_line(_submit(workdir, input_dir, base_dir))
    assert second["skipped"] is True
    assert second["rows"] == 0
