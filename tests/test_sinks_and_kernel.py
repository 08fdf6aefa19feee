"""Unit tests: lineage/resume semantics, SIM kernel golden cases,
dedup/similarity/text-analysis operators."""

from __future__ import annotations

import uuid

from indonesian_id_ocr_service_spark.operators import sim_core
from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun


# ---------------------------------------------------------------------------
# SIM kernel golden cases (reference semantics, sim_extractor.py cites
# inside sim_core)
# ---------------------------------------------------------------------------


def test_sim_detect_version():
    assert sim_core.detect_version(["1. Nama BUDI", "2. BOGOR"]) == "LEGACY"
    assert sim_core.detect_version(["Nama", "BUDI"]) == "SMART"


def test_sim_rtrw_ocr_recovery():
    # sim_extractor.py:117-121 docstring: '0210' + '6 JATIUWUNG'
    assert sim_core.split_rtrw_ocr("0210", "6 JATIUWUNG") == (
        "02", "06", "JATIUWUNG")
    assert sim_core.split_rtrw_ocr("01", "") is None  # < 5 digits


def test_sim_garbage_and_job():
    assert sim_core.is_garbage("SEPEDA MOTOR 250 CC")
    assert sim_core.is_garbage("INDONESIA")
    assert not sim_core.is_garbage("BUDI SANTOSO")
    assert sim_core.is_job("KARYAWAN SWASTA")
    assert sim_core.is_job("WIRASWASTA")
    assert not sim_core.is_job("JL. MERDEKA 5")


def test_sim_legacy_sections():
    rows = [
        "SIM A 1234-5678-90123",
        "1. BUDI SANTOSO",
        "2. BOGOR, 15-08-1990",
        "3. AB - PRIA",
        "4. JL. MERDEKA NO. 5",
        "RT 02 RW 06 SUKAMAJU",
        "KEC. CILEUNGSI KOTA BOGOR",
        "5. PETANI",
        "BERLAKU SAMPAI 11-07-2027",
        "POLDA METRO JAYA",
    ]
    out = sim_core.extract_legacy(rows)
    assert out["Nomor SIM"] == "1234-5678-90123"
    assert out["Nama"] == "BUDI SANTOSO"
    assert out["Berlaku Sampai"] == "11-07-2027"
    assert out["Gol. Darah"] == "AB"
    assert out["Jenis Kelamin"] == "PRIA"
    assert out["Pekerjaan"] == "PETANI"
    final = sim_core.cleanup_common(sim_core.post_process_common(out))
    assert final["Tanggal Lahir"] == "15-08-1990"
    assert final["Tempat Lahir"] == "BOGOR"
    assert final["Jenis Kelamin"] == "LAKI-LAKI"
    assert final["alamat"]["rt_rw"] == "02/06"
    assert final["alamat"]["kel_desa"] == "SUKAMAJU"
    # the reference assigns the WHOLE region line as kabupaten when the
    # KEC line is also the bottom-up city match (sim_extractor.py:807-815)
    assert final["alamat"]["kabupaten"] == "KEC. CILEUNGSI KOTA BOGOR"


def test_sim_address_block_rtrw_pivot():
    addr = sim_core.parse_address_block(
        ["JL. MAWAR NO. 3 RT 04/09 MEKARSARI", "KEC. SERPONG",
         "KOTA TANGERANG"])
    assert addr["rt_rw"] == "04/09"
    assert addr["name"] == "JL. MAWAR NO. 3"
    assert addr["kel_desa"] == "MEKARSARI"
    assert addr["kecamatan"] == "SERPONG"
    assert addr["kabupaten"] == "KOTA TANGERANG"


# ---------------------------------------------------------------------------
# Lineage / resume
# ---------------------------------------------------------------------------


def test_lineage_resume(spark, tmp_path):
    import json
    import os

    from indonesian_id_ocr_service_spark.corpus.generator import doc_rows

    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL,
    )

    rows = list(doc_rows(40, fractions=(1.0, 0, 0)))
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)

    calls = []

    def fake_pipeline(part):
        calls.append(1)
        return part.select("doc_id")

    run = ExtractionRun(str(tmp_path / "run1"), run_id=str(uuid.uuid4()))
    r1 = run.process(spark, df, fake_pipeline)
    assert r1 == {"skipped": False, "rows": 40}
    # the whole source goes through ONE pipeline invocation (one
    # source scan)
    assert len(calls) == 1

    # resume: committed → nothing re-runs
    r2 = run.process(spark, df, fake_pipeline)
    assert r2 == {"skipped": True, "rows": 0}
    assert len(calls) == 1

    # simulate a lost commit: drop its lineage line, so the whole job
    # re-runs in one new commit
    first = os.listdir(run.results_dir)
    with open(run.lineage_path, "w"):
        pass
    r3 = run.process(spark, df, fake_pipeline)
    assert r3 == {"skipped": False, "rows": 40}
    assert len(calls) == 2
    # the un-logged directory was deleted, not read back: every doc
    # once, one directory left, the one the new line names
    ids = [r.doc_id for r in spark.read.parquet(run.results_dir).collect()]
    [rec] = [json.loads(ln) for ln in open(run.lineage_path)]
    assert len(ids) == len(set(ids)) == 40
    assert os.listdir(run.results_dir) == [rec["commit"]]
    assert rec["commit"] not in first


def _commit_dirs(run):
    import os

    return [d for d in os.listdir(run.results_dir)
            if d.startswith("commit=")]


def test_process_writes_one_file_per_task(spark, tmp_path):
    """A job commits one unpartitioned results directory: one parquet
    file per write task, holding exactly the pipeline's output columns,
    and the job's one lineage line names that directory and its row
    count."""
    import glob
    import json
    import os

    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL, doc_rows)
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline

    k = 3
    df = spark.createDataFrame(list(doc_rows(120, fractions=(1.0, 0, 0))),
                               SPAN_SCHEMA_DDL).repartition(k)
    run = ExtractionRun(str(tmp_path / "run1f"), run_id="r1f")
    res = run.process(spark, df, run_pipeline)
    assert res == {"skipped": False, "rows": 120}

    [commit] = _commit_dirs(run)
    assert os.listdir(run.results_dir) == [commit]
    commit_dir = os.path.join(run.results_dir, commit)
    assert 1 <= len(glob.glob(os.path.join(commit_dir, "*.parquet"))) <= k
    out = spark.read.parquet(commit_dir)
    assert out.columns == ["doc_id", "out_spans"]
    assert out.count() == 120
    with open(run.lineage_path) as f:
        [rec] = [json.loads(line) for line in f]
    assert set(rec) == {"run_id", "commit", "rows", "started_at",
                        "finished_at"}
    assert rec["rows"] == 120
    assert rec["commit"] == commit


def _parquet_codecs(directory):
    """The compression codec of every column chunk of every parquet
    file under ``directory``, as pyarrow's metadata reports it."""
    import glob
    import os

    import pyarrow.parquet as pq

    codecs = []
    for path in glob.glob(os.path.join(directory, "**", "*.parquet"),
                          recursive=True):
        meta = pq.ParquetFile(path).metadata
        codecs += [meta.row_group(g).column(c).compression
                   for g in range(meta.num_row_groups)
                   for c in range(meta.num_columns)]
    return codecs


def test_process_commits_zstd_parquet(spark, tmp_path):
    """Every column chunk a commit writes is zstd, the codec an Iceberg
    table writes by default, not Spark's snappy; and the committed
    rows read back unchanged with a reader other than Spark."""
    import os

    import pyarrow.parquet as pq

    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL, doc_rows)

    df = spark.createDataFrame(list(doc_rows(60)),
                               SPAN_SCHEMA_DDL).repartition(2)
    run = ExtractionRun(str(tmp_path / "runz"), run_id="rz")
    res = run.process(spark, df, lambda part: part.select("doc_id", "spans"))
    assert res == {"skipped": False, "rows": 60}

    commit_dir = os.path.join(run.results_dir, run.committed())
    codecs = _parquet_codecs(commit_dir)
    assert codecs and set(codecs) == {"ZSTD"}, codecs
    got = sorted(pq.read_table(commit_dir).to_pylist(),
                 key=lambda r: r["doc_id"])
    want = sorted((r.asDict(recursive=True)
                   for r in df.select("doc_id", "spans").collect()),
                  key=lambda r: r["doc_id"])
    assert got == want


def test_process_purges_unlogged_commit(spark, tmp_path):
    """A job that crashed after its write and before its lineage append
    leaves a full, un-logged commit directory; the next process() must
    delete it, so no doc is counted or kept twice."""
    import os

    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL, doc_rows)

    df = spark.createDataFrame(list(doc_rows(40, fractions=(1.0, 0, 0))),
                               SPAN_SCHEMA_DDL)
    run = ExtractionRun(str(tmp_path / "runp"), run_id="rp")
    # the crashed job's output: every doc, written, never logged
    stale = f"commit=c{uuid.uuid4().hex}"
    df.select("doc_id").write.parquet(os.path.join(run.results_dir, stale))

    res = run.process(spark, df, lambda part: part.select("doc_id"))
    assert res == {"skipped": False, "rows": 40}
    assert stale not in os.listdir(run.results_dir)
    assert len(_commit_dirs(run)) == 1
    ids = [r.doc_id for r in spark.read.parquet(run.results_dir).collect()]
    assert len(ids) == len(set(ids)) == 40


def test_torn_line_uncommits_its_whole_commit(spark, tmp_path):
    """An append torn mid-line leaves half a line with no trailing
    newline: the whole commit it was logging counts as not committed.
    The next run deletes that directory unread and re-runs the job,
    starting its own line on a fresh line; the run after skips, and
    every doc is in ``results/`` once."""
    import os

    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL, doc_rows)

    df = spark.createDataFrame(list(doc_rows(40, fractions=(1.0, 0, 0))),
                               SPAN_SCHEMA_DDL)
    run = ExtractionRun(str(tmp_path / "runt"), run_id="rt")

    def pipe(part):
        return part.select("doc_id")

    run.process(spark, df, pipe)
    [torn] = _commit_dirs(run)
    text = open(run.lineage_path).read()
    with open(run.lineage_path, "w") as f:
        f.write(text[:len(text) // 2])
    assert run.committed() is None

    res = run.process(spark, df, pipe)
    assert res == {"skipped": False, "rows": 40}
    assert torn not in os.listdir(run.results_dir)
    assert run.process(spark, df, pipe)["skipped"]
    [live] = _commit_dirs(run)
    assert os.listdir(run.results_dir) == [live]
    assert run.committed() == live
    assert len(open(run.lineage_path).read().splitlines()) == 2
    ids = [r.doc_id for r in spark.read.parquet(run.results_dir).collect()]
    assert len(ids) == len(set(ids)) == 40


def test_lineage_stale_partials_dropped(spark, tmp_path):
    """A crashed (un-logged) earlier job's commit directory must NOT
    survive into the next commit, even when the re-run produces 0 rows
    for the documents it held (ADVICE r3)."""
    import json
    import os

    from pyspark.sql import functions as F

    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL, doc_rows)

    rows = list(doc_rows(40, fractions=(1.0, 0, 0)))
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)

    run = ExtractionRun(str(tmp_path / "runx"), run_id=str(uuid.uuid4()))
    # partial left by a crashed job: its commit directory, never logged
    stale_dir = os.path.join(run.results_dir,
                             f"commit=c{uuid.uuid4().hex}")
    spark.createDataFrame([("STALE-DOC",)], "doc_id string") \
        .coalesce(1).write.parquet(stale_dir)

    slice_expr = (
        F.conv(F.substring(F.md5(F.col("doc_id")), 1, 6), 16, 10)
        .cast("long") % 4
    ).cast("int")

    def pipeline_drops_slice2(part):
        # produces 0 output rows for hash slice 2, normal rows elsewhere
        return part.select("doc_id").filter(slice_expr != 2)

    n_s2 = df.filter(slice_expr == 2).count()
    assert n_s2 > 0  # the scenario is real: slice 2 has input docs

    res = run.process(spark, df, pipeline_drops_slice2)
    assert not res["skipped"]
    # the stale partial was neither counted nor kept
    assert res["rows"] == 40 - n_s2
    out_ids = {r["doc_id"]
               for r in spark.read.parquet(run.results_dir).collect()}
    assert "STALE-DOC" not in out_ids
    # the job's one lineage line counts only the rows it wrote
    with open(run.lineage_path) as f:
        [rec] = [json.loads(line) for line in f]
    assert rec["rows"] == res["rows"] == 40 - n_s2
    assert run.committed() == rec["commit"]
    assert os.listdir(run.results_dir) == [rec["commit"]]
