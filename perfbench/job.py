"""One fresh-session job, the way a ``spark-submit`` of
``jobs/extract_job.py`` runs: a new driver JVM at local[N] and new
Python workers, one timed pass over input they have not seen.

    python3 perfbench/job.py <spec.json>

Spec kinds:

- ``extract``: ``ExtractionRun.process(spark, src, run_pipeline)`` over
  the corpus parquet; timed from the call until the lineage rows are
  committed.
- ``queries``: the oracle_queries subset in the spec's order, each
  timed from building the DataFrame to the end of ``collect()`` and
  hashed with ``tools/check_oracle.py``'s canonical hashing.

With ``trace`` in the spec the session also writes Spark's event log
and, after the pass, runs the layer ladder (one noop-sink rung per
layer, each on a chunk no rung has seen), optionally the query subset,
and dumps the kernel's Arrow input for the in-process kernel ledger.
Spark job groups (``pass``, ``ladder``, ``queries``, ``dump``) let the
event-log reader keep the timed pass's tasks apart.

Emits one result line with the timings; the caller stops the process
tree once it has it. A traced job stops its session first, so Spark has
closed and renamed its event log by then.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    WORK,
    TreeSampler,
    cores,
    cpu_stat,
    emit,
    steal_pct,
)


def _session(spec: dict):
    from indonesian_id_ocr_service_spark.session import build_session

    n = cores()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.executorEnv.PYTHONPATH": os.environ.get("PYTHONPATH", ""),
    }
    trace = spec.get("trace")
    if trace:
        os.makedirs(trace["eventlog_dir"], exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace["eventlog_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(app_name=spec["app"], master=f"local[{n}]",
                         shuffle_partitions=n, extra_conf=conf)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def run_queries(spark, tables: str, order: list) -> dict:
    """Each query of ``order``: seconds (build + collect), row count,
    canonical hash, result bytes, and the hash of a deliberately
    altered copy of its rows (the checker's self-check)."""
    import __spark_entry__ as entry
    from tools.check_oracle import _canon, _hash_rows

    qs = entry.queries()
    out = {}
    for name in order:
        # bench.py's isolation: no cached relation carries over
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            df = qs[name](spark, tables)
            cols = [c.lower() for c in df.columns]
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:   # a failing query is a failed check
            out[name] = {"s": time.time() - t0, "error": str(e)[:300]}
            continue
        sec = time.time() - t0
        res = {"s": sec, "cols": sorted(cols), "rows": len(rows),
               "hash": _hash_rows(cols, rows),
               "bytes": sum(len("\x01".join(_canon(v) for v in r))
                            for r in rows)}
        if rows:
            bad = [tuple(["\0tampered"] + list(rows[0][1:]))] + rows[1:]
            res["tampered_hash"] = _hash_rows(cols, bad)
        out[name] = res
    return out


def run_ladder(spark, chunks: list, out_dir: str) -> dict:
    """Cumulative noop-sink rungs; each kernel-running rung reads its
    own unseen chunk. Returns seconds per rung."""
    from indonesian_id_ocr_service_spark.operators.unified_extract import (
        FULL_KERNEL_SCHEMA,
        full_kernel_batch_arrow,
    )
    from indonesian_id_ocr_service_spark.pipeline import (
        _kernel_input,
        run_pipeline,
        with_default_geometry,
    )
    from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun

    def kin(path):
        return _kernel_input(with_default_geometry(spark.read.parquet(path)))

    c1, c2, c3, c4 = chunks
    rungs = [
        ("scan", lambda: _noop(spark.read.parquet(c1))),
        ("kernel_input", lambda: _noop(kin(c1))),
        ("arrow", lambda: _noop(kin(c1).mapInArrow(
            _identity, schema=kin(c1).schema))),
        ("kernel", lambda: _noop(kin(c1).mapInArrow(
            full_kernel_batch_arrow, schema=FULL_KERNEL_SCHEMA))),
        ("pipeline_noop", lambda: _noop(run_pipeline(
            spark.read.parquet(c2)))),
        ("pipeline_parquet", lambda: run_pipeline(
            spark.read.parquet(c3)).write.mode("overwrite").parquet(
                os.path.join(out_dir, "plain"))),
        ("process", lambda: ExtractionRun(
            os.path.join(out_dir, "run"), "ladder").process(
                spark, spark.read.parquet(c4), run_pipeline)),
    ]
    out = {}
    for name, thunk in rungs:
        t0 = time.time()
        thunk()
        out[name] = time.time() - t0
    return out


def dump_kernel_input(spark, corpus: str, path: str) -> None:
    """The Arrow table ``run_pipeline`` feeds the kernel for ``corpus``."""
    import pyarrow as pa

    from indonesian_id_ocr_service_spark.pipeline import (
        _kernel_input,
        with_default_geometry,
    )

    table = _kernel_input(with_default_geometry(
        spark.read.parquet(corpus))).toArrow()
    with pa.OSFile(path + ".tmp", "wb") as sink:
        with pa.ipc.new_file(sink, table.schema) as writer:
            writer.write_table(table)
    os.replace(path + ".tmp", path)


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    spark = _session(spec)
    sc = spark.sparkContext
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline
    from indonesian_id_ocr_service_spark.queries import ensure_session_conf
    from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun

    ensure_session_conf(spark)
    res: dict = {"setup_s": time.time() - spec["spawn_t"],
                 "app_id": sc.applicationId}

    sc.setJobGroup("pass", "timed pass")
    if spec["kind"] == "extract":
        src = spark.read.parquet(spec["corpus"])
        run = ExtractionRun(spec["out_dir"], "bench")
        st0 = cpu_stat()
        with TreeSampler() as tree:
            t0 = time.time()
            run.process(spark, src, run_pipeline)
            res["wall_s"] = time.time() - t0
    else:
        st0 = cpu_stat()
        with TreeSampler() as tree:
            q = run_queries(spark, spec["tables"], spec["order"])
        res["queries"] = q
        res["wall_s"] = sum(v["s"] for v in q.values())
    res["steal_pct"] = steal_pct(st0, cpu_stat())
    res["rss_mb"] = tree.peak_mb()
    res["cpu_s"] = tree.cpu_s()

    trace = spec.get("trace")
    if trace:
        t0 = time.time()
        sc.setJobGroup("ladder", "layer ladder")
        res["ladder"] = run_ladder(spark, trace["ladder"],
                                   trace["ladder_out"])
        res["ladder_total_s"] = time.time() - t0
        if trace.get("queries"):
            t0 = time.time()
            sc.setJobGroup("queries", "query subset")
            res["queries"] = run_queries(spark, spec["tables"],
                                         spec["order"])
            res["queries_total_s"] = time.time() - t0
        t0 = time.time()
        sc.setJobGroup("dump", "kernel input dump")
        for corpus, path in trace["dump"]:
            dump_kernel_input(spark, corpus, path)
        res["dump_s"] = time.time() - t0
        spark.stop()
    emit(res)


if __name__ == "__main__":
    main(sys.argv[1])
