"""Per-layer readings taken from outside the package: Spark's own event
log, and timed calls into the kernel's public function in a fresh
interpreter.

    python3 perfbench/ledger.py kernel <spec.json>

runs the in-process kernel ledger and emits one result line.
``eventlog_metrics`` is imported by run.py.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# common also puts the checkout root on sys.path
from common import emit  # noqa: E402

# MapInArrow SQL metrics (PythonSQLMetrics) by their display names;
# the times are in ms
_ARROW_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
}


def eventlog_metrics(path: str) -> dict:
    """Task and MapInArrow metrics of the timed pass's tasks (job group
    ``pass``). Reads the ``.inprogress`` log when the session did not get
    to rename it."""
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    if not os.path.exists(path):
        path += ".inprogress"
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    out = {"tasks.count": 0, "tasks.cpu_ms": 0.0, "tasks.gc_ms": 0.0,
           "scan.bytes_read": 0, "sink.bytes_written": 0}
    arrow = {v: 0 for v in _ARROW_METRICS.values()}
    by_stage: dict[int, list[float]] = {}
    for ev in tasks:
        sid = ev["Stage ID"]
        if stage_group.get(sid) != "pass":
            continue
        tm = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        out["tasks.count"] += 1
        out["tasks.cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        out["tasks.gc_ms"] += tm.get("JVM GC Time", 0)
        out["scan.bytes_read"] += (tm.get("Input Metrics") or {}).get(
            "Bytes Read", 0)
        out["sink.bytes_written"] += (tm.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        by_stage.setdefault(sid, []).append(
            info["Finish Time"] - info["Launch Time"])
        for acc in info.get("Accumulables", []):
            key = _ARROW_METRICS.get(acc.get("Name"))
            if key:
                arrow[key] += int(acc.get("Update", 0))
    # slowest task over the median task of the busiest stage
    if by_stage:
        sid = max(by_stage, key=lambda s: sum(by_stage[s]))
        durs = by_stage[sid]
        med = statistics.median(durs)
        out["tasks.slowest_over_median"] = max(durs) / med if med else 0.0
    else:
        out["tasks.slowest_over_median"] = 0.0
    out["arrow"] = arrow
    return out


def _lru_stats(modules) -> dict:
    """Summed hits/misses of every lru-cached function of each module."""
    out = {}
    for label, mod in modules.items():
        hits = misses = 0
        for obj in vars(mod).values():
            info = getattr(obj, "cache_info", None)
            if callable(info):
                ci = info()
                hits += ci.hits
                misses += ci.misses
        out[label] = (hits, misses)
    return out


def kernel(spec: dict) -> dict:
    """Time ``full_kernel_batch_arrow`` on the Arrow input run_pipeline
    builds: import, first batch (cold interpreter), later batches
    (unseen docs), doc-type-pure batches; plus lru counters and doc
    counts of the main input."""
    import pyarrow as pa

    t0 = time.time()
    from indonesian_id_ocr_service_spark.functions import fuzzy
    from indonesian_id_ocr_service_spark.operators import (
        ktp_spatial,
        sim_core,
    )
    from indonesian_id_ocr_service_spark.operators.classify import (
        document_type_py,
    )
    from indonesian_id_ocr_service_spark.operators.unified_extract import (
        full_kernel_batch_arrow,
    )
    res = {"kernel.import_s": time.time() - t0}

    def read(path):
        with pa.memory_map(path) as src:
            return pa.ipc.open_file(src).read_all()

    def timed(batch):
        t = time.perf_counter()
        out = list(full_kernel_batch_arrow([batch]))
        return time.perf_counter() - t, out

    size = spec["batch"]
    main = read(spec["main"]).combine_chunks()
    batches = main.to_batches(max_chunksize=size)[:spec["max_batches"]]
    cold_s, first = timed(batches[0])
    res["kernel.cold_ms_per_doc"] = 1000 * cold_s / batches[0].num_rows
    warm_s, warm_n, outs = 0.0, 0, list(first)
    for b in batches[1:]:
        s, o = timed(b)
        warm_s += s
        warm_n += b.num_rows
        outs += o
    res["kernel.warm_ms_per_doc"] = (1000 * warm_s / warm_n if warm_n
                                     else res["kernel.cold_ms_per_doc"])
    for label, (hits, misses) in _lru_stats(
            {"fuzzy": fuzzy, "ktp_spatial": ktp_spatial,
             "sim_core": sim_core}).items():
        res[f"lru.{label}.hit_ratio"] = (hits / (hits + misses)
                                        if hits + misses else 0.0)
        res[f"lru.{label}.misses"] = misses

    # doc counts over the timed batches
    types = [t for o in outs for t in o.column("doc_type").to_pylist()]
    res["docs.ktp"] = types.count("KTP")
    res["docs.sim"] = types.count("SIM")
    res["docs.unknown"] = types.count("UNKNOWN")
    shipped = retry = 0
    k = 0
    for b in batches:
        alt = b.column("spans_alt")
        shipped += len(alt) - alt.null_count
        for spans in b.column("spans").to_pylist():
            texts = [s["text"] for s in spans if s["kind"] == "text"]
            if document_type_py(texts) == "UNKNOWN" and types[k] != "UNKNOWN":
                retry += 1
            k += 1
    res["docs.alt_shipped"] = shipped
    res["docs.c3_retry"] = retry

    for label, path in spec["pure"].items():
        b = read(path).combine_chunks().to_batches(max_chunksize=size)[0]
        s, _ = timed(b)
        res[f"kernel.{label}_ms_per_doc"] = 1000 * s / b.num_rows
    return res


if __name__ == "__main__":
    if sys.argv[1] != "kernel":
        raise SystemExit(f"unknown command {sys.argv[1]!r}")
    with open(sys.argv[2]) as f:
        emit(kernel(json.load(f)))
