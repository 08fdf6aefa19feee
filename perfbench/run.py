"""Repository benchmark: cold-session extraction throughput on two
document mixes, plus the oracle-gated driver queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Workloads:

- ``extract_mixed``: the generator's default 60/30/10 KTP/SIM/UNKNOWN
  mix through ``ExtractionRun.process(..., run_pipeline)``.
- ``extract_sim_retry``: the same path on a 10/50/40 mix, where the SIM
  state machines, the C6 second pass and the C3 UNKNOWN retry do the
  work and most docs ship their alternative view across Arrow.
- ``oracle_queries``: 6 ``__spark_entry__.queries()`` entries over
  generated driver-shaped tables, each result hash checked against its
  ``oracle_sql()`` on DuckDB.

``BENCHMARK.json`` lists the two extraction workloads only. Every run
pays a cold JVM and cold Python workers (about 40 s a run on a 4-core
host), and a cold-JVM ``oracle_queries`` pass, mostly JIT and per-query
job overhead, moved by 30-50% with host load between sets of runs,
beyond any usable bound. It stays runnable by name, and every traced
extraction run still times and checks its query subset (``query.*``).

A run makes one timed pass in a fresh process with its own
local[nproc] session (``SPARK_GRAFT_CPUS`` when set), so the JVM and the
Python workers are cold as under ``spark-submit``. An extraction pass
covers 12 000 documents, so that per-document work (the kernel, the
Arrow transfer, the sink) is a large share of its wall time next to the
cold-worker start and the fixed cost of the bucketed commit; a pass
takes about 30 s on a 4-core host. ``--seconds`` is accepted for the
command-line contract but not used: a pass cannot stop early. Inputs
are materialised beforehand by this process, which never starts Spark
itself; a checkout's first run builds the corpus universe of both
mixes. The seed picks the corpus blocks (extraction) or the query order
(queries). Every output is checked against the oracle: each document's
(kind, text, media_ref, order) span sequence against
``oracle.ktp.process_document``, each query's canonical hash against
DuckDB. ``failed``/``attempted`` count documents (or queries) that are
missing or differ; the checker proves itself on every run by rejecting
a corrupted span, a dropped document and a wrong query row.

End-to-end metrics (``--trace 0``), as measured. They are not scaled
by the host's speed: on a shared 4-core host whose speed drifted by up
to 30% within minutes, dividing ``wall_s`` by a pure-Python speed probe,
timed beside the job or just before and after it, widened its spread
over seeds (IQR / median) from 0.10 to 0.26-0.49. The probe swung up to
2x between runs while the pass, averaged over about 30 s of every core,
did not.

- ``setup_s``: the timed job's fresh-session start (interpreter, JVM,
  session, package imports). One sample a run: a second session start
  would cost about 10 s a run, which the run budget spends on pass size
  instead. Input and oracle-cache preparation depends on what earlier
  runs left in the checkout, so it goes on the labels line
  (``input_prep_s``, ``oracle_s``) instead.
- ``wall_s``: extraction, the ``process`` call until lineage is
  committed; queries, the sum of build + ``collect()``.
- ``cpu_s``: CPU seconds (user + system) the pass's process tree
  (driver, JVM, Python workers) spent in the ``wall_s`` window: the
  cost a batch user pays in core time.
- ``docs_per_s``: input rows / ``wall_s`` (documents for extraction;
  rows of the table each query reads for queries).
- ``out_bytes_per_doc``: committed ``results/`` parquet bytes per doc;
  for queries, canonical result bytes per input row.

The labels line carries ``failed_frac`` (0 whenever every check
passes, so not a bounded metric) and the pass's peak RSS: the tree
total, its Python processes, and the JVM's high-water mark. The total
swings by a third or more between runs with how many Python workers are
alive at its peak, so it is reported, and traced as ``mem.*``, rather
than bounded.

``--trace 1`` runs one traced pass (event log on) followed in the same
session by the layer ladder and, for the extraction workloads, the query
subset; then the in-process kernel ledger. It prints the per-layer
metrics. ``kernel.wall_share`` is the share of the traced pass's core
time (cores × wall) that the Python workers spent running the kernel.
``trace.overhead_s`` compares the traced pass with the measured
untraced wall time an earlier ``--trace 0`` run of the same workload,
seed and code recorded, or with an untraced pass it runs first when
there is none.

One JSON line with host and input labels precedes the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
from importlib.metadata import version

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    QUERIES,
    ROOT,
    WORK,
    cores,
    driver_mem,
    mem_total_mb,
    run_child,
    source_hash,
    span_hash,
)

WORKLOADS = {
    "extract_mixed": (0.6, 0.3, 0.1),
    "extract_sim_retry": (0.1, 0.5, 0.4),
    "oracle_queries": None,
}
PASS_BLOCKS = 24        # 24 × 500 = 12 000 docs per extraction pass
LADDER_BLOCKS = 1       # 500 docs per ladder rung chunk
DEFAULT_MIX = (0.6, 0.3, 0.1)
PURE_MIXES = {"ktp": (1.0, 0.0, 0.0), "sim": (0.0, 1.0, 0.0),
              "unknown": (0.0, 0.0, 1.0)}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _write_json(path: str, obj) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f)
    return path


# -- inputs -------------------------------------------------------------------

def _blocks(seed: int) -> tuple[list, list]:
    """(pass blocks, the other blocks) of the corpus universe."""
    from inputs import BLOCKS

    order = random.Random(seed).sample(range(BLOCKS), BLOCKS)
    return sorted(order[:PASS_BLOCKS]), order[PASS_BLOCKS:]


def _order(seed: int) -> list:
    return random.Random(seed).sample(QUERIES, len(QUERIES))


# -- checks -------------------------------------------------------------------

def read_outputs(results_dir: str) -> tuple[dict, int]:
    """doc_id → span tuples sorted by order (None for a duplicated
    doc), from the committed parquet results; plus their bytes."""
    import pyarrow.parquet as pq

    nbytes = sum(os.path.getsize(os.path.join(d, n))
                 for d, _, files in os.walk(results_dir)
                 for n in files if n.endswith(".parquet"))
    t = pq.read_table(results_dir, columns=["doc_id", "out_spans"])
    got: dict = {}
    for doc_id, spans in zip(t.column("doc_id").to_pylist(),
                             t.column("out_spans").to_pylist()):
        got[doc_id] = None if doc_id in got else sorted(
            ((s["kind"], s["text"], s["media_ref"], s["order"])
             for s in spans or []), key=lambda s: s[3])
    return got, nbytes


def check_docs(got: dict, expected: dict) -> int:
    """Documents missing, duplicated, unexpected or differing from the
    oracle."""
    bad = sum(1 for doc_id, h in expected.items()
              if got.get(doc_id) is None or span_hash(got[doc_id]) != h)
    return bad + sum(1 for doc_id in got if doc_id not in expected)


def selfcheck_docs(got: dict, expected: dict) -> bool:
    """The checker must reject a corrupted span and a dropped doc."""
    ids = sorted(got)
    corrupted = dict(got)
    kind, text, media_ref, order = got[ids[0]][0]
    corrupted[ids[0]] = [(kind, text + "#", media_ref, order)] + \
        got[ids[0]][1:]
    dropped = dict(got)
    del dropped[ids[-1]]
    return (check_docs(corrupted, expected) > 0
            and check_docs(dropped, expected) > 0)


def check_queries(results: dict, expected: dict, log: bool = True) -> int:
    bad = 0
    for name in QUERIES:
        r, e = results.get(name), expected[name]
        if (r is None or "error" in r or r["cols"] != e["cols"]
                or r["rows"] != e["rows"] or r["hash"] != e["hash"]):
            bad += 1
            if log:
                _log(f"query {name} failed: {r and r.get('error')}")
    return bad


def selfcheck_queries(results: dict, expected: dict) -> bool:
    """The checker must reject a query whose first row is altered."""
    for name in QUERIES:
        r = results.get(name) or {}
        if "tampered_hash" in r:
            forged = dict(results, **{name: dict(r, hash=r["tampered_hash"])})
            return check_queries(forged, expected, log=False) > 0
    return False


# -- passes -------------------------------------------------------------------

def _job(tag: str, spec: dict) -> dict:
    spec["spawn_t"] = time.time()
    return run_child("job.py", [_write_json(
        os.path.join(WORK, "specs", f"job-{tag}.json"), spec)],
        f"job-{tag}.log")


def extract_pass(tag: str, corpus: dict, extra: dict | None = None) -> dict:
    out_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(out_dir, ignore_errors=True)
    res = _job(tag, {"kind": "extract", "app": f"perfbench-{tag}",
                     "corpus": corpus["path"], "out_dir": out_dir,
                     **(extra or {})})
    got, nbytes = read_outputs(os.path.join(out_dir, "results"))
    shutil.rmtree(out_dir, ignore_errors=True)
    res["failed"] = check_docs(got, corpus["expected"])
    res["selfcheck"] = selfcheck_docs(got, corpus["expected"])
    res["out_bytes"] = nbytes
    res["attempted"] = corpus["n_docs"]
    return res


def query_pass(tag: str, tables: dict, order: list,
               extra: dict | None = None) -> dict:
    res = _job(tag, {"kind": "queries", "app": f"perfbench-{tag}",
                     "tables": tables["path"], "order": order,
                     **(extra or {})})
    q = res["queries"]
    res["failed"] = check_queries(q, tables["expected"])
    res["selfcheck"] = selfcheck_queries(q, tables["expected"])
    res["out_bytes"] = sum(v.get("bytes", 0) for v in q.values())
    res["attempted"] = len(QUERIES)
    return res


def _timed_input(workload: str, seed: int) -> tuple:
    """(input, input rows, pass runner) of a workload's timed pass."""
    from inputs import corpus, ensure_universe, tables

    mix = WORKLOADS[workload]
    if mix is not None:
        t0 = time.time()
        ensure_universe(m for m in WORKLOADS.values() if m is not None)
        inp = corpus(mix, _blocks(seed)[0], expected=True)
        inp["prep_s"] = time.time() - t0 - inp["oracle_s"]
        return inp, inp["n_docs"], lambda tag, extra=None: extract_pass(
            tag, inp, extra)
    inp = tables()
    order = _order(seed)
    return inp, inp["n_in"], lambda tag, extra=None: query_pass(
        tag, inp, order, extra)


def _record(workload: str, seed: int) -> str:
    """Where an untraced run leaves its wall time for a traced run of the
    same workload, seed and code."""
    code = source_hash("indonesian_id_ocr_service_spark", "perfbench",
                       "__spark_entry__.py")
    return os.path.join(WORK, "untraced", f"{workload}-{seed}-{code}.json")


def untraced(workload: str, seed: int) -> tuple:
    inp, n_in, run_pass = _timed_input(workload, seed)
    p = run_pass(f"{workload}-{seed}")
    _log(f"setup {p['setup_s']:.2f}s wall {p['wall_s']:.2f}s "
         f"cpu {p['cpu_s']:.1f}s rss {p['rss_mb']['total']:.0f}MB "
         f"failed {p['failed']}/{p['attempted']}")
    _write_json(_record(workload, seed), p["wall_s"])
    metrics = {
        "setup_s": (p["setup_s"], "s"),
        "wall_s": (p["wall_s"], "s"),
        "cpu_s": (p["cpu_s"], "s"),
        "docs_per_s": (n_in / p["wall_s"], "docs/s"),
        "out_bytes_per_doc": (p["out_bytes"] / n_in, "B/doc"),
    }
    labels = {"n_docs": n_in, "input_prep_s": inp["prep_s"],
              "oracle_s": inp["oracle_s"], "rss_mb": p["rss_mb"]}
    if WORKLOADS[workload] is None:
        labels["query_s"] = {n: p["queries"][n]["s"] for n in _order(seed)}
    return [p], metrics, labels


def traced(workload: str, seed: int) -> tuple:
    from inputs import BLOCKS, corpus, tables
    from ledger import eventlog_metrics

    mix = WORKLOADS[workload]
    tag = f"{workload}-{seed}"
    rest = _blocks(seed)[1]
    chunks = [corpus(mix or DEFAULT_MIX,
                     sorted(rest[k * LADDER_BLOCKS:(k + 1) * LADDER_BLOCKS]),
                     expected=False) for k in range(4)]
    pure = {label: corpus(m, [BLOCKS], expected=False)
            for label, m in PURE_MIXES.items()}
    tabs = tables()
    inp, _, run_pass = _timed_input(workload, seed)

    # trace.overhead_s compares with the untraced wall time of the same
    # workload, seed and code: recorded by an earlier untraced run in
    # this checkout, else measured now in a fresh untraced session
    passes = []
    try:
        with open(_record(workload, seed)) as f:
            plain_wall = json.load(f)
    except OSError:
        passes.append(run_pass(f"{tag}-untraced"))
        plain_wall = passes[0]["wall_s"]
        _write_json(_record(workload, seed), plain_wall)

    kdir = os.path.join(WORK, "kernel", tag)
    os.makedirs(kdir, exist_ok=True)
    eventlog_dir = os.path.join(WORK, "eventlog", tag)
    ladder_out = os.path.join(WORK, "runs", f"{tag}-ladder")
    for d in (eventlog_dir, ladder_out):
        shutil.rmtree(d, ignore_errors=True)
    main_arrow = os.path.join(kdir, "main.arrow")
    pure_arrow = {k: os.path.join(kdir, f"{k}.arrow") for k in pure}
    # the kernel ledger reads the first ladder chunk: the workload's mix
    # (the default mix for oracle_queries), docs no pass has seen
    trace = {"eventlog_dir": eventlog_dir,
             "ladder": [c["path"] for c in chunks],
             "ladder_out": ladder_out,
             "queries": mix is not None,
             "dump": [[chunks[0]["path"], main_arrow]]
             + [[pure[k]["path"], pure_arrow[k]] for k in pure]}
    extra = {"trace": trace}
    if mix is not None:
        extra.update(tables=tabs["path"], order=_order(seed))
    traced_ = run_pass(f"{tag}-traced", extra)
    shutil.rmtree(ladder_out, ignore_errors=True)
    if mix is not None:
        # the query subset re-run inside the traced extraction session
        traced_["failed"] += check_queries(traced_["queries"],
                                           tabs["expected"])
        traced_["attempted"] += len(QUERIES)
        docs = inp["n_docs"]
    else:
        # the KTP and SIM e2e fixtures each extract one doc per row
        docs = 2 * inp["doc_rows"]
    passes.append(traced_)

    t0 = time.time()
    kres = run_child("ledger.py", ["kernel", _write_json(
        os.path.join(kdir, "spec.json"),
        {"main": main_arrow, "pure": pure_arrow, "batch": 256,
         "max_batches": 3})], f"kernel-{tag}.log")
    kernel_s = time.time() - t0
    ev = eventlog_metrics(os.path.join(eventlog_dir, traced_["app_id"]))
    arrow = ev.pop("arrow")
    lad = traced_["ladder"]
    n_l = chunks[0]["n_docs"]
    metrics = {
        "scan.s": (lad["scan"], "s"),
        "kernel_input.s": (lad["kernel_input"] - lad["scan"], "s"),
        "arrow.s": (lad["arrow"] - lad["kernel_input"], "s"),
        "kernel.core_ms_per_doc": (
            (lad["kernel"] - lad["arrow"]) * cores() * 1000 / n_l, "ms/doc"),
        "assemble.s": (lad["pipeline_noop"] - lad["kernel"], "s"),
        "sink.s": (lad["pipeline_parquet"] - lad["pipeline_noop"], "s"),
        "lineage.s": (lad["process"] - lad["pipeline_parquet"], "s"),
        "arrow.bytes_sent_per_doc": (arrow["bytes_sent"] / docs, "B/doc"),
        "arrow.bytes_returned_per_doc": (arrow["bytes_returned"] / docs,
                                         "B/doc"),
        "pyworker.start_ms": (arrow["start_ms"], "ms"),
        "pyworker.init_ms": (arrow["init_ms"], "ms"),
        "pyworker.run_ms": (arrow["run_ms"], "ms"),
        "kernel.wall_share": (arrow["run_ms"] / (
            1000 * cores() * traced_["wall_s"]), "ratio"),
        "tasks.count": (ev["tasks.count"], "count"),
        "tasks.cpu_ms": (ev["tasks.cpu_ms"], "ms"),
        "tasks.gc_ms": (ev["tasks.gc_ms"], "ms"),
        "tasks.slowest_over_median": (ev["tasks.slowest_over_median"],
                                      "ratio"),
        "scan.bytes_read": (ev["scan.bytes_read"], "B"),
        "sink.bytes_written": (ev["sink.bytes_written"], "B"),
        "mem.peak_rss_mb": (traced_["rss_mb"]["total"], "MB"),
        "mem.python_peak_mb": (traced_["rss_mb"]["python"], "MB"),
        "mem.jvm_peak_mb": (traced_["rss_mb"]["jvm"], "MB"),
    }
    for key, value in kres.items():
        unit = ("s" if key.endswith("_s") else "ms/doc"
                if key.endswith("_per_doc") else "ratio"
                if key.endswith("hit_ratio") else "count")
        metrics[key] = (value, unit)
    for name in QUERIES:
        metrics[f"query.{name}.s"] = (traced_["queries"][name]["s"], "s")
    metrics["trace.overhead_s"] = (traced_["wall_s"] - plain_wall, "s")
    labels = {"n_docs": docs, "ladder_docs": n_l,
              "untraced_wall_s": plain_wall,
              "traced_s": {k: traced_.get(k) for k in (
                  "setup_s", "wall_s", "ladder_total_s", "queries_total_s",
                  "dump_s")},
              "kernel_ledger_s": kernel_s}
    return passes, metrics, labels


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    package = "indonesian_id_ocr_service_spark"
    if not os.path.isdir(os.path.join(ROOT, package)):
        _log(f"no {package} package under {ROOT}")
        return 2
    os.makedirs(WORK, exist_ok=True)
    if args.trace:
        passes, metrics, labels = traced(args.workload, args.seed)
    else:
        passes, metrics, labels = untraced(args.workload, args.seed)
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    selfcheck = all(p["selfcheck"] for p in passes)
    labels.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "mix": WORKLOADS[args.workload],
        "sf": None if WORKLOADS[args.workload] else "generated tables",
        "cores": cores(), "ram_mb": mem_total_mb(),
        "driver_mem": driver_mem(), "pyspark": version("pyspark"),
        "steal_pct": [p["steal_pct"] for p in passes],
        "failed_frac": failed / attempted, "selfcheck": selfcheck,
    })
    print(json.dumps({"labels": labels}))
    print(json.dumps({
        "correct": failed == 0 and selfcheck,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
