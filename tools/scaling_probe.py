"""Scaling probe: one sample of the identical pipeline job at one
parallelism level, emitted as a JSON line.

Evidence protocol for the two-cluster-size rule (BASELINE.md): this
sandbox has no multi-node cluster, so the N->4N executor criterion is
evidenced by running the SAME job (run_pipeline,
mapInArrow -> parquet write) on the SAME input (the 400k-doc seed-42
two-view corpus) at two LOCAL parallelism levels and reporting
throughput at both plus the efficiency ratio. Each sample runs in its
own process (a stopped-and-rebuilt SparkSession reuses the aged JVM,
which poisons later samples); callers interleave levels across rounds
so a degraded-host window cannot hit only one level, and take the min
over all iterations as the capability estimate.

Usage:
  python tools/scaling_probe.py CPUS [N_DOCS] [CORPUS_DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cpu_stat():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + vals[4]                 # idle + iowait
    steal = sum(vals[7:10]) if len(vals) > 7 else 0
    return sum(vals), idle, steal


def _calib() -> float:
    """Single-thread numpy sample — a clean-window detector: this
    host's degraded phases triple it while steal% stays ~0."""
    import numpy as np

    a = np.random.RandomState(0).rand(384, 384)
    t0 = time.time()
    for _ in range(20):
        a = a @ a
        a /= np.abs(a).max()
    return round(time.time() - t0, 3)


def main():
    cpus = int(sys.argv[1])
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 400000
    corpus = (sys.argv[3] if len(sys.argv) > 3
              else f"/tmp/bench_corpus_v2_{n_docs}")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from indonesian_id_ocr_service_spark.session import build_session

    spark = build_session(
        app_name=f"scaling_c{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from indonesian_id_ocr_service_spark.corpus.generator import corpus_df
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline

    if not os.path.exists(corpus):
        corpus_df(spark, n_docs, partitions=64).write.mode(
            "overwrite").parquet(corpus)
    src = spark.read.parquet(corpus)
    if src.rdd.getNumPartitions() < cpus * 2:
        src = src.repartition(cpus * 2)

    out_path = f"/tmp/scaling_out_c{cpus}"
    cb = _calib()
    tot0, idle0, st0 = _cpu_stat()
    t0 = time.time()
    run_pipeline(src).write.mode("overwrite").parquet(out_path)
    wall = time.time() - t0
    tot1, idle1, st1 = _cpu_stat()
    ca = _calib()
    dt = tot1 - tot0
    ncpu = os.cpu_count() or 32
    busy_ticks = dt - (idle1 - idle0)
    tick = os.sysconf("SC_CLK_TCK")
    print(json.dumps({
        "cpus": cpus,
        "n_docs": n_docs,
        "wall_s": round(wall, 1),
        "docs_per_sec": round(n_docs / wall, 1),
        "busy_core_s": round(busy_ticks / tick, 1),
        "avg_cores_busy": round(busy_ticks / dt * ncpu, 1)
        if dt else None,
        "steal_pct": round(100.0 * (st1 - st0) / dt, 2) if dt else None,
        "calib_before_s": cb,
        "calib_after_s": ca,
        "t": round(time.time(), 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
