"""Extra benchmarks for optimization work (guide §1: measure first).

NOT the driver contract — bench.py stays frozen. This tool times
individual declared queries (same _force methodology as bench.py so
numbers are comparable), and can dump .explain("formatted") per query.

Usage:
  python -u bench_extra.py [--sf DIR] [--passes N] [--explain DIR] \
      [--noop] [query ...]

With --noop, uses df.write.format("noop") instead of the xxhash sum
(guide §1.4) to time computation without the collect. With
--explain DIR --passes 0 it only writes the plans.

The session follows the host as perfbench sizes it: local[N] with N =
SPARK_GRAFT_CPUS, else the cores this process may run on, and a driver
heap of a quarter of RAM, 1-8 GB (SPARK_GRAFT_DRIVER_MEM overrides it).
--sf defaults to SPARK_GRAFT_SF_DIR, else the sf0.1 testdata, as in bench.py.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from indonesian_id_ocr_service_spark.session import build_session  # noqa: E402
from perfbench.common import cores, driver_mem  # noqa: E402


def _force(df) -> None:
    from pyspark.sql import functions as F

    df.select(
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
    ).collect()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--explain", default=None,
                    help="dir to write <query>.txt explain output")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    cpus = cores()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_mem())
    spark = build_session(
        app_name="bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = args.queries or list(qs)
    sink = _noop if args.noop else _force

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            df = qs[name](spark, args.sf)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(txt)
            print(f"[explain] {name} -> {args.explain}/{name}.txt",
                  flush=True)

    results: dict[str, list[float]] = {n: [] for n in names}
    for p in range(args.passes):
        for name in names:
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} pass{p}")
            t0 = time.time()
            sink(qs[name](spark, args.sf))
            sec = time.time() - t0
            results[name].append(sec)
            print(f"[pass{p}] {name}: {sec:.2f}s", flush=True)
    if args.passes > 0:
        print("--- best ---")
        tot = 0.0
        for name in names:
            b = min(results[name])
            tot += b
            print(f"{name}: {b:.2f}")
        print(f"TOTAL(best): {tot:.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
