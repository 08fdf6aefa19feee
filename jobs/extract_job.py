"""spark-submit application for the extraction pipeline.

The north rule's launch contract (BASELINE.json `north_star`): the
engine runs "via spark-submit --py-files on multi-executor clusters".
This script is the primary resource; the package ships as a zip built
by ``tools/make_pyfiles.py``:

    spark-submit \
        --master <cluster-or-local[N]> \
        --driver-memory 8g \
        --conf spark.driver.extraJavaOptions=-XX:+UseParallelGC \
        --conf spark.executor.extraJavaOptions=-XX:+UseParallelGC \
        --py-files dist/indonesian_id_ocr_service_spark.zip \
        jobs/extract_job.py \
        --input /data/span_corpus --base-dir /data/runs/r1 --run-id r1

Everything master/deploy-mode/JVM-sizing belongs to the submit command
line (a driver JVM cannot re-set its own -Xmx/GC after launch — see
session.py for why ParallelGC matters on this kernel); this script only
applies the engine's SQL confs (``session.SQL_CONF``) and runs the
resumable ``ExtractionRun`` over the input. Each job commits one
``results/commit=<id>/`` directory and appends one lineage line
``{run_id, commit, rows: n, started_at, finished_at}`` naming it and
the row count observed on the write; nothing else is committed.
Re-submitting the identical command after a crash resumes from that
log: a committed run dir is skipped, and a crashed job's un-logged
directories are deleted before the re-run (sinks/lineage.py).

The job has no shuffle (``run_pipeline`` is one narrow chain over the
parquet scan), so it takes no shuffle option; a cluster that wants
``spark.sql.shuffle.partitions`` set passes ``--conf`` to spark-submit.

Prints exactly one JSON result line on stdout:
``{"run_id", "skipped", "rows", "wall_s", "docs_per_sec"}`` —
Spark's own logging goes to stderr, so the line is machine-parseable
from a scheduler.

Reference parity note: this is the batch analog of the reference's
service entry (app.py:92-98, one Waitress process, 4 threads); here a
single submit processes an arbitrarily large corpus as one commit.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _build_submitted_session(app_name: str):
    """SparkSession for a spark-submit launch: NO ``.master()`` — the
    submit command owns master/deploy-mode — only the engine's SQL/
    Arrow confs (``session.SQL_CONF``, the table session.build_session
    applies locally)."""
    from pyspark.sql import SparkSession

    from indonesian_id_ocr_service_spark.session import SQL_CONF

    b = SparkSession.builder.appName(app_name)
    for k, v in SQL_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--input", required=True,
                   help="parquet dir of the span corpus (doc_id, spans, "
                   "span_geom, span_conf, spans_alt, alt_geom)")
    p.add_argument("--base-dir", required=True,
                   help="run output root: results/commit=<id>/ "
                   "(doc_id, out_spans; one directory per committed "
                   "job), lineage.jsonl (one line per committed job)")
    p.add_argument("--run-id", required=True)
    p.add_argument("--app-name", default="idocr-extract")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    spark = _build_submitted_session(args.app_name)

    # Under spark-submit the zip from --py-files is on the driver's
    # sys.path from launch and is shipped to executors automatically.
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline
    from indonesian_id_ocr_service_spark.queries import ensure_session_conf
    from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun

    ensure_session_conf(spark)
    run = ExtractionRun(args.base_dir, args.run_id)
    t0 = time.time()
    res = run.process(spark, spark.read.parquet(args.input), run_pipeline)
    wall = time.time() - t0
    out = {
        "run_id": args.run_id,
        "skipped": res["skipped"],
        "rows": res["rows"],
        "wall_s": round(wall, 2),
        "docs_per_sec": round(res["rows"] / wall, 1) if wall > 0 else 0.0,
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
