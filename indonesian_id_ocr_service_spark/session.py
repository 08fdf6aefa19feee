"""SparkSession builders tuned for the extraction workload.

Scale posture (designed for 1000-executor clusters, exercised on
local[N] here):

- AQE on: runtime coalescing + skew-join splitting.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is set to 2-3× total executor cores via spark-submit conf.
- Arrow on for ``toPandas``/``createDataFrame`` (``mapInArrow`` and
  ``mapInPandas`` always move batches through Arrow); records per batch
  capped so a media-heavy batch can't blow executor memory.
- ANSI off: OCR data is noisy by design — the pipeline uses permissive
  try-cast semantics everywhere (mirrors the reference's never-raise
  contract, e.g. /root/reference/date_normalizer.py:71-77).
- DataFrame debugging off: PySpark otherwise walks the Python stack on
  every Column/DataFrame call to record its call site (about three
  extra driver↔JVM round trips per call, and an IPython import on the
  first). The trade: an analysis or runtime error's DataFrame query
  context no longer names the Python file:line that built the failing
  expression; the error itself is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the engine's SQL/Arrow confs, applied by every session builder
#: (``build_session`` here, ``jobs/extract_job.py`` under spark-submit);
#: ``queries.ensure_session_conf`` re-applies the runtime-settable ones
SQL_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The bytes of a batch are bounded too: Spark 4.1's default
    # spark.sql.execution.arrow.maxBytesPerBatch (64 MB) already caps
    # each mapInArrow input batch (256 KB rows arrive 256 per batch).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Per-document work is compute-heavy (the mapInArrow kernel), so
    # input splits must target CORES, not IO: the defaults
    # (128 MB splits, 4 MB file-open cost) bin-pack a small corpus
    # into 2-3 partitions and starve the executors. At warehouse
    # scale the natural 128 MB splits already exceed core count;
    # these knobs only matter for small/medium inputs.
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(128 * 1024),
    # Spark 4's ICU-backed case mapping pays a multi-minute
    # single-threaded CollationAwareUTF8String static init on the
    # first upper()/lower() — it serialized the whole cluster on
    # first touch (observed: 32 executor threads blocked ~340 s on
    # the class-init monitor). JVM case mapping is correct for this
    # ASCII corpus and matches Python str.upper() in the oracle.
    "spark.sql.icu.caseMappings.enabled": "false",
    # No per-call call-site capture on the driver (module docstring):
    # error messages lose the Python file:line fragment of the
    # DataFrame query context, and planning loses ~3 py4j round trips
    # per Column call.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

#: the directory holding this package: local Python workers import the
#: kernel from it wherever the driver process was started
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    app_name: str = "indonesian-id-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    conf = {
        # Pin the heap and use the throughput collector: under the
        # normalizer chains' allocation rate, G1's region
        # uncommit/recommit had this kernel zero-filling pages from GC
        # worker threads — observed ~28 of 32 cores in system time with
        # executor threads idle; ParallelGC + Xms=Xmx runs the same job
        # at 100% user CPU.
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_mem} -XX:+UseParallelGC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        **SQL_CONF,
        "spark.driver.memory": driver_mem,
        "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT,
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
