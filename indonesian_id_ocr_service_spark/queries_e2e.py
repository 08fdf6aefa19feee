"""End-to-end extraction oracle queries: the REAL pipeline (the same
mapInArrow kernel `run_pipeline` ships to production) over the
closed-form fixture corpora of corpus/e2e_fixture.py, checked span by
span against a DuckDB oracle that computes the expected output from
doc_id alone.

This is the driver-gate analogue of the pytest span-equality suite: the
hard per-query hash signal finally exercises the K-series spatial
matcher, the N-series normalize/repair chain, V-series crossval, and
span assembly in one query (VERDICT r4 task #1).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from .corpus.e2e_fixture import (
    FIXTURE_DDL,
    fixture_row,
    ktp_expected_sql,
    ktp_raw_doc,
    sim_expected_sql,
    sim_raw_doc,
)
from .queries import _map_rows, _read


def _extraction_e2e(spark, sf_dir, raw_doc):
    """The documents table's ids → the raw fixture corpus ``raw_doc``
    builds per id → the pipeline → one row per output span.

    The ids are hash-repartitioned on doc_id BEFORE the span
    construction: that ids-only repartition is the one intentional
    Exchange. It carries 8-byte ids instead of built span payloads, and
    the construction parallelizes even when the ids file is
    row-group-bound (the driver testdata carries 1 row group of 500
    rows, below the footer gate's 4,096-row floor, so fanout=False and
    without it the whole fixture built on one core). The span
    construction and the kernel then run fully parallel, the built
    spans never shuffle, and the pipeline itself stays a zero-shuffle
    narrow chain."""
    from .pipeline import run_pipeline

    ids = (_read(spark, sf_dir, "documents", fanout=False)
           .select("doc_id")
           .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    raw = _map_rows(ids, partial(fixture_row, raw_doc), FIXTURE_DDL)
    out = run_pipeline(raw)
    return out.select(
        "doc_id", F.explode("out_spans").alias("s")
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.order").alias("ord"),
    )


def q_ktp_extraction_e2e(spark, sf_dir):
    return _extraction_e2e(spark, sf_dir, ktp_raw_doc)


SQL_KTP_EXTRACTION_E2E = ktp_expected_sql()


def q_sim_extraction_e2e(spark, sf_dir):
    return _extraction_e2e(spark, sf_dir, sim_raw_doc)


SQL_SIM_EXTRACTION_E2E = sim_expected_sql()
