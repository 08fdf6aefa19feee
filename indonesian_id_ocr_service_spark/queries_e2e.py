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

from pyspark.sql import functions as F

from .corpus.e2e_fixture import (
    fixture_df,
    ktp_expected_sql,
    ktp_raw_doc,
    sim_expected_sql,
    sim_raw_doc,
)


def q_ktp_extraction_e2e(spark, sf_dir):
    from .pipeline import run_pipeline
    from .queries import ensure_session_conf

    ensure_session_conf(spark)
    # the fixture build's ids-only repartition is the one intentional
    # Exchange: the span construction and the kernel both run fully
    # parallel, and the built spans never shuffle. The pipeline itself
    # stays a zero-shuffle narrow chain.
    raw = fixture_df(spark, sf_dir, ktp_raw_doc)
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


SQL_KTP_EXTRACTION_E2E = ktp_expected_sql()


def q_sim_extraction_e2e(spark, sf_dir):
    from .pipeline import run_pipeline
    from .queries import ensure_session_conf

    ensure_session_conf(spark)
    raw = fixture_df(spark, sf_dir, sim_raw_doc)
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


SQL_SIM_EXTRACTION_E2E = sim_expected_sql()
