"""Salted repartitioning for media-heavy documents (operators/skew.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from indonesian_id_ocr_service_spark.operators import skew


def _mk_docs(spark, heavy_refs=200, n_light=60):
    rows = []
    # one pathological media-heavy doc + a tail of light docs
    heavy = [("media", "", f"img://h/{k}", k) for k in range(heavy_refs)]
    rows.append(("heavy", [("text", "x", "", heavy_refs)] + heavy))
    for d in range(n_light):
        rows.append((f"light{d}",
                     [("text", "hello world", "", 0),
                      ("media", "", f"img://l{d}", 1)]))
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>")


def test_salted_explode_splits_heavy_docs(spark):
    docs = _mk_docs(spark)
    chunks = skew.salted_explode_media(docs, chunk=8).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    # heavy doc fans out into ceil(200/8)=25 chunks with distinct salts
    heavy = by_doc["heavy"]
    assert len(heavy) == 25
    assert sorted(r.salt for r in heavy) == list(range(25))
    assert all(len(r.media_refs) <= 8 for r in heavy)
    got = [ref for r in sorted(heavy, key=lambda r: r.salt)
           for ref in r.media_refs]
    assert got == [f"img://h/{k}" for k in range(200)]  # order kept
    # light docs stay single-chunk (no fan-out for the tail)
    assert all(len(by_doc[f"light{d}"]) == 1 for d in range(60))


def test_salted_reduction_is_salt_invariant(spark):
    """The production media reduction gives the same rows whatever the
    chunk size, on a document that really fans out (200 refs)."""
    from indonesian_id_ocr_service_spark.operators.media_metrics import (
        media_quality_metrics,
    )

    docs = _mk_docs(spark).withColumnRenamed("spans", "out_spans")
    for chunk in (4, 8, 64):
        out = {r.doc_id: r
               for r in media_quality_metrics(docs, chunk=chunk).collect()}
        assert out["heavy"].n_media == 200
        assert all(out[f"light{d}"].n_media == 1 for d in range(60))
        if chunk == 4:
            base = out
    assert base == out


def test_salting_balances_partition_weight(spark):
    """The point of the salt: the max per-partition media weight drops
    from 'all of the heavy doc' to ~chunk size."""
    # AQE's small-partition coalescing merges this tiny test shuffle
    # back into one partition, hiding the balance we're measuring
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    docs = _mk_docs(spark, heavy_refs=240, n_light=40)
    unsalted = docs.select(
        "doc_id",
        F.size(F.filter(F.col("spans"),
                        lambda s: s["kind"] == "media")).alias("w"),
    ).repartition(8, F.col("doc_id"))
    chunks = skew.salted_explode_media(docs, chunk=8)
    salted = chunks.select("doc_id",
                           F.size("media_refs").alias("w")) \
        .repartition(8, F.col("doc_id"), F.col("salt"))

    def max_partition_weight(df):
        pw = (df.withColumn("p", F.spark_partition_id())
              .groupBy("p").agg(F.sum("w").alias("pw")).collect())
        return max(r.pw for r in pw)

    try:
        assert max_partition_weight(unsalted) >= 240
        assert max_partition_weight(salted) <= 120  # ≥2x better
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true")


def test_media_metrics_branch_in_extraction_run(spark, tmp_path):
    """The salted media stage wired into ExtractionRun (VERDICT r4 task
    #3): process(metrics_fn=media_quality_metrics) commits results +
    lineage + per-doc media-quality metrics in one call; the branch's
    reduce is salt-invariant; resume skips the committed job without
    rewriting metrics."""
    from indonesian_id_ocr_service_spark.corpus.generator import corpus_df
    from indonesian_id_ocr_service_spark.operators.media_metrics import (
        media_quality_metrics,
    )
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline
    from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun

    src = corpus_df(spark, 60).cache()
    run = ExtractionRun(str(tmp_path / "run"), "r1")
    stats = run.process(
        spark, src, run_pipeline,
        metrics_fn=lambda out: media_quality_metrics(out, chunk=2))
    assert stats == {"skipped": False, "rows": 60}

    metrics = spark.read.parquet(run.metrics_dir)
    rows = {r.doc_id: r for r in metrics.collect()}
    # every corpus doc carries at least the photo media span -> a row
    # per doc, counts match the media spans that passed through
    out = spark.read.parquet(run.results_dir)
    media_counts = {
        r.doc_id: r.n for r in out.select(
            "doc_id",
            F.size(F.filter(F.col("out_spans"),
                            lambda s: s["kind"] == "media")).alias("n"))
        .filter(F.col("n") > 0).collect()
    }
    assert set(rows) == set(media_counts)
    for d, n in media_counts.items():
        assert rows[d].n_media == n
        assert rows[d].n_decoded == n     # default resolver always decodes

    # salt-invariance: a different chunk size reproduces the same rows
    again = media_quality_metrics(out, chunk=16)
    vals = lambda df: {  # noqa: E731
        (r.doc_id, r.n_media, r.n_blurry, r.n_dark, float(r.blur_sum))
        for r in df.collect()}
    assert vals(again) == vals(metrics.drop("log_month", "run_id"))

    # resume: nothing to do, metrics not duplicated
    stats2 = run.process(
        spark, src, run_pipeline,
        metrics_fn=lambda out: media_quality_metrics(out, chunk=2))
    assert stats2 == {"skipped": True, "rows": 0}
    assert spark.read.parquet(run.metrics_dir).count() == len(rows)


def test_media_metrics_not_duplicated_on_replay(spark, tmp_path):
    """A crash after the metrics write and before the lineage append
    makes the next process() run the same job again. Nothing names
    the crashed commit, so the replay's purge deletes its metrics
    directory with its results directory: every doc keeps one metrics
    row instead of one per run."""
    import os

    from indonesian_id_ocr_service_spark.corpus.generator import corpus_df
    from indonesian_id_ocr_service_spark.operators.media_metrics import (
        media_quality_metrics,
    )
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline
    from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun

    src = corpus_df(spark, 60).cache()
    run = ExtractionRun(str(tmp_path / "run"), "r1")

    def process():
        return run.process(
            spark, src, run_pipeline,
            metrics_fn=lambda out: media_quality_metrics(out, chunk=2))

    process()
    first = spark.read.parquet(run.metrics_dir).count()
    assert first > 0
    os.remove(run.lineage_path)          # the append never happened
    assert process() == {"skipped": False, "rows": 60}
    ids = [r.doc_id for r in
           spark.read.parquet(run.metrics_dir).select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == first


def test_media_metrics_plan_salt_exchange(spark):
    """Plan audit: the decode stage is fed by the explicit (doc_id,
    salt) repartition — ids + refs only, payloads never shuffle — and
    the only other Exchange is the tiny per-doc partial reduce."""
    from indonesian_id_ocr_service_spark.operators.media_metrics import (
        media_quality_metrics,
    )

    docs = _mk_docs(spark).withColumnRenamed("spans", "out_spans")
    plan = media_quality_metrics(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    # AQE may show reused/adaptive wrappers; count real shuffle nodes
    assert plan.count("hashpartitioning(doc_id") >= 1, plan
    assert n_exchanges <= 2, plan
    # partial aggregation before the reduce exchange
    assert "partial_sum" in plan or "HashAggregate" in plan, plan
