"""Physical-plan assertions: the scale claims hold in the actual plans
(SURVEY §4) — broadcast joins broadcast, filters and column pruning
reach the parquet scan, the extraction path has no Exchange, and the
dedup and ANN queries shuffle only what their designs say.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from indonesian_id_ocr_service_spark import queries as Q
from indonesian_id_ocr_service_spark import queries_data as QD

SF = "/root/testdata/sf0.001"


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
        df._jdf.queryExecution(), "formatted")


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    return simple_plan(df).count("Exchange")


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in simple_plan(df)


def pushed_filters(df: DataFrame) -> str:
    plan = formatted_plan(df)
    return "\n".join(
        ln.strip() for ln in plan.splitlines()
        if "PushedFilters" in ln or "ReadSchema" in ln
    )


def test_extraction_path_is_shuffle_free(spark):
    """The production chain — kernel input projection → one mapInArrow
    kernel that also builds the output spans — must contain NO Exchange
    over a KTP/SIM/UNKNOWN mix (one row per doc, narrow all the way),
    exactly one MapInArrow, and no higher-order-function lambda around
    it: span assembly and classification happen inside the kernel. The
    corpus carries span_geom, so no default geometry is synthesised."""
    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL,
        doc_rows,
    )
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline

    rows = list(doc_rows(10, fractions=(0.6, 0.3, 0.1)))
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)
    out = run_pipeline(df)
    plan = simple_plan(out)
    assert count_exchanges(out) == 0, plan[:2000]
    assert plan.count("MapInArrow") == 1, plan[:2000]
    assert "lambdafunction" not in plan.lower(), plan[:2000]


def test_e2e_query_single_intentional_exchange(spark):
    """The e2e oracle query is: ids scan → ONE hash repartition on
    doc_id (test-scale parallelism; at 100 TB the file splits provide
    it) → mapInPandas fixture build → the zero-shuffle extraction chain
    → explode. Anything beyond that one Exchange means the pipeline
    grew a shuffle."""
    from indonesian_id_ocr_service_spark import queries_e2e as QE

    for q in (QE.q_ktp_extraction_e2e, QE.q_sim_extraction_e2e):
        df = q(spark, SF)
        plan = simple_plan(df)
        assert count_exchanges(df) == 1, plan[:2000]
        assert "hashpartitioning(doc_id" in plan, plan[:2000]


def test_dim_join_broadcasts(spark):
    df = Q.q_broadcast_dim_join(spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_filter_pushdown_reaches_scan(spark):
    df = Q.q_date_3digit_year(spark, SF)
    pushed = pushed_filters(df)
    # the year(o_orderdate) < 1999 predicate must reach the scan and the
    # scan must read only o_orderdate
    assert "PushedFilters" in pushed
    assert "o_orderdate" in pushed
    assert "o_totalprice" not in pushed  # column pruning


def test_dedup_verified_inner_join_prunes_shingles(spark):
    """The verify stage of the composed dedup pipeline must NOT ship the
    full shingle table into the pair aggregation: the shingle
    projection inner-joins the candidate pairs' ends on the end id
    below the aggregation that regroups each pair, so only candidate
    docs' shingle arrays reach the verify shuffle (the 100-TB scale
    claim)."""
    df = QD.q_dedup_verified(spark, SF)
    lines = simple_plan(df).splitlines()

    def first(pred):
        return next(i for i, ln in enumerate(lines) if pred(ln))

    agg = first(lambda ln: "Aggregate" in ln and "first(" in ln)
    join = first(lambda ln: "Join [d#" in ln and "Inner" in ln)
    shingles = first(lambda ln: "array_distinct" in ln and " AS sh#" in ln)
    assert agg < join < shingles, "\n".join(lines)[:3000]


def test_dedup_verified_single_banding_no_cache(spark):
    """The LSH banding stage (mapInPandas + bucket grouping) executes
    ONCE, and nothing is cached: the candidate pairs have one consumer,
    so the plan holds exactly one MapInPandas and no in-memory
    relation."""
    df = QD.q_dedup_verified(spark, SF)
    plan = simple_plan(df)
    assert plan.count("MapInPandas") == 1, plan[:3000]
    assert "InMemoryRelation" not in plan, plan[:3000]
    assert "InMemoryTableScan" not in plan, plan[:3000]


def test_dedup_verified_leaves_no_cache(spark):
    """Collecting the dedup query leaves the session's CacheManager
    empty, so no later query in a shared session can match a cached
    subtree of it."""
    spark.catalog.clearCache()
    QD.q_dedup_verified(spark, SF).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_lsh_single_kernel_no_join(spark):
    """LSH pairing is groupBy (band, key) → in-bucket pair explosion:
    the signature kernel must appear exactly ONCE in the plan (the old
    self-join form executed it once per join side), no join operator
    remains, and the band rows shuffle through the grouping + the final
    distinct only."""
    df = QD.q_minhash_lsh(spark, SF)
    plan = simple_plan(df)
    assert plan.count("MapInPandas") == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "HashAggregate" in plan and "Generate" in plan, plan[:2000]


def test_rollup_single_expand_pass(spark):
    """ROLLUP must be one Expand + hash aggregate — not a union of
    per-level scans."""
    df = Q.q_rollup_pricing(spark, SF)
    plan = simple_plan(df)
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") == 1, plan[:2000]


def test_ann_ivf_ids_only_candidate_shuffle(spark):
    """The IVF candidate join must carry ids/cells only — vectors join
    back after the candidate cut, query side broadcast."""
    df = QD.q_ann_ivf(spark, SF)
    plan = simple_plan(df)
    assert "BroadcastHashJoin" in plan
    # the cell join's build side is the probe assignment (query_id,
    # cell) — no embedding column may appear in the bucket kernels
    import re
    m = re.findall(r"MapInPandas.*", plan)
    assert m and all("embedding" not in s for s in m), m[:2]
