"""ANN scale path: multi-table hyperplane-LSH candidates + exact
re-rank must recover (nearly) the exact brute-force top-k."""

from __future__ import annotations

from indonesian_id_ocr_service_spark import queries_data as QD

SF = "/root/testdata/sf0.001"


def test_lsh_topk_recall_vs_exact(spark):
    exact = {(r.query_id, r.neighbor_id)
             for r in QD.q_ann_cosine_topk(spark, SF).collect()}
    lsh = {(r.query_id, r.neighbor_id)
           for r in QD.q_ann_lsh_bucket(spark, SF).collect()}
    assert exact, "exact baseline returned nothing"
    recall = len(exact & lsh) / len(exact)
    # L=12 tables × 4 planes measured at recall 1.0 on this data; 0.8
    # is the acceptance floor (single-table 8-bit LSH scores 0.0)
    assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8"
    # sims on shared pairs must agree exactly (same re-rank math)
    exact_sims = {(r.query_id, r.neighbor_id): r.sim
                  for r in QD.q_ann_cosine_topk(spark, SF).collect()}
    for r in QD.q_ann_lsh_bucket(spark, SF).collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact_sims:
            assert abs(r.sim - exact_sims[key]) < 1e-9


def test_ivf_topk_recall_vs_exact(spark):
    """IVF scale path (16 cells, 8 probes — see similarity.N_PROBE for
    why the probe fraction is large on this unclustered testdata):
    candidate recall vs the exact cosine baseline, and exact sim
    agreement on shared pairs."""
    exact = {(r.query_id, r.neighbor_id): r.sim
             for r in QD.q_ann_cosine_topk(spark, SF).collect()}
    ivf_rows = QD.q_ann_ivf(spark, SF).collect()
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_rows}
    assert exact, "exact baseline returned nothing"
    recall = len(set(exact) & ivf) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall:.2f} < 0.8"
    for r in ivf_rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(r.sim - exact[key]) < 1e-9


def test_ivf_assign_deterministic_and_single_cell(spark):
    """Every corpus vector lands in exactly one cell; assignment is
    deterministic across invocations (the 100-TB partition-key
    contract)."""
    from indonesian_id_ocr_service_spark.operators import (
        similarity as SIM,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a1 = SIM.ivf_assign(
        emb.select(F.col("vec_id").alias("id"),
                   F.col("embedding").alias("v")), "id", "v",
        n_cells=16, n_probe=1).collect()
    assert len(a1) == emb.count()
    assert all(r.probe == 0 for r in a1)
    m1 = {r.id: r.cell for r in a1}
    a2 = SIM.ivf_assign(
        emb.select(F.col("vec_id").alias("id"),
                   F.col("embedding").alias("v")), "id", "v",
        n_cells=16, n_probe=1).collect()
    assert m1 == {r.id: r.cell for r in a2}
    # cells are load-bearing: more than one cell in use on this data
    assert len(set(m1.values())) > 1
