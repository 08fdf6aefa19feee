"""V6-V11 scoring sanity."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_grade_thresholds(spark):
    from indonesian_id_ocr_service_spark.operators.scoring import grade

    df = spark.createDataFrame(
        [(0.9, 0), (0.8, 0), (0.6, 0), (0.4, 0), (0.1, 0),
         (0.95, 1), (0.95, 2)],
        ["overall", "mc"])
    got = [r[0] for r in df.select(
        grade(F.col("overall"), F.col("mc"))).collect()]
    assert got == ["A", "B", "C", "D", "F", "D", "F"]
