"""``__spark_entry__.entry()`` end to end: its schema, and every row's
NIK repair and birth date against the pure-Python oracle
(``oracle.scalars.nik_best_candidate`` and ``normalize_date``)."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import __spark_entry__ as E

from indonesian_id_ocr_service_spark.oracle import scalars as O

SCHEMA = [
    ("k", "bigint"),
    ("nik_true", "string"),
    ("nik_ocr", "string"),
    ("nik_repaired", "string"),
    ("nik_conf", "double"),
    ("nik_source", "string"),
    ("tgl_lahir", "string"),
    ("jenis_kelamin", "string"),
]


def _round4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double: half-up on its shortest
    decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def test_entry_matches_oracle(spark):
    df = E.entry(spark)
    assert [(f.name, f.dataType.simpleString())
            for f in df.schema.fields] == SCHEMA
    rows = df.collect()
    # the birth date entry() corrupts: dd-mm-yyyy with 19xx read as 13xx
    date_raw = {
        r.o_orderkey: r.o_orderdate.strftime("%d-%m-%Y").replace("-19", "-13")
        for r in spark.read.parquet(*df.inputFiles())
        .select("o_orderkey", "o_orderdate").collect()
    }
    assert len(rows) == len(date_raw)
    sources = set()
    for r in rows:
        exp = O.nik_best_candidate(r.nik_ocr, 0.30)
        if exp is None:
            assert (r.nik_repaired, r.nik_conf, r.nik_source) == (
                None, None, None), r
        else:
            assert r.nik_repaired == exp["value"], r
            assert r.nik_conf == _round4(exp["confidence"]), r
            assert r.nik_source == exp["source"], r
        sources.add(r.nik_source)
        assert r.tgl_lahir == O.normalize_date(date_raw[r.k])["normalized"], r
    # repairs from more than one tier, and rows with no candidate
    assert len(sources - {None}) > 1 and None in sources
