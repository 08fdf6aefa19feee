"""Spark column expressions ↔ pure-Python oracle parity on scalar
normalizers (dates N14-N24, NIK N5 and N10, char subs N1-N4). The NIK
repair tiers (N6-N13) run in ``pandas_ktp.nik_best_one``, checked in
tests/test_property_chain_parity.py and tests/test_entry.py.

Inputs include every golden pair documented in the reference plus a
grid of OCR-noise shapes (FIXTURES.md §3). The date chain is also
checked on a seeded, generated set of date-shaped inputs: the JVM
let-tree (``dates.normalize_date``) is written independently of the
scalar chain the extraction kernel and the date queries run
(``pandas_ktp.normalize_date``, which the oracle re-imports), so the
two agreeing on every strategy, confidence band and noise shape is
the date chain's random-input check.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from indonesian_id_ocr_service_spark.functions import chars as C
from indonesian_id_ocr_service_spark.functions import dates as D
from indonesian_id_ocr_service_spark.functions import nik as N
from indonesian_id_ocr_service_spark.functions import pandas_ktp as PK
from indonesian_id_ocr_service_spark.oracle import scalars as S

DATE_INPUTS = [
    "23 3 1392",            # docstring golden: 23-03-1992 via year repair
    "15-08-1990",
    "15/08/1990",
    "15.08.1990",
    "15 08 1990",
    "1-1-2001",
    "31-12-1999",
    "12-03-988",            # 3-digit year 900-999 → 1988
    "23-10-198",            # 100-199 → 1980
    "05-07-025",            # 0-25 → 2025
    "05-07-030",            # 26-99 → 1930
    "O5-O7-199O",           # char sub
    "l5-08-199O",
    "2310983",              # 7 digits DDMMYYY
    "1231999",              # 7 digits
    "JAKARTA, 23-10-1983",  # embedded
    "born 3.4.99 maybe",    # permissive 2-digit year
    "13-25-1990",           # month invalid → swap path fail
    "25-13-1990",           # swap does not apply (mo>12 & day fine)... exercises validation
    "31-02-1990",           # Feb 31 calendar fail
    "29-02-2000",           # leap ok
    "29-02-1999",           # leap fail
    "12-13-2026",
    "",
    "   ",
    "no date here",
    "99-99-9999",
    "15-08-90",
    "15-08-10",
    "5-3-2400",             # out of range year, repair to 2-digit-pos fix
    "05-07-1810",           # repairable year (1810 → 1910? pos1)
    "15-08-2050",           # young-person branch
    "15-08-3026",
    "1-2-3",
    "00-00-0000",
    "15--08--1990",
    "15 / 08 / 1990",
    "TGL 15-08-1990 X",
]

NIK_INPUTS = [
    "3201234567890001",
    "NIK : 3201234567890001",
    "320123456789000",        # 15 digits
    "32012345678900012",      # 17 digits
    "32O1234S6789OOO1",       # char sub to 16
    "80L1123039200031",
    "3201 2345 6789 0001",
    "junk 1234567890123456 tail",
    "12345678901234",         # 14 → longest run pad
    "123456789012345678",     # 18 digits
    "",
    "no digits",
    "9901234567890001",       # invalid province in 11-94? 99>94 → 0.4
    "1101024107950003",       # female day 41
    "3201230000000000",       # zero day → struct 0
    "0000000000000000",
]


def _collect(spark, inputs, col_builder, extra_cols=()):
    df = spark.createDataFrame([(s,) for s in inputs], ["raw"])
    out = df.select("raw", col_builder(F.col("raw")).alias("out"),
                    *extra_cols)
    return {r["raw"]: r["out"] for r in out.collect()}


def test_char_subs_parity(spark):
    inputs = ["BUDI SANT0SO", "WNl", "80L112", "JL. H3RO 12 RT 001",
              "O5-O7-199O", "a1b2c3", "", "  mixed CaSe 0k "]
    got = _collect(spark, inputs, C.sub_to_digit)
    for s in inputs:
        assert got[s] == S.sub_to_digit(s), s
    got = _collect(spark, inputs, C.sub_date_chars)
    for s in inputs:
        assert got[s] == S.sub_date_chars(s), s
    # N2 runs in the extraction kernel only
    for s in inputs:
        assert PK._sub_text_one(s) == S.sub_to_text(s), s


def _assert_date_parity(got, inputs):
    for s in inputs:
        exp = S.normalize_date(s)
        g = got[s]
        if exp["confidence"] == 0.0:
            assert g is None, (s, g)
        else:
            assert g is not None, (s, exp)
            assert g["normalized"] == exp["normalized"], (s, g, exp)
            assert abs(g["confidence"] - exp["confidence"]) < 1e-9, (
                s, g, exp)
            assert g["method"] == exp["method"], (s, g, exp)
            assert (g["day"], g["month"], g["year"]) == (
                exp["day"], exp["month"], exp["year"]), (s, g, exp)


def test_date_normalize_parity(spark):
    _assert_date_parity(_collect(spark, DATE_INPUTS, D.normalize_date),
                        DATE_INPUTS)


_SEPS = ["-", "/", ".", " ", "--", " / ", ". "]
_OCR_DIGIT = {"0": "OoQ", "1": "Il!iL", "2": "Z", "3": "E", "4": "A",
              "5": "Ss", "6": "G", "7": "T", "8": "B"}
_OCRISH = "0123456789OoIl!SsBZEGTAQ -./:,ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _date_shapes(rng: random.Random) -> list:
    """Date-shaped strings covering every strategy of the chain."""

    def dd(lo=1, hi=31):
        v = rng.randint(lo, hi)
        return str(v) if rng.random() < 0.3 else f"{v:02d}"

    def day():
        return dd(0, 35) if rng.random() < 0.15 else dd()

    def month():
        return dd(0, 15) if rng.random() < 0.15 else dd(1, 12)

    def sep():
        return rng.choice(_SEPS)

    def ocr(text, p):
        return "".join(rng.choice(_OCR_DIGIT[c])
                       if c in _OCR_DIGIT and rng.random() < p else c
                       for c in text)

    def wrap(text):
        r = rng.random()
        if r < 0.2:
            return f"{rng.choice(['JAKARTA, ', 'TGL ', 'lahir: '])}{text}"
        if r < 0.3:
            return f"{text} {rng.choice(['X', 'WIB', 'ok'])}"
        return text

    out = []
    for _ in range(300):   # standard and embedded, years in/out of range
        yr = rng.choice([rng.randint(1920, 2026), rng.randint(1000, 3999),
                         rng.randint(0, 99)])
        out.append(wrap(f"{day()}{sep()}{month()}{sep()}{yr:04d}"))
    for lo, hi in ((900, 999), (0, 25), (26, 99), (100, 199), (200, 899)):
        for _ in range(80):   # each three-digit-year band
            out.append(wrap(f"{day()}-{month()}-{rng.randint(lo, hi):03d}"))
    for _ in range(150):   # month-first dates: swap rescue, month gate
        out.append(f"{dd(1, 12)}-{dd(13, 31)}-{rng.randint(1920, 2026)}")
    for _ in range(150):   # two-digit years
        out.append(wrap(f"{dd()}{rng.choice('-/.')}{dd(1, 12)}"
                        f"{rng.choice('-/.')}{rng.randint(0, 99):02d}"))
    for _ in range(250):   # char-sub of each shape
        yr = rng.choice([f"{rng.randint(1920, 2026)}",
                         f"{rng.randint(900, 999)}",
                         f"{rng.randint(0, 99):02d}"])
        out.append(ocr(f"{day()}{sep()}{month()}{sep()}{yr}", 0.3))
    for _ in range(200):   # seven digits, some char-subbed
        out.append(ocr("".join(rng.choice("0123456789") for _ in range(7)),
                       0.1))
    for _ in range(150):   # permissive: spaced separators inside words
        out.append(f"{rng.choice(['born ', 'tgl', ''])}{dd()} "
                   f"{rng.choice('-/.')} {dd(1, 12)}{rng.choice('-/.')} "
                   f"{rng.randint(0, 2026) % rng.choice([100, 10000])}"
                   f"{rng.choice([' maybe', ''])}")
    for _ in range(300):   # OCR-ish noise
        out.append("".join(rng.choice(_OCRISH)
                           for _ in range(rng.randint(0, 24))))
    return out


def test_date_normalize_random_parity(spark):
    inputs = _date_shapes(random.Random(20261018))
    _assert_date_parity(_collect(spark, inputs, D.normalize_date), inputs)


def test_date_query_matches_scalar_chain(spark):
    """The date queries' plan (every row through the scalar chain in
    ``queries.tier_batches``) gives every row the scalar chain's
    result, and a failed or null row the all-null (normalized,
    confidence, method). Raws, a failing raw and a null repeat,
    interleaved with other rows, so the stage's (tier, raw) memo serves
    repeats: each repeat must still get its own row with the chain's
    result."""
    from collections import Counter

    from indonesian_id_ocr_service_spark.queries import _date_query

    repeated = ["12-03-988", "O5-O7-199O", "2310983", "no date here",
                None]
    inputs = DATE_INPUTS + [None]
    for k in range(4):
        inputs += repeated + DATE_INPUTS[k::5]
    df = spark.createDataFrame([(s,) for s in inputs], "raw string")
    rows = _date_query(df, F.col("raw")).collect()
    assert Counter(r["raw"] for r in rows) == Counter(inputs)
    assert all(Counter(inputs)[s] >= 5 for s in repeated)
    for r in rows:
        s = r["raw"]
        exp = S.normalize_date(s)
        row = (r["normalized"], r["confidence"], r["method"])
        if exp["normalized"] is None:
            assert row == (None, None, None), (s, row)
        else:
            assert row == (exp["normalized"], round(exp["confidence"], 6),
                           exp["method"]), (s, row, exp)


def test_date_robust_parity(spark):
    got = _collect(spark, DATE_INPUTS, D.normalize_date_robust)
    for s in DATE_INPUTS:
        assert got[s] == S.normalize_date_robust(s), (
            s, got[s], S.normalize_date_robust(s))


def test_split_place_date_parity(spark):
    inputs = ["JAKARTA, 23-10-1983", "BANDUNG 15-08-1990", "15-08-1990",
              "GARUT,", ", 15-08-1990", "LEBAK. 1.1.01", "JUSTTEXT",
              "A, B, 15-08-1990"]
    got = _collect(spark, inputs, D.split_place_date)
    for s in inputs:
        place, date_raw = S.split_place_date(s)
        assert got[s]["place"] == place, (s, got[s], place)
        assert got[s]["date_raw"] == date_raw, (s, got[s], date_raw)


def test_clean_nik_parity(spark):
    got = _collect(spark, NIK_INPUTS, N.clean_nik)
    for s in NIK_INPUTS:
        assert got[s] == S.clean_nik(s), (s, got[s], S.clean_nik(s))


def test_structural_score_parity(spark):
    vals = ["3201234567890001", "9901234567890001", "0501234567890001",
            "3200234567890001", "3201230067890001", "3201234500890001",
            "3201234567890000", "1101024107950003", "3201237267890001",
            "320123456789000", "", "abcdefgh12345678"]
    got = _collect(spark, vals, N.structural_score)
    for s in vals:
        assert abs(got[s] - S.nik_structural_score(s)) < 1e-9, (
            s, got[s], S.nik_structural_score(s))


def test_document_type_three_way_parity(spark):
    """C1 parity: kernel Python twin (classify.document_type_py) vs the
    pure-Python oracle vs the JVM Column expression, over the generated
    corpus's text views (all three doc classes + alt views)."""
    from indonesian_id_ocr_service_spark.corpus.generator import doc_rows
    from indonesian_id_ocr_service_spark.operators import classify
    from indonesian_id_ocr_service_spark.oracle.ktp import (
        identify_document_type as oracle_type,
    )

    views = []
    for row in doc_rows(600, fractions=(0.4, 0.4, 0.2)):
        _id, spans, _g, _c, alt_spans, _ag = row
        views.append([s["text"] for s in spans if s["kind"] == "text"])
        if alt_spans:
            views.append(
                [s["text"] for s in alt_spans if s["kind"] == "text"])

    py = [classify.document_type_py(t) for t in views]
    ora = [oracle_type(t) for t in views]
    assert py == ora

    sdf = spark.createDataFrame(
        [([t for t in v],) for v in views], "texts array<string>")
    spans_like = F.transform(
        F.col("texts"),
        lambda t: F.struct(
            F.lit("text").alias("kind"), t.alias("text"),
            F.lit("").alias("media_ref"), F.lit(0).alias("offset")))
    jvm = [r[0] for r in sdf.select(
        classify.document_type(spans_like)).collect()]
    assert jvm == py
