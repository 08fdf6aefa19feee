"""Confidence scoring V6-V11 as pure column expressions (SURVEY §2.7).

The reference's per-field scorers, weighted composite, NIK structural
bonus, cross-check and A-F grade (confidence_scorer.py:102-493) over the
flat output-field columns. Everything is when/regexp arithmetic — JVM,
shuffle-free, checked against DuckDB by the ``confidence_scoring``
query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dictionaries import FIELD_WEIGHTS
from ..functions.core import let

__all__ = ["score_fields", "grade"]


def _alpha_space_ratio(v: Column) -> Column:
    return (
        F.length(F.regexp_replace(v, r"[^A-Za-z ]", ""))
        / F.greatest(F.length(v), F.lit(1))
    )


def score_nik(v: Column) -> Column:
    """V6 NIK scorer (confidence_scorer.py:251-285)."""
    digits = F.length(F.regexp_replace(v, r"\D", ""))
    prov = F.substring(v, 1, 2).cast("int")
    day = F.substring(v, 7, 2).cast("int")
    month = F.substring(v, 9, 2).cast("int")
    seq = F.substring(v, 13, 4).cast("int")
    structured = (
        F.lit(1.0)
        * F.when((prov < 11) | (prov > 94), 0.65).otherwise(1.0)
        * F.when(
            ((day >= 1) & (day <= 31)) | ((day >= 41) & (day <= 71)),
            F.lit(1.0)).otherwise(F.lit(0.0))
        * F.when((month >= 1) & (month <= 12), 1.0).otherwise(0.0)
        * F.when(seq == 0, 0.75).otherwise(1.0)
    )
    return (
        F.when(v.isNull(), F.lit(0.0))
        .when(~v.rlike(r"^\d{16}$"),
              F.round(0.1 + 0.1 * digits / 16.0, 2))
        .otherwise(structured)
    )


def score_nama(v: Column) -> Column:
    """V6 name scorer (confidence_scorer.py:287-301)."""
    t = F.trim(v)
    base = F.least(_alpha_space_ratio(t), F.lit(1.0))
    return (
        F.when(v.isNull(), F.lit(0.0))
        .when(F.length(t) < 2, F.lit(0.1))
        .otherwise(base * F.when(t.rlike(r"\d"), 0.6).otherwise(1.0))
    )


def score_date(v: Column) -> Column:
    """V6 date scorer (confidence_scorer.py:303-328)."""
    d = F.substring(v, 1, 2).cast("int")
    m = F.substring(v, 4, 2).cast("int")
    y = F.substring(v, 7, 4).cast("int")
    in_fmt = v.rlike(r"^\d{2}-\d{2}-\d{4}$")
    score = (
        F.when((d < 1) | (d > 31) | (m < 1) | (m > 12), F.lit(0.0))
        .when((y >= 1920) & (y <= 2010), F.lit(1.0))
        .when((y > 2010) & (y <= 2025), F.lit(0.7))
        .otherwise(F.lit(0.2))
    )
    return (
        F.when(v.isNull(), F.lit(0.0))
        .when(~in_fmt, F.lit(0.3))
        .otherwise(score)
    )


def score_place(v: Column) -> Column:
    """V6 place scorer (confidence_scorer.py:330-339)."""
    t = F.trim(v)
    digit_ratio = (
        F.length(F.regexp_replace(t, r"\D", ""))
        / F.greatest(F.length(t), F.lit(1))
    )
    return (
        F.when(v.isNull(), F.lit(0.0))
        .when(F.length(t) < 3, F.lit(0.2))
        .otherwise(1.0 - digit_ratio * 0.8)
    )


def score_jk(v: Column) -> Column:
    """V6 gender scorer (confidence_scorer.py:341-351)."""
    u = F.upper(F.trim(v))
    return (
        F.when(v.isNull(), F.lit(0.0))
        .when(u.isin("LAKI-LAKI", "PEREMPUAN"), F.lit(1.0))
        .when(u.contains("LAKI") | u.contains("MALE")
              | u.contains("PRIA"), F.lit(0.8))
        .when(u.contains("PEREMPUAN") | u.contains("FEMALE")
              | u.contains("WANITA"), F.lit(0.8))
        .otherwise(F.lit(0.3))
    )


def score_enum(v: Column) -> Column:
    """V6 enum scorer (confidence_scorer.py:353-359)."""
    return (
        F.when(v.isNull(), F.lit(0.0))
        .when(F.length(F.trim(v)) < 2, F.lit(0.2))
        .otherwise(F.lit(0.9))
    )


def score_free_text(v: Column) -> Column:
    """V6 free-text scorer (confidence_scorer.py:361-370)."""
    t = F.trim(v)
    return (
        F.when(v.isNull(), F.lit(0.0))
        .otherwise(
            F.least(F.length(t) / 5.0, F.lit(1.0))
            * F.when(t.rlike(r"^\d+$"), 0.3).otherwise(1.0)
        )
    )


def score_address_name(v: Column) -> Column:
    return (
        F.when(v.isNull(), F.lit(0.0))
        .when(F.length(F.trim(v)) < 5, F.lit(0.4))
        .otherwise(F.lit(1.0))
    )


def score_rt_rw(v: Column) -> Column:
    return (
        F.when(v.isNull(), F.lit(0.0))
        .when(F.trim(v).rlike(r"^\d{1,3}/\d{1,3}$"), F.lit(1.0))
        .otherwise(F.lit(0.4))
    )


def score_kabupaten(v: Column) -> Column:
    u = F.upper(F.trim(v))
    return (
        F.when(v.isNull(), F.lit(0.0))
        .when(u.rlike(r"^[A-Z]{1,3}$"), F.lit(0.2))
        .when(u.contains("KOTA") | u.contains("KAB")
              | u.contains("KABUPATEN") | u.contains("JAKARTA"),
              F.lit(1.0))
        .otherwise(F.lit(0.7))
    )


_SCORERS = {
    "nomor": score_nik,
    "nama": score_nama,
    "tgl_lahir": score_date,
    "tempat_lahir": score_place,
    "jenis_kelamin": score_jk,
    "agama": score_enum,
    "status_perkawinan": score_enum,
    "pekerjaan": score_free_text,
    "kewarganegaraan": score_enum,
    "alamat.name": score_address_name,
    "alamat.rt_rw": score_rt_rw,
    "alamat.kel_desa": score_free_text,
    "alamat.kecamatan": score_free_text,
    "alamat.kabupaten": score_kabupaten,
    "alamat.provinsi": score_free_text,
}


def _nik_bonus(nik: Column) -> Column:
    """V8 structural bonus (confidence_scorer.py:198-245)."""
    prov = F.substring(nik, 1, 2).cast("int")
    day = F.substring(nik, 7, 2).cast("int")
    month = F.substring(nik, 9, 2).cast("int")
    seq = F.substring(nik, 13, 4).cast("int")
    bonus = (
        F.when((prov >= 11) & (prov <= 94), 0.03).otherwise(-0.05)
        + F.when(((day >= 1) & (day <= 31)) | ((day >= 41) & (day <= 71)),
                 0.02).otherwise(-0.08)
        + F.when((month >= 1) & (month <= 12), 0.02).otherwise(-0.08)
        + F.when(seq > 0, 0.01).otherwise(0.0)
    )
    return F.when(
        nik.isNotNull() & nik.rlike(r"^\d{16}$"), bonus
    ).otherwise(F.lit(0.0))


def grade(overall: Column, n_missing_critical: Column) -> Column:
    """V10 (confidence_scorer.py:486-493)."""
    return (
        F.when(n_missing_critical >= 2, F.lit("F"))
        .when(n_missing_critical >= 1, F.lit("D"))
        .when(overall >= 0.88, F.lit("A"))
        .when(overall >= 0.72, F.lit("B"))
        .when(overall >= 0.55, F.lit("C"))
        .when(overall >= 0.35, F.lit("D"))
        .otherwise(F.lit("F"))
    )


def score_fields(df: DataFrame, col_map: dict[str, str]) -> DataFrame:
    """V6-V11 document report over flat field columns.

    ``col_map``: output-field name → column name in ``df``.
    Adds: per-field ``score_*`` columns, ``overall`` (V7 weighted
    composite + V8 bonus, capped at 1.0), ``field_count``,
    ``missing_critical_n``, ``cross_check_passed`` (V9), ``grade`` (V10).
    """
    total_w = sum(FIELD_WEIGHTS.values())
    score_cols = {}
    for fname, scorer in _SCORERS.items():
        col = col_map[fname]
        score_cols[f"score_{col}"] = F.round(scorer(F.col(col)), 6)
    out = df.withColumns(score_cols)

    weighted = [
        F.col(f"score_{col_map[f]}") * w for f, w in FIELD_WEIGHTS.items()
    ]
    base = sum(weighted[1:], weighted[0]) / total_w
    overall = F.round(
        F.least(base + _nik_bonus(F.col(col_map["nomor"])), F.lit(1.0)), 6
    )
    present = [
        F.when(F.col(f"score_{col_map[f]}") > 0.0, 1).otherwise(0)
        for f in FIELD_WEIGHTS
    ]
    missing_crit = (
        F.when(F.col(f"score_{col_map['nomor']}") == 0.0, 1).otherwise(0)
        + F.when(F.col(f"score_{col_map['nama']}") == 0.0, 1).otherwise(0)
        + F.when(F.col(f"score_{col_map['tgl_lahir']}") == 0.0,
                 1).otherwise(0)
    )

    # V9: NIK ↔ date ↔ gender component equality
    nik = F.col(col_map["nomor"])
    tgl = F.col(col_map["tgl_lahir"])
    jk = F.coalesce(F.col(col_map["jenis_kelamin"]), F.lit(""))
    applicable = (
        nik.isNotNull() & nik.rlike(r"^\d{16}$")
        & tgl.isNotNull() & tgl.rlike(r"^\d{2}-\d{2}-\d{4}$")
    )
    n_day = F.substring(nik, 7, 2).cast("int")
    adj_day = F.when(n_day > 40, n_day - 40).otherwise(n_day)
    day_ok = adj_day == F.substring(tgl, 1, 2).cast("int")
    mon_ok = (F.substring(nik, 9, 2).cast("int")
              == F.substring(tgl, 4, 2).cast("int"))
    yr_ok = (F.substring(nik, 11, 2).cast("int")
             == F.substring(tgl, 7, 4).cast("int") % 100)
    nik_female = n_day > 40
    ocr_female = (F.upper(jk).contains("PEREMPUAN")
                  | F.upper(jk).contains("WANITA"))
    jk_ok = (jk == "") | (nik_female == ocr_female)
    cross = F.when(
        applicable, day_ok & mon_ok & yr_ok & jk_ok
    ).otherwise(F.lit(True))

    out = out.withColumns({
        "overall": overall,
        "field_count": sum(present[1:], present[0]),
        "missing_critical_n": missing_crit,
        "cross_check_passed": cross,
    })
    return out.withColumn(
        "grade", grade(F.col("overall"), F.col("missing_critical_n"))
    )
