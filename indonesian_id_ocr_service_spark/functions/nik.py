"""NIK column expressions: cleaning (SURVEY §2.5 N5), structural
scoring (N10), decoding (V1) and DOB padding (V5).

The generate-validate-rank repair (N6-N13, nik_fuzzy.py:108-166) is
not here: its one engine is ``pandas_ktp.nik_best_one``, which the
extraction kernel and ``__spark_entry__.entry()`` call.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dictionaries import VALID_PROVINCE_CODES
from .chars import digits_only, sub_to_digit
from .core import let2

__all__ = [
    "clean_nik",
    "structural_score",
    "nik_decode",
    "pad_nik_with_dob",
]


def clean_nik(c: Column) -> Column:
    """N5: char-sub → strip non-digits → exactly 16, or the first 16-digit
    window of a longer read; null otherwise (ktp_extractor.py:109-128).

    Inlined (no ``let``): the HOF let-binding forced this shallow
    expression onto the interpreted path (transform/get disable
    whole-stage codegen), costing ~2.5x per row; inlined, the repeated
    ``sub``/``d`` subtrees are deduplicated by codegen's common-
    subexpression elimination and the whole thing stays in one
    generated function. ``let`` remains the right tool for the DEEP
    chains (the date let-tree in dates.py) where plan size would
    explode."""
    sub = sub_to_digit(c)
    d = digits_only(sub)
    window = F.regexp_extract(
        F.regexp_replace(sub, " ", ""), r"\d{16}", 0
    )
    return (
        F.when(F.length(d) == 16, d)
        .when(F.length(d) > 16, F.when(window != "", window))
        .otherwise(F.lit(None).cast("string"))
    )


def structural_score(v: Column) -> Column:
    """N10: NIK spec-compliance score in [0,1] (nik_fuzzy.py:261-311)."""
    prov = F.substring(v, 1, 2).cast("int")
    district = F.substring(v, 5, 2).cast("int")
    day = F.substring(v, 7, 2).cast("int")
    month = F.substring(v, 9, 2).cast("int")
    seq = F.substring(v, 13, 4).cast("int")

    prov_f = (
        F.when(prov.isin(list(VALID_PROVINCE_CODES)), F.lit(1.0))
        .when((prov < 11) | (prov > 94), F.lit(0.40))
        .otherwise(F.lit(0.85))
    )
    district_f = F.when(district == 0, F.lit(0.70)).otherwise(F.lit(1.0))
    day_f = (
        F.when(day == 0, F.lit(0.0))
        .when(((day >= 1) & (day <= 31)) | ((day >= 41) & (day <= 71)),
              F.lit(1.0))
        .otherwise(F.lit(0.10))
    )
    month_f = F.when((month < 1) | (month > 12), F.lit(0.0)).otherwise(
        F.lit(1.0)
    )
    seq_f = F.when(seq == 0, F.lit(0.50)).otherwise(F.lit(1.0))
    return F.when(
        v.isNotNull() & v.rlike(r"^\d{16}$"),
        prov_f * district_f * day_f * month_f * seq_f,
    ).otherwise(F.lit(0.0))


def nik_decode(nik: Column) -> Column:
    """V1: decode a 16-digit NIK into
    struct<day:int, month:int, year:int, gender:string, date_str:string,
    date_valid:boolean> (nik_cross_validator.py:82-104)."""
    day_raw = F.substring(nik, 7, 2).cast("int")
    month = F.substring(nik, 9, 2).cast("int")
    year2 = F.substring(nik, 11, 2).cast("int")
    return let2(
        day_raw,
        year2,
        lambda dr, y2: let2(
            F.when(dr > 40, dr - 40).otherwise(dr),
            F.when(y2 <= 26, y2 + 2000).otherwise(y2 + 1900),
            lambda day, year: F.struct(
                day.alias("day"),
                month.alias("month"),
                year.alias("year"),
                F.when(dr > 40, F.lit("PEREMPUAN"))
                .otherwise(F.lit("LAKI-LAKI"))
                .alias("gender"),
                F.format_string("%02d-%02d-%04d", day, month, year).alias(
                    "date_str"
                ),
                (
                    (day >= 1) & (day <= 31) & (month >= 1) & (month <= 12)
                    & (year >= 1920) & (year <= 2026)
                ).alias("date_valid"),
            ),
        ),
    )


def pad_nik_with_dob(digits15: Column, expected: Column) -> Column:
    """V5: first insertion (digit-major, position-minor) whose chars 6-11
    equal the expected DOB segment (nik_cross_validator.py:271-285).

    Pruned equivalent of the 160-candidate search. Inserting digit d at
    0-based position p yields candidate c with window
    ``c[6:12]``:

    - p ≤ 5:  c[6:12] = d15[5:11]  — independent of d and p, so if it
      matches, the digit-major first hit is (d=0, p=0) → '0'+d15;
      if it doesn't, no p ≤ 5 insertion can ever match.
    - p ≥ 12: c[6:12] = d15[6:12] — likewise; first hit is (d=0, p=12).
    - 6 ≤ p ≤ 11: c[6:12] = d15[6:p] + d + d15[p:11], which forces
      d = expected[p-6]; only prefix/suffix equality remains to check.

    Candidate priority is (d asc, p asc): (0,0) < case-3 with d=0 <
    (0,12) < case-3 with d≥1. Exactly the reference's search order.
    """
    sig1 = F.substring(digits15, 6, 6) == expected   # d15[5:11]
    sig2 = F.substring(digits15, 7, 6) == expected   # d15[6:12]

    def case3(p: int) -> Column:
        """0-based insert position p in 6..11."""
        d_req = F.substring(expected, p - 6 + 1, 1)
        prefix_ok = (
            F.substring(digits15, 7, p - 6)
            == F.substring(expected, 1, p - 6)
        )
        suffix_ok = (
            F.substring(digits15, p + 1, 11 - p)
            == F.substring(expected, p - 4, 11 - p)
        )
        return F.when(
            prefix_ok & suffix_ok,
            F.struct(
                (d_req.cast("int") * 16 + F.lit(p)).alias("prio"),
                F.concat(
                    F.substring(digits15, 1, p),
                    d_req,
                    F.substr(digits15, F.lit(p + 1)),
                ).alias("value"),
            ),
        )

    # Priorities are pairwise distinct (0; d*16+p for p in 6..11; 12), so
    # a struct-ordered least == the reference's first-hit search order.
    # F.least skips nulls and is plain codegen — no higher-order
    # functions (whose per-eval dataType recursion runs interpreted).
    best = F.least(
        F.when(
            sig1,
            F.struct(
                F.lit(0).alias("prio"),
                F.concat(F.lit("0"), digits15).alias("value"),
            ),
        ),
        *[case3(p) for p in range(6, 12)],
        F.when(
            sig2,
            F.struct(
                F.lit(12).alias("prio"),
                F.concat(
                    F.substring(digits15, 1, 12),
                    F.lit("0"),
                    F.substr(digits15, F.lit(13)),
                ).alias("value"),
            ),
        ),
    )
    return best["value"]
