"""Character-substitution column expressions (SURVEY §2.5 N1, N4).

All pure ``F.translate`` / regex expressions — JVM-side, whole-stage
codegen friendly. Semantics per /root/reference/nik_fuzzy.py:202-204,
ocr_corrector.py:276-312, date_normalizer.py:335-344. The N2
digit→letter substitution runs in the extraction kernel
(``pandas_ktp._sub_text_one``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dictionaries import (
    DATE_DST,
    DATE_SRC,
    TO_DIGIT_DST,
    TO_DIGIT_SRC,
)

__all__ = [
    "sub_to_digit",
    "sub_date_chars",
    "digits_only",
]


def sub_to_digit(c: Column) -> Column:
    """N1: letter→digit confusion repair for numeric context."""
    return F.translate(c, TO_DIGIT_SRC, TO_DIGIT_DST)


def sub_date_chars(c: Column) -> Column:
    """N4: date-context letters→digits; separators/digits untouched.

    The map keys are all non-digit, non-separator chars, so a plain
    translate is exactly the reference's per-char loop.
    """
    return F.translate(c, DATE_SRC, DATE_DST)


def digits_only(c: Column) -> Column:
    """Strip all non-digits."""
    return F.regexp_replace(c, r"\D", "")
