"""Arrow-batched pandas UDFs for the fuzzy tiers (SURVEY §2.5 [PUDF]),
behind the oracle-gated ``__spark_entry__`` queries ``fuzzy_canonical``
and ``enum_place_correction`` (queries.py). Callers pass a UDF only its
own field's rows (``when(field == key, raw)``), so other rows cross the
Arrow boundary as nulls.

Each UDF calls the extraction kernel's own tier in
functions/pandas_ktp.py, whose vocabularies are prepared once per
process. The place and agama tiers are memoized there; the other UDFs
carry a per-executor dict memo of the values they have seen. The
canonical-map UDFs ship their prepared alias map inside the closure
(each is ≪100 KB).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..dictionaries import FIELD_ENUMS
from . import pandas_ktp as PK

__all__ = [
    "fuzzy_normalize_pekerjaan",
    "fuzzy_normalize_status",
    "fuzzy_normalize_kewarganegaraan",
    "correct_enum_udf",
    "correct_place_udf",
    "agama_extract_one_udf",
    "_init_udfs",
]

_CORRECTION_TYPE = StructType([
    StructField("corrected", StringType()),
    StructField("confidence", DoubleType()),
])


def _canonical_map_udf(alias_map):
    """Batched UDF for the N25 fuzzy tier over one prepared alias map
    (``fuzzy.AliasMap``, ktp_extractor.py:68-102; the kernel's KTP and
    SIM tiers run the same maps)."""
    cache: dict[str, str] = {}

    @F.pandas_udf(StringType())
    def udf(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            r = cache.get(v)
            if r is None:
                r = alias_map.normalize(v)
                cache[v] = r
            return r

        return s.map(one)

    return udf


fuzzy_normalize_pekerjaan = None
fuzzy_normalize_status = None
fuzzy_normalize_kewarganegaraan = None


def _init_udfs() -> None:
    """UDF objects are created lazily so importing this module does not
    require an active SparkSession."""
    global fuzzy_normalize_pekerjaan, fuzzy_normalize_status
    global fuzzy_normalize_kewarganegaraan
    if fuzzy_normalize_pekerjaan is None:
        fuzzy_normalize_pekerjaan = _canonical_map_udf(PK.OCCUPATION)
        fuzzy_normalize_status = _canonical_map_udf(PK.MARITAL_STATUS)
        fuzzy_normalize_kewarganegaraan = _canonical_map_udf(PK.CITIZENSHIP)


def correct_enum_udf(field_key: str):
    """N34 enum correction (all tiers) for one field — returns
    struct<corrected, confidence>; null fields when no tier fires
    (ocr_corrector.py:368-401)."""
    assert field_key in FIELD_ENUMS
    cache: dict[str, tuple] = {}

    @F.pandas_udf(_CORRECTION_TYPE)
    def udf(s: pd.Series) -> pd.DataFrame:
        def one(v):
            if v is None:
                return (None, None)
            r = cache.get(v)
            if r is None:
                res = PK._correct_enum_one(field_key, v)
                r = res if res else (None, None)
                cache[v] = r
            return r

        pairs = [one(v) for v in s]
        return pd.DataFrame(pairs, columns=["corrected", "confidence"])

    return udf


def correct_place_udf():
    """N35 place-name correction (all tiers) — struct<corrected,
    confidence> (ocr_corrector.py:423-477, min_confidence 0.82)."""

    @F.pandas_udf(_CORRECTION_TYPE)
    def udf(s: pd.Series) -> pd.DataFrame:
        pairs = [(None, 0.0) if v is None else PK._correct_place_one(v)
                 for v in s]
        return pd.DataFrame(pairs, columns=["corrected", "confidence"])

    return udf


def agama_extract_one_udf():
    """cleanup_data's Agama tier: thefuzz ``process.extractOne`` with the
    default WRatio scorer, accept > 70 (ktp_extractor.py:623-627)."""

    @F.pandas_udf(StringType())
    def udf(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else PK._agama_one(v))

    return udf
