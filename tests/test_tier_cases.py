"""The pinned fixture cases of ``fuzzy_canonical`` and
``enum_place_correction`` (queries.py) against both of their
implementations: the production stage ``queries.tier_batches`` (the
extraction kernel's own tiers, run in process on one Arrow batch) and
the independent pure-Python twins in ``oracle.scalars``. The driver's
oracle only replays the literals, so this is the check that a literal
is what the tier actually returns.
"""

from __future__ import annotations

import pyarrow as pa

from indonesian_id_ocr_service_spark import queries as Q
from indonesian_id_ocr_service_spark.dictionaries import (
    KEWARGANEGARAAN_CANONICAL,
    KNOWN_VALUES,
    PEKERJAAN_CANONICAL,
    STATUS_PERKAWINAN_CANONICAL,
)
from indonesian_id_ocr_service_spark.functions import fuzzy
from indonesian_id_ocr_service_spark.oracle import scalars as S

#: field -> (canonical map, threshold) of the N25 tiers
_CANON_MAPS = {
    "pekerjaan": (PEKERJAAN_CANONICAL, 72),
    "status_perkawinan": (STATUS_PERKAWINAN_CANONICAL, 65),
    "kewarganegaraan": (KEWARGANEGARAAN_CANONICAL, 80),
}


def _tier_rows(tiers, raws):
    """(value, confidence, method) per row of one batch through
    ``tier_batches``."""
    batch = pa.RecordBatch.from_arrays(
        [pa.array(tiers, pa.string()), pa.array(raws, pa.string())],
        names=["tier", "raw"])
    (out,) = Q.tier_batches([batch])
    assert out.column("raw").to_pylist() == raws
    return list(zip(*(out.column(c).to_pylist()
                      for c in ("value", "confidence", "method"))))


def _round2(c):
    return None if c is None else round(c, 2)


def _oracle_canonical(field, raw):
    if field == "agama":
        choice, score = fuzzy.extract_one(
            raw.upper(), KNOWN_VALUES["Agama"], fuzzy.wratio)
        return choice if choice is not None and score > 70 else raw
    cmap, threshold = _CANON_MAPS[field]
    return S.fuzzy_normalize_field(raw, cmap, threshold)


def _oracle_correction(field, raw):
    if field == "place":
        return S.correct_place(raw)
    return S.correct_enum(field, raw) or (None, None)


def test_fuzzy_canonical_cases_match_both_tiers():
    cases = Q._FUZZY_CANON_CASES
    got = _tier_rows([f"canon:{field}" for field, _, _ in cases],
                     [raw for _, raw, _ in cases])
    for (field, raw, want), row in zip(cases, got):
        assert row == (want, None, None), (field, raw, row)
        assert _oracle_canonical(field, raw) == want, (field, raw)


def test_enum_place_cases_match_both_tiers():
    cases = Q._ENUM_PLACE_CASES
    got = _tier_rows(
        ["place" if c[0] == "place" else f"enum:{c[0]}" for c in cases],
        [c[1] for c in cases])
    for (field, raw, want, want_conf), (value, conf, method) in zip(
            cases, got):
        assert (value, _round2(conf), method) == (want, want_conf, None), \
            (field, raw, value, conf)
        o_value, o_conf = _oracle_correction(field, raw)
        assert (o_value, _round2(o_conf)) == (want, want_conf), \
            (field, raw, o_value, o_conf)
