"""Vectorized (pandas/numpy) KTP scalar post-chain — the Arrow-kernel
scale path: cleanup → repair → cross-validate → format.

The pipeline's one implementation of the reference's post-extraction
chain, checked against the independent pure-Python per-row oracle
(``oracle/ktp.py``) by tests/test_pandas_ktp_parity.py and the
span-equality gate.

Reference semantics per stage:
- cleanup      ktp_extractor.py:589-743 (field normalizers, RT/RW
               bleed from Kel/Desa; NIK clean runs in resolve_nik)
- repair       document_processor.py:96-148 (TTL re-normalization via
               the date chain; the NIK tiers run in resolve_nik)
- crossval     nik_cross_validator.py:63-265 (NIK→fields overwrite,
               fields→NIK 15-digit DOB padding)
- format       ktp_extractor.py:750-805 (+ the N37 conservative place
               fix, ocr_corrector.py:423-477)

Everything row-parallel runs as masked column operations; the fuzzy
tiers run once per UNIQUE value of a batch (the same strategy as the
``__spark_entry__`` queries' residue UDFs in pandas_tiers.py, which
call these tiers) against vocabularies prepared once per process
(functions/fuzzy.py), never through the oracle.

The ``nik`` column arrives resolved: the kernel runs NIK cleanup and
the three repair tiers once per KTP document
(``ktp_spatial.resolve_nik``) on the per-value candidate engine below
(``clean_nik_one``/``nik_best_one``). Only ~6% of KTP NIKs need
repair, too few for a columnar engine to amortise its per-batch cost.
"""

from __future__ import annotations

import math
import re
from typing import Optional, Tuple

import numpy as np
import pandas as pd

from ..dictionaries import (
    FIELD_ENUMS,
    INDONESIAN_PLACES,
    KEWARGANEGARAAN_CANONICAL,
    KNOWN_VALUES,
    NIK_INSERT_POSITIONS,
    PEKERJAAN_CANONICAL,
    STATUS_PERKAWINAN_CANONICAL,
    TO_DIGIT_DST,
    TO_DIGIT_SRC,
    TO_TEXT_DST,
    TO_TEXT_SRC,
    VALID_PROVINCE_CODES,
)
from . import fuzzy
from .pandas_dates import normalize_date_frame

__all__ = ["post_chain", "cleanup_frame", "repair_frame",
           "crossval_frame", "format_frame", "clean_nik_one",
           "nik_best_one"]

_TO_DIGIT = str.maketrans(TO_DIGIT_SRC, TO_DIGIT_DST)
_TO_TEXT = str.maketrans(TO_TEXT_SRC, TO_TEXT_DST)

# ---------------------------------------------------------------------------
# small helpers
# ---------------------------------------------------------------------------


def _obj(s: pd.Series) -> pd.Series:
    return s.astype(object).where(pd.notna(s), None)


def _nullify_empty(s: pd.Series) -> pd.Series:
    return s.where(s.notna() & (s != ""), None)


def _map_uniques(s: pd.Series, fn) -> pd.Series:
    """fn once per unique non-null value, broadcast back."""
    uniq = s.dropna().unique()
    table = {u: fn(u) for u in uniq}
    return s.map(table)


def _digits(s: pd.Series) -> pd.Series:
    return s.str.replace(r"\D", "", regex=True)


def _sub_digit(s: pd.Series) -> pd.Series:
    return s.str.translate(_TO_DIGIT)


def _sub_text_one(v: str) -> str:
    return v.upper().translate(_TO_TEXT)


# ---------------------------------------------------------------------------
# fuzzy tiers (the reference tier logic over vocabularies prepared once
# per process, functions/fuzzy.py; one call per unique value)
# ---------------------------------------------------------------------------

#: the canonical-value tiers (N25); OCCUPATION is also the SIM
#: occupation normaliser (sim_extractor.py:156-179)
OCCUPATION = fuzzy.AliasMap(PEKERJAAN_CANONICAL, 72)
MARITAL_STATUS = fuzzy.AliasMap(STATUS_PERKAWINAN_CANONICAL, 65)
CITIZENSHIP = fuzzy.AliasMap(KEWARGANEGARAAN_CANONICAL, 80)
_AGAMA = fuzzy.Vocabulary(KNOWN_VALUES["Agama"])
_PLACES = fuzzy.Vocabulary(INDONESIAN_PLACES)
_PLACE_NAMES = frozenset(INDONESIAN_PLACES)
_ENUMS = {key: fuzzy.Vocabulary(cfg["values"])
          for key, cfg in FIELD_ENUMS.items()}


def _agama_one(v: str) -> Optional[str]:
    """WRatio extract_one > 70 (ktp_extractor.py:623-627)."""
    choice, _ = _AGAMA.best(v.upper(), fuzzy.wratio, 71)
    return v if choice is None else choice


def _j_i_variants(text: str) -> list:
    if not text:
        return []
    if text[0] == "I":
        return ["J" + text[1:]]
    if text[0] == "J":
        return ["I" + text[1:]]
    return []


def _correct_place_one(raw: str,
                       min_confidence: float = 0.82) -> Tuple[str, float]:
    """Place-name correction tiers (ocr_corrector.py:423-477)."""
    if not raw or len(raw.strip()) < 2:
        return raw, 0.0
    v = raw.upper().strip()
    if v in _PLACE_NAMES:
        return v, 1.0
    sub = _sub_text_one(v)
    if sub in _PLACE_NAMES:
        return sub, 0.95
    for variant in _j_i_variants(v):
        if variant in _PLACE_NAMES:
            return variant, 0.90
    for variant in _j_i_variants(sub):
        if variant in _PLACE_NAMES:
            return variant, 0.87
    cands = list({v, sub} | set(_j_i_variants(v)) | set(_j_i_variants(sub)))
    cutoff = math.ceil(min_confidence * 100)
    best_score, best_match = 0, None
    for cand in cands:
        choice, score = _PLACES.best(cand, fuzzy.token_set_ratio, cutoff)
        if choice is not None and score > best_score:
            best_score, best_match = score, choice
    if best_match is not None:
        return best_match, best_score / 100.0
    return (sub if sub != v else v), 0.35


def _correct_enum_one(field_key: str, value: str):
    """Enum-field correction tiers (ocr_corrector.py:368-401):
    exact → char-sub-to-text → token_set_ratio ≥ threshold on both.
    Returns (corrected, confidence) or None when no tier fires."""
    if not value:
        return None
    cfg = FIELD_ENUMS.get(field_key)
    if cfg is None:
        return None
    vocab, thr = cfg["values"], cfg["threshold"]
    v = value.upper().strip()
    if v in vocab:
        return v, 1.0
    sub = _sub_text_one(v)
    if sub in vocab:
        return sub, 0.93
    for cand in (v, sub):
        choice, score = _ENUMS[field_key].best(cand, fuzzy.token_set_ratio,
                                               thr)
        if choice is not None:
            return choice, score / 100.0
    return None


def _status_one(v: str) -> str:
    """Three-layer status normalization (ktp_extractor.py:655-689)."""
    u = v.upper()
    u = re.sub(r"\bCEL\s*UM\b", "BELUM", u)
    u = re.sub(r"\bSEL\s*UM\b", "BELUM", u)
    if "BELUM" in u or "SINGLE" in u or "LAJANG" in u:
        return "BELUM KAWIN"
    if re.search(r"KAWIN|MARRIED", u) and "BELUM" not in u:
        return "KAWIN"
    if "CERAI" in u or "DIVORCED" in u:
        if "HIDUP" in u:
            return "CERAI HIDUP"
        if "MATI" in u:
            return "CERAI MATI"
        return "CERAI"
    if u.startswith("BELU") and u.endswith("AWIN"):
        return "BELUM KAWIN"
    norm = MARITAL_STATUS.normalize(v)
    return norm if norm in STATUS_PERKAWINAN_CANONICAL else v


def _pekerjaan_one(v: str) -> str:
    """Regex fixes then canonical tier (ktp_extractor.py:697-711)."""
    u = v.replace("BURUHHARIAN", "BURUH HARIAN")
    u = re.sub(r"\bDURUH\b", "BURUH", u, flags=re.IGNORECASE)
    u = re.sub(r"\bCURLH\b", "BURUH", u, flags=re.IGNORECASE)
    u = re.sub(r"\bCURUH\b", "BURUH", u, flags=re.IGNORECASE)
    u = re.sub(r"HARIANEEPAS", "HARIAN LEPAS", u)
    u = re.sub(r"HARIAN\s*[CL]EPAS", "HARIAN LEPAS", u)
    norm = OCCUPATION.normalize(u)
    return norm if norm in PEKERJAAN_CANONICAL else u


def _kwn_one(v: str) -> str:
    norm = CITIZENSHIP.normalize(v)
    return norm if norm in KEWARGANEGARAAN_CANONICAL else v


# ---------------------------------------------------------------------------
# NIK machinery (per value; the kernel calls it once per KTP document
# through ktp_spatial.resolve_nik)
# ---------------------------------------------------------------------------


def _struct_conf_one(v: str, base: float) -> float:
    """base · rescoring(nik_structural_score) (nik_fuzzy.py:261-311)
    for one 16-digit candidate."""
    prov = float(v[0:2])
    kk = float(v[4:6])
    day = float(v[6:8])
    month = float(v[8:10])
    seq = float(v[12:16])
    sc = 1.0
    if prov not in VALID_PROVINCE_CODES:
        sc *= 0.40 if (prov < 11 or prov > 94) else 0.85
    if kk == 0:
        sc *= 0.70
    if day == 0:
        sc = 0.0
    elif not (1 <= day <= 31 or 41 <= day <= 71):
        sc *= 0.10
    if month < 1 or month > 12:
        sc = 0.0
    if seq == 0:
        sc *= 0.50
    return base * (0.25 if sc < 0.2 else 0.5 + 0.5 * sc)


def clean_nik_one(v: str | None) -> str | None:
    """clean_nik (ktp_extractor.py:109-128)."""
    if v is None:
        return None
    sub = str(v).translate(_TO_DIGIT)
    digits = re.sub(r"\D", "", sub)
    if len(digits) == 16:
        return digits
    if len(digits) > 16:
        m = re.search(r"\d{16}", sub.replace(" ", ""))
        return m.group(0) if m else None
    return None


def nik_best_one(raw) -> Tuple[Optional[str], Optional[float]]:
    """Best NIK candidate ≥ 0.30 (nik_fuzzy.py:108-166) → (value,
    confidence), or (None, None). Candidate families (exact / char-sub
    / longest-run / 120 insertion variants) are generated in the
    oracle's order and the best is a strict-greater scan in that order
    — equivalent to the oracle's dedup-keep-max + stable confidence
    sort (no later family carries a higher base confidence than an
    earlier duplicate, so first-position ties resolve identically)."""
    if raw is None:
        return None, None
    r = str(raw)
    exact = re.sub(r"\D", "", r)
    sub = r.translate(_TO_DIGIT)
    subd = re.sub(r"\D", "", sub)
    runs = re.findall(r"\d+", sub)
    run = max(runs, key=len) if runs else ""

    cands: list = []
    if len(exact) == 16:
        cands.append((exact, 1.0))
    if len(subd) == 16 and subd != exact:
        cands.append((subd, 0.88))
    padded = run.ljust(16, "0")
    for ln, base in ((16, 0.93), (15, 0.72), (14, 0.50)):
        if len(run) == ln and padded != exact and padded != subd:
            cands.append((padded, base))
    working = subd if len(subd) == 15 else (
        exact if len(exact) == 15 else None)
    if working:
        for pos in NIK_INSERT_POSITIONS:
            pre, suf = working[:pos], working[pos:]
            for d in "0123456789":
                cands.append((pre + d + suf, 0.62))
        for d in "0123456789":
            cands.append((d + working, 0.58))
            cands.append((working + d, 0.58))

    best_v, best_c = None, -1.0
    for v, base in cands:
        c = _struct_conf_one(v, base)
        if c >= 0.30 and c > best_c:
            best_v, best_c = v, c
    if best_v is not None:
        return best_v, best_c
    return None, None


def _pad_nik_dob_vec(d15: pd.Series, exp: pd.Series) -> pd.Series:
    """DOB-driven 15→16 padding, closed form of the digit-major search
    (nik_cross_validator.py:271-285; same pruning as
    nik.pad_nik_with_dob)."""
    n = len(d15)
    best_val = pd.Series([None] * n, index=d15.index, dtype=object)
    best_prio = np.full(n, 99)
    d = d15.fillna("")
    e = exp.fillna("")

    def consider(cond: np.ndarray, value: pd.Series, prio: np.ndarray):
        nonlocal best_val, best_prio
        take = cond & (prio < best_prio)
        if take.any():
            tk = pd.Series(take, index=d15.index)
            best_val = best_val.where(~tk, value)
            best_prio = np.where(take, prio, best_prio)

    sig1 = (d.str[5:11] == e).to_numpy()
    consider(sig1, "0" + d, np.full(n, 0))
    for p in range(6, 12):
        d_req = e.str[p - 6:p - 6 + 1]
        prefix_ok = d.str[6:p] == e.str[:p - 6]
        suffix_ok = d.str[p:11] == e.str[p - 5:11]
        ok = (prefix_ok & suffix_ok & (d_req != "")).to_numpy()
        prio = pd.to_numeric(d_req.where(d_req != "", "9"),
                             errors="coerce").to_numpy(float) * 16 + p
        consider(ok, d.str[:p] + d_req + d.str[p:], prio.astype(int))
    sig2 = (d.str[6:12] == e).to_numpy()
    consider(sig2, d.str[:12] + "0" + d.str[12:], np.full(n, 12))
    return best_val


# ---------------------------------------------------------------------------
# stage 1: cleanup
# ---------------------------------------------------------------------------


def _base_clean(col: pd.Series) -> pd.Series:
    t = col.str.strip()
    t = t.mask(t.str.startswith(":", na=False),
               t.str.slice(1).str.strip())
    return t


def cleanup_frame(raw: pd.DataFrame) -> pd.DataFrame:
    """ktp_extractor.py:589-743 over raw-field columns (FIELD_COLS
    names: nik, nama, ttl, …). Empty results become None (the oracle
    drops the key)."""
    b = {c: _base_clean(_obj(raw[c])) for c in raw.columns}
    out = {}

    out["agama"] = _map_uniques(b["agama"], _agama_one)

    has_digit = b["rt_rw"].str.contains(r"\d", regex=True, na=False)
    nums = b["rt_rw"].str.findall(r"\d+")
    two = nums.map(lambda L: len(L) >= 2 if isinstance(L, list) else False)
    z = nums.map(lambda L: f"{L[0].zfill(3)}/{L[1].zfill(3)}"
                 if isinstance(L, list) and len(L) >= 2 else None)
    rt = b["rt_rw"].where(has_digit, None)
    out["rt_rw"] = _obj(z.where(two, rt))

    bleed = b["kel_desa"].str.match(r"^\d{2,3}/\d{2,3}$", na=False)
    knum = b["kel_desa"].str.findall(r"\d+")
    kz = knum.map(lambda L: f"{L[0].zfill(3)}/{L[1].zfill(3)}"
                  if isinstance(L, list) and len(L) >= 2 else None)
    out["kel_desa"] = _obj(b["kel_desa"].where(~bleed, None))
    out["rt_rw"] = out["rt_rw"].where(
        out["rt_rw"].notna(), _obj(kz.where(bleed, None)))

    jku = b["jenis_kelamin"].str.upper()
    male = (jku.str.contains("LAKI", na=False) | jku.str.contains("MALE", na=False)
            | jku.str.contains("LK", na=False))
    female = (jku.str.contains("PEREMPUAN", na=False) | jku.str.contains("FEMALE", na=False)
              | jku.str.contains("PR", na=False))
    out["jenis_kelamin"] = _obj(
        b["jenis_kelamin"].mask(male, "LAKI-LAKI")
        .mask(~male & female, "PEREMPUAN"))

    out["status_perkawinan"] = _map_uniques(
        b["status_perkawinan"], _status_one)
    out["pekerjaan"] = _map_uniques(b["pekerjaan"], _pekerjaan_one)
    out["kewarganegaraan"] = _map_uniques(b["kewarganegaraan"], _kwn_one)

    out["alamat"] = (
        b["alamat"]
        .str.replace(r"\s+RT.*", "", regex=True, case=False).str.strip()
        .str.replace(r"\s+RW.*", "", regex=True, case=False).str.strip()
    )

    for col in ("kabupaten", "provinsi"):
        v = (b[col].str.strip().str.replace(
            r"^[A-Z]{1,4}\s+(?=KOTA\b|KAB\b|KABUPATEN\b|JAKARTA\b)",
            "", regex=True).str.strip())
        v = v.str.replace(r"\bDKI\s*JAKARTA\b", "DKI JAKARTA",
                          regex=True, case=False)
        out[col] = _obj(v.where(v.str.strip().str.len() >= 3, None))

    out["kecamatan"] = (
        b["kecamatan"].str.replace(r"\s{2,}", " ", regex=True).str.strip()
        .str.replace(r"[,./\s]+$", "", regex=True).str.strip())

    for col in raw.columns:
        if col not in out:
            out[col] = b[col]
        out[col] = _nullify_empty(_obj(out[col]))
    return pd.DataFrame(out, index=raw.index)


# ---------------------------------------------------------------------------
# stage 2: repair
# ---------------------------------------------------------------------------


def repair_frame(c: pd.DataFrame) -> pd.DataFrame:
    """document_processor.py:96-148 minus the NIK tiers (the kernel
    resolves the NIK per document, ktp_spatial.resolve_nik): TTL
    re-normalization via the date chain."""
    out = c.copy()
    ttl = c["ttl"]
    place, date_raw = _split_place_date_vec(ttl)
    nd = normalize_date_frame(date_raw.fillna(""))
    good = (ttl.notna() & (ttl != "") & nd["normalized"].notna()
            & (nd["confidence"] > 0.25))
    joined = np.where(place.notna(),
                      place.fillna("") + "," + nd["normalized"].fillna(""),
                      nd["normalized"])
    out["ttl"] = _obj(ttl.where(~good, pd.Series(joined, index=ttl.index)))
    return out


def _split_place_date_vec(raw: pd.Series
                          ) -> Tuple[pd.Series, pd.Series]:
    """split_place_date (date_normalizer.py:94-120), columnar."""
    s = raw.fillna("")
    has_comma = s.str.contains(",", regex=False)
    parts = s.str.split(",", n=1)
    head = parts.str[0].str.strip().str.strip(".:- ")
    tail = parts.map(
        lambda L: L[1].strip() if isinstance(L, list) and len(L) > 1
        else "")
    pat = r"(\d{1,2}[\s\./\-]+\d{1,2}[\s\./\-]+\d{2,4})"
    m = s.str.extract(pat, expand=False)
    before = s.str.split(pat, n=1, regex=True).str[0] \
        .str.strip().str.strip(".:- ")
    place = head.where(has_comma, before.where(m.notna(), None))
    place = _nullify_empty(_obj(place))
    date_raw = tail.where(has_comma, m.where(m.notna(), s))
    return place, _obj(date_raw)


# ---------------------------------------------------------------------------
# stage 3: cross-validation
# ---------------------------------------------------------------------------

_DATE_TOKEN = r"\b(\d{2})-(\d{2})-(\d{4})\b"


def _extract_date_vec(ttl: pd.Series) -> pd.Series:
    return _obj(ttl.fillna("").str.extract(
        r"\b(\d{2}-\d{2}-\d{4})\b", expand=False))


def _extract_place_cv_vec(ttl: pd.Series) -> pd.Series:
    s = ttl.fillna("")
    m = s.str.extract(r"\b(\d{2}-\d{2}-\d{4})\b", expand=False)
    before = s.str.split(r"\b\d{2}-\d{2}-\d{4}\b", n=1, regex=True) \
        .str[0].str.strip().str.strip(",.:- ")
    place = before.where(m.notna() & (before.str.len() >= 2), None)
    return _obj(place)


def _norm_gender_vec(jk: pd.Series) -> pd.Series:
    u = jk.fillna("").str.upper().str.strip()
    male = (u.str.contains("LAKI") | u.str.contains("PRIA")
            | u.str.contains("MALE") | u.str.contains("LK"))
    female = (u.str.contains("PEREMPUAN") | u.str.contains("WANITA")
              | u.str.contains("FEMALE") | u.str.contains("PR"))
    out = pd.Series([None] * len(jk), index=jk.index, dtype=object)
    out = out.mask(female, "PEREMPUAN").mask(male, "LAKI-LAKI")
    return out


def crossval_frame(r: pd.DataFrame) -> pd.DataFrame:
    """nik_cross_validator.py:63-265, columnar."""
    out = r.copy()
    nik = r["nik"].fillna("")
    is16 = nik.str.match(r"^\d{16}$", na=False).to_numpy()

    # --- direction 1: 16-digit NIK is authoritative -------------------
    day_raw = pd.to_numeric(nik.str[6:8], errors="coerce").to_numpy(float)
    month = pd.to_numeric(nik.str[8:10], errors="coerce").to_numpy(float)
    year2 = pd.to_numeric(nik.str[10:12], errors="coerce").to_numpy(float)
    femal = day_raw > 40
    day = np.where(femal, day_raw - 40, day_raw)
    year = np.where(year2 <= 26, 2000 + year2, 1900 + year2)
    date_valid = ((day >= 1) & (day <= 31) & (month >= 1) & (month <= 12)
                  & (year >= 1920) & (year <= 2026))
    act1 = is16 & date_valid
    gender_nik = pd.Series(np.where(femal, "PEREMPUAN", "LAKI-LAKI"),
                           index=r.index)
    nik_date = pd.Series(
        ["" if not a else f"{int(d):02d}-{int(m):02d}-{int(y):04d}"
         for a, d, m, y in zip(act1, day, month, year)],
        index=r.index)

    a1 = pd.Series(act1, index=r.index)
    out["jenis_kelamin"] = _obj(
        r["jenis_kelamin"].where(~a1, gender_nik))

    existing = _extract_date_vec(r["ttl"])
    place_cv = _extract_place_cv_vec(r["ttl"])
    replaced = np.where(place_cv.notna(),
                        place_cv.fillna("") + "," + nik_date,
                        nik_date)
    e_yr = pd.to_numeric(existing.str[6:10], errors="coerce") \
        .to_numpy(float)
    e_mon = pd.to_numeric(existing.str[3:5], errors="coerce") \
        .to_numpy(float)
    e_day = pd.to_numeric(existing.str[0:2], errors="coerce") \
        .to_numpy(float)
    match_yr = (e_yr % 100) == year2
    match_mon = e_mon == month
    match_day = e_day == day
    same = (existing == nik_date).fillna(False).astype(bool).to_numpy()
    enone = existing.isna().to_numpy()
    # replace when: no date; or full d/m/y2 match but formatting differs;
    # or year2 mismatch. Keep when only the year matches (match_yr).
    repl = act1 & (enone
                   | (~same & match_yr & match_mon & match_day)
                   | (~same & ~match_yr))
    rp = pd.Series(repl, index=r.index)
    out["ttl"] = _obj(r["ttl"].where(
        ~rp, pd.Series(replaced, index=r.index)))

    # --- direction 2: repair a 15-digit NIK from date + gender --------
    act2 = ~is16
    ex2 = _extract_date_vec(r["ttl"])
    d2 = pd.to_numeric(ex2.str[0:2], errors="coerce").to_numpy(float)
    m2 = pd.to_numeric(ex2.str[3:5], errors="coerce").to_numpy(float)
    y2f = pd.to_numeric(ex2.str[6:10], errors="coerce").to_numpy(float)
    fem2 = (_norm_gender_vec(r["jenis_kelamin"]) == "PEREMPUAN") \
        .to_numpy()
    enc_day = np.where(fem2, d2 + 40, d2)
    expected = pd.Series(
        ["" if (np.isnan(ed) or np.isnan(mm) or np.isnan(yy))
         else f"{int(ed):02d}{int(mm):02d}{int(yy) % 100:02d}"
         for ed, mm, yy in zip(enc_day, m2, y2f)],
        index=r.index)
    have = act2 & ex2.notna().to_numpy() & (nik != "").to_numpy()
    digits = _digits(_sub_digit(nik))
    d16 = have & (digits.str.len() == 16).to_numpy()
    fix16 = d16 & (digits.str[6:12] == expected).to_numpy() \
        & (digits != nik).to_numpy()
    d15 = have & (digits.str.len() == 15).to_numpy()
    padded = _pad_nik_dob_vec(digits.where(pd.Series(d15, index=r.index)),
                              expected)
    f16 = pd.Series(fix16, index=r.index)
    p15 = pd.Series(d15, index=r.index) & padded.notna()
    out["nik"] = _obj(
        out["nik"].where(~f16, digits).where(~p15, padded))
    return out


# ---------------------------------------------------------------------------
# stage 4: format
# ---------------------------------------------------------------------------


def _robust_date_vec(s: pd.Series) -> pd.Series:
    """normalize_date_robust (date_normalizer.py:354-377): normalized
    iff confidence > 0.25, else the raw input."""
    nd = normalize_date_frame(s.fillna(""))
    good = nd["normalized"].notna() & (nd["confidence"] > 0.25)
    return _obj(nd["normalized"].where(good, s))


def format_frame(v: pd.DataFrame) -> pd.DataFrame:
    """ktp_extractor.py:750-805 + N37 place fix → flat output columns."""
    ttl = v["ttl"]
    s = ttl.fillna("")
    has_comma = s.str.contains(",", regex=False)
    parts = s.str.split(",", n=1)
    head = parts.str[0].str.strip().str.strip(":.,")
    tail = parts.map(
        lambda L: L[1].strip() if isinstance(L, list) and len(L) > 1
        else "")
    endpat = r"(\d{1,2}[-./\s]+\d{1,2}[-./\s]+\d{2,4})\s*$"
    m = s.str.extract(endpat, expand=False)
    before = s.str.replace(endpat, "", regex=True) \
        .str.strip().str.strip(":.,")
    whole = s.str.strip().str.strip(":.,")

    tempat = head.where(has_comma, before.where(m.notna(), whole))
    tempat = _nullify_empty(_obj(tempat.where(s != "", None)))
    date_part = tail.where(has_comma, m.str.strip())
    tgl = _robust_date_vec(_obj(date_part))
    tgl = _obj(tgl.where(date_part.notna() & (s != ""), None))

    # N37: conservative place fix — apply when conf ≥ 0.88 AND changed
    def place_fix(val: str):
        corr, conf = _correct_place_one(val)
        return corr if (conf >= 0.88 and corr != val) else val

    tempat = _map_uniques(tempat, place_fix)

    out = pd.DataFrame(index=v.index)
    out["document_type"] = "KTP"
    out["nomor"] = v["nik"]
    out["nama"] = v["nama"]
    out["tempat_lahir"] = _nullify_empty(tempat)
    out["tgl_lahir"] = _nullify_empty(tgl)
    out["jenis_kelamin"] = v["jenis_kelamin"]
    out["agama"] = v["agama"]
    out["status_perkawinan"] = v["status_perkawinan"]
    out["pekerjaan"] = v["pekerjaan"]
    out["kewarganegaraan"] = v["kewarganegaraan"]
    out["alamat.name"] = v["alamat"]
    out["alamat.rt_rw"] = v["rt_rw"]
    out["alamat.kel_desa"] = v["kel_desa"]
    out["alamat.kecamatan"] = v["kecamatan"]
    out["alamat.kabupaten"] = v["kabupaten"]
    out["alamat.provinsi"] = v["provinsi"]
    return out


def post_chain(raw: pd.DataFrame) -> pd.DataFrame:
    """cleanup → repair → crossval → format over raw-field columns
    (the ``nik`` column already resolved)."""
    c = cleanup_frame(raw)
    r = repair_frame(c)
    x = crossval_frame(r)
    return format_frame(x)
