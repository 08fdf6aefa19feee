"""Per-document KTP finish — the extraction kernel's last KTP step:
cleanup → TTL repair → NIK↔field cross-validation → format, run once
per KTP document inside the kernel's per-document loop
(operators/unified_extract.py), as ``sim_core.process_sim_doc`` does
for SIM.

``finish_ktp`` is the pipeline's one implementation of the reference's
post-extraction chain, checked against the independent pure-Python
oracle chain (``oracle/ktp.py``) by tests/test_pandas_ktp_parity.py
and the span-equality gate.

Reference semantics per stage:
- cleanup      ktp_extractor.py:589-743 (field normalizers, RT/RW
               bleed from Kel/Desa; NIK clean runs in resolve_nik)
- repair       document_processor.py:96-148 (TTL re-normalization via
               the date chain; the NIK tiers run in resolve_nik)
- crossval     nik_cross_validator.py:63-265 (NIK→fields overwrite,
               fields→NIK 15-digit DOB padding)
- format       ktp_extractor.py:750-805 (+ the N37 conservative place
               fix, ocr_corrector.py:423-477)

The fuzzy tiers match against vocabularies prepared once per process
(functions/fuzzy.py), never through the oracle, and are memoized per
value: the generator repeats tier values heavily (0.2-0.7% of a
batch's agama, status, pekerjaan and kewarganegaraan values are
distinct). The ``__spark_entry__`` queries ``fuzzy_canonical`` and
``enum_place_correction`` run the same tiers (``queries.tier_batches``).

The date chain (N14-N24, date_normalizer.py) lives here too. It is
the one Python date chain: the kernel's TTL repair, SIM's
``normalize_date_robust``, every row of the ``__spark_entry__`` date
queries (``queries.tier_batches``) and ``entry()``
(``queries.nik_date_batches``) run it, and the oracle re-imports it.
It is checked against the independent JVM expressions in ``dates.py``
on golden and seeded random inputs (tests/test_scalar_parity.py).

The ``NIK`` field arrives resolved: the kernel runs NIK cleanup and
the three repair tiers once per KTP document
(``ktp_spatial.resolve_nik``) on the per-value candidate engine below
(``clean_nik_one``/``nik_best_one``). ``nik_best_one`` is the one NIK
generate-validate-rank engine: ``entry()`` runs it too, and
tests/test_property_chain_parity.py checks it, source label included,
against ``oracle.scalars.nik_best_candidate``.
"""

from __future__ import annotations

import re
from datetime import date as _date
from functools import lru_cache
from typing import Optional, Tuple

from ..dictionaries import (
    DATE_KEEP,
    DATE_TO_DIGIT,
    FIELD_ENUMS,
    INDONESIAN_PLACES,
    KEWARGANEGARAAN_CANONICAL,
    KNOWN_VALUES,
    MAX_BIRTH_YEAR,
    MIN_BIRTH_YEAR,
    NIK_INSERT_POSITIONS,
    PEKERJAAN_CANONICAL,
    REFERENCE_YEAR,
    STATUS_PERKAWINAN_CANONICAL,
    TO_DIGIT_DST,
    TO_DIGIT_SRC,
    TO_TEXT_DST,
    TO_TEXT_SRC,
    VALID_PROVINCE_CODES,
)
from . import fuzzy

__all__ = ["finish_ktp", "clean_nik_one", "nik_best_one",
           "normalize_date", "normalize_date_robust", "split_place_date",
           "normalize_place_date"]

_TO_DIGIT = str.maketrans(TO_DIGIT_SRC, TO_DIGIT_DST)
_TO_TEXT = str.maketrans(TO_TEXT_SRC, TO_TEXT_DST)


def _sub_text_one(v: str) -> str:
    return v.upper().translate(_TO_TEXT)


# ---------------------------------------------------------------------------
# fuzzy tiers (the reference tier logic over vocabularies prepared once
# per process, functions/fuzzy.py; memoized per value)
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


@lru_cache(maxsize=262144)
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


@lru_cache(maxsize=262144)
def _correct_place_one(raw: str) -> Tuple[str, float]:
    """Place-name correction tiers (ocr_corrector.py:423-477), fuzzy
    cutoff 82 (the reference's min_confidence 0.82)."""
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
    best_score, best_match = 0, None
    for cand in cands:
        choice, score = _PLACES.best(cand, fuzzy.token_set_ratio, 82)
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


@lru_cache(maxsize=262144)
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


@lru_cache(maxsize=262144)
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


@lru_cache(maxsize=262144)
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


#: (run length, base confidence, source label) of the longest-run tier
_RUN_TIERS = ((16, 0.93, "longest_run_16"), (15, 0.72, "longest_run_15"),
              (14, 0.50, "longest_run_14"))
#: (position, source label) of the insertion tier, in generation order
_PAD_TIERS = tuple((pos, f"padded_pos{pos}") for pos in NIK_INSERT_POSITIONS)


def nik_best_one(raw) -> Tuple[Optional[str], Optional[float],
                               Optional[str]]:
    """Best NIK candidate ≥ 0.30 (nik_fuzzy.py:108-166) → (value,
    confidence, source), or (None, None, None). The source is the
    oracle's label: ``exact``, ``char_sub``, ``longest_run_N``,
    ``padded_posN`` or ``edge_pad``.

    Candidate families (exact / char-sub / longest-run / 120 insertion
    variants) are generated in the oracle's order and the best is a
    strict-greater scan in that order. That equals the oracle's
    dedup-keep-max + stable confidence sort, which keeps each value at
    its first position with its best confidence and source. Only the
    0.50 run-14 candidate can have a later duplicate of higher base (a
    0.62 insertion, else a 0.58 edge pad); it takes that duplicate's
    base and label, and the duplicate then ties and loses."""
    if raw is None:
        return None, None, None
    r = str(raw)
    exact = re.sub(r"\D", "", r)
    sub = r.translate(_TO_DIGIT)
    subd = re.sub(r"\D", "", sub)
    runs = re.findall(r"\d+", sub)
    run = max(runs, key=len) if runs else ""

    cands: list = []
    if len(exact) == 16:
        cands.append((exact, 1.0, "exact"))
    if len(subd) == 16 and subd != exact:
        cands.append((subd, 0.88, "char_sub"))
    padded = run.ljust(16, "0")
    run_at = None
    for ln, base, label in _RUN_TIERS:
        if len(run) == ln and padded != exact and padded != subd:
            run_at = len(cands)
            cands.append((padded, base, label))
    working = subd if len(subd) == 15 else (
        exact if len(exact) == 15 else None)
    if working:
        for pos, label in _PAD_TIERS:
            pre, suf = working[:pos], working[pos:]
            for d in "0123456789":
                cands.append((pre + d + suf, 0.62, label))
        for d in "0123456789":
            cands.append((d + working, 0.58, "edge_pad"))
            cands.append((working + d, 0.58, "edge_pad"))
        if run_at is not None and len(run) == 14:
            for cand in cands[run_at + 1:]:
                if cand[0] == padded:
                    cands[run_at] = cand
                    break

    best_v, best_c, best_s = None, -1.0, None
    for v, base, label in cands:
        c = _struct_conf_one(v, base)
        if c >= 0.30 and c > best_c:
            best_v, best_c, best_s = v, c, label
    if best_v is not None:
        return best_v, best_c, best_s
    return None, None, None


def _pad_nik_dob_one(d15: str, expected: str) -> Optional[str]:
    """DOB-driven 15→16 padding (nik_cross_validator.py:271-285): the
    first candidate of the digit-major, position-minor insertion search
    whose chars 6-11 equal ``expected``, in closed form. An insertion
    at position ≤ 5 shifts chars 5-10 into 6-11 whatever the digit, so
    digit 0 at position 0 covers them all (priority 0); one at
    position ≥ 12 leaves chars 6-11 as they are (digit 0 at 12,
    priority 12); one at position p in 6-11 must insert
    ``expected[p - 6]`` (priority digit·16 + p)."""
    if d15[5:11] == expected:
        return "0" + d15
    best, best_prio = None, None
    for p in range(6, 12):
        req = expected[p - 6:p - 5]
        if req and d15[6:p] == expected[:p - 6] \
                and d15[p:11] == expected[p - 5:11]:
            prio = int(req) * 16 + p
            if best_prio is None or prio < best_prio:
                best, best_prio = d15[:p] + req + d15[p:], prio
    if d15[6:12] == expected and (best_prio is None or 12 < best_prio):
        return d15[:12] + "0" + d15[12:]
    return best


# ---------------------------------------------------------------------------
# Date normalization (N14-N24) — date_normalizer.py semantics
# ---------------------------------------------------------------------------


def sub_date_chars(text: str) -> str:
    """Date-context substitution: keep digits and ``-./ ,``
    (date_normalizer.py:335-344)."""
    out = []
    for ch in text:
        if ch.isdigit() or ch in DATE_KEEP:
            out.append(ch)
        else:
            out.append(DATE_TO_DIGIT.get(ch, ch))
    return "".join(out)


def _repair_year(yr: int) -> int | None:
    """First single-digit replacement (position asc, digit asc) landing in
    [MIN_BIRTH_YEAR, REFERENCE_YEAR] (date_normalizer.py:238-258)."""
    s = str(yr).zfill(4)
    for pos in range(4):
        for repl in "0123456789":
            if repl == s[pos]:
                continue
            cand = int(s[:pos] + repl + s[pos + 1:])
            if MIN_BIRTH_YEAR <= cand <= REFERENCE_YEAR:
                return cand
    return None


def _build_date(d_s: str, mo_s: str, yr_s: str, conf: float, method: str):
    """Validate components → dict or None (date_normalizer.py:264-329)."""
    try:
        d, mo, yr = int(d_s.strip()), int(mo_s.strip()), int(yr_s.strip())
    except ValueError:
        return None
    if d < 1 or d > 31:
        if 1 <= mo <= 31 and 1 <= d <= 12:
            d, mo = mo, d
            conf *= 0.80
        else:
            return None
    if mo < 1 or mo > 12:
        return None
    if yr < 100:
        yr = (1900 + yr) if yr > 25 else (2000 + yr)
        conf *= 0.85
    if not (MIN_BIRTH_YEAR <= yr <= REFERENCE_YEAR):
        rep = _repair_year(yr)
        if rep is not None:
            yr = rep
            method = "year_repair_" + method
            conf *= 0.80
        elif REFERENCE_YEAR < yr <= MAX_BIRTH_YEAR:
            conf *= 0.75
        else:
            conf *= 0.15
    try:
        _date(yr, mo, d)
    except ValueError:
        return None
    return {
        "normalized": f"{d:02d}-{mo:02d}-{yr:04d}",
        "day": d, "month": mo, "year": yr,
        "confidence": float(conf), "method": method,
    }


def _collapse_seps(text: str) -> str:
    clean = re.sub(r"[-/. ]{2,}", "-", text)
    return re.sub(r"[-/. ]", "-", clean)


def _strategy_standard(text: str):
    clean = _collapse_seps(text)
    m = re.match(r"^(\d{1,2})-(\d{1,2})-(\d{4})$", clean.strip())
    if m:
        return _build_date(m.group(1), m.group(2), m.group(3), 0.97,
                           "strict_dd_mm_yyyy")
    m = re.search(r"\b(\d{1,2})-(\d{1,2})-(\d{4})\b", clean)
    if m:
        return _build_date(m.group(1), m.group(2), m.group(3), 0.90,
                           "embedded_dd_mm_yyyy")
    return None


def _strategy_charsub(text: str):
    sub = sub_date_chars(text)
    if sub == text:
        return None
    r = _strategy_standard(sub)
    if r:
        r["confidence"] *= 0.88
        r["method"] = "char_sub_" + r["method"]
    return r


def _strategy_3digit_year(text: str):
    clean = _collapse_seps(sub_date_chars(text))
    m = re.search(r"(\d{1,2})-(\d{1,2})-(\d{3})$", clean.strip())
    if not m:
        return None
    d_s, mo_s, y3 = m.group(1), m.group(2), m.group(3)
    yi = int(y3)
    if 900 <= yi <= 999:
        yf, conf = "1" + y3, 0.75
    elif 0 <= yi <= 25:
        yf, conf = "20" + y3, 0.70
    elif 26 <= yi <= 99:
        yf, conf = "19" + y3, 0.65
    elif 100 <= yi <= 199:
        yf, conf = "1" + y3 + "0", 0.50
    else:
        return None
    return _build_date(d_s, mo_s, yf, conf, "3digit_year_recon")


def _strategy_7digit(text: str):
    digits = re.sub(r"\D", "", sub_date_chars(text))
    if len(digits) != 7:
        return None
    r = _strategy_3digit_year(f"{digits[0:2]}-{digits[2:4]}-{digits[4:7]}")
    if r and r["confidence"] > 0:
        r["confidence"] *= 0.82
        r["method"] = "7digit_" + r["method"]
        return r
    r2 = _build_date("0" + digits[0], digits[1:3], digits[3:7], 0.45,
                     "7digit_alt_interp")
    return r2 if (r2 and r2["confidence"] > 0) else None


def _strategy_permissive(text: str):
    sub = sub_date_chars(text)
    m = re.search(r"(\d{1,2})\s*[-/.]\s*(\d{1,2})\s*[-/.]\s*(\d{2,4})", sub)
    if not m:
        return None
    d_s, mo_s, y_s = m.group(1), m.group(2), m.group(3)
    if len(y_s) == 2:
        y_s = ("19" + y_s) if int(y_s) > 25 else ("20" + y_s)
    return _build_date(d_s, mo_s, y_s, 0.55, "permissive_scan")


_STRATEGIES = (
    _strategy_standard,
    _strategy_charsub,
    _strategy_3digit_year,
    _strategy_7digit,
    _strategy_permissive,
)


def normalize_date(raw: str):
    """Full strategy chain (date_normalizer.py:71-92). Returns dict with
    confidence 0.0 when all strategies fail."""
    if not raw or not raw.strip():
        return {"normalized": None, "day": None, "month": None, "year": None,
                "confidence": 0.0, "method": "empty_input"}
    text = raw.strip()
    for strat in _STRATEGIES:
        r = strat(text)
        if r and r["confidence"] > 0.0:
            return r
    return {"normalized": None, "day": None, "month": None, "year": None,
            "confidence": 0.0, "method": "all_strategies_failed"}


def normalize_date_robust(raw: str) -> str:
    """Facade: normalized iff conf > 0.25, else the original raw
    (date_normalizer.py:354-377)."""
    if not raw:
        return raw
    r = normalize_date(raw)
    if r["normalized"] and r["confidence"] > 0.25:
        return r["normalized"]
    return raw


def split_place_date(raw: str):
    """(place, date_raw) split of a Tempat/Tgl-Lahir string
    (date_normalizer.py:94-120)."""
    if not raw:
        return None, ""
    if "," in raw:
        head, tail = raw.split(",", 1)
        return (head.strip().strip(".:- ") or None), tail.strip()
    m = re.search(r"(\d{1,2}[\s\./\-]+\d{1,2}[\s\./\-]+\d{2,4})", raw)
    if m:
        return (raw[: m.start()].strip().strip(".:- ") or None), m.group(1)
    return None, raw


def normalize_place_date(raw: str):
    place, date_raw = split_place_date(raw)
    return place, normalize_date(date_raw)




# ---------------------------------------------------------------------------
# per-document finish: cleanup → repair → crossval → format
# ---------------------------------------------------------------------------

_KTP_LABELS = ("PROVINSI", "KABUPATEN", "NIK", "Nama", "Tempat/Tgl Lahir",
               "Jenis Kelamin", "Alamat", "RT/RW", "Kel/Desa", "Kecamatan",
               "Agama", "Status Perkawinan", "Pekerjaan", "Kewarganegaraan")
_DIGIT = re.compile(r"\d")
_DIGITS = re.compile(r"\d+")
_NON_DIGIT = re.compile(r"\D")
_RT_RW_BLEED = re.compile(r"^\d{2,3}/\d{2,3}$")
_ALAMAT_RT = re.compile(r"\s+RT.*", re.IGNORECASE)
_ALAMAT_RW = re.compile(r"\s+RW.*", re.IGNORECASE)
_REGION_PREFIX = re.compile(
    r"^[A-Z]{1,4}\s+(?=KOTA\b|KAB\b|KABUPATEN\b|JAKARTA\b)")
_DKI = re.compile(r"\bDKI\s*JAKARTA\b", re.IGNORECASE)
_MULTI_SPACE = re.compile(r"\s{2,}")
_TRAIL_PUNCT = re.compile(r"[,./\s]+$")
_NIK16 = re.compile(r"^\d{16}$")
_DATE_TOKEN = re.compile(r"\b(\d{2})-(\d{2})-(\d{4})\b")
_TTL_END_DATE = re.compile(r"(\d{1,2}[-./\s]+\d{1,2}[-./\s]+\d{2,4})\s*$")


def _zfill_pair(nums: list) -> str:
    return f"{nums[0].zfill(3)}/{nums[1].zfill(3)}"


def _cleanup(raw: dict) -> dict:
    """ktp_extractor.py:589-743 over one document's raw fields (the
    ``NIK`` already resolved). Empty results become None (the oracle
    drops the key)."""
    c: dict = {}
    for label in _KTP_LABELS:
        v = raw.get(label)
        if v is not None:
            v = v.strip()
            if v.startswith(":"):
                v = v[1:].strip()
        c[label] = v

    for label, tier in (("Agama", _agama_one),
                        ("Status Perkawinan", _status_one),
                        ("Pekerjaan", _pekerjaan_one),
                        ("Kewarganegaraan", _kwn_one)):
        if c[label] is not None:
            c[label] = tier(c[label])
    rt_rw = c["RT/RW"]
    if rt_rw is not None:
        nums = _DIGITS.findall(rt_rw)
        rt_rw = (_zfill_pair(nums) if len(nums) >= 2
                 else rt_rw if _DIGIT.search(rt_rw) else None)
    kel = c["Kel/Desa"]
    if kel is not None and _RT_RW_BLEED.match(kel):
        c["Kel/Desa"] = None
        if rt_rw is None:
            rt_rw = _zfill_pair(_DIGITS.findall(kel))
    c["RT/RW"] = rt_rw
    jk = c["Jenis Kelamin"]
    if jk is not None:
        u = jk.upper()
        if "LAKI" in u or "MALE" in u or "LK" in u:
            c["Jenis Kelamin"] = "LAKI-LAKI"
        elif "PEREMPUAN" in u or "FEMALE" in u or "PR" in u:
            c["Jenis Kelamin"] = "PEREMPUAN"
    if c["Alamat"] is not None:
        c["Alamat"] = _ALAMAT_RW.sub(
            "", _ALAMAT_RT.sub("", c["Alamat"]).strip()).strip()
    for label in ("KABUPATEN", "PROVINSI"):
        if c[label] is not None:
            v = _DKI.sub("DKI JAKARTA",
                         _REGION_PREFIX.sub("", c[label].strip()).strip())
            c[label] = v if len(v.strip()) >= 3 else None
    if c["Kecamatan"] is not None:
        c["Kecamatan"] = _TRAIL_PUNCT.sub(
            "", _MULTI_SPACE.sub(" ", c["Kecamatan"]).strip()).strip()
    return {k: (v or None) for k, v in c.items()}


def _repair_ttl(ttl: Optional[str]) -> Optional[str]:
    """document_processor.py:96-148 minus the NIK tiers (the kernel
    resolves the NIK per document, ktp_spatial.resolve_nik): TTL
    re-normalization via the date chain."""
    if not ttl:
        return ttl
    place, dres = normalize_place_date(ttl)
    if dres["normalized"] and dres["confidence"] > 0.25:
        return f"{place},{dres['normalized']}" if place else dres["normalized"]
    return ttl


def _crossval(x: dict) -> None:
    """nik_cross_validator.py:63-265, in place: a 16-digit NIK
    overwrites gender and date of birth; otherwise the date of birth
    and gender repair a 15/16-digit NIK."""
    nik = x["NIK"] or ""
    ttl = x["Tempat/Tgl Lahir"] or ""
    m = _DATE_TOKEN.search(ttl)
    if _NIK16.match(nik):
        day_raw, month, year2 = int(nik[6:8]), int(nik[8:10]), int(nik[10:12])
        female = day_raw > 40
        day = day_raw - 40 if female else day_raw
        year = 2000 + year2 if year2 <= 26 else 1900 + year2
        if not (1 <= day <= 31 and 1 <= month <= 12
                and 1920 <= year <= 2026):
            return
        x["Jenis Kelamin"] = "PEREMPUAN" if female else "LAKI-LAKI"
        nik_date = f"{day:02d}-{month:02d}-{year:04d}"
        if m is not None:
            if m.group(0) == nik_date:
                return
            # keep when only the two-digit year matches
            if int(m.group(3)) % 100 == year2 and not (
                    int(m.group(2)) == month and int(m.group(1)) == day):
                return
        place = ttl[:m.start()].strip().strip(",.:- ") if m else ""
        x["Tempat/Tgl Lahir"] = (f"{place},{nik_date}" if len(place) >= 2
                                 else nik_date)
        return
    if m is None or not nik:
        return
    female = _gender(x["Jenis Kelamin"]) == "PEREMPUAN"
    enc_day = int(m.group(1)) + (40 if female else 0)
    expected = f"{enc_day:02d}{int(m.group(2)):02d}{int(m.group(3)) % 100:02d}"
    digits = _NON_DIGIT.sub("", nik.translate(_TO_DIGIT))
    if len(digits) == 16:
        if digits[6:12] == expected and digits != nik:
            x["NIK"] = digits
    elif len(digits) == 15:
        padded = _pad_nik_dob_one(digits, expected)
        if padded is not None:
            x["NIK"] = padded


def _gender(v: Optional[str]) -> Optional[str]:
    u = (v or "").upper().strip()
    if "LAKI" in u or "PRIA" in u or "MALE" in u or "LK" in u:
        return "LAKI-LAKI"
    if "PEREMPUAN" in u or "WANITA" in u or "FEMALE" in u or "PR" in u:
        return "PEREMPUAN"
    return None


def finish_ktp(raw: dict) -> dict:
    """cleanup → repair → crossval → format for one KTP document's raw
    fields ({canonical_label: value}, the ``NIK`` already resolved) →
    the flat output-field dict (ktp_extractor.py:750-805 + the N37
    place fix), None for a missing field."""
    x = _cleanup(raw)
    x["Tempat/Tgl Lahir"] = _repair_ttl(x["Tempat/Tgl Lahir"])
    _crossval(x)

    tempat = tgl = None
    ttl = x["Tempat/Tgl Lahir"]
    if ttl:
        if "," in ttl:
            head, tail = ttl.split(",", 1)
            tempat = head.strip().strip(":.,")
            tgl = normalize_date_robust(tail.strip())
        else:
            m = _TTL_END_DATE.search(ttl)
            if m:
                tempat = ttl[:m.start()].strip().strip(":.,")
                tgl = normalize_date_robust(m.group(1).strip())
            else:
                tempat = ttl.strip().strip(":.,")
    # N37: conservative place fix — apply when conf ≥ 0.88 AND changed
    if tempat:
        corr, conf = _correct_place_one(tempat)
        if conf >= 0.88:
            tempat = corr

    return {
        "document_type": "KTP",
        "nomor": x["NIK"],
        "nama": x["Nama"],
        "tempat_lahir": tempat or None,
        "tgl_lahir": tgl or None,
        "jenis_kelamin": x["Jenis Kelamin"],
        "agama": x["Agama"],
        "status_perkawinan": x["Status Perkawinan"],
        "pekerjaan": x["Pekerjaan"],
        "kewarganegaraan": x["Kewarganegaraan"],
        "alamat.name": x["Alamat"],
        "alamat.rt_rw": x["RT/RW"],
        "alamat.kel_desa": x["Kel/Desa"],
        "alamat.kecamatan": x["Kecamatan"],
        "alamat.kabupaten": x["KABUPATEN"],
        "alamat.provinsi": x["PROVINSI"],
    }
