"""Scalar-level oracle: NIK repair, field correction, and the date
normalization chain.

Implements the *semantics* of the reference's scalar modules
(/root/reference/nik_fuzzy.py, ocr_corrector.py, ktp_extractor.py
cleanup helpers) as compact pure functions. The Spark engine implements
the same semantics as JVM column expressions, pandas UDFs and the
extraction kernel's per-document tiers; the pytest suite asserts
equality between them on golden pairs and on the synthetic corpus. The
date chain (date_normalizer.py) is the kernel's own scalar chain,
re-imported from functions/pandas_ktp.py and checked against two
independent implementations instead. Citations are file:line into
/root/reference/.
"""

from __future__ import annotations

import re

from ..dictionaries import (
    FIELD_ENUMS,
    INDONESIAN_PLACES,
    KEWARGANEGARAAN_CANONICAL,
    NIK_INSERT_POSITIONS,
    PEKERJAAN_CANONICAL,
    STATUS_PERKAWINAN_CANONICAL,
    TO_DIGIT,
    TO_TEXT,
    VALID_PROVINCE_CODES,
)
from ..functions import fuzzy

# date normalization (N14-N24): the kernel's chain, see above
from ..functions.pandas_ktp import (  # noqa: F401
    normalize_date,
    normalize_date_robust,
    normalize_place_date,
    split_place_date,
    sub_date_chars,
)

# ---------------------------------------------------------------------------
# Character substitution (N1-N4)
# ---------------------------------------------------------------------------


def sub_to_digit(text: str) -> str:
    """Letters→digits, numeric context (nik_fuzzy.py:202-204)."""
    return "".join(TO_DIGIT.get(c, c) for c in text)


def sub_to_text(text: str) -> str:
    """Digits→letters after upper-casing, TEXT context
    (ocr_corrector.py:276-283)."""
    return "".join(TO_TEXT.get(c, c) for c in text.upper())


def sub_context_aware(text: str) -> str:
    """Token-wise: alpha-ratio ≥ 0.4 → TEXT-context sub, else upper only
    (ocr_corrector.py:294-312)."""
    if not text:
        return text
    out = []
    for token in re.split(r"(\s+)", text):
        if not token or token.isspace():
            out.append(token)
            continue
        alpha = sum(1 for c in token if c.isalpha())
        if alpha / max(len(token), 1) >= 0.4:
            out.append(sub_to_text(token))
        else:
            out.append(token.upper())
    return "".join(out)


# ---------------------------------------------------------------------------
# NIK candidate engine (N5-N13) — nik_fuzzy.py semantics
# ---------------------------------------------------------------------------


def nik_structural_score(nik: str) -> float:
    """Structure-compliance score in [0,1] (nik_fuzzy.py:261-311)."""
    if not nik or not re.match(r"^\d{16}$", nik):
        return 0.0
    score = 1.0
    prov = int(nik[0:2])
    if prov not in VALID_PROVINCE_CODES:
        score *= 0.40 if (prov < 11 or prov > 94) else 0.85
    if int(nik[4:6]) == 0:
        score *= 0.70
    day = int(nik[6:8])
    if day == 0:
        score *= 0.0
    elif not (1 <= day <= 31 or 41 <= day <= 71):
        score *= 0.10
    month = int(nik[8:10])
    if month < 1 or month > 12:
        score *= 0.0
    if int(nik[12:16]) == 0:
        score *= 0.50
    return float(score)


def nik_candidates(raw: str) -> list[dict]:
    """All plausible NIK candidates, confidence-desc, ties in generation
    order (nik_fuzzy.py:108-166)."""
    if not raw:
        return []
    cands: list[dict] = []

    def add(value, source, conf):
        cands.append({"value": value, "source": source, "confidence": conf})

    exact = re.sub(r"\D", "", raw)
    if len(exact) == 16:
        add(exact, "exact", 1.0)

    sub = sub_to_digit(raw)
    sub_digits = re.sub(r"\D", "", sub)
    if len(sub_digits) == 16 and sub_digits != exact:
        add(sub_digits, "char_sub", 0.88)

    runs = re.findall(r"\d+", sub)
    run = max(runs, key=len) if runs else ""
    if 14 <= len(run) <= 16:
        padded = run.ljust(16, "0")
        base = {14: 0.50, 15: 0.72, 16: 0.93}[len(run)]
        if not any(c["value"] == padded for c in cands):
            add(padded, f"longest_run_{len(run)}", base)

    working = (sub_digits if len(sub_digits) == 15
               else (exact if len(exact) == 15 else None))
    if working:
        seen: set[str] = set()
        for pos in NIK_INSERT_POSITIONS:
            for digit in "0123456789":
                v = working[:pos] + digit + working[pos:]
                if v not in seen:
                    seen.add(v)
                    add(v, f"padded_pos{pos}", 0.62)
        for digit in "0123456789":
            for v in (digit + working, working + digit):
                if v not in seen:
                    seen.add(v)
                    add(v, "edge_pad", 0.58)

    for c in cands:
        s = nik_structural_score(c["value"])
        c["structural_score"] = s
        c["confidence"] *= 0.25 if s < 0.2 else (0.5 + 0.5 * s)

    # dedup keep-max per value (first wins ties), filter, stable sort desc
    by_value: dict[str, dict] = {}
    for c in cands:
        prev = by_value.get(c["value"])
        if prev is None or c["confidence"] > prev["confidence"]:
            by_value[c["value"]] = c
    out = [c for c in by_value.values() if c["confidence"] >= 0.30]
    out.sort(key=lambda c: -c["confidence"])
    return out


def nik_best_candidate(raw: str, min_confidence: float = 0.30):
    cands = nik_candidates(raw)
    if not cands:
        return None
    return cands[0] if cands[0]["confidence"] >= min_confidence else None


def clean_nik(raw: str):
    """16-digit extraction with substitution (ktp_extractor.py:109-128)."""
    if not raw:
        return None
    sub = sub_to_digit(raw)
    digits = re.sub(r"\D", "", sub)
    if len(digits) == 16:
        return digits
    if len(digits) > 16:
        m = re.search(r"\d{16}", sub.replace(" ", ""))
        return m.group(0) if m else None
    return None


def pad_nik_with_dob(digits_15: str, expected_dob: str):
    """Digit-major, position-minor insertion search; first candidate whose
    chars 6–11 equal the expected DOB segment (nik_cross_validator.py:271-285)."""
    for digit in "0123456789":
        for pos in range(16):
            cand = digits_15[:pos] + digit + digits_15[pos:]
            if len(cand) == 16 and cand[6:12] == expected_dob:
                return cand
    return None


# ---------------------------------------------------------------------------
# Fuzzy field normalization & correctors (N25-N37)
# ---------------------------------------------------------------------------


def fuzzy_normalize_field(value: str, canonical_map: dict[str, list[str]],
                          threshold: int = 72) -> str:
    """Exact alias tier → token_set_ratio tier (ktp_extractor.py:68-102)."""
    if not value:
        return value
    v = value.upper().strip()
    for canonical, aliases in canonical_map.items():
        if v in [a.upper() for a in aliases]:
            return canonical
    best_canonical, best = value, 0
    for canonical, aliases in canonical_map.items():
        for alias in aliases:
            s = fuzzy.token_set_ratio(v, alias.upper())
            if s > best:
                best, best_canonical = s, canonical
    return best_canonical if best >= threshold else value


def correct_enum(field_key: str, value: str):
    """Enum-field correction tiers (ocr_corrector.py:368-401).
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
    sub = sub_to_text(v)
    if sub in vocab:
        return sub, 0.93
    for cand in (v, sub):
        choice, score = fuzzy.extract_one(cand, vocab,
                                          scorer=fuzzy.token_set_ratio)
        if choice is not None and score >= thr:
            return choice, score / 100.0
    return None


def _j_i_variants(text: str) -> list[str]:
    if not text:
        return []
    if text[0] == "I":
        return ["J" + text[1:]]
    if text[0] == "J":
        return ["I" + text[1:]]
    return []


def correct_place(raw: str, min_confidence: float = 0.82):
    """Place-name correction tiers (ocr_corrector.py:423-477).
    Returns (corrected, confidence)."""
    if not raw or len(raw.strip()) < 2:
        return raw, 0.0
    v = raw.upper().strip()
    db = INDONESIAN_PLACES
    db_set = set(db)
    if v in db_set:
        return v, 1.0
    sub = sub_to_text(v)
    if sub in db_set:
        return sub, 0.95
    for variant in _j_i_variants(v):
        if variant in db_set:
            return variant, 0.90
    for variant in _j_i_variants(sub):
        if variant in db_set:
            return variant, 0.87
    cands = list({v, sub} | set(_j_i_variants(v)) | set(_j_i_variants(sub)))
    best_score, best_match = 0, None
    for cand in cands:
        choice, score = fuzzy.extract_one(cand, db,
                                          scorer=fuzzy.token_set_ratio)
        if choice is not None and score > best_score:
            best_score, best_match = score, choice
    if best_match and best_score >= min_confidence * 100:
        return best_match, best_score / 100.0
    corrected = sub if sub != v else v
    return corrected, 0.35


# ---------------------------------------------------------------------------
# cleanup_data field normalizers (ktp_extractor.py:589-743)
# ---------------------------------------------------------------------------


def clean_kabupaten(raw: str) -> str:
    """Strip 1-4 leading caps before KOTA/KAB/KABUPATEN/JAKARTA
    (ktp_extractor.py:131-139)."""
    if not raw:
        return raw
    return re.sub(r"^[A-Z]{1,4}\s+(?=KOTA\b|KAB\b|KABUPATEN\b|JAKARTA\b)",
                  "", raw.strip()).strip()


def normalize_rt_rw(value: str):
    """Digit groups → zfill(3)/zfill(3); None when no digits
    (ktp_extractor.py:630-635)."""
    if not re.search(r"\d", value):
        return None
    nums = re.findall(r"\d+", value)
    if len(nums) >= 2:
        return f"{nums[0].zfill(3)}/{nums[1].zfill(3)}"
    return value


def normalize_jenis_kelamin(value: str) -> str:
    v = value.upper()
    if "LAKI" in v or "MALE" in v or "LK" in v:
        return "LAKI-LAKI"
    if "PEREMPUAN" in v or "FEMALE" in v or "PR" in v:
        return "PEREMPUAN"
    return value


def normalize_status_perkawinan(value: str) -> str:
    """Three-layer status normalization (ktp_extractor.py:655-689)."""
    v = value.upper()
    v = re.sub(r"\bCEL\s*UM\b", "BELUM", v)
    v = re.sub(r"\bSEL\s*UM\b", "BELUM", v)
    if "BELUM" in v or "SINGLE" in v or "LAJANG" in v:
        return "BELUM KAWIN"
    if re.search(r"KAWIN|MARRIED", v) and "BELUM" not in v:
        return "KAWIN"
    if "CERAI" in v or "DIVORCED" in v:
        if "HIDUP" in v:
            return "CERAI HIDUP"
        if "MATI" in v:
            return "CERAI MATI"
        return "CERAI"
    if v.startswith("BELU") and v.endswith("AWIN"):
        return "BELUM KAWIN"
    norm = fuzzy_normalize_field(value, STATUS_PERKAWINAN_CANONICAL,
                                 threshold=65)
    return norm if norm in STATUS_PERKAWINAN_CANONICAL else value


def normalize_pekerjaan(value: str) -> str:
    """Regex fixes then canonical fuzzy tier (ktp_extractor.py:697-711)."""
    v = value.replace("BURUHHARIAN", "BURUH HARIAN")
    v = re.sub(r"\bDURUH\b", "BURUH", v, flags=re.IGNORECASE)
    v = re.sub(r"\bCURLH\b", "BURUH", v, flags=re.IGNORECASE)
    v = re.sub(r"\bCURUH\b", "BURUH", v, flags=re.IGNORECASE)
    v = re.sub(r"HARIANEEPAS", "HARIAN LEPAS", v)
    v = re.sub(r"HARIAN\s*[CL]EPAS", "HARIAN LEPAS", v)
    norm = fuzzy_normalize_field(v, PEKERJAAN_CANONICAL, threshold=72)
    return norm if norm in PEKERJAAN_CANONICAL else v


def normalize_pekerjaan_sim(value: str) -> str:
    """SIM-path occupation normalization: exact alias tier then
    token_set_ratio ≥ 72 (sim_extractor.py:156-179) — the canonical-map
    pass without the KTP regex pre-fixes."""
    return fuzzy_normalize_field(value, PEKERJAAN_CANONICAL, threshold=72)


def normalize_kewarganegaraan(value: str) -> str:
    norm = fuzzy_normalize_field(value, KEWARGANEGARAAN_CANONICAL,
                                 threshold=80)
    return norm if norm in KEWARGANEGARAAN_CANONICAL else value


def normalize_alamat(value: str) -> str:
    v = re.sub(r"\s+RT.*", "", value, flags=re.IGNORECASE).strip()
    return re.sub(r"\s+RW.*", "", v, flags=re.IGNORECASE).strip()


def normalize_kecamatan(value: str) -> str:
    v = re.sub(r"\s{2,}", " ", value).strip()
    return re.sub(r"[,./\s]+$", "", v).strip()
