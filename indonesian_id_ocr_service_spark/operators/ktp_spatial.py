"""KTP spatial key/value extraction (SURVEY §2.4 K1-K11, [GUDF]), run
per document inside the extraction kernel (operators/unified_extract.py).

The input table packs each document's spans into one row
(``doc_id, spans, span_geom``), so per-document extraction needs NO
groupBy and NO shuffle. This is the stage the reference implements as
its greedy geometric matcher (ktp_extractor.py:252-586)
— inherently sequential per document (exclusive value-claiming in key-y
order), hence Python inside the kernel's per-document loop.

This implementation is written matrix-style (score matrix over
key×value pairs per document, greedy argmin sweep) — independent of the
pure-Python oracle in ``oracle/ktp.py`` which follows the reference's
item-loop shape; the pytest gate asserts they agree on every corpus doc.

Label scoring (K1/K2) and keyword recovery (K8) match span texts
against vocabularies prepared once per executor (``fuzzy.Vocabulary``).
Label scores are also memoized per span text, which only pays for texts
that repeat: most span texts of an unseen document are new, so label
matching stays a large share of the kernel's per-document cost.

Also resolves each document's NIK (``resolve_nik``, N5-N13): cleanup,
then the repair tiers in the reference's lazy order
(document_processor.py:104-135) — the best candidate of the cleaned
value, and the N12 spatial rescue (nik_fuzzy.py:168-196) only when
that fails. Each tier runs at most once per document, on the per-value
candidate engine in functions/pandas_ktp; the per-document finish
(``pandas_ktp.finish_ktp``) receives the resolved value.
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np

from ..dictionaries import CANONICAL_FIELDS, KNOWN_VALUES, TRUNCATED_KEY_MAP
from ..functions import fuzzy
from ..functions import pandas_ktp as PK

__all__ = ["FIELD_COLS", "resolve_nik"]

#: canonical field label → output column name
FIELD_COLS: dict[str, str] = {
    "PROVINSI": "provinsi",
    "KABUPATEN": "kabupaten",
    "NIK": "nik",
    "Nama": "nama",
    "Tempat/Tgl Lahir": "ttl",
    "Jenis Kelamin": "jenis_kelamin",
    "Gol. Darah": "gol_darah",
    "Alamat": "alamat",
    "RT/RW": "rt_rw",
    "Kel/Desa": "kel_desa",
    "Kecamatan": "kecamatan",
    "Agama": "agama",
    "Status Perkawinan": "status_perkawinan",
    "Pekerjaan": "pekerjaan",
    "Kewarganegaraan": "kewarganegaraan",
    "Berlaku Hingga": "berlaku_hingga",
}

_LABELS = fuzzy.Vocabulary(CANONICAL_FIELDS)
_KEYWORDS = {field: fuzzy.Vocabulary(values)
             for field, values in KNOWN_VALUES.items()}
_TRUNC = tuple(TRUNCATED_KEY_MAP.items())
_PUNCT_ONLY = re.compile(r"^[:\-\.\s]+$")
_LEAD_PUNCT = re.compile(r"^[:\-\.\s]+")


@lru_cache(maxsize=262144)
def _label_match(text: str) -> tuple[str, int]:
    """Best (canonical_label, partial_ratio) for a raw span text when
    the score is ≥ 81, else ("", 0): the two consumers threshold at
    > 80 and > 85, so sub-cutoff scores don't need to be
    distinguished."""
    best, score = _LABELS.best(text, fuzzy.partial_ratio, 81)
    return best or "", score


@lru_cache(maxsize=262144)
def _truncated_key_score(field: str, text: str) -> int:
    """K4's inline probe for a key that ``TRUNCATED_KEY_MAP`` named:
    partial_ratio of the canonical label against the span text. Label
    texts repeat across documents, so it is memoized like
    ``_label_match``."""
    return fuzzy.partial_ratio(fuzzy.full_process(field),
                               fuzzy.full_process(text))


@lru_cache(maxsize=262144)
def _classify_span(text_raw: str) -> tuple[str, int] | None:
    """K2: (canonical field, label score) when this span is a key
    label, else None. Score is -1 for truncated-map hits (no fuzzy
    score exists). ``_label_match`` is keyed on the stripped UPPER
    text so K1's score pass and this lookup share one cache entry
    (full_process lowercases, so the result is unchanged)."""
    upper = text_raw.upper()
    for bad, good in _TRUNC:
        if bad in upper:
            return good, -1
    best, score = _label_match(upper)
    if score > 80:
        return best, score
    return None


def _extract_one_doc(texts: list[str], y0: np.ndarray, y1: np.ndarray,
                     x0: np.ndarray, x1: np.ndarray,
                     methods_out: dict | None = None) -> dict:
    """K1-K11 over one document's text spans → {canonical_label:
    value}. When ``methods_out`` is a dict it is filled with the per-field
    extraction-method label — the reference's trace vocabulary
    (ktp_extractor.py:344-347, debug_ktp.py:127-133)."""
    meth = methods_out if methods_out is not None else {}
    n = len(texts)
    if n == 0:
        return {}
    yc = (y0 + y1) / 2.0

    # ---- K1: spatial-outlier band from key-label y positions ----------
    # keyed strip().upper() to share the _label_match cache entry with
    # _classify_span (full_process normalizes case/whitespace, so the
    # score is unchanged)
    label_scores = np.fromiter(
        (_label_match(t.strip().upper())[1] for t in texts),
        dtype=np.int64, count=n
    )
    key_mask = label_scores > 85
    if key_mask.any():
        ky = yc[key_mask]
        lo, hi = ky.min(), ky.max()
        band = hi - lo
        keep = (yc >= lo - band * 0.3) & (yc <= hi + band * 0.45)
    else:
        keep = np.ones(n, dtype=bool)
    idx = np.flatnonzero(keep)

    # ---- K2: key/value role assignment --------------------------------
    roles: dict[int, str] = {}
    role_scores: dict[int, int] = {}
    for i in idx:
        t = texts[i].strip()
        if len(t) < 2 and t not in (":", "-"):
            continue
        hit = _classify_span(t)
        if hit is not None:
            roles[i], role_scores[i] = hit
    key_idx = sorted(roles, key=lambda i: yc[i])
    key_set = set(key_idx)
    val_idx = [i for i in idx if i not in key_set]
    # key_map is built from the y-sorted key list, so for a duplicated
    # field label the LAST key in y-order owns the key_map slot (used by
    # the RT/RW, NIK and TTL anchor lookups) — ktp_extractor.py:313-315
    key_map: dict[str, int] = {}
    for i in key_idx:
        key_map[roles[i]] = i

    out: dict[str, str] = {}
    claimed: set[int] = set()

    for ki in key_idx:
        field = roles[ki]
        if field in out:
            continue
        text = texts[ki]

        # K3: header strip for PROVINSI/KABUPATEN
        if field in ("PROVINSI", "KABUPATEN"):
            raw = text.strip()
            val = re.sub(re.escape(field), "", raw,
                         flags=re.IGNORECASE).strip()
            val = _LEAD_PUNCT.sub("", val).strip()
            if not val or val.upper() == raw.upper():
                parts = raw.split(None, 1)
                if len(parts) == 2 and fuzzy.ratio(
                        parts[0].upper(), field) >= 65:
                    val = _LEAD_PUNCT.sub("", parts[1]).strip()
            if val:
                out[field] = val
                meth[field] = "header_strip"
                continue

        # K4: inline extraction after ':' or positional suffix.
        # partial_ratio is symmetric, so for fuzzy-classified keys the
        # score equals the one _label_match already computed (exact —
        # it cleared the 81 cutoff); only truncated-map hits (-1)
        # still need the probe.
        part_score = role_scores[ki]
        if part_score < 0:
            part_score = _truncated_key_score(field, text)
        inline = ""
        if part_score > 70:
            pieces = re.split(r"[:]", text, maxsplit=1)
            if len(pieces) > 1 and pieces[1].strip():
                inline = pieces[1].strip()
            elif len(text) > len(field) + 2:
                suffix = text[len(field):].strip()
                if re.match(r"^[:\-\.\s]*", suffix):
                    inline = re.sub(r"^[:\-\.\s]*", "", suffix)
        if inline and len(inline) > 2:
            out[field] = inline
            meth[field] = "inline_extraction"
            continue

        # K5: same-line geometric match (vectorized candidate scoring)
        ky_c = yc[ki]
        kx_end = x1[ki]
        free = [vi for vi in val_idx if vi not in claimed]
        if free:
            fv = np.array(free)
            dy = np.abs(yc[fv] - ky_c)
            cond = (dy < 25) & (x0[fv] > kx_end - 20)
            cand = fv[cond]
            if cand.size:
                score = (x0[cand] - kx_end) + np.abs(yc[cand] - ky_c) * 15
                order = np.argsort(score, kind="stable")
                pick = -1
                for oi in order:
                    vi = int(cand[oi])
                    if not _PUNCT_ONLY.match(texts[vi]):
                        pick = vi
                        break
                if pick >= 0:
                    value_text = texts[pick]
                    claimed.add(pick)

                    # K6: Alamat second line
                    if field == "Alamat":
                        rt_ki = key_map.get("RT/RW")
                        rt_y = yc[rt_ki] if rt_ki is not None else np.inf
                        l1 = yc[pick]
                        second = []
                        for vi in idx:
                            vi = int(vi)
                            if vi in claimed or vi == pick or vi == ki:
                                continue
                            vy = yc[vi]
                            if not (vy > l1 + 10 and vy < rt_y - 10
                                    and (vy - l1) < 45):
                                continue
                            tu = texts[vi].upper()
                            if vi in key_set:
                                continue
                            if re.search(r"\d{3}[/\s-]+\d{3}", texts[vi]):
                                continue
                            if "RT" in tu and "RW" in tu:
                                continue
                            if "KEL/DESA" in tu:
                                continue
                            second.append(vi)
                        if second:
                            line2 = min(second, key=lambda v: y0[v])
                            value_text += f" {texts[line2]}"
                            claimed.add(line2)
                            meth[field] = "geometric_match_multiline"
                    out[field] = value_text
                    meth.setdefault(field, "geometric_match")

        # K7: NIK below-line fallback
        if field == "NIK" and "NIK" not in out:
            below = [
                vi for vi in val_idx
                if vi not in claimed and 0 < yc[vi] - ky_c < 50
                and re.match(r"\d+", texts[vi].replace(" ", "")
                             .replace(":", ""))
            ]
            if below:
                pick = min(below, key=lambda v: y0[v])
                out["NIK"] = texts[pick]
                meth["NIK"] = "geometric_below_fallback"
                claimed.add(pick)

    # ---- K8: keyword recovery ------------------------------------------
    for field, keywords in _KEYWORDS.items():
        if field in out:
            continue
        for vi in val_idx:
            if vi in claimed:
                continue
            tu = texts[vi].upper()
            if field == "Jenis Kelamin" and "LAKILAKI" in tu:
                out[field] = "LAKI-LAKI"
                meth[field] = "typo_recovery"
                claimed.add(vi)
                break
            if field == "Status Perkawinan" and re.search(r"\bKAWIN\b", tu):
                out[field] = tu.strip()
                meth[field] = "regex_kawin_recovery"
                claimed.add(vi)
                break
            choice, _ = keywords.best(tu, fuzzy.token_set_ratio, 86)
            if choice is not None:
                out[field] = texts[vi]
                meth[field] = "value_keyword_recovery"
                claimed.add(vi)
                break

    # ---- K9: TTL regex recovery ----------------------------------------
    if "Tempat/Tgl Lahir" not in out:
        for vi in val_idx:
            if vi in claimed:
                continue
            t = texts[vi]
            if re.search(r"\d{2}[-\s/]\d{2}[-\s/]\d{4}", t) and re.search(
                    r"[A-Za-z]{3,}", t):
                out["Tempat/Tgl Lahir"] = t
                meth["Tempat/Tgl Lahir"] = "regex_date_place_recovery"
                claimed.add(vi)
                break

    # ---- K10: Nama positional inference --------------------------------
    if "Nama" not in out:
        nik_ki = key_map.get("NIK")
        ttl_ki = key_map.get("Tempat/Tgl Lahir")
        ymin = y1[nik_ki] if nik_ki is not None else None
        ymax = y0[ttl_ki] if ttl_ki is not None else None
        cands = []
        for vi in val_idx:
            if vi in claimed:
                continue
            v_yc = yc[vi]
            if ymin is not None and ymax is not None:
                ok = ymin < v_yc < ymax
            elif ymin is not None:
                ok = ymin < v_yc < ymin + 70
            elif ymax is not None:
                ok = ymax - 70 < v_yc < ymax
            else:
                ok = False
            if ok:
                cands.append(vi)
        if cands:
            pick = min(cands, key=lambda v: x0[v])
            out["Nama"] = texts[pick]
            meth["Nama"] = "positional_inference_name"
            claimed.add(pick)

    # ---- K11: NIK 16-digit regex recovery -------------------------------
    if "NIK" not in out:
        for vi in val_idx:
            if vi in claimed:
                continue
            clean = texts[vi].replace(" ", "").strip()
            if re.match(r"^\d{16}$", clean):
                out["NIK"] = clean
                meth["NIK"] = "regex_recovery_16_digits"
                claimed.add(vi)
                break

    return out


def resolve_nik(texts: list[str], y0: np.ndarray, y1: np.ndarray,
                raw_nik: str | None) -> str | None:
    """N5-N13: the document's NIK after cleanup and repair
    (ktp_extractor.py:589-608, document_processor.py:96-135). A
    clean_nik value is 16 digits and kept as is; otherwise cleanup
    keeps a residue of ≥ 12 digits, and repair takes its best
    candidate (tier 2), else the spatial rescue (tier 3), else the
    residue. Each tier runs at most once per document."""
    residue = None
    if raw_nik is not None:
        v = raw_nik.strip()
        if v.startswith(":"):
            v = v[1:].strip()
        nik = PK.clean_nik_one(v)
        if nik is not None:
            return nik
        digits = re.sub(r"\D", "", v.translate(PK._TO_DIGIT))
        if len(digits) >= 12:
            residue = digits
            best, _c, _s = PK.nik_best_one(residue)
            if best is not None:
                return best
    rescue, _c = _nik_rescue(texts, y0, y1)
    return rescue if rescue is not None else residue


def _nik_rescue(texts: list[str], y0: np.ndarray, y1: np.ndarray):
    """N12 tier 3, the spatial rescue (nik_fuzzy.py:168-196) → (value,
    confidence) or (None, None); resolve_nik calls it only when tiers
    1-2 fail (document_processor.py:104-135). Per-text best then
    max-confidence-first-wins ≡ the reference's global stable sort (the
    global maximum lives in some text, whose per-text best it is; ties
    resolve to the earlier text / earlier generation on both sides)."""
    yc = (y0 + y1) / 2.0
    nik_y = None
    for i, t in enumerate(texts):
        if re.search(r"\bNIK\b", t.upper()):
            nik_y = yc[i]
            break

    def best_over(indices):
        # strict-greater scan ≡ argmax keeping the FIRST max
        best_v, best_c = None, -1.0
        for i in indices:
            v, c, _s = PK.nik_best_one(texts[i])
            cc = -1.0 if c is None else c
            if cc > best_c:
                best_v, best_c = v, cc
        if best_v is None:
            return None, None
        return best_v, float(best_c)

    if nik_y is not None:
        near = [i for i in range(len(texts)) if abs(yc[i] - nik_y) < 60]
        val, conf = best_over(near)
        if val is not None and conf >= 0.5:
            return val, conf
    val, conf = best_over(list(range(len(texts))))
    if val is not None:
        return val, conf
    return None, None
