"""Single-document KTP extraction oracle (reference semantics, pure
Python, no Spark).

Processes one document's (spans, geometry) exactly as the reference
pipeline would process one image's OCR items:

    items → K1 spatial-outlier filter → K2-K11 key/value graph →
    cleanup (N5,N25-N33) → NIK/date repair (N6-N24) →
    NIK↔field cross-validation (V1-V5) → output assembly (N38)

plus C1 document-type detection for routing. Citations are file:line
into /root/reference/.

The Spark pipeline implements the same semantics inside one mapInArrow
kernel (operators/unified_extract.py: ``ktp_spatial`` for the
geometric stage and the NIK tiers, ``pandas_ktp.finish_ktp`` for the
rest), written independently of this module except for the shared
date chain (``pandas_ktp.normalize_date``, re-imported by
``scalars``); the pytest gate asserts per-document span-sequence
equality (kind, text, media_ref, order) between the two.
"""

from __future__ import annotations

import re

from ..dictionaries import (
    CANONICAL_FIELDS,
    KNOWN_VALUES,
    OUTPUT_FIELD_ORDER,
    TRUNCATED_KEY_MAP,
)
from ..functions import fuzzy
from . import scalars as S

# ---------------------------------------------------------------------------
# C1: document-type detection (document_processor.py:32-64)
# ---------------------------------------------------------------------------


def identify_document_type(texts: list[str]) -> str:
    full = " ".join(texts).upper()
    compact = re.sub(r"\s+", "", full)
    sim = ktp = 0
    if "SURAT IZIN MENGEMUDI" in full:
        sim += 6
    if "DRIVING LICENSE" in full:
        sim += 6
    if "BERLAKU SAMPAI" in full:
        sim += 4
    if "KORLANTAS" in full:
        sim += 3
    if re.search(r"\d{4}[-\s]\d{4}[-\s]\d{5,6}", full):
        sim += 4
    for kw in ("SATPAS", "NOMOR SIM", "NO. SIM", "NO SIM"):
        if kw in full:
            sim += 2
    for kw in ("POLDA", "POLRES", "METRO JAYA", "METROJAYA"):
        if kw in full:
            sim += 1
    if re.search(r"\b[1-6]\.\s+[A-Z]", full):
        sim += 2

    if "KARTU TANDA PENDUDUK" in full:
        ktp += 6
    if "KEWARGANEGARAAN" in full:
        ktp += 4
    if "STATUS PERKAWINAN" in full:
        ktp += 4
    if "BERLAKU HINGGA" in full:
        ktp += 3
    if re.search(r"\b\d{16}\b", compact):
        ktp += 5
    for kw in ("PROVINSI", "KABUPATEN", "KECAMATAN"):
        if kw in full:
            ktp += 2
    if re.search(r"\bNIK\b", full):
        ktp += 3
    for kw in ("KEL/DESA", "KEL./DESA", "RT/RW", "GOL. DARAH"):
        if kw in full:
            ktp += 1

    if sim > ktp and sim >= 2:
        return "SIM"
    if ktp >= 2:
        return "KTP"
    if re.search(r"\d{16}", compact):
        return "KTP"
    return "UNKNOWN"


# ---------------------------------------------------------------------------
# Items
# ---------------------------------------------------------------------------


def build_items(spans, geom):
    """Text spans → OCR items with virtual boxes. ``id`` is the index in
    the text-span subsequence (the reference's per-OCR-box id)."""
    items = []
    tid = 0
    for sp, g in zip(spans, geom):
        kind = sp["kind"] if isinstance(sp, dict) else sp[0]
        text = sp["text"] if isinstance(sp, dict) else sp[1]
        if kind != "text":
            continue
        y, x0, x1, h = (
            (g["y"], g["x0"], g["x1"], g["h"]) if isinstance(g, dict) else g
        )
        items.append({
            "id": tid, "text": text,
            "x0": x0, "x1": x1, "y_top": y, "y_bot": y + h,
        })
        tid += 1
    return items


def _yc(it) -> float:
    return (it["y_top"] + it["y_bot"]) / 2


# ---------------------------------------------------------------------------
# K1: spatial-outlier filter (ktp_extractor.py:252-274)
# ---------------------------------------------------------------------------


def filter_spatial_outliers(items):
    key_ys = []
    for it in items:
        _, score = fuzzy.extract_one(
            it["text"].upper(), CANONICAL_FIELDS,
            scorer=fuzzy.partial_ratio)
        if score > 85:
            key_ys.append(_yc(it))
    if not key_ys:
        return items
    lo, hi = min(key_ys), max(key_ys)
    height = hi - lo
    top, bottom = lo - height * 0.3, hi + height * 0.45
    return [it for it in items if top <= _yc(it) <= bottom]


# ---------------------------------------------------------------------------
# K2-K11: key/value graph (ktp_extractor.py:277-586)
# ---------------------------------------------------------------------------


def post_process(items):
    keys, values = [], []
    for it in items:
        text_raw = it["text"].strip()
        upper = text_raw.upper()
        if len(text_raw) < 2 and text_raw not in (":", "-"):
            values.append(it)
            continue
        best, score = fuzzy.extract_one(
            text_raw, CANONICAL_FIELDS, scorer=fuzzy.partial_ratio)
        trunc = None
        for bad, good in TRUNCATED_KEY_MAP.items():
            if bad in upper:
                trunc = good
                break
        if trunc is not None:
            it = dict(it, field=trunc)
            keys.append(it)
        elif score > 80:
            it = dict(it, field=best)
            keys.append(it)
        else:
            values.append(it)

    keys.sort(key=_yc)
    key_ids = {k["id"] for k in keys}
    key_map = {k["field"]: k for k in keys}
    out: dict[str, str] = {}
    claimed: set[int] = set()

    for key_item in keys:
        name = key_item["field"]
        if name in out:
            continue

        # K3: header strip
        if name in ("PROVINSI", "KABUPATEN"):
            raw = key_item["text"].strip()
            val = re.sub(re.escape(name), "", raw,
                         flags=re.IGNORECASE).strip()
            val = re.sub(r"^[:\-\.\s]+", "", val).strip()
            if not val or val.upper() == raw.upper():
                words = raw.split(None, 1)
                if len(words) == 2 and fuzzy.ratio(
                        words[0].upper(), name) >= 65:
                    val = re.sub(r"^[:\-\.\s]+", "", words[1]).strip()
            if val:
                out[name] = val
                continue

        # K4: inline extraction
        _, part = fuzzy.extract_one(
            name, [key_item["text"]], scorer=fuzzy.partial_ratio)
        inline = ""
        if part > 70:
            txt = key_item["text"]
            parts = re.split(r"[:]", txt, maxsplit=1)
            if len(parts) > 1 and parts[1].strip():
                inline = parts[1].strip()
            elif len(txt) > len(name) + 2:
                rest = txt[len(name):].strip()
                if re.match(r"^[:\-\.\s]*", rest):
                    inline = re.sub(r"^[:\-\.\s]*", "", rest)
        if inline and len(inline) > 2:
            out[name] = inline
            continue

        # K5: same-line geometric match
        key_y = _yc(key_item)
        key_x_end = key_item["x1"]
        cands = []
        for v in values:
            if v["id"] in claimed:
                continue
            vy, vx = _yc(v), v["x0"]
            if abs(vy - key_y) < 25 and vx > key_x_end - 20:
                score = (vx - key_x_end) + abs(vy - key_y) * 15
                cands.append((score, v))
        if cands:
            cands.sort(key=lambda c: c[0])
            valid = [c for c in cands
                     if not re.match(r"^[:\-\.\s]+$", c[1]["text"])]
            if valid:
                best_v = valid[0][1]
                value_text = best_v["text"]

                # K6: Alamat second line
                if name == "Alamat":
                    rt_key = key_map.get("RT/RW")
                    rt_y = _yc(rt_key) if rt_key else float("inf")
                    l1_y = _yc(best_v)
                    second = []
                    for v in items:
                        if v["id"] in claimed or v["id"] == best_v["id"] \
                                or v["id"] == key_item["id"]:
                            continue
                        vy = _yc(v)
                        tu = v["text"].upper()
                        if not (vy > l1_y + 10 and vy < rt_y - 10
                                and (vy - l1_y) < 45):
                            continue
                        if v["id"] in key_ids:
                            continue
                        if re.search(r"\d{3}[/\s-]+\d{3}", v["text"]):
                            continue
                        if "RT" in tu and "RW" in tu:
                            continue
                        if "KEL/DESA" in tu:
                            continue
                        second.append(v)
                    if second:
                        second.sort(key=lambda c: c["y_top"])
                        line2 = second[0]
                        value_text += f" {line2['text']}"
                        claimed.add(line2["id"])

                out[name] = value_text
                claimed.add(best_v["id"])

        # K7: NIK below-line fallback
        if name == "NIK" and "NIK" not in out:
            below = []
            for v in values:
                if v["id"] in claimed:
                    continue
                dy = _yc(v) - key_y
                if 0 < dy < 50:
                    cv = v["text"].replace(" ", "").replace(":", "")
                    if re.match(r"\d+", cv):
                        below.append(v)
            if below:
                below.sort(key=lambda v: v["y_top"])
                pick = below[0]
                out["NIK"] = pick["text"]
                claimed.add(pick["id"])

    _recover_missing(out, values, claimed, key_map)
    return {f: out[f] for f in CANONICAL_FIELDS if out.get(f)}


def _recover_missing(out, values, claimed, key_map):
    """K8-K11 (ktp_extractor.py:479-586)."""
    for fname, keywords in KNOWN_VALUES.items():
        if fname in out:
            continue
        for v in values:
            if v["id"] in claimed:
                continue
            tu = v["text"].upper()
            if fname == "Jenis Kelamin" and "LAKILAKI" in tu:
                out[fname] = "LAKI-LAKI"
                claimed.add(v["id"])
                break
            if fname == "Status Perkawinan" and re.search(r"\bKAWIN\b", tu):
                out[fname] = v["text"].upper().strip()
                claimed.add(v["id"])
                break
            choice, score = fuzzy.extract_one(
                tu, keywords, scorer=fuzzy.token_set_ratio)
            if choice is not None and score > 85:
                out[fname] = v["text"]
                claimed.add(v["id"])
                break

    # K9: TTL regex recovery
    if "Tempat/Tgl Lahir" not in out:
        for v in values:
            if v["id"] in claimed:
                continue
            t = v["text"]
            if re.search(r"\d{2}[-\s/]\d{2}[-\s/]\d{4}", t) and re.search(
                    r"[A-Za-z]{3,}", t):
                out["Tempat/Tgl Lahir"] = t
                claimed.add(v["id"])
                break

    # K10: Nama positional inference
    if "Nama" not in out:
        nik_key = key_map.get("NIK")
        ttl_key = key_map.get("Tempat/Tgl Lahir")
        y_min = nik_key["y_bot"] if nik_key else -1
        y_max = ttl_key["y_top"] if ttl_key else float("inf")
        cands = []
        for v in values:
            if v["id"] in claimed:
                continue
            yc = _yc(v)
            ok = False
            if y_min != -1 and y_max != float("inf"):
                ok = y_min < yc < y_max
            elif y_min != -1:
                ok = y_min < yc < y_min + 70
            elif y_max != float("inf"):
                ok = y_max - 70 < yc < y_max
            if ok:
                cands.append(v)
        if cands:
            cands.sort(key=lambda c: c["x0"])
            pick = cands[0]
            out["Nama"] = pick["text"]
            claimed.add(pick["id"])

    # K11: NIK 16-digit regex recovery
    if "NIK" not in out:
        for v in values:
            if v["id"] in claimed:
                continue
            clean = v["text"].replace(" ", "").strip()
            if re.match(r"^\d{16}$", clean):
                out["NIK"] = clean
                claimed.add(v["id"])
                break


# ---------------------------------------------------------------------------
# cleanup_data (ktp_extractor.py:589-743)
# ---------------------------------------------------------------------------


def cleanup_data(data):
    if not data:
        return data
    cleaned: dict[str, str] = {}
    for key, value in data.items():
        if value is None:
            continue
        v = str(value).strip()
        if v.startswith(":"):
            v = v[1:].strip()

        if key == "NIK":
            validated = S.clean_nik(v)
            if validated:
                v = validated
            else:
                digits = re.sub(r"\D", "", S.sub_to_digit(v))
                if len(digits) < 12:
                    continue
                v = digits
        elif key == "Agama":
            choice, score = fuzzy.extract_one(
                v.upper(), KNOWN_VALUES["Agama"])
            if choice is not None and score > 70:
                v = choice
        elif key == "RT/RW":
            r = S.normalize_rt_rw(v)
            if r is None:
                continue
            v = r
        elif key == "Kel/Desa":
            if re.match(r"^\d{2,3}/\d{2,3}$", v.strip()):
                if "RT/RW" not in cleaned:
                    nums = re.findall(r"\d+", v)
                    if len(nums) >= 2:
                        cleaned["RT/RW"] = (
                            f"{nums[0].zfill(3)}/{nums[1].zfill(3)}")
                continue
        elif key == "Jenis Kelamin":
            v = S.normalize_jenis_kelamin(v)
        elif key == "Status Perkawinan":
            v = S.normalize_status_perkawinan(v)
        elif key == "Alamat":
            v = S.normalize_alamat(v)
        elif key == "Pekerjaan":
            v = S.normalize_pekerjaan(v)
        elif key == "Kewarganegaraan":
            v = S.normalize_kewarganegaraan(v)
        elif key in ("KABUPATEN", "PROVINSI"):
            v = S.clean_kabupaten(v)
            v = re.sub(r"\bDKI\s*JAKARTA\b", "DKI JAKARTA", v,
                       flags=re.IGNORECASE)
            if len(v.strip()) < 3:
                continue
        elif key == "Kecamatan":
            v = S.normalize_kecamatan(v)

        if not v:
            continue
        cleaned[key] = v
    return cleaned


# ---------------------------------------------------------------------------
# KTPPostProcessor.repair (document_processor.py:96-148)
# ---------------------------------------------------------------------------


def repair(data, items):
    if not data:
        return data
    rep = dict(data)
    raw_nik = rep.get("NIK")
    if not raw_nik or not re.match(r"^\d{16}$", str(raw_nik)):
        cand = None
        if raw_nik:
            cand = S.nik_best_candidate(str(raw_nik), 0.30)
        if cand is None and items:
            nik_y = None
            for it in items:
                if re.search(r"\bNIK\b", it["text"].upper()):
                    nik_y = _yc(it)
                    break
            cand = _extract_from_items(items, nik_y)
        if cand:
            rep["NIK"] = cand["value"]
    raw_ttl = rep.get("Tempat/Tgl Lahir", "")
    if raw_ttl:
        place, dres = S.normalize_place_date(raw_ttl)
        if dres["normalized"] and dres["confidence"] > 0.25:
            rep["Tempat/Tgl Lahir"] = (
                f"{place},{dres['normalized']}" if place
                else dres["normalized"])
    return rep


def _extract_from_items(items, nik_y_hint):
    """N12 spatial rescue (nik_fuzzy.py:168-196)."""

    def search(subset):
        cands = []
        for it in subset:
            cands.extend(S.nik_candidates(it["text"]))
        cands.sort(key=lambda c: -c["confidence"])
        return cands[0] if cands else None

    if nik_y_hint is not None:
        near = [it for it in items if abs(_yc(it) - nik_y_hint) < 60]
        r = search(near)
        if r and r["confidence"] >= 0.5:
            return r
    return search(items)


# ---------------------------------------------------------------------------
# NIKCrossValidator (nik_cross_validator.py:63-265)
# ---------------------------------------------------------------------------


def _extract_date(ttl):
    m = re.search(r"\b(\d{2})-(\d{2})-(\d{4})\b", str(ttl or ""))
    return m.group(0) if m else None


def _extract_place(ttl):
    m = re.search(r"\b\d{2}-\d{2}-\d{4}\b", str(ttl or ""))
    if not m:
        return None
    place = str(ttl)[: m.start()].strip().strip(",.:- ")
    return place if len(place) >= 2 else None


def _norm_gender(raw):
    if not raw:
        return None
    v = str(raw).upper().strip()
    if any(k in v for k in ("LAKI", "PRIA", "MALE", "LK")):
        return "LAKI-LAKI"
    if any(k in v for k in ("PEREMPUAN", "WANITA", "FEMALE", "PR")):
        return "PEREMPUAN"
    return None


def cross_validate(data):
    if not data:
        return data
    rep = dict(data)
    nik = str(rep.get("NIK") or "")
    if re.match(r"^\d{16}$", nik):
        _nik_to_fields(rep, nik)
    else:
        _fields_to_nik(rep, nik)
    return rep


def _nik_to_fields(data, nik):
    day_raw = int(nik[6:8])
    month = int(nik[8:10])
    year2 = int(nik[10:12])
    female = day_raw > 40
    day = day_raw - 40 if female else day_raw
    gender_nik = "PEREMPUAN" if female else "LAKI-LAKI"
    year = 2000 + year2 if year2 <= 26 else 1900 + year2
    nik_date = f"{day:02d}-{month:02d}-{year:04d}"
    date_valid = (1 <= day <= 31 and 1 <= month <= 12
                  and 1920 <= year <= 2026)
    if not date_valid:
        return

    existing_gender = _norm_gender(data.get("Jenis Kelamin"))
    if not existing_gender:
        data["Jenis Kelamin"] = gender_nik
    elif existing_gender != gender_nik:
        data["Jenis Kelamin"] = gender_nik

    existing_date = _extract_date(data.get("Tempat/Tgl Lahir", ""))
    if not existing_date:
        place = _extract_place(data.get("Tempat/Tgl Lahir", ""))
        data["Tempat/Tgl Lahir"] = (
            f"{place},{nik_date}" if place else nik_date)
    elif existing_date != nik_date:
        m = re.match(r"^(\d{2})-(\d{2})-(\d{4})$", existing_date)
        e_day, e_mon, e_yr = (int(m.group(1)), int(m.group(2)),
                              int(m.group(3))) if m else (None, None, None)
        match_yr = e_yr is not None and e_yr % 100 == year2
        match_mon = e_mon is not None and e_mon == month
        match_day = e_day is not None and e_day == day
        if match_yr and match_mon and match_day:
            place = _extract_place(data.get("Tempat/Tgl Lahir", ""))
            data["Tempat/Tgl Lahir"] = (
                f"{place},{nik_date}" if place else nik_date)
        elif match_yr:
            pass
        else:
            place = _extract_place(data.get("Tempat/Tgl Lahir", ""))
            data["Tempat/Tgl Lahir"] = (
                f"{place},{nik_date}" if place else nik_date)


def _fields_to_nik(data, raw_nik):
    existing_date = _extract_date(data.get("Tempat/Tgl Lahir", ""))
    if not existing_date:
        return
    m = re.match(r"^(\d{2})-(\d{2})-(\d{4})$", existing_date)
    if not m:
        return
    e_day, e_mon, e_yr = int(m.group(1)), int(m.group(2)), int(m.group(3))
    female = _norm_gender(data.get("Jenis Kelamin")) == "PEREMPUAN"
    enc_day = e_day + 40 if female else e_day
    expected = f"{enc_day:02d}{e_mon:02d}{e_yr % 100:02d}"
    if not raw_nik:
        return
    digits = re.sub(r"\D", "", S.sub_to_digit(raw_nik))
    if len(digits) == 16:
        if digits[6:12] == expected and digits != raw_nik:
            data["NIK"] = digits
    elif len(digits) == 15:
        padded = S.pad_nik_with_dob(digits, expected)
        if padded:
            data["NIK"] = padded


# ---------------------------------------------------------------------------
# Output assembly (ktp_extractor.py:750-805) + span emission
# ---------------------------------------------------------------------------


def format_output(data):
    tempat_lahir = None
    tgl_lahir = None
    raw_ttl = data.get("Tempat/Tgl Lahir", "") if data else ""
    if raw_ttl:
        if "," in raw_ttl:
            head, tail = raw_ttl.split(",", 1)
            tempat_lahir = head.strip().strip(":.,")
            tgl_lahir = S.normalize_date_robust(tail.strip())
        else:
            m = re.search(
                r"(?P<date>\d{1,2}[-./\s]+\d{1,2}[-./\s]+\d{2,4})\s*$",
                raw_ttl)
            if m:
                tempat_lahir = raw_ttl[: m.start()].strip().strip(":.,")
                tgl_lahir = S.normalize_date_robust(m.group("date").strip())
            else:
                tempat_lahir = raw_ttl.strip().strip(":.,")

    # N37: conservative tempat_lahir place fix (conf ≥ 0.88 and changed)
    if tempat_lahir:
        corr, conf = S.correct_place(tempat_lahir)
        if conf >= 0.88 and corr != tempat_lahir:
            tempat_lahir = corr

    return {
        "document_type": "KTP",
        "nomor": data.get("NIK"),
        "nama": data.get("Nama"),
        "tempat_lahir": tempat_lahir or None,
        "tgl_lahir": tgl_lahir or None,
        "jenis_kelamin": data.get("Jenis Kelamin"),
        "agama": data.get("Agama"),
        "status_perkawinan": data.get("Status Perkawinan"),
        "pekerjaan": data.get("Pekerjaan"),
        "kewarganegaraan": data.get("Kewarganegaraan"),
        "alamat.name": data.get("Alamat"),
        "alamat.rt_rw": data.get("RT/RW"),
        "alamat.kel_desa": data.get("Kel/Desa"),
        "alamat.kecamatan": data.get("Kecamatan"),
        "alamat.kabupaten": data.get("KABUPATEN"),
        "alamat.provinsi": data.get("PROVINSI"),
    }


def _norm_spans(spans):
    return [
        s if isinstance(s, dict)
        else {"kind": s[0], "text": s[1], "media_ref": s[2], "offset": s[3]}
        for s in spans
    ]


def process_document(doc_id, spans, geom, spans_alt=None, alt_geom=None,
                     span_conf=None):
    """Full per-document oracle → list of extracted spans
    (kind, text, media_ref, order). Emits ``field:*`` spans in
    OUTPUT_FIELD_ORDER (non-null only), then pass-through ``media`` spans
    in original order. UNKNOWN docs emit a single ``error`` span plus
    media pass-through.

    ``spans_alt``/``alt_geom`` model the reference's second OCR view of
    the raw image: the C3 UNKNOWN retry (document_processor.py:279-287 —
    reclassify on the alternative view and, if it resolves, process THAT
    view) and the C6 SmartSIM second pass. ``span_conf`` parallels
    ``spans``; the C2 OCR confidence (document_processor.py:67-71) is the
    mean over its text-span entries and feeds the C6 conf<0.70 gate."""
    spans_n = _norm_spans(spans)
    texts = [s["text"] for s in spans_n if s["kind"] == "text"]
    doc_type = identify_document_type(texts)

    alt_n = _norm_spans(spans_alt) if spans_alt else None
    # C2: mean recognition confidence over the primary view's text spans
    ocr_conf = None
    if span_conf is not None and len(span_conf):
        cs = [c for s, c in zip(spans_n, span_conf)
              if s["kind"] == "text" and c is not None]
        ocr_conf = (sum(cs) / len(cs)) if cs else 0.0

    # C3: UNKNOWN retry on the alternative (raw) view
    if doc_type == "UNKNOWN" and alt_n:
        alt_texts = [s["text"] for s in alt_n if s["kind"] == "text"]
        alt_type = identify_document_type(alt_texts)
        if alt_type != "UNKNOWN":
            doc_type = alt_type
            spans_n, geom = alt_n, alt_geom
            texts = alt_texts
            alt_n, alt_geom = None, None  # the raw view was consumed

    out_spans = []

    def emit(kind, text="", media_ref=""):
        out_spans.append({
            "kind": kind, "text": text, "media_ref": media_ref,
            "order": len(out_spans),
        })

    if doc_type == "KTP":
        items = build_items(spans_n, geom)
        filtered = filter_spatial_outliers(items)
        raw = post_process(filtered)
        cleaned = cleanup_data(raw)
        repaired = repair(cleaned, items)
        validated = cross_validate(repaired)
        result = format_output(validated)
        for fname in OUTPUT_FIELD_ORDER:
            val = result.get(fname)
            if val:
                emit(f"field:{fname}", str(val))
    elif doc_type == "SIM":
        from . import sim as sim_oracle
        result = sim_oracle.process_sim(spans_n, geom, alt_n, alt_geom,
                                        ocr_conf)
        for fname in sim_oracle.SIM_OUTPUT_FIELD_ORDER:
            val = result.get(fname)
            if val:
                emit(f"field:{fname}", str(val))
    else:
        emit("error", "Unknown document type")

    for s in spans_n:
        if s["kind"] == "media":
            emit("media", "", s["media_ref"])
    return out_spans
