"""SIM extraction kernel (SURVEY §2.6 M1-M14) — per-document pure
Python, shared by the extraction kernel (``unified_extract``) and the
test oracle (``oracle.sim``).

Unlike the KTP spatial graph (which has an independent matrix-style UDF
implementation checked against an item-loop oracle), the SIM path is
dominated by sequential state machines — row clustering with a running
mean (M1), the legacy section machine with inferred advancement (M8),
bounded anchor lookahead (M9), and the two-state address-block parser
(M12). These are one kernel, checked against the independent
re-derivation in ``oracle/sim_independent.py`` by tests/test_sim_parity.py
and by the end-to-end span-equality gate. Its fuzzy tiers (M3, M13 and
the occupation normaliser) match through prepared vocabularies in
functions/fuzzy.py; the occupation tier is the KTP one
(``pandas_ktp.OCCUPATION``).

Semantics per /root/reference/sim_extractor.py (cited per function).
"""

from __future__ import annotations

import re
from difflib import SequenceMatcher
from functools import lru_cache

from ..dictionaries import PEKERJAAN_CANONICAL
from ..dictionaries import SIM_ANCHORS as ANCHORS
from ..dictionaries import SIM_FAST_CITIES as FAST_CITIES
from ..dictionaries import SIM_REGIONS as INDONESIAN_REGIONS
from ..functions import fuzzy
from ..functions.pandas_ktp import OCCUPATION, normalize_date_robust

#: flat alias list, longest-first (sim_extractor.py:45-48)
ALL_PEKERJAAN_TERMS: list[str] = sorted(
    {t.upper() for terms in PEKERJAAN_CANONICAL.values() for t in terms},
    key=len, reverse=True,
)

#: M3's and M13's vocabularies, prepared once per process
_JOBS = fuzzy.Vocabulary(ALL_PEKERJAAN_TERMS)
_REGIONS = fuzzy.Vocabulary(INDONESIAN_REGIONS)

_PENERBIT_KEYWORDS = ("POLDA", "POLRES", "SATPAS", "METROJAYA",
                      "METRO JAYA", "KORLANTAS")


def detect_version(texts: list[str]) -> str:
    """C4 (sim_extractor.py:715-721)."""
    full = " ".join(texts)
    if re.search(r"\b[1-3]\.\s+(Nama|Tempat|Alamat|Pekerjaan)", full,
                 re.IGNORECASE):
        return "LEGACY"
    if re.search(r"\b1\.\s", full) and re.search(r"\b2\.\s", full):
        return "LEGACY"
    return "SMART"


def cluster_rows(items: list[dict]) -> list[list[dict]]:
    """M1 row clustering: greedy sessionize on running row-mean y with
    threshold max(10, median_height/2) (sim_extractor.py:186-217).
    Items need keys y_center, x0, h."""
    if not items:
        return []
    heights = [it["h"] for it in items]
    median_h = sorted(heights)[len(heights) // 2] if heights else 20
    thr = max(10, int(median_h * 0.5))
    by_y = sorted(items, key=lambda x: x["y_center"])
    rows: list[list[dict]] = []
    cur = [by_y[0]]
    for it in by_y[1:]:
        avg = sum(i["y_center"] for i in cur) / len(cur)
        if abs(it["y_center"] - avg) < thr:
            cur.append(it)
        else:
            cur.sort(key=lambda x: x["x0"])
            rows.append(cur)
            cur = [it]
    if cur:
        cur.sort(key=lambda x: x["x0"])
        rows.append(cur)
    return rows


def _anchor_variants():
    """Precompiled (key, clean_variant, char_counts, len) rows — the
    vocabulary side of M2 never changes."""
    rows = []
    for key, variants in ANCHORS.items():
        for var in variants:
            cv = re.sub(r"[^a-zA-Z]", "", var).lower()
            if len(cv) < 3:
                continue
            counts: dict = {}
            for ch in cv:
                counts[ch] = counts.get(ch, 0) + 1
            rows.append((key, cv, counts, len(cv)))
    return rows


_ANCHOR_ROWS = _anchor_variants()


@lru_cache(maxsize=131072)
def identify_field(text: str) -> str | None:
    """M2 anchor tagging via difflib SequenceMatcher + substring bonus
    (sim_extractor.py:239-261): the best anchor whose ratio reaches the
    0.65 threshold, else None.

    Result-preserving pruning: difflib ratio = 2M/(la+lb) with
    M ≤ min(common-char multiset, la, lb), so a variant whose bound
    can't strictly beat the running best AND can't reach the threshold
    never changes the outcome (the returned key only matters when the
    final best ≥ threshold, and any variant reaching the threshold
    clears its own bound)."""
    if not text:
        return None
    clean = re.sub(r"[^a-zA-Z]", "", text).lower()
    la = len(clean)
    if la < 4:
        return None
    tc: dict = {}
    for ch in clean:
        tc[ch] = tc.get(ch, 0) + 1
    best_ratio, best_key = 0.0, None
    for key, cv, counts, lb in _ANCHOR_ROWS:
        sub = lb >= 4 and cv in clean
        common = 0
        for ch, m in counts.items():
            n = tc.get(ch)
            if n:
                common += m if m < n else n
        bound = 2.0 * min(common, la, lb) / (la + lb)
        cand_bound = 0.90 if (sub and bound < 0.90) else bound
        if cand_bound <= best_ratio or cand_bound < 0.65:
            continue
        if sub and bound <= 0.90:
            r = 0.90           # SequenceMatcher can't exceed the bonus
        else:
            r = SequenceMatcher(None, clean, cv).ratio()
            if sub:
                r = max(r, 0.90)
        if r > best_ratio:
            best_ratio, best_key = r, key
    return best_key if best_ratio >= 0.65 else None


@lru_cache(maxsize=131072)
def is_job(text: str) -> bool:
    """M3 (sim_extractor.py:264-288): an alias substring, else
    token_set_ratio ≥ 80 against any alias for texts of ≥ 4 chars
    (thefuzz's extractOne, so the text is full_processed first)."""
    if not text:
        return False
    tu = text.upper()
    for term in ALL_PEKERJAAN_TERMS:
        if term in tu:
            return True
    if len(tu) < 4:
        return False
    return _JOBS.best(tu, fuzzy.token_set_ratio, 80)[0] is not None


def is_garbage(text: str) -> bool:
    """M4 (sim_extractor.py:325-346)."""
    if not text:
        return True
    tu = text.upper()
    if len(text) < 2:
        return True
    if "MOTOR" in tu and "CC" in tu:
        return True
    if "SEPEDA" in tu and "MOTOR" in tu:
        return True
    if "MOBIL" in tu and "PENUMPANG" in tu:
        return True
    if "PASSENGER" in tu and "GOODS" in tu:
        return True
    if "PLACE" in tu and "BIRTH" in tu:
        return True
    if "BLOOD" in tu and "TYPE" in tu:
        return True
    if any(x in tu for x in ("<= 250", "250 CC", "TRUK/BUS",
                             "DRIVING LICENSE", "SURAT IZIN", "MENGEMUDI",
                             "DITERBITKAN")):
        return True
    if tu.strip() in ("INDONESIA", "SURAT", "IZIN", "MENGEMUDI", "DRIVING",
                      "LICENSE"):
        return True
    return False


def clean_sim_kabupaten(raw: str) -> str:
    """(sim_extractor.py:353-361)."""
    if not raw:
        return raw
    return re.sub(
        r"^[A-Z]{1,5}\s+(?=KOTA\b|KAB\b|KABUPATEN\b|JAKARTA\b|BANDUNG\b"
        r"|SURABAYA\b)",
        "", raw.strip()).strip()


def split_rtrw_ocr(match_val: str, residue: str):
    """M11: '/'→'1' RT/RW recovery (sim_extractor.py:106-153)."""
    digits = re.sub(r"\D", "", match_val)
    lead = re.match(r"^\s*(\d+)", residue)
    combined = digits + (lead.group(1) if lead else "")
    if len(combined) < 5:
        return None
    best = None
    for i in range(1, len(combined) - 1):
        if combined[i] == "1":
            rt_c, rw_c = combined[:i], combined[i + 1:]
            if 1 <= len(rt_c) <= 3 and 1 <= len(rw_c) <= 3:
                new_res = (residue[lead.end():].strip() if lead else residue)
                cand = (rt_c, rw_c, new_res)
                if len(rt_c) >= 2 and len(rw_c) >= 2:
                    return cand
                if best is None:
                    best = cand
    return best


def _parse_ttl(text: str, data: dict) -> None:
    """M10 (sim_extractor.py:636-688)."""
    if not text:
        return
    text = text.strip()
    m = re.search(r"(\d{1,2})[\s\-./]+(\d{1,2})[\s\-./]+(\d{2,4})", text)
    if m:
        d, mo, y = m.groups()
        normalized = normalize_date_robust(
            f"{d.zfill(2)}-{mo.zfill(2)}-{y}")
        if normalized and re.match(r"^\d{2}-\d{2}-\d{4}$", normalized):
            data["Tanggal Lahir"] = normalized
            place = (text.split(",", 1)[0] if "," in text
                     else text[: m.start()]).strip()
            place = re.sub(r"\s+\d.*$", "", place).strip()
            place = re.sub(r"[,.\s]+$", "", place).strip()
            if place:
                data["Tempat Lahir"] = place
            return
    if "," in text:
        parts = text.split(",", 1)
        data["Tempat Lahir"] = parts[0].strip()
        if len(parts) > 1:
            data["Tanggal Lahir"] = normalize_date_robust(parts[1].strip())
    else:
        place = re.sub(r"\s+\d.*$", "", text).strip()
        data["Tempat Lahir"] = place if len(place) >= 2 else text


def extract_legacy(row_texts: list[str]) -> dict:
    """M5-M8 legacy section state machine (sim_extractor.py:369-477)."""
    out: dict = {}
    section = 0
    addr_acc: list[str] = []
    for row_text in row_texts:
        if not row_text:
            continue
        em = re.search(r"\b(\d{2}-\d{2}-20\d{2})\b", row_text)
        if em:
            dob = out.get("Tempat & Tgl. Lahir", "")
            if em.group(1) not in dob:
                out["Berlaku Sampai"] = em.group(1)
                row_text = row_text.replace(em.group(1), "").strip()
        if not row_text:
            continue
        if any(p in row_text.upper() for p in _PENERBIT_KEYWORDS):
            out["Penerbit"] = row_text
            continue
        if "Nomor SIM" not in out:
            sm = re.search(r"(\d{4}-\d{4}-\d{5,6})", row_text)
            if sm:
                out["Nomor SIM"] = sm.group(1)
            else:
                sm2 = re.search(r"(\d{12,16})",
                                row_text.replace("-", "").replace(" ", ""))
                if sm2:
                    out["Nomor SIM"] = sm2.group(1)
        secm = re.search(r"\b([1-6])\.", row_text)
        if secm:
            section = int(secm.group(1))
            clean_val = re.sub(rf"{section}\.\s*", "", row_text).strip()
        else:
            clean_val = row_text
            if (section == 0 and "Nomor SIM" in out
                    and not is_garbage(clean_val)
                    and not re.search(r"\d", clean_val)
                    and len(clean_val) > 2):
                section = 1
            if (section < 2
                    and re.search(r"\b\d{2}-\d{2}-(19|20)\d{2}\b", clean_val)
                    and clean_val != out.get("Berlaku Sampai")):
                section = 2
            if section < 3 and re.search(
                    r"\b(PRIA|WANITA|LAKI|PEREMPUAN)\b", clean_val.upper()):
                section = 3
            if section < 4 and re.search(
                    r"\b(RT|RW|JL|JALAN|GG|GANG|KP|PERUM|GRIYA|KOMP)\b",
                    clean_val.upper()):
                section = 4
            if section < 5 and is_job(clean_val):
                section = 5
        if not clean_val or is_garbage(clean_val):
            continue
        if section == 1 and len(clean_val) > 2:
            name = re.sub(r"\d+", "", clean_val).strip()
            if name:
                out["Nama"] = (out["Nama"] + " " + name
                               if "Nama" in out else name)
        elif section == 2:
            out["Tempat & Tgl. Lahir"] = (
                out["Tempat & Tgl. Lahir"] + " " + clean_val
                if "Tempat & Tgl. Lahir" in out else clean_val)
        elif section == 3:
            mj = re.search(r"([ABO]+)\s*[-]*\s*(PRIA|WANITA|LAKI|PEREMPUAN)",
                           clean_val.upper())
            if mj:
                out["Gol. Darah"] = mj.group(1)
                out["Jenis Kelamin"] = mj.group(2)
            else:
                out["Gol. Darah - Kelamin"] = clean_val
        elif section == 4:
            if clean_val.replace(".", "").strip() == str(section):
                continue
            addr_acc.append(clean_val)
        elif section == 5:
            if clean_val.replace(".", "").strip() == str(section):
                continue
            out.setdefault("Pekerjaan", clean_val)
        elif section == 6:
            out.setdefault("Provinsi", clean_val)
    if addr_acc:
        out["raw_address_lines"] = addr_acc
    return out


def _find_anchor(tagged, atype):
    for row in tagged:
        if row["type"] == atype:
            return row["index"]
    return None


def _find_value_forward(tagged, start, lookahead, stop_types=None):
    limit = min(start + lookahead, len(tagged))
    for i in range(start, limit):
        row = tagged[i]
        if stop_types and row["type"] in stop_types:
            return None
        if is_garbage(row["text"]):
            continue
        if len(row["text"]) < 3 and not re.search(r"\d", row["text"]):
            continue
        return row["text"]
    return None


def extract_smart(texts: list[str], row_texts: list[str]) -> dict:
    """M5-M7, M9 smart anchor strategy (sim_extractor.py:484-616)."""
    out: dict = {}
    for t in row_texts:
        m = re.search(r"(\d{12,16})", t.replace(" ", "").replace("-", ""))
        if m:
            out["Nomor SIM"] = m.group(1)
            break
    blob = " ".join(texts)
    valid_expiry = None
    for d, mo, y in re.findall(
            r"\b(\d{2})[\s\.-]*(\d{2})[\s\.-]*(20\d{2})\b", blob):
        if int(y) > 2018:
            valid_expiry = f"{d}-{mo}-{y}"
    if valid_expiry:
        out["Berlaku Sampai"] = valid_expiry
    for t in row_texts:
        if any(p in t.upper() for p in _PENERBIT_KEYWORDS):
            clean_p = re.sub(r"\b\d{2}-\d{2}-20\d{2}\b", "", t).strip()
            if clean_p:
                out["Penerbit"] = clean_p
            break
    tagged = [{"type": identify_field(t), "text": t, "index": i}
              for i, t in enumerate(row_texts)]

    nama_idx = _find_anchor(tagged, "NAMA")
    if nama_idx is not None:
        val = _find_value_forward(tagged, nama_idx + 1, 2,
                                  ["TTL", "ALAMAT"])
        if val and not re.search(r"\d", val):
            out["Nama"] = val
    elif "Nomor SIM" in out:
        sim_row = next(
            (i for i, t in enumerate(row_texts)
             if out["Nomor SIM"] in t.replace("-", "").replace(" ", "")),
            -1)
        if sim_row != -1:
            val = _find_value_forward(tagged, sim_row + 1, 3,
                                      ["TTL", "ALAMAT"])
            if val and not re.search(r"\d", val):
                out["Nama"] = val

    ttl_idx = _find_anchor(tagged, "TTL")
    if ttl_idx is not None:
        raw = _find_value_forward(tagged, ttl_idx + 1, 5,
                                  ["GOL_DARAH", "JK", "ALAMAT"])
        if raw:
            _parse_ttl(raw, out)
    else:
        for t in row_texts:
            if re.search(r"\b\d{2}-\d{2}-(19|20)\d{2}\b", t):
                if t != out.get("Berlaku Sampai"):
                    _parse_ttl(t, out)
                    break

    gd_idx = _find_anchor(tagged, "GOL_DARAH")
    jk_idx = _find_anchor(tagged, "JK")
    start = max(gd_idx if gd_idx is not None else -1,
                jk_idx if jk_idx is not None else -1) + 1
    if start > 0:
        for i in range(start, min(start + 4, len(row_texts))):
            row = row_texts[i]
            if is_garbage(row):
                continue
            if identify_field(row) == "ALAMAT":
                break
            clean_row = row.replace("-", "").strip().upper()
            if clean_row in ("A", "B", "AB", "O") and "Gol. Darah" not in out:
                out["Gol. Darah"] = clean_row
            if "PRIA" in row.upper() or "LAKI" in row.upper():
                out["Jenis Kelamin"] = "LAKI-LAKI"
            elif "WANITA" in row.upper() or "PEREMPUAN" in row.upper():
                out["Jenis Kelamin"] = "PEREMPUAN"

    pek_idx = _find_anchor(tagged, "PEKERJAAN")
    if pek_idx is not None:
        val = _find_value_forward(tagged, pek_idx + 1, 3, ["PENERBIT"])
        if val and not re.search(r"\b\d{2}-\d{2}-20\d{2}\b", val):
            out["Pekerjaan"] = val
    else:
        for row in row_texts:
            if is_job(row) and not is_garbage(row):
                out.setdefault("Pekerjaan", row)
                break

    alamat_idx = _find_anchor(tagged, "ALAMAT")
    if alamat_idx is not None:
        start = alamat_idx + 1
        stop = pek_idx if pek_idx else len(row_texts)
        if stop == len(row_texts):
            for k in range(start, len(row_texts)):
                if is_job(row_texts[k]):
                    stop = k
                    break
        lines = []
        for i in range(start, stop):
            row = row_texts[i]
            if identify_field(row) in ("PEKERJAAN", "PENERBIT"):
                break
            if any(p in row.upper() for p in ("SATPAS", "POLRES", "POLDA",
                                              "KORLANTAS", "METRO JAYA")):
                continue
            if re.search(r"\b\d{2}-\d{2}-20\d{2}\b", row):
                continue
            if not is_garbage(row):
                lines.append(row)
        out["raw_address_lines"] = lines
    return out


def _is_region_line(line_u: str) -> bool:
    """M13 (sim_extractor.py:724-742)."""
    if any(kw in line_u for kw in ("KOTA", "KAB.", "KAB ", "KABUPATEN",
                                   "JAKARTA")):
        return True
    if any(c in line_u for c in FAST_CITIES):
        return True
    return _REGIONS.best(line_u, fuzzy.partial_ratio, 82)[0] is not None


_RT_PIVOT = re.compile(r"(?:RT|RW|R\.T|R\.W)[\s\.\:]*(\d{1,4})",
                       re.IGNORECASE)
_RT_SEP = re.compile(r"^[\s\/\-\|lI1]+(\d{1,4})", re.IGNORECASE)
_RW_RESIDUE = re.compile(r"^\s*(?:RW|RW\.|W\.|RW:)[\s\.\:]*(\d{1,4})",
                         re.IGNORECASE)
_STREET_PREFIXES = ("JL", "JALAN", "GG", "GANG", "KP", "KMP", "KOMP",
                    "DUSUN", "DSN", "BLK", "BLOK", "NO", "PERUM", "GRIYA",
                    "PERUMAHAN")


def parse_address_block(lines: list[str]) -> dict:
    """M12 stateful address parser (sim_extractor.py:786-929)."""
    addr = {"name": None, "rt_rw": None, "kel_desa": None,
            "kecamatan": None, "kabupaten": None, "provinsi": None}
    if not lines:
        return addr
    clean_lines = []
    for line in lines:
        line = re.sub(r"^(Alamat|Address)[\s\:\.]*", "", line,
                      flags=re.IGNORECASE).strip()
        line = re.sub(r"^[4]\.\s*", "", line).strip()
        if not line or is_job(line):
            continue
        clean_lines.append(line)
    if not clean_lines:
        return addr

    city_index = len(clean_lines)
    for idx in range(len(clean_lines) - 1, -1, -1):
        if _is_region_line(clean_lines[idx].upper()):
            if not addr["kabupaten"]:
                addr["kabupaten"] = clean_sim_kabupaten(clean_lines[idx])
            city_index = idx
            break

    street_parts: list[str] = []
    state = 0
    for idx, line in enumerate(clean_lines):
        if idx >= city_index:
            break
        line_u = line.upper()
        if "KEC" in line_u and "KECIL" not in line_u:
            addr["kecamatan"] = re.sub(r"\b(KEC|KECAMATAN)\b\.?", "", line,
                                       flags=re.IGNORECASE).strip()
            state = 1
            continue
        is_kel = any(
            re.match(rf"^{p}\b", line_u) or re.match(rf"^{p}\.", line_u)
            for p in ("KEL", "DESA", "DS"))
        rt_m = _RT_PIVOT.search(line)
        if rt_m:
            state = 1
            prefix = line[: rt_m.start()].strip()
            match_val = rt_m.group(1)
            residue = line[rt_m.end():]
            sep = _RT_SEP.match(residue)
            rw_val = None
            if sep:
                rw_val = sep.group(1)
                residue = residue[sep.end():]
            else:
                rw_m = _RW_RESIDUE.search(residue)
                if rw_m:
                    rw_val = rw_m.group(1)
                    residue = residue[rw_m.end():]
            if rw_val is None:
                rec = split_rtrw_ocr(match_val, residue)
                if rec:
                    match_val, rw_val, residue = rec
            addr["rt_rw"] = (f"{match_val}/{rw_val}" if rw_val
                             else match_val)
            if is_kel:
                addr["kel_desa"] = re.sub(r"\b(KEL|DESA|DS)\b\.?", "",
                                          prefix,
                                          flags=re.IGNORECASE).strip()
            elif prefix:
                street_parts.append(prefix)
            residue = residue.strip()
            if len(residue) > 2:
                residue = re.sub(r"^[\-\,\.]+", "", residue).strip()
                if not addr["kel_desa"]:
                    addr["kel_desa"] = residue
                elif not addr["kecamatan"]:
                    addr["kecamatan"] = residue
            continue
        if is_kel:
            addr["kel_desa"] = re.sub(r"\b(KEL|DESA|DS)\b\.?", "", line,
                                      flags=re.IGNORECASE).strip()
            state = 1
            continue
        if state == 0:
            starts_street = any(line_u.startswith(p)
                                for p in _STREET_PREFIXES)
            if "," in line and not starts_street:
                p1, p2 = (x.strip() for x in line.split(",", 1))
                if not addr["kel_desa"]:
                    addr["kel_desa"] = p1
                if not addr["kecamatan"]:
                    addr["kecamatan"] = p2
                state = 1
            else:
                street_parts.append(line)
        else:
            if not addr["kel_desa"]:
                addr["kel_desa"] = line
            elif not addr["kecamatan"]:
                addr["kecamatan"] = line
            else:
                addr["kecamatan"] += " " + line
    if street_parts:
        addr["name"] = " ".join(street_parts)
    return addr


def post_process_common(out: dict) -> dict:
    """M14 (sim_extractor.py:932-1007)."""
    if "Tempat & Tgl. Lahir" in out:
        val = out["Tempat & Tgl. Lahir"]
        m = re.search(r"(\d{1,2})[\s\-./]+(\d{1,2})[\s\-./]+(\d{2,4})", val)
        if m:
            d, mo, y = m.groups()
            normalized = normalize_date_robust(
                f"{d.zfill(2)}-{mo.zfill(2)}-{y}")
            if normalized and re.match(r"^\d{2}-\d{2}-\d{4}$", normalized):
                out["Tanggal Lahir"] = normalized
                place = (val.split(",", 1)[0] if "," in val
                         else val[: m.start()]).strip()
                place = re.sub(r"\s+\d.*$", "", place).strip()
                out["Tempat Lahir"] = place if place else None
            elif "," in val:
                parts = val.split(",", 1)
                out["Tempat Lahir"] = parts[0].strip()
                if len(parts) > 1:
                    out["Tanggal Lahir"] = normalize_date_robust(
                        parts[1].strip())
            else:
                out["Tempat Lahir"] = val
        elif "," in val:
            parts = val.split(",", 1)
            out["Tempat Lahir"] = parts[0].strip()
            if len(parts) > 1:
                out["Tanggal Lahir"] = normalize_date_robust(
                    parts[1].strip())
        else:
            out["Tempat Lahir"] = val
        del out["Tempat & Tgl. Lahir"]

    if out.get("Tanggal Lahir"):
        out["Tanggal Lahir"] = normalize_date_robust(out["Tanggal Lahir"])

    if out.get("Tempat Lahir"):
        tl = out["Tempat Lahir"]
        tl = re.sub(r"(?:TGL\.?\s*LAHIR)[.\s:]*\d.*$", "", tl,
                    flags=re.IGNORECASE).strip()
        tl = re.sub(r"\s+\d.*$", "", tl).strip()
        tl = re.sub(r"[,.\s]+$", "", tl).strip()
        out["Tempat Lahir"] = tl if len(tl) >= 2 else None

    if "raw_address_lines" in out:
        out["alamat"] = parse_address_block(out["raw_address_lines"])
        del out["raw_address_lines"]
    else:
        out.setdefault("alamat", {"name": None, "rt_rw": None,
                                  "kel_desa": None, "kecamatan": None,
                                  "kabupaten": None, "provinsi": None})
        if "Provinsi" in out:
            out["alamat"]["provinsi"] = out["Provinsi"]
    return out


def cleanup_common(out: dict) -> dict:
    """(sim_extractor.py:296-323)."""
    if out.get("Nama"):
        nm = re.sub(r"^[\d\.\:\s]+", "", out["Nama"]).strip()
        nm = re.sub(r"[^A-Z\s\.\'\-]", "", nm.upper()).strip()
        out["Nama"] = nm if nm else None
    jk_raw = out.get("Jenis Kelamin", "") or out.get(
        "Gol. Darah - Kelamin", "")
    if jk_raw:
        ju = str(jk_raw).upper()
        if "PRIA" in ju or "LAKI" in ju:
            out["Jenis Kelamin"] = "LAKI-LAKI"
        elif "WANITA" in ju or "PEREMPUAN" in ju:
            out["Jenis Kelamin"] = "PEREMPUAN"
    out.pop("Gol. Darah - Kelamin", None)
    if out.get("Pekerjaan"):
        out["Pekerjaan"] = OCCUPATION.normalize(out["Pekerjaan"])
    addr = out.get("alamat")
    if isinstance(addr, dict) and addr.get("kabupaten"):
        addr["kabupaten"] = clean_sim_kabupaten(addr["kabupaten"])
    return out


def extract_sim_once(texts: list[str], items: list[dict]) -> dict:
    """One extraction pass over one OCR view → the extractor's data dict
    (what the reference's ``sim_extractor.process_sim`` returns and the
    completeness / merge functions consume)."""
    if not items:
        return {}
    version = detect_version(texts)
    rows = cluster_rows(items)
    row_texts = [" ".join(x["text"] for x in row).strip() for row in rows]
    if version == "LEGACY":
        raw = extract_legacy(row_texts)
    else:
        raw = extract_smart(texts, row_texts)
    return cleanup_common(post_process_common(raw))


def sim_completeness(out: dict) -> float:
    """C5 gate weights (document_processor.py:208-219)."""
    if not out:
        return 0.0
    score = 0.0
    if out.get("Nama"):
        score += 1.5
    if out.get("Nomor SIM"):
        score += 1.0
    if out.get("Tanggal Lahir"):
        score += 1.0
    addr = out.get("alamat") or {}
    if addr.get("kabupaten") or addr.get("name"):
        score += 1.0
    if addr.get("kel_desa"):
        score += 0.5
    if out.get("Pekerjaan"):
        score += 0.5
    if out.get("Berlaku Sampai"):
        score += 0.5
    return score


_MERGE_KEYS = ["Nama", "Nomor SIM", "Tempat Lahir", "Tanggal Lahir",
               "Jenis Kelamin", "Pekerjaan", "Berlaku Sampai"]
_MERGE_ADDR_KEYS = ["name", "rt_rw", "kel_desa", "kecamatan",
                    "kabupaten", "provinsi"]


def merge_sim_data(primary: dict, fallback: dict) -> dict:
    """C6 field-wise coalesce (document_processor.py:221-236): primary
    wins, fallback fills gaps, address sub-fields merged key-wise."""
    if not primary:
        return fallback
    if not fallback:
        return primary
    merged = dict(primary)
    for key in _MERGE_KEYS:
        if not merged.get(key) and fallback.get(key):
            merged[key] = fallback[key]
    addr_prim = merged.get("alamat") or {}
    addr_fall = fallback.get("alamat") or {}
    merged_addr = dict(addr_prim)
    for k in _MERGE_ADDR_KEYS:
        if not merged_addr.get(k) and addr_fall.get(k):
            merged_addr[k] = addr_fall[k]
    merged["alamat"] = merged_addr
    return merged


def _flatten_sim(out: dict) -> dict:
    """The ``data`` block of format_sim_to_json
    (sim_extractor.py:1028-1062)."""
    addr = out.get("alamat") or {}
    tgl = out.get("Tanggal Lahir") or None
    return {
        "document_type": "SIM",
        "nomor": out.get("Nomor SIM"),
        "nama": out.get("Nama"),
        "tempat_lahir": out.get("Tempat Lahir"),
        "tgl_lahir": normalize_date_robust(tgl) if tgl else None,
        "jenis_kelamin": out.get("Jenis Kelamin"),
        "pekerjaan": out.get("Pekerjaan"),
        "alamat.name": addr.get("name"),
        "alamat.rt_rw": addr.get("rt_rw"),
        "alamat.kel_desa": addr.get("kel_desa"),
        "alamat.kecamatan": addr.get("kecamatan"),
        "alamat.kabupaten": addr.get("kabupaten"),
        "alamat.provinsi": addr.get("provinsi"),
    }


def process_sim_doc(texts: list[str], items: list[dict],
                    alt_texts: list[str] | None = None,
                    alt_items: list[dict] | None = None,
                    ocr_conf: float | None = None,
                    alt_supplier=None) -> dict:
    """C6 two-pass SIM extraction → flat output fields.

    The reference's std↔smart gate (document_processor.py:421-440): run
    the standard pass; when version=SMART OR completeness<4.0 OR OCR
    confidence<0.70, run the second pass over the alternative view (the
    SmartSIM-preprocessed re-OCR — here the corpus's ``spans_alt``) and
    keep it iff its completeness ≥ the standard pass's, field-wise
    coalescing the standard values into its gaps. With no alternative
    view (or no confidence data) this degrades to the single-pass
    behaviour.

    ``alt_supplier``: zero-arg closure returning (alt_texts, alt_items),
    consulted only when the gate fires — lets callers defer
    materializing the alternative view for the ungated majority."""
    if not items and not alt_items and alt_supplier is None:
        return {}
    out_std = extract_sim_once(texts, items) if items else {}
    score_std = sim_completeness(out_std)
    version = detect_version(texts)
    conf = 1.0 if ocr_conf is None else ocr_conf
    if version == "SMART" or score_std < 4.0 or conf < 0.70:
        if alt_items is None and alt_supplier is not None:
            alt_texts, alt_items = alt_supplier()
    else:
        alt_items = None
    if alt_items:
        out_smart = extract_sim_once(alt_texts or [], alt_items)
        if sim_completeness(out_smart) >= score_std:
            return _flatten_sim(merge_sim_data(out_smart, out_std))
    if not out_std:
        return {}
    return _flatten_sim(out_std)
