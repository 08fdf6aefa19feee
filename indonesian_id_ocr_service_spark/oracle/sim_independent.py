"""Independent second implementation of the SIM extraction stack —
the M8/M9/M12 state machines AND (round 4) every building block they
stand on: M1 row clustering, M2 anchor tagging, M3 job matcher, M4
garbage filter, M10 TTL parser, M11 RT/RW OCR recovery, M13 region
detection, kabupaten cleaning, and the fuzzy scorers themselves
(token_set_ratio / partial_ratio re-derived from the public thefuzz
algorithm with a classic two-row LCS DP instead of the bit-parallel
kernel in ``functions/fuzzy.py``).

Written directly from the reference text (sim_extractor.py:106-153,
186-217, 239-288, 325-361, 369-477, 484-616, 636-688, 724-742,
786-929), NOT from ``operators/sim_core.py``. The ONLY things shared
with the production kernel are pure data (``dictionaries.SIM_ANCHORS``
/ ``SIM_REGIONS`` / ``SIM_FAST_CITIES`` / ``PEKERJAAN_CANONICAL`` —
vocabularies the engine must reproduce exactly) and
``normalize_date_robust`` (the scalar date chain in
``functions/pandas_ktp.py``, which carries its own parity gate against
the independent JVM expressions in ``functions/dates.py``,
tests/test_scalar_parity.py).

Purpose: ``oracle/sim.py`` wraps the same ``sim_core`` kernel the Spark
branch drives, so span-equality alone validated routing/geometry/Arrow
plumbing but not extraction semantics. ``tests/test_sim_parity.py``
asserts 0 mismatches between the two implementations — end-to-end over
an adversarial generated corpus and per building block over fuzzed
inputs — the same de-port pattern as ``oracle/ktp.py`` for the KTP
chain.
"""

from __future__ import annotations

import re
from difflib import SequenceMatcher
from functools import lru_cache

from ..dictionaries import (PEKERJAAN_CANONICAL, SIM_ANCHORS,
                            SIM_FAST_CITIES, SIM_REGIONS)
from .scalars import normalize_date_robust

__all__ = ["legacy_extract", "smart_extract", "parse_address_block"]

_ISSUER_WORDS = ("POLDA", "POLRES", "SATPAS", "METROJAYA", "METRO JAYA",
                 "KORLANTAS")


# ---------------------------------------------------------------------------
# Fuzzy scorers — naive second implementation of the thefuzz family
# (public algorithm), used by M3/M13 below. LCS via the classic two-row
# DP (the production kernel uses the bit-parallel Hyyrö recurrence).
# ---------------------------------------------------------------------------

_WORDISH = re.compile(r"(?ui)\W")


def _prep(s) -> str:
    """thefuzz full_process: non-alphanumeric → space, lower, strip."""
    return _WORDISH.sub(" ", str(s or "")).lower().strip()


def _lcs_len(a: str, b: str) -> int:
    # trim the common prefix/suffix (pure speedup, exact)
    i = 0
    while i < len(a) and i < len(b) and a[i] == b[i]:
        i += 1
    j = 0
    while (j < len(a) - i and j < len(b) - i
           and a[len(a) - 1 - j] == b[len(b) - 1 - j]):
        j += 1
    core_a, core_b = a[i:len(a) - j], b[i:len(b) - j]
    if not core_a or not core_b:
        return i + j
    prev = [0] * (len(core_b) + 1)
    for ca in core_a:
        cur = [0]
        best = 0
        for k, cb in enumerate(core_b):
            best = prev[k] + 1 if ca == cb else max(prev[k + 1], cur[-1])
            cur.append(best)
        prev = cur
    return i + j + prev[-1]


def _ratio_pct(a: str, b: str) -> float:
    """Unrounded InDel similarity 0-100 (= 200·LCS/(|a|+|b|))."""
    total = len(a) + len(b)
    if total == 0:
        return 0.0
    return 200.0 * _lcs_len(a, b) / total


def _token_set(a: str, b: str) -> int:
    """fuzz.token_set_ratio, the classic three-comparison form."""
    ta = set(_prep(a).split())
    tb = set(_prep(b).split())
    if not ta and not tb:
        return 0
    t0 = " ".join(sorted(ta & tb))
    t1 = (t0 + " " + " ".join(sorted(ta - tb))).strip()
    t2 = (t0 + " " + " ".join(sorted(tb - ta))).strip()
    return int(round(max(_ratio_pct(t0, t1), _ratio_pct(t0, t2),
                         _ratio_pct(t1, t2))))


def _partial(a: str, b: str) -> int:
    """fuzz.partial_ratio: best shorter-vs-window score, window starts
    seeded by SequenceMatcher matching blocks."""
    if not a or not b:
        return 0
    s, lng = (a, b) if len(a) <= len(b) else (b, a)
    if s == lng:
        return 100
    m = SequenceMatcher(None, s, lng, autojunk=False)
    best = 0.0
    for blk in m.get_matching_blocks():
        start = blk.b - blk.a if blk.b > blk.a else 0
        score = _ratio_pct(s, lng[start:start + len(s)])
        if score > 99.5:
            return 100
        if score > best:
            best = score
    return int(round(best))


# ---------------------------------------------------------------------------
# Building blocks M1-M4, M10, M11, M13 (re-derived; sim_extractor.py
# lines cited per function)
# ---------------------------------------------------------------------------

#: every canonical occupation alias, uppercase (sim_extractor.py:45-48)
_JOB_TERMS = {t.upper()
              for aliases in PEKERJAAN_CANONICAL.values()
              for t in aliases}


def _rows_of(items: list[dict]) -> list[list[dict]]:
    """M1 (sim_extractor.py:186-217): group items into visual rows —
    an item joins the current row while its y_center sits within
    max(10, median_height // 2) of the row's running mean."""
    if not items:
        return []
    hs = sorted(it["h"] for it in items)
    y_thr = max(10, int(hs[len(hs) // 2] * 0.5)) if hs else 10
    rows: list[list[dict]] = []
    run_sum = 0.0
    for it in sorted(items, key=lambda d: d["y_center"]):
        if rows and abs(it["y_center"] - run_sum / len(rows[-1])) < y_thr:
            rows[-1].append(it)
            run_sum += it["y_center"]
        else:
            rows.append([it])
            run_sum = it["y_center"]
    for row in rows:
        row.sort(key=lambda d: d["x0"])
    return rows


@lru_cache(maxsize=65536)
def _tag(text: str, threshold: float = 0.65) -> str | None:
    """M2 (sim_extractor.py:239-261): plain exhaustive anchor scan —
    difflib ratio over letter-only lowercase forms, substring bonus
    0.90 for variants of ≥4 letters, first-max wins ties."""
    letters = re.sub(r"[^a-zA-Z]", "", text or "").lower()
    if len(letters) < 4:
        return None
    best, best_key = 0.0, None
    for key, variants in SIM_ANCHORS.items():
        for variant in variants:
            v = re.sub(r"[^a-zA-Z]", "", variant).lower()
            if len(v) < 3:
                continue
            r = SequenceMatcher(None, letters, v).ratio()
            if v in letters and len(v) >= 4:
                r = max(r, 0.90)
            if r > best:
                best, best_key = r, key
    return best_key if best >= threshold else None


@lru_cache(maxsize=65536)
def _looks_like_job(text: str) -> bool:
    """M3 (sim_extractor.py:264-288): substring pass over the
    occupation aliases, then token_set_ratio ≥ 80 for strings of ≥4
    chars."""
    if not text:
        return False
    tu = text.upper()
    if any(term in tu for term in _JOB_TERMS):
        return True
    if len(tu) < 4:
        return False
    return any(_token_set(tu, term) >= 80 for term in _JOB_TERMS)


#: M4 noise rules (sim_extractor.py:325-346): co-occurring pairs,
#: contained phrases, and exact throwaway words
_NOISE_PAIRS = (("MOTOR", "CC"), ("SEPEDA", "MOTOR"),
                ("MOBIL", "PENUMPANG"), ("PASSENGER", "GOODS"),
                ("PLACE", "BIRTH"), ("BLOOD", "TYPE"))
_NOISE_PHRASES = ("<= 250", "250 CC", "TRUK/BUS", "DRIVING LICENSE",
                  "SURAT IZIN", "MENGEMUDI", "DITERBITKAN")
_NOISE_EXACT = frozenset(("INDONESIA", "SURAT", "IZIN", "MENGEMUDI",
                          "DRIVING", "LICENSE"))


def _is_noise(text: str) -> bool:
    """M4 (sim_extractor.py:325-346)."""
    if not text or len(text) < 2:
        return True
    tu = text.upper()
    if any(x in tu and y in tu for x, y in _NOISE_PAIRS):
        return True
    if any(p in tu for p in _NOISE_PHRASES):
        return True
    return tu.strip() in _NOISE_EXACT


def _strip_kab_prefix(raw: str) -> str:
    """Kabupaten cleaner (sim_extractor.py:353-361): drop a 1-5 letter
    OCR artefact token before a known city/region keyword."""
    if not raw:
        return raw
    s = raw.strip()
    m = re.match(r"([A-Z]{1,5})\s+(KOTA|KAB|KABUPATEN|JAKARTA|BANDUNG"
                 r"|SURABAYA)\b", s)
    if m:
        s = s[m.start(2):]
    return s.strip()


def _recover_rtrw(match_val: str, residue: str):
    """M11 (sim_extractor.py:106-153): when the RT/RW '/' separator was
    OCR'd as '1', split the combined digit run at a '1'; a split with
    ≥2 digits on each side wins immediately, else the first viable."""
    digits = re.sub(r"\D", "", match_val or "")
    m = re.match(r"^\s*(\d+)", residue or "")
    combined = digits + (m.group(1) if m else "")
    if len(combined) < 5:
        return None
    rest = residue[m.end():].strip() if m else residue
    fallback = None
    for i, ch in enumerate(combined[1:-1], start=1):
        if ch != "1":
            continue
        rt, rw = combined[:i], combined[i + 1:]
        if not (1 <= len(rt) <= 3 and 1 <= len(rw) <= 3):
            continue
        if len(rt) >= 2 and len(rw) >= 2:
            return rt, rw, rest
        if fallback is None:
            fallback = (rt, rw, rest)
    return fallback


def _ttl_into(text: str, out: dict) -> None:
    """M10 (sim_extractor.py:636-688): split a raw Tempat/Tgl-Lahir
    string into place + normalized date."""
    if not text:
        return
    text = text.strip()
    dm = re.search(r"(\d{1,2})[\s\-./]+(\d{1,2})[\s\-./]+(\d{2,4})",
                   text)
    if dm:
        day, month, year = dm.groups()
        norm = normalize_date_robust(
            f"{day.zfill(2)}-{month.zfill(2)}-{year}")
        if norm and re.fullmatch(r"\d{2}-\d{2}-\d{4}", norm):
            out["Tanggal Lahir"] = norm
            if "," in text:
                place = text.split(",", 1)[0].strip()
            else:
                place = text[:dm.start()].strip()
            place = re.sub(r"\s+\d.*$", "", place)
            place = re.sub(r"[,.\s]+$", "", place).strip()
            if place:
                out["Tempat Lahir"] = place
            return
    if "," in text:
        head, tail = text.split(",", 1)
        out["Tempat Lahir"] = head.strip()
        out["Tanggal Lahir"] = normalize_date_robust(tail.strip())
    else:
        place = re.sub(r"\s+\d.*$", "", text).strip()
        out["Tempat Lahir"] = place if len(place) >= 2 else text


@lru_cache(maxsize=65536)
def _names_region(line_u: str) -> bool:
    """M13 (sim_extractor.py:724-742): structural keywords → fast city
    substring → partial_ratio ≥ 82 against the region list."""
    if any(kw in line_u for kw in ("KOTA", "KAB.", "KAB ", "KABUPATEN",
                                   "JAKARTA")):
        return True
    if any(city in line_u for city in SIM_FAST_CITIES):
        return True
    q = _prep(line_u)
    if not q:
        return False
    return any(_partial(q, _prep(r)) >= 82 for r in SIM_REGIONS)


def _row_texts(items: list[dict]) -> list[str]:
    return [" ".join(x["text"] for x in row).strip()
            for row in _rows_of(items)]


# ---------------------------------------------------------------------------
# M8 — legacy numbered-section walk (sim_extractor.py:369-477)
# ---------------------------------------------------------------------------

_EXPIRY_RX = re.compile(r"\b(\d{2}-\d{2}-20\d{2})\b")
_SIM_NUM_RX = re.compile(r"(\d{4}-\d{4}-\d{5,6})")
_SIM_NUM_PLAIN_RX = re.compile(r"(\d{12,16})")
_SECTION_RX = re.compile(r"\b([1-6])\.")
_ANY_DATE_RX = re.compile(r"\b\d{2}-\d{2}-(19|20)\d{2}\b")
_GENDER_RX = re.compile(r"\b(PRIA|WANITA|LAKI|PEREMPUAN)\b")
_ADDR_HINT_RX = re.compile(
    r"\b(RT|RW|JL|JALAN|GG|GANG|KP|PERUM|GRIYA|KOMP)\b")
_BLOOD_GENDER_RX = re.compile(r"([ABO]+)\s*[-]*\s*(PRIA|WANITA|LAKI|PEREMPUAN)")


def legacy_extract(texts: list[str], items: list[dict]) -> dict:
    out: dict = {}
    section = 0
    addr_lines: list[str] = []

    for line in _row_texts(items):
        if not line:
            continue

        exp = _EXPIRY_RX.search(line)
        if exp:
            dob = out.get("Tempat & Tgl. Lahir", "")
            if exp.group(1) not in dob:
                out["Berlaku Sampai"] = exp.group(1)
                line = line.replace(exp.group(1), "").strip()
        if not line:
            continue

        if any(w in line.upper() for w in _ISSUER_WORDS):
            out["Penerbit"] = line
            continue

        if "Nomor SIM" not in out:
            num = _SIM_NUM_RX.search(line)
            if num:
                out["Nomor SIM"] = num.group(1)
            else:
                num = _SIM_NUM_PLAIN_RX.search(
                    line.replace("-", "").replace(" ", ""))
                if num:
                    out["Nomor SIM"] = num.group(1)

        sec = _SECTION_RX.search(line)
        if sec:
            section = int(sec.group(1))
            val = re.sub(rf"{section}\.\s*", "", line).strip()
        else:
            val = line
            if (section == 0 and "Nomor SIM" in out and not _is_noise(val)
                    and not re.search(r"\d", val) and len(val) > 2):
                section = 1
            if (section < 2 and _ANY_DATE_RX.search(val)
                    and val != out.get("Berlaku Sampai")):
                section = 2
            if section < 3 and _GENDER_RX.search(val.upper()):
                section = 3
            if section < 4 and _ADDR_HINT_RX.search(val.upper()):
                section = 4
            if section < 5 and _looks_like_job(val):
                section = 5

        if not val or _is_noise(val):
            continue

        if section == 1 and len(val) > 2:
            name = re.sub(r"\d+", "", val).strip()
            if name:
                out["Nama"] = (out["Nama"] + " " + name
                               if "Nama" in out else name)
        elif section == 2:
            out["Tempat & Tgl. Lahir"] = (
                out["Tempat & Tgl. Lahir"] + " " + val
                if "Tempat & Tgl. Lahir" in out else val)
        elif section == 3:
            bg = _BLOOD_GENDER_RX.search(val.upper())
            if bg:
                out["Gol. Darah"] = bg.group(1)
                out["Jenis Kelamin"] = bg.group(2)
            else:
                out["Gol. Darah - Kelamin"] = val
        elif section == 4:
            if val.replace(".", "").strip() == str(section):
                continue
            addr_lines.append(val)
        elif section == 5:
            if val.replace(".", "").strip() == str(section):
                continue
            if "Pekerjaan" not in out:
                out["Pekerjaan"] = val
        elif section == 6:
            if "Provinsi" not in out:
                out["Provinsi"] = val

    if addr_lines:
        out["raw_address_lines"] = addr_lines
    return out


# ---------------------------------------------------------------------------
# M9 — smart anchor layout (sim_extractor.py:484-616)
# ---------------------------------------------------------------------------


def _anchor_index(tagged: list[dict], kind: str):
    for row in tagged:
        if row["type"] == kind:
            return row["index"]
    return None


def _value_forward(tagged: list[dict], start: int, lookahead: int,
                   stop_types=None):
    for i in range(start, min(start + lookahead, len(tagged))):
        row = tagged[i]
        if stop_types and row["type"] in stop_types:
            return None
        if _is_noise(row["text"]):
            continue
        if len(row["text"]) < 3 and not re.search(r"\d", row["text"]):
            continue
        return row["text"]
    return None


def smart_extract(texts: list[str], items: list[dict]) -> dict:
    out: dict = {}
    rows = _row_texts(items)

    for line in rows:
        num = _SIM_NUM_PLAIN_RX.search(
            line.replace(" ", "").replace("-", ""))
        if num:
            out["Nomor SIM"] = num.group(1)
            break

    blob = " ".join(texts)
    expiry = None
    for d, m, y in re.findall(
            r"\b(\d{2})[\s\.-]*(\d{2})[\s\.-]*(20\d{2})\b", blob):
        try:
            if int(y) > 2018:
                expiry = f"{d}-{m}-{y}"
        except ValueError:
            continue
    if expiry:
        out["Berlaku Sampai"] = expiry

    for line in rows:
        if any(w in line.upper() for w in _ISSUER_WORDS):
            issuer = re.sub(r"\b\d{2}-\d{2}-20\d{2}\b", "", line).strip()
            if issuer:
                out["Penerbit"] = issuer
            break

    tagged = [{"type": _tag(line), "text": line, "index": i}
              for i, line in enumerate(rows)]

    nama_idx = _anchor_index(tagged, "NAMA")
    if nama_idx is not None:
        val = _value_forward(tagged, nama_idx + 1, 2, ["TTL", "ALAMAT"])
        if val and not re.search(r"\d", val):
            out["Nama"] = val
    elif "Nomor SIM" in out:
        sim_row = next(
            (i for i, line in enumerate(rows)
             if out["Nomor SIM"] in line.replace("-", "").replace(" ", "")),
            -1)
        if sim_row != -1:
            val = _value_forward(tagged, sim_row + 1, 3,
                                 ["TTL", "ALAMAT"])
            if val and not re.search(r"\d", val):
                out["Nama"] = val

    ttl_idx = _anchor_index(tagged, "TTL")
    if ttl_idx is not None:
        raw = _value_forward(tagged, ttl_idx + 1, 5,
                             ["GOL_DARAH", "JK", "ALAMAT"])
        if raw:
            _ttl_into(raw, out)
    else:
        for line in rows:
            if _ANY_DATE_RX.search(line):
                if line != out.get("Berlaku Sampai"):
                    _ttl_into(line, out)
                    break

    gd_idx = _anchor_index(tagged, "GOL_DARAH")
    jk_idx = _anchor_index(tagged, "JK")
    # reference quirk preserved: `idx or -1` treats an anchor at row 0
    # as absent
    start = max(gd_idx or -1, jk_idx or -1) + 1
    if start > 0:
        for i in range(start, min(start + 4, len(rows))):
            line = rows[i]
            if _is_noise(line):
                continue
            if _tag(line) == "ALAMAT":
                break
            blood = line.replace("-", "").strip().upper()
            if blood in ("A", "B", "AB", "O") and "Gol. Darah" not in out:
                out["Gol. Darah"] = blood
            lu = line.upper()
            if "PRIA" in lu or "LAKI" in lu:
                out["Jenis Kelamin"] = "LAKI-LAKI"
            elif "WANITA" in lu or "PEREMPUAN" in lu:
                out["Jenis Kelamin"] = "PEREMPUAN"

    job_idx = _anchor_index(tagged, "PEKERJAAN")
    if job_idx is not None:
        val = _value_forward(tagged, job_idx + 1, 3, ["PENERBIT"])
        if val and not re.search(r"\b\d{2}-\d{2}-20\d{2}\b", val):
            out["Pekerjaan"] = val
    else:
        for line in rows:
            if _looks_like_job(line) and not _is_noise(line):
                if "Pekerjaan" not in out:
                    out["Pekerjaan"] = line
                    break

    addr_idx = _anchor_index(tagged, "ALAMAT")
    if addr_idx is not None:
        begin = addr_idx + 1
        # reference quirk preserved: a PEKERJAAN anchor at row 0 is
        # treated as absent for the stop bound
        stop = job_idx if job_idx else len(rows)
        if stop == len(rows):
            for k in range(begin, len(rows)):
                if _looks_like_job(rows[k]):
                    stop = k
                    break
        lines: list[str] = []
        for i in range(begin, stop):
            line = rows[i]
            if _tag(line) in ("PEKERJAAN", "PENERBIT"):
                break
            if any(w in line.upper() for w in
                   ("SATPAS", "POLRES", "POLDA", "KORLANTAS",
                    "METRO JAYA")):
                continue
            if re.search(r"\b\d{2}-\d{2}-20\d{2}\b", line):
                continue
            if not _is_noise(line):
                lines.append(line)
        out["raw_address_lines"] = lines

    return out


# ---------------------------------------------------------------------------
# M12 — address block parser (sim_extractor.py:786-929)
# ---------------------------------------------------------------------------

_RT_PIVOT_RX = re.compile(r"(?:RT|RW|R\.T|R\.W)[\s\.\:]*(\d{1,4})",
                          re.IGNORECASE)
_RT_SEP_RX = re.compile(r"^[\s\/\-\|lI1]+(\d{1,4})", re.IGNORECASE)
_RW_RESIDUE_RX = re.compile(r"^\s*(?:RW|RW\.|W\.|RW:)[\s\.\:]*(\d{1,4})",
                            re.IGNORECASE)
_STREET_STARTS = ("JL", "JALAN", "GG", "GANG", "KP", "KMP", "KOMP",
                  "DUSUN", "DSN", "BLK", "BLOK", "NO", "PERUM", "GRIYA",
                  "PERUMAHAN")


def parse_address_block(address_lines: list[str]) -> dict:
    addr = {"name": None, "rt_rw": None, "kel_desa": None,
            "kecamatan": None, "kabupaten": None, "provinsi": None}
    if not address_lines:
        return addr

    cleaned: list[str] = []
    for line in address_lines:
        line = re.sub(r"^(Alamat|Address)[\s\:\.]*", "", line,
                      flags=re.IGNORECASE).strip()
        line = re.sub(r"^[4]\.\s*", "", line).strip()
        if not line or _looks_like_job(line):
            continue
        cleaned.append(line)
    if not cleaned:
        return addr

    city_at = len(cleaned)
    for i in range(len(cleaned) - 1, -1, -1):
        if _names_region(cleaned[i].upper()):
            if not addr["kabupaten"]:
                addr["kabupaten"] = _strip_kab_prefix(cleaned[i])
            city_at = i
            break

    street: list[str] = []
    seen_locality = False

    for i, line in enumerate(cleaned):
        if i >= city_at:
            break
        lu = line.upper()

        if "KEC" in lu and "KECIL" not in lu:
            addr["kecamatan"] = re.sub(
                r"\b(KEC|KECAMATAN)\b\.?", "", line,
                flags=re.IGNORECASE).strip()
            seen_locality = True
            continue

        kel_prefixed = any(
            re.match(rf"^{p}\b", lu) or re.match(rf"^{p}\.", lu)
            for p in ("KEL", "DESA", "DS"))

        pivot = _RT_PIVOT_RX.search(line)
        if pivot:
            seen_locality = True
            prefix = line[:pivot.start()].strip()
            rt_val = pivot.group(1)
            rest = line[pivot.end():]

            rw_val = None
            sep = _RT_SEP_RX.match(rest)
            if sep:
                rw_val = sep.group(1)
                rest = rest[sep.end():]
            else:
                rw = _RW_RESIDUE_RX.search(rest)
                if rw:
                    rw_val = rw.group(1)
                    rest = rest[rw.end():]
            if rw_val is None:
                fixed = _recover_rtrw(rt_val, rest)
                if fixed:
                    rt_val, rw_val, rest = fixed

            addr["rt_rw"] = f"{rt_val}/{rw_val}" if rw_val else rt_val

            if kel_prefixed:
                addr["kel_desa"] = re.sub(
                    r"\b(KEL|DESA|DS)\b\.?", "", prefix,
                    flags=re.IGNORECASE).strip()
            elif prefix:
                street.append(prefix)

            rest = rest.strip()
            if len(rest) > 2:
                rest = re.sub(r"^[\-\,\.]+", "", rest).strip()
                if not addr["kel_desa"]:
                    addr["kel_desa"] = rest
                elif not addr["kecamatan"]:
                    addr["kecamatan"] = rest
            continue

        if kel_prefixed:
            addr["kel_desa"] = re.sub(
                r"\b(KEL|DESA|DS)\b\.?", "", line,
                flags=re.IGNORECASE).strip()
            seen_locality = True
            continue

        if not seen_locality:
            if "," in line and not any(
                    lu.startswith(p) for p in _STREET_STARTS):
                first, second = line.split(",", 1)
                if not addr["kel_desa"]:
                    addr["kel_desa"] = first.strip()
                if not addr["kecamatan"]:
                    addr["kecamatan"] = second.strip()
                seen_locality = True
            else:
                street.append(line)
        else:
            if not addr["kel_desa"]:
                addr["kel_desa"] = line
            elif not addr["kecamatan"]:
                addr["kecamatan"] = line
            else:
                addr["kecamatan"] += " " + line

    if street:
        addr["name"] = " ".join(street)
    return addr
