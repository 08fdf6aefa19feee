"""Deterministic closed-form fixture corpora for the END-TO-END
extraction oracle queries (`ktp_extraction_e2e`, `sim_extraction_e2e`).

The media_geometry pattern applied to the extraction grammar: every
document's raw span sequence is a pure function of ``doc_id``, designed
so each recovery tier fires on a known noise class with an output the
DuckDB oracle can compute closed-form:

==== ========================================= =========================
cls  corruption (what the raw doc looks like)  tier that must repair it
==== ========================================= =========================
0    clean, inline ``Label : value`` lines     straight-through parse;
     (sub-variant, i//8 odd: the main view is  sub-variant: C3 UNKNOWN
     non-ID garbage and the clean card is the  retry — reclassify and
     ALTERNATIVE OCR view)                     extract from the re-OCR
                                               pass, same expected
                                               output spans
1    key and value as SEPARATE spans           K2 key/value classify +
     (same y, value at x≈260) + a same-line    K5 same-line geometric
     ``Gol. Darah`` distractor                 match (greedy claiming)
2    NIK digits OCR-swapped to letters         N1-N5 char-sub repair
     (every 3rd char via TO_TEXT inverses)     (clean_nik)
3    TTL year truncated to 3 digits            N24 place/date split +
     (``17-08-967``)                           N17 3-digit-year recon
4    key labels truncated/garbled              TRUNCATED_KEY_MAP classify
     (``NO KTP``, ``NA NA``, ``GAMA``, …)      + K4 inline for labels
                                               within the >70 partial-
                                               ratio gate; for labels
                                               garbled BEYOND the gate
                                               (``NO KTP``, ``NA NA``,
                                               ``MPAT/TGL``) the
                                               reference leaves inline
                                               unread and the recovery
                                               tiers fire instead: K11
                                               16-digit regex rescue
                                               recovers the NIK, K9 TTL
                                               regex recovers the date;
                                               Nama and Tempat stay
                                               null — exact reference
                                               parity
                                               (ktp_extractor.py:350-366)
5    bare ``NIK`` label, 16-digit value on     K7 below-line fallback
     the NEXT line
6    enum values corrupted (``CEL UM KAWIN``,  N26 status 3-layer,
     ``BURUH HARIANCEPAS``, ``WN1``)           N31 pekerjaan fixes,
                                               N36 kewarganegaraan
7    NIK truncated to 15 digits (last digit    N6-N11 candidate engine:
     dropped)                                  the longest-run rpad
                                               candidate (conf 0.72,
                                               priority 2) reaches
                                               structural 1.0 (seq is
                                               built ≥ 10 so the padded
                                               tail stays non-zero) and
                                               outranks every 0.62
                                               insertion candidate →
                                               nomor = nik[:15] + '0';
                                               V1-V4 crossval then
                                               confirms the unchanged
                                               DOB window as a no-op
==== ========================================= =========================

Classes 1, 5 and 6 additionally carry i//8-odd LAYOUT sub-variants
(oracle unchanged — the repaired output must equal the base class):
split two-line Alamat → K6 multiline merge; missing ``Nama`` label →
K10 positional inference; missing ``Agama`` label → K8 value-keyword
recovery (plus a K1 off-card distractor, see ``ktp_raw_doc``).
Classes 2, 3 and 7 carry i//8-odd VALUE sub-variants for the N-series
cleanups: cls 2 loses its RT/RW line and prints the RT/RW value under
``Kel/Desa`` → N29 rtrw_bleed routes it to rt_rw and nulls kel_desa
(the only sub-variant that changes the oracle: the kel_desa span is
compacted away and later ords shift by 1); cls 3's Alamat bleeds an
`` RT 002/003`` tail → N30 truncation; cls 7's Kecamatan carries
trailing OCR punctuation → N33 cleanup (both oracle-unchanged).
Cls 3 also carries an i//16-odd sub-variant for the N12/N13 tier-3
spatial NIK rescue: the NIK value is unrepairable OCR junk and the
true digits sit in a stray fragment below the NIK line — the rescue
window must recover them (oracle unchanged; see ``ktp_raw_doc``).
Class 0 carries an i//16-odd sub-variant printing a gender
that CONTRADICTS the NIK encoding — the V2-V3 NIK-authoritative
crossval must overwrite it. See ``ktp_raw_doc``.

Fixture values are chosen to stay out of the key-classifier's fuzzy
blast radius: a bare value span ``KAWIN`` would itself classify as a
*key* for Status Perkawinan (partial_ratio 100 inside "PERKAWINAN" —
same in the reference), so the split-span class uses ``CERAI HIDUP``.

All other field values are canonical and mutually consistent (the NIK
encodes the same DOB/gender the TTL and Jenis Kelamin carry), so the
cross-validation tiers (V1-V4) are exercised as verified no-ops and the
only transformation per class is the targeted repair.

Reference semantics being pinned: ktp_extractor.py:218-475 (spatial
matching + recovery tiers), ktp_extractor.py:722-731 (the
_clean_kabupaten leading-token strip also applies to PROVINSI — which is
why the expected provinsi for ``DKI JAKARTA`` is ``JAKARTA``),
nik_cross_validator.py:271-285 (V5 padding), document_processor.py
(C1 classify routing).

The same Python literals drive BOTH engines: `ktp_raw_doc` builds
the raw spans, `ktp_expected_sql` interpolates the identical lists into
DuckDB expressions. Nothing is learned from running the pipeline — the
expected values are the designed canon per class.
"""

from __future__ import annotations

# --- shared closed-form value dictionaries (both engines) -----------------

FIRST = ["BUDI", "SITI", "AGUS", "DEWI"]
# NUGROHO, not PRATAMA: "TAMA" scores 75 on the >70 partial-ratio
# gate vs the label "Nama", which would make class-4 inline
# extraction fire for one surname in five (value-dependent)
LAST = ["SANTOSO", "WIJAYA", "NUGROHO", "HIDAYAT", "KUSUMA"]
PROV = [("31", "DKI JAKARTA"), ("32", "JAWA BARAT"),
        ("33", "JAWA TENGAH"), ("35", "JAWA TIMUR")]
KOTA = ["JAKARTA", "BANDUNG", "SURABAYA", "SEMARANG", "MEDAN"]
STREET = ["JL. MERDEKA", "JL. SUDIRMAN", "JL. PAHLAWAN", "GG. MAWAR"]
VILL = ["SUKAMAJU", "MEKARSARI", "CIBADAK", "TANJUNG", "WONOREJO"]
KEC = ["CIBINONG", "SERPONG", "PAMULANG", "COBLONG", "CILEUNGSI"]
AGAMA = ["ISLAM", "KRISTEN", "KATOLIK", "HINDU", "BUDDHA", "KONGHUCU"]
JOB = ["WIRASWASTA", "PELAJAR/MAHASISWA", "KARYAWAN SWASTA", "PNS",
       "PETANI"]

# digit → OCR letter misread (TO_DIGIT inverses, dictionaries.py:20-31)
_DIGIT_TO_LETTER = {"0": "O", "1": "I", "2": "Z", "3": "E", "4": "A",
                    "5": "S", "6": "G", "7": "T", "8": "B", "9": "g"}

SPAN_DDL = ("array<struct<kind:string,text:string,media_ref:string,"
            "offset:int>>")
GEOM_DDL = "array<struct<y:int,x0:int,x1:int,h:int>>"


def ktp_truth(i: int) -> dict:
    """The designed canonical values for doc ``i`` — what the pipeline
    must emit after every repair tier has done its job."""
    cls = i % 8
    prov_code, prov_raw = PROV[i % 4]
    day = 1 + i % 28
    month = 1 + i % 12
    year = 1950 + i % 47
    female = i % 2 == 1
    ob = day + 40 if female else day
    # seq ≥ 10: after the class-7 tail drop, rpad-'0' keeps the seq
    # block non-zero, so the longest-run candidate scores structural
    # 1.0 and deterministically wins the N6-N11 ranking
    nik = (f"{prov_code}{1 + i % 9:02d}{1 + (i // 9) % 9:02d}"
           f"{ob:02d}{month:02d}{year % 100:02d}{10 + i % 89:04d}")
    nomor = nik if cls != 7 else nik[:15] + "0"
    return {
        "cls": cls,
        "nik": nik,
        "nomor": nomor,
        "nama": f"{FIRST[i % 4]} {LAST[i % 5]}",
        "prov_raw": prov_raw,
        # N32 leading-token strip (applies to provinsi too):
        # 'DKI JAKARTA' → 'JAKARTA' (ktp_extractor.py:722-731)
        "provinsi": "JAKARTA" if prov_raw == "DKI JAKARTA" else prov_raw,
        "kab": KOTA[(i // 4) % 5],
        "birth_place": KOTA[(i // 2) % 5],
        "date": f"{day:02d}-{month:02d}-{year:04d}",
        "gender": "PEREMPUAN" if female else "LAKI-LAKI",
        "street": f"{STREET[i % 4]} NO. {1 + i % 20}",
        "rtrw": f"{1 + i % 20:03d}/{1 + i % 15:03d}",
        "village": VILL[(i // 3) % 5],
        "kec": KEC[(i // 5) % 5],
        "agama": AGAMA[i % 6],
        # cls 1 prints values as bare spans: 'KAWIN' would classify as
        # a key (see module docstring), so the split class uses the
        # fuzzy-inert 'CERAI HIDUP'
        "status": ("BELUM KAWIN" if cls == 6
                   else "CERAI HIDUP" if cls == 1 else "KAWIN"),
        "job": "BURUH HARIAN LEPAS" if cls == 6 else JOB[i % 5],
        # cls 4's NA NA / MPAT/TGL labels are beyond the reference's
        # partial-ratio recovery: these two fields stay unextracted
        "nama_out": None if cls == 4 else f"{FIRST[i % 4]} {LAST[i % 5]}",
        "tempat_out": None if cls == 4 else KOTA[(i // 2) % 5],
    }


def _charsub(nik: str) -> str:
    return "".join(_DIGIT_TO_LETTER[c] if j % 3 == 0 else c
                   for j, c in enumerate(nik))


# canonical → class-4 truncated/garbled printed label
_C4_LABEL = {
    "NIK": "NO KTP",
    "Nama": "NA NA",
    "Tempat/Tgl Lahir": "MPAT/TGL",
    "Jenis Kelamin": "ENIS KELAMIN",
    "RT/RW": "RTIRW",
    "Kel/Desa": "KAL/DESA",
    "Kecamatan": "KACAMATAN",
    "Agama": "GAMA",
    "Status Perkawinan": "ATUS PERKAWINAN",
    "Pekerjaan": "KERJAAN",
}


def ktp_raw_doc(i: int):
    """Raw spans + geometry (+ optional alternative OCR view) for doc
    ``i``: (spans, geom, spans_alt, alt_geom) in the corpus span
    contract. Layout mirrors the printed-card geometry the spatial
    operators expect (labels at x0=20, values at x0=260, lines 30px
    apart).

    Class-0 sub-variant (i//8 odd): the MAIN view is non-ID garbage
    (classifies UNKNOWN) and the clean card lives in the ALTERNATIVE
    view — the C3 UNKNOWN-retry reclassifies from the re-OCR pass
    (document_processor.py:279-287) and must produce the same spans as
    a plain clean class-0 doc, so the oracle is unchanged.

    Three more i//8-odd sub-variants corrupt the LAYOUT only, so the
    repaired output — and therefore the oracle SQL — is byte-identical
    to the base class (the tier must fire or the hash gate fails):

    * cls 1: the Alamat value is split across TWO lines ("JL. MERDEKA"
      / "NO. 5", 22 px apart) and the RT/RW line drops to +60 so the
      continuation falls inside K6's second-line window (l1+10 <
      vy < rt_y-10, vy-l1 < 45) — geometric_match_multiline must
      re-join exactly ``street`` (ktp_extractor.py:389-412).
    * cls 5: the ``Nama`` line is gone; the bare name sits between the
      NIK key and the TTL key, where K10 positional inference (the
      only remaining unclaimed span in that y-band — K7 has already
      claimed the below-line NIK digits) recovers it
      (ktp_extractor.py:437-460).
    * cls 6: the ``Agama`` line is gone; the bare canonical religion
      value is recovered by K8 value-keyword search against
      KNOWN_VALUES (token_set_ratio > 85, ktp_extractor.py:416-433).
      The same docs also carry a K1 gate: an off-card DISTRACTOR
      religion (``AGAMA[(i+1)%6]``, never the canon) at y=2000,
      inserted FIRST in span order. K8 scans candidates in span
      order, so if the spatial-outlier band (ktp_extractor.py:
      218-240; keys span y≈10..483, keep ≤ hi+0.45·band ≈ 690)
      fails to drop it, K8 claims the distractor and the hash gate
      fails. Its label scores are ≤67 (measured vs the repo's fuzzy
      scorer), so it can neither widen the key band nor classify as
      a key itself."""
    t = ktp_truth(i)
    cls = t["cls"]
    sub = (i // 8) % 2 == 1
    spans: list = []
    geom: list = []
    alt_spans: list = []
    alt_geom: list = []
    target = [spans, geom]

    def add(text: str, y: int, x0: int) -> None:
        s, g = target
        s.append(("text", text, "", len(s)))
        g.append((y, x0, x0 + 9 * max(len(text), 1), 22))

    def add_media(tag: str, y: int) -> None:
        s, g = target
        s.append(("media", "", f"media://{i}/{tag}/{len(s)}", len(s)))
        g.append((y, 820, 980, 160))

    c3_retry = cls == 0 and sub
    if c3_retry:
        # garbage main view: no ID keywords, no 16-digit run, no
        # numbered-section pattern -> C1 scores 0/0 -> UNKNOWN
        add("warung makan sederhana", 10, 20)
        add("terima kasih atas kunjungan anda", 40, 20)
        add("total belanja empat item", 70, 20)
        target[0], target[1] = alt_spans, alt_geom

    def label(canonical: str) -> str:
        if cls == 4:
            return _C4_LABEL.get(canonical, canonical)
        return canonical

    def emit(canonical: str, value: str, y: int) -> None:
        if cls == 1:
            add(label(canonical), y, 20)
            add(value, y, 260)
        else:
            add(f"{label(canonical)} : {value}", y, 20)

    nik_print = t["nik"]
    if cls == 2:
        nik_print = _charsub(nik_print)
    elif cls == 7:
        nik_print = nik_print[:15]
    # N12/N13 sub-variant (cls 3, i//16 odd): the NIK value is OCR
    # junk (2 digits after TO_DIGIT — fails tier-1 clean, the ≥12
    # residue gate AND tier-2 candidates), while a second OCR fragment
    # prints the true digits just below the NIK line. The tier-3
    # spatial rescue must find it in the ±60 px window (conf 1.0 ≥
    # the 0.5 near-gate) and the repair stage's coalesce restores the
    # canon — oracle unchanged (document_processor.py:104-135,
    # ktp_extractor.py:539-... _nik_rescue). Composes independently
    # with the i//8-odd N30 Alamat-tail sub-variant.
    rescue13 = cls == 3 and (i // 16) % 2 == 1
    if rescue13:
        nik_print = "X7Q?4W"

    date_print = t["date"]
    if cls == 3:
        # 17-08-1967 → 17-08-967 (century digit lost)
        date_print = date_print[:6] + date_print[7:]

    y = 10
    add_media("photo", y)
    if cls == 6 and sub:
        # K1 gate (after the photo: its media_ref encodes offset 0).
        # First TEXT span in scan order, geometry far below the card.
        add(AGAMA[(i + 1) % 6], 2000, 40)
    add(f"PROVINSI {t['prov_raw']}", y, 260)
    y += 30
    add(f"KABUPATEN {t['kab']}", y, 300)
    y += 34
    if cls == 5:
        add("NIK", y, 20)
        y += 30
        add(nik_print, y, 260)
    else:
        emit("NIK", nik_print, y)
        if rescue13:
            # the true digits as a stray fragment 14 px below the NIK
            # line (inside the rescue's ±60 px band; never claimed by
            # K5 — inline classes claim via K4 — nor K8-K11, since
            # every gated field is present)
            add(t["nik"], y + 14, 600)
    y += 30
    if cls == 5 and sub:
        add(t["nama"], y, 20)
    else:
        emit("Nama", t["nama"], y)
    y += 30
    emit("Tempat/Tgl Lahir", f"{t['birth_place']}, {date_print}", y)
    y += 30
    gender_print = t["gender"]
    if cls == 0 and (i // 16) % 2 == 1:
        # printed gender contradicts the NIK encoding: V2-V3 crossval
        # (NIK authoritative, nik_cross_validator.py:107-131) must
        # overwrite it with the decoded gender = the canon the oracle
        # expects. Composes with the C3 sub-variant (i//8 parity).
        gender_print = ("LAKI-LAKI" if t["gender"] == "PEREMPUAN"
                        else "PEREMPUAN")
    emit("Jenis Kelamin", gender_print, y)
    if cls == 1:
        # same-line distractor the geometric matcher must NOT claim
        add("Gol. Darah", y, 600)
        add("O", y, 760)
    y += 30
    if cls == 1 and sub:
        add(label("Alamat"), y, 20)
        line1, no_part = t["street"].rsplit(" NO. ", 1)
        add(line1, y, 260)
        add(f"NO. {no_part}", y + 22, 260)
        y += 30
    else:
        alamat_print = t["street"]
        if cls == 3 and sub:
            # N30 sub-variant: the Alamat value bleeds the RT/RW
            # tail — normalize_alamat's `\s+RT.*` truncation must
            # recover the bare street (ktp_extractor.py:692-694);
            # oracle unchanged
            alamat_print = f"{t['street']} RT {t['rtrw']}"
        emit("Alamat", alamat_print, y)
    y += 30
    if cls == 2 and sub:
        # N29 sub-variant: the RT/RW line is LOST and the Kel/Desa
        # line prints the RT/RW value. rtrw_bleed must route it to
        # rt_rw and null kel_desa (ktp_extractor.py:638-644) — the
        # oracle drops the kel_desa span and shifts later ords by 1
        emit("Kel/Desa", t["rtrw"], y)
        y += 30
    else:
        emit("RT/RW", t["rtrw"], y)
        y += 30
        emit("Kel/Desa", t["village"], y)
        y += 30
    kec_print = t["kec"]
    if cls == 7 and sub:
        # N33 sub-variant: trailing OCR punctuation + doubled space —
        # normalize_kecamatan must strip to the canon
        # (ktp_extractor.py:734-736); oracle unchanged
        kec_print = f"{t['kec']}  ,."
    emit("Kecamatan", kec_print, y)
    y += 30
    if cls == 6 and sub:
        add(t["agama"], y, 20)
    else:
        emit("Agama", t["agama"], y)
    y += 30
    status_print = "CEL UM KAWIN" if cls == 6 else t["status"]
    emit("Status Perkawinan", status_print, y)
    y += 30
    job_print = "BURUH HARIANCEPAS" if cls == 6 else t["job"]
    emit("Pekerjaan", job_print, y)
    y += 30
    wni_print = "WN1" if cls == 6 else "WNI"
    emit("Kewarganegaraan", wni_print, y)
    y += 30
    emit("Berlaku Hingga", "SEUMUR HIDUP", y)
    return spans, geom, alt_spans or None, alt_geom or None


# --- DuckDB oracle: the same closed forms as SQL --------------------------


def _sql_list(values) -> str:
    return "[" + ", ".join("'" + v + "'" for v in values) + "]"


def ktp_expected_sql() -> str:
    """Expected (doc_id, kind, text, media_ref, ord) rows — one SELECT
    per output span, interpolating the SAME literals as ktp_truth()."""
    first = _sql_list(FIRST)
    last = _sql_list(LAST)
    prov_code = _sql_list([c for c, _ in PROV])
    prov_raw = _sql_list([p for _, p in PROV])
    kota = _sql_list(KOTA)
    street = _sql_list(STREET)
    vill = _sql_list(VILL)
    kec = _sql_list(KEC)
    agama = _sql_list(AGAMA)
    job = _sql_list(JOB)
    # (name, expr, absent_for_cls4): cls-4 docs lose nama and
    # tempat_lahir (module docstring), so later spans shift up by 2 —
    # out_spans numbers only the emitted spans (unified_extract._out_spans)
    fields = [
        ("document_type", "'KTP'", False),
        ("nomor", "nomor", False),
        ("nama", "nama", True),
        ("tempat_lahir", "birth_place", True),
        ("tgl_lahir", "date_str", False),
        ("jenis_kelamin", "gender", False),
        ("agama", "agama", False),
        ("status_perkawinan", "status", False),
        ("pekerjaan", "job", False),
        ("kewarganegaraan", "'WNI'", False),
        ("alamat.name", "street", False),
        ("alamat.rt_rw", "rtrw", False),
        ("alamat.kel_desa", "village", False),
        ("alamat.kecamatan", "kec", False),
        ("alamat.kabupaten", "kab", False),
        ("alamat.provinsi", "provinsi", False),
    ]
    selects = []
    for base, (name, expr, absent4) in enumerate(fields):
        conds = []
        if absent4:
            conds.append("cls <> 4")
        if name == "alamat.kel_desa":
            # N29 sub-variant: the bleed nulls kel_desa (its value
            # became rt_rw), so the span is compacted away
            conds.append("NOT sub29")
        if base >= 13:
            # fields after kel_desa shift up by 1 on N29 docs
            ord_expr = (f"CASE WHEN cls = 4 THEN {base - 2} "
                        f"WHEN sub29 THEN {base - 1} ELSE {base} END")
        elif base >= 4:
            ord_expr = f"CASE WHEN cls = 4 THEN {base - 2} ELSE {base} END"
        else:
            ord_expr = str(base)
        where = (" WHERE " + " AND ".join(conds)) if conds else ""
        selects.append(
            f"SELECT doc_id, 'field:{name}' AS kind, {expr} AS text, "
            f"'' AS media_ref, {ord_expr} AS ord FROM f{where}"
        )
    selects.append(
        "SELECT doc_id, 'media' AS kind, '' AS text, "
        "'media://' || doc_id || '/photo/0' AS media_ref, "
        "CASE WHEN cls = 4 THEN 14 WHEN sub29 THEN 15 ELSE 16 END "
        "AS ord FROM f"
    )
    union = "\nUNION ALL ".join(selects)
    return f"""
WITH t AS (
  SELECT doc_id, doc_id % 8 AS cls,
         {prov_code}[(doc_id % 4) + 1] AS prov_code,
         {prov_raw}[(doc_id % 4) + 1] AS prov_raw,
         1 + doc_id % 28 AS day, 1 + doc_id % 12 AS mon,
         1950 + doc_id % 47 AS yr,
         doc_id % 2 = 1 AS female
  FROM documents
), n AS (
  SELECT *,
         printf('%s%02d%02d%02d%02d%02d%04d', prov_code,
                1 + doc_id % 9, 1 + (doc_id // 9) % 9,
                day + CASE WHEN female THEN 40 ELSE 0 END,
                mon, yr % 100, 10 + doc_id % 89) AS nik
  FROM t
), f AS (
  SELECT doc_id, cls,
         CASE WHEN cls = 7
              THEN substr(nik, 1, 15) || '0'
              ELSE nik END AS nomor,
         {first}[(doc_id % 4) + 1] || ' ' ||
           {last}[(doc_id % 5) + 1] AS nama,
         {kota}[((doc_id // 2) % 5) + 1] AS birth_place,
         printf('%02d-%02d-%04d', day, mon, yr) AS date_str,
         CASE WHEN female THEN 'PEREMPUAN' ELSE 'LAKI-LAKI' END AS gender,
         {agama}[(doc_id % 6) + 1] AS agama,
         CASE WHEN cls = 6 THEN 'BELUM KAWIN'
              WHEN cls = 1 THEN 'CERAI HIDUP'
              ELSE 'KAWIN' END AS status,
         CASE WHEN cls = 6 THEN 'BURUH HARIAN LEPAS'
              ELSE {job}[(doc_id % 5) + 1] END AS job,
         {street}[(doc_id % 4) + 1] || ' NO. ' ||
           (1 + doc_id % 20) AS street,
         printf('%03d/%03d', 1 + doc_id % 20, 1 + doc_id % 15) AS rtrw,
         {vill}[((doc_id // 3) % 5) + 1] AS village,
         {kec}[((doc_id // 5) % 5) + 1] AS kec,
         {kota}[((doc_id // 4) % 5) + 1] AS kab,
         CASE WHEN prov_raw = 'DKI JAKARTA' THEN 'JAKARTA'
              ELSE prov_raw END AS provinsi,
         cls = 2 AND (doc_id // 8) % 2 = 1 AS sub29
  FROM n
)
{union}
"""


# ===========================================================================
# SIM fixture: the M-series state machines + C6 two-pass gate end-to-end
# ===========================================================================
#
# ==== ======================================== ==========================
# cls  document shape                           tiers exercised
# ==== ======================================== ==========================
# 0    modern (labeled) layout, std view +      M1 row clustering, M2
#      identical SmartSIM alt view              anchor tagging, M9 smart
#                                               anchor strategy, C6 gate
#                                               (equal completeness →
#                                               merge is a no-op)
# 1    legacy numbered layout (1. … 6.),        M5-M8 legacy section
#      single view                              state machine, M12
#      (sub-variant, i//4 odd: the RT/RW        address block parser,
#      line prints '/' as '1' — RT 02103)       M13 region detector;
#                                               sub-variant: M11
#                                               split_rtrw_ocr recovery
#                                               to the same 02/03 form
# 2    legacy std view with name+address        C6 completeness gate:
#      lines LOST + full alt view               re-pass wins, std
#                                               back-fills (document_
#                                               processor.py:421-440)
# 3    legacy with the TTL date printed with    M10 TTL parse →
#      dots (``17.08.1967``)                    normalize_date_robust
# ==== ======================================== ==========================

GOLDAR = ["A", "B", "AB", "O"]


# class-3 dotted dates: day/month must not END in 2 — the legacy
# walk's section strip re.sub(rf"{section}\.\s*") is UNANCHORED (same
# in the reference, sim_extractor.py:414) and would eat the "2." inside
# "12.04.1989", mangling the date before M10 ever sees it
_C3_MONTHS = [1, 3, 4, 5, 6, 7, 8, 9, 10, 11]


def sim_truth(i: int) -> dict:
    cls = i % 4
    if cls == 3:
        day = 3 + i % 9
        month = _C3_MONTHS[i % 10]
    else:
        day = 1 + i % 28
        month = 1 + i % 12
    year = 1950 + i % 47
    male = i % 2 == 0
    return {
        "cls": cls,
        "name": f"{FIRST[i % 4]} {LAST[i % 5]}",
        "birth_place": KOTA[(i // 2) % 5],
        "date": f"{day:02d}-{month:02d}-{year:04d}",
        "simno": (f"{1000 + i % 9000:04d}-{1000 + (i * 7) % 9000:04d}-"
                  f"{10000 + i % 90000:05d}"),
        "expiry": f"{1 + i % 28:02d}-{1 + i % 12:02d}-{2022 + i % 8:04d}",
        "street": f"{STREET[i % 4]} NO. {1 + i % 20}",
        "rt": 1 + i % 20,
        "rw": 1 + i % 15,
        "village": VILL[(i // 3) % 5],
        "kec": KEC[(i // 5) % 5],
        "kab": KOTA[(i // 4) % 5],
        "job": JOB[i % 5],
        "goldar": GOLDAR[i % 4],
        "jk": "PRIA" if male else "WANITA",
        # cls-1 sub-variant (i//4 odd): the legacy RT/RW line prints
        # the '/' as a '1' -- M11 recovery, same expected rt_rw
        "m11": cls == 1 and (i // 4) % 2 == 1,
        # cls-1 layout sub-variants, oracle unchanged (independent
        # parity bits, so all four M11/M3/M4 combinations occur):
        # m4: a license-class garbage row after the job line -- the M4
        #     filter must drop it (sim_extractor.py:325-346);
        # m3: the job line loses its '5.' prefix -- the M3 occupation
        #     detector must bump the section walk to 5
        #     (sim_extractor.py:264-288, :294).
        "m4": cls == 1 and (i // 8) % 2 == 1,
        "m3": cls == 1 and (i // 16) % 2 == 1,
    }


def _sim_layout(t: dict, add, add_media, legacy: bool,
                drop: frozenset = frozenset(), media: bool = True,
                dotted_date: bool = False) -> None:
    """One OCR view of the SIM card, deterministic.

    No ``INDONESIA`` header row: is_job('INDONESIA') fuzzy-matches an
    occupation alias (token_set_ratio ≥ 80 — same in the reference's
    FuzzyMatcher), flipping the legacy walk to section 5 before '1.'
    and poisoning Pekerjaan with the next non-garbage row. A real card
    whose header OCRs that way WOULD mis-extract in the reference too;
    the fixture pins the deterministic tier behavior instead.

    The modern layout prints each label on its OWN row with the value
    on the row BELOW — the shape the smart anchor strategy (M9,
    sim_extractor.py:484-616) walks with find-value-forward; a value
    on the same printed row as its label is joined into one cluster
    row and the anchor scan skips it (observed parity between the
    production kernel and the independent oracle)."""
    date_print = t["date"].replace("-", ".") if dotted_date else t["date"]
    y = 10
    if media:
        add_media("photo", y)
    add("SURAT IZIN MENGEMUDI", y, 220)
    y += 28
    add(f"SIM A {t['simno']}", y, 240)
    y += 30
    if legacy:
        if "name" not in drop:
            add(f"1. {t['name']}", y, 30); y += 28
        if "ttl" not in drop:
            add(f"2. {t['birth_place']}, {date_print}", y, 30); y += 28
        add(f"3. {t['goldar']} - {t['jk']}", y, 30); y += 28
        if "addr" not in drop:
            add(f"4. {t['street']}", y, 30); y += 26
            if t.get("m11"):
                # '/' misread as '1': RT 02103 -> split_rtrw_ocr must
                # recover 02/03 (sim_extractor.py:106-153)
                add(f"RT {t['rt']:02d}1{t['rw']:02d} {t['village']}",
                    y, 40); y += 26
            else:
                add(f"RT {t['rt']:02d} RW {t['rw']:02d} {t['village']}",
                    y, 40); y += 26
            add(f"KEC. {t['kec']} KOTA {t['kab']}", y, 40); y += 28
        if t.get("m3"):
            # bare occupation row: M3 is_job() must advance the walk
            add(t["job"], y, 30); y += 28
        else:
            add(f"5. {t['job']}", y, 30); y += 28
        if t.get("m4"):
            # license-class table bleed: M4 must filter it out
            add("SEPEDA MOTOR RODA DUA", y, 30); y += 26
        add(f"6. {t['kab']}", y, 30); y += 28
    else:
        add("Nama", y, 30); y += 26
        add(t["name"], y, 40); y += 28
        add("Tempat & Tgl. Lahir", y, 30); y += 26
        add(f"{t['birth_place']}, {date_print}", y, 40); y += 28
        add("Gol. Darah - Jenis Kelamin", y, 30); y += 26
        add(f"{t['goldar']} - {t['jk']}", y, 40); y += 28
        add("Alamat", y, 30); y += 26
        add(t["street"], y, 40); y += 26
        add(f"RT. {t['rt']:02d} RW. {t['rw']:02d} KEL. {t['village']}",
            y, 40); y += 26
        add(f"KEC. {t['kec']} KOTA {t['kab']}", y, 40); y += 28
        add("Pekerjaan", y, 30); y += 26
        add(t["job"], y, 40); y += 28
    add(f"BERLAKU SAMPAI {t['expiry']}", y, 30)
    y += 28
    add("POLDA METRO JAYA", y, 30)


def sim_raw_doc(i: int):
    """Raw (spans, geom, spans_alt, alt_geom) for SIM doc ``i``."""
    t = sim_truth(i)
    cls = t["cls"]
    spans: list = []
    geom: list = []
    alt_spans: list = []
    alt_geom: list = []
    target = [spans, geom]

    def add(text: str, y: int, x0: int) -> None:
        s, g = target
        s.append(("text", text, "", len(s)))
        g.append((y, x0, x0 + 9 * max(len(text), 1), 22))

    def add_media(tag: str, y: int) -> None:
        s, g = target
        s.append(("media", "", f"media://{i}/{tag}/{len(s)}", len(s)))
        g.append((y, 820, 980, 160))

    if cls == 0:
        _sim_layout(t, add, add_media, legacy=False)
        target[0], target[1] = alt_spans, alt_geom
        _sim_layout(t, add, add_media, legacy=False, media=False)
    elif cls == 1:
        _sim_layout(t, add, add_media, legacy=True)
    elif cls == 2:
        _sim_layout(t, add, add_media, legacy=True,
                    drop=frozenset({"name", "addr"}))
        target[0], target[1] = alt_spans, alt_geom
        _sim_layout(t, add, add_media, legacy=True, media=False)
    else:
        _sim_layout(t, add, add_media, legacy=True, dotted_date=True)
    return spans, geom, alt_spans or None, alt_geom or None


#: the raw fixture corpus ``fixture_row`` builds: doc_id as string (the
#: corpus span contract, BASELINE input_hint / SPAN_SCHEMA_DDL), then
#: the spans and geometry of the main and the alternative OCR view
FIXTURE_DDL = (f"doc_id string, spans {SPAN_DDL}, span_geom {GEOM_DDL}, "
               f"spans_alt {SPAN_DDL}, alt_geom {GEOM_DDL}")


def fixture_row(raw_doc, doc_id: int) -> tuple:
    """One ``FIXTURE_DDL`` row: the raw fixture document ``raw_doc``
    (``ktp_raw_doc`` or ``sim_raw_doc``) builds for ``doc_id``,
    alternative OCR view included."""
    return (str(doc_id), *raw_doc(doc_id))


def sim_expected_sql() -> str:
    """Expected SIM e2e rows. Shapes pinned by both SIM implementations
    (kernel + independent oracle, 0-mismatch parity):

    - nomor keeps the printed ``dddd-dddd-ddddd`` dashes on legacy
      cards; the smart path extracts the digits-only run
      (sim_extractor.py:588-597 vs :439-443)
    - the modern address block keeps the ``KEL.`` prefix on kel_desa
      (the legacy line carries the bare village name)
    - kabupaten is the full region line ``KEC. x KOTA y`` —
      clean_sim_kabupaten only strips undotted 1-5-letter prefixes
      (sim_extractor.py:353-361), and kecamatan stays null for SIM
    - PRIA/WANITA normalize to LAKI-LAKI/PEREMPUAN
    """
    first = _sql_list(FIRST)
    last = _sql_list(LAST)
    kota = _sql_list(KOTA)
    street = _sql_list(STREET)
    vill = _sql_list(VILL)
    kec = _sql_list(KEC)
    job = _sql_list(JOB)
    fields = [
        ("document_type", "'SIM'"),
        ("nomor", "CASE WHEN cls = 0 THEN replace(simno, '-', '') "
                  "ELSE simno END"),
        ("nama", "nama"),
        ("tempat_lahir", "birth_place"),
        ("tgl_lahir", "date_str"),
        ("jenis_kelamin", "CASE WHEN doc_id % 2 = 0 THEN 'LAKI-LAKI' "
                          "ELSE 'PEREMPUAN' END"),
        ("pekerjaan", "job"),
        ("alamat.name", "street"),
        ("alamat.rt_rw", "rtrw"),
        ("alamat.kel_desa", "CASE WHEN cls = 0 THEN 'KEL. ' || village "
                            "ELSE village END"),
        ("alamat.kabupaten", "'KEC. ' || kec || ' KOTA ' || kab"),
    ]
    selects = [
        f"SELECT doc_id, 'field:{name}' AS kind, {expr} AS text, "
        f"'' AS media_ref, {ord_} AS ord FROM f"
        for ord_, (name, expr) in enumerate(fields)
    ]
    selects.append(
        "SELECT doc_id, 'media' AS kind, '' AS text, "
        "'media://' || doc_id || '/photo/0' AS media_ref, "
        f"{len(fields)} AS ord FROM f"
    )
    union = "\nUNION ALL ".join(selects)
    return f"""
WITH f AS (
  SELECT doc_id, doc_id % 4 AS cls,
         {first}[(doc_id % 4) + 1] || ' ' ||
           {last}[(doc_id % 5) + 1] AS nama,
         {kota}[((doc_id // 2) % 5) + 1] AS birth_place,
         printf('%02d-%02d-%04d',
                CASE WHEN doc_id % 4 = 3 THEN 3 + doc_id % 9
                     ELSE 1 + doc_id % 28 END,
                CASE WHEN doc_id % 4 = 3
                     THEN [1,3,4,5,6,7,8,9,10,11][(doc_id % 10) + 1]
                     ELSE 1 + doc_id % 12 END,
                1950 + doc_id % 47) AS date_str,
         printf('%04d-%04d-%05d', 1000 + doc_id % 9000,
                1000 + (doc_id * 7) % 9000,
                10000 + doc_id % 90000) AS simno,
         {street}[(doc_id % 4) + 1] || ' NO. ' ||
           (1 + doc_id % 20) AS street,
         printf('%02d/%02d', 1 + doc_id % 20, 1 + doc_id % 15) AS rtrw,
         {vill}[((doc_id // 3) % 5) + 1] AS village,
         {kec}[((doc_id // 5) % 5) + 1] AS kec,
         {kota}[((doc_id // 4) % 5) + 1] AS kab,
         {job}[(doc_id % 5) + 1] AS job
  FROM documents
)
{union}
"""
