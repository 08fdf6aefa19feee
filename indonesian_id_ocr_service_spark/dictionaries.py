"""Static reference data for the extraction engine.

Every table here is a small, fixed dictionary (≪ 1 MB) — the kind of
dimension data that rides to executors either as a broadcast-joined
DataFrame or inside a pandas-UDF closure. The *content* mirrors the
public reference repo's lookup data (cited per table); the representation
is ours.

Citations are file:line into /root/reference/.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# OCR character-confusion tables
# ---------------------------------------------------------------------------

#: letter/symbol → digit, for numeric context (NIK, SIM numbers).
#: Content per nik_fuzzy.py:33-45 / ocr_corrector.py:75-86.
TO_DIGIT: dict[str, str] = {
    "O": "0", "o": "0", "Q": "0", "D": "0",
    "I": "1", "l": "1", "i": "1", "|": "1", "!": "1", "L": "1",
    "Z": "2", "z": "2",
    "E": "3",
    "A": "4",
    "S": "5", "s": "5",
    "G": "6", "b": "6",
    "T": "7",
    "B": "8", "R": "8",
    "g": "9", "q": "9",
}

#: digit/symbol → letter, for TEXT context (names, places). Input is
#: upper-cased first. Content per ocr_corrector.py:61-71.
TO_TEXT: dict[str, str] = {
    "0": "O", "1": "I", "2": "Z", "5": "S", "6": "G", "8": "B",
    "l": "I", "|": "I", "!": "I",
}

#: letters → digits inside date strings; digits and separators `-./ ,`
#: pass through untouched. Content per date_normalizer.py:14-24.
DATE_TO_DIGIT: dict[str, str] = {
    "O": "0", "o": "0", "Q": "0",
    "I": "1", "l": "1", "i": "1", "!": "1", "L": "1",
    "Z": "2",
    "E": "3",
    "A": "4",
    "S": "5", "s": "5",
    "G": "6",
    "T": "7",
    "B": "8",
}

#: Characters date substitution must NOT touch even when alphabetic-mapped.
DATE_KEEP = set("-./ ,")


def _translate_args(mapping: dict[str, str]) -> tuple[str, str]:
    """Render a char map as (matching, replace) args for ``F.translate``."""
    src = "".join(mapping.keys())
    dst = "".join(mapping.values())
    return src, dst


TO_DIGIT_SRC, TO_DIGIT_DST = _translate_args(TO_DIGIT)
TO_TEXT_SRC, TO_TEXT_DST = _translate_args(TO_TEXT)
# DATE map: applied only to alphabetic chars; digits/separators untouched —
# translate() is safe because the map keys are all letters/symbols not in
# DATE_KEEP.
DATE_SRC, DATE_DST = _translate_args(DATE_TO_DIGIT)


# ---------------------------------------------------------------------------
# NIK structure
# ---------------------------------------------------------------------------

#: Valid 2-digit NIK province prefixes (Permendagri 72/2019 classification;
#: content per nik_fuzzy.py:49-58).
VALID_PROVINCE_CODES: frozenset[int] = frozenset({
    11, 12, 13, 14, 15, 16, 17, 18, 19,
    21,
    31, 32, 33, 34, 35, 36,
    51, 52, 53,
    61, 62, 63, 64, 65,
    71, 72, 73, 74, 75, 76,
    81, 82,
    91, 92,
})

#: Birth-year plausibility window (date_normalizer.py:27-31).
MIN_BIRTH_YEAR = 1920
MAX_BIRTH_YEAR = 2100
REFERENCE_YEAR = 2026

#: 15→16 NIK reconstruction: insertion positions tried in priority order
#: (nik_fuzzy.py:234).
NIK_INSERT_POSITIONS: tuple[int, ...] = (0, 1, 6, 7, 8, 9, 12, 13, 14, 15)


# ---------------------------------------------------------------------------
# Canonical value maps (alias → canonical)
# ---------------------------------------------------------------------------

#: Occupation canonical map (ktp_extractor.py:19-48).
PEKERJAAN_CANONICAL: dict[str, list[str]] = {
    "WIRASWASTA": ["WIRASWASTA", "WIRAUSAHA", "WIRASWAST"],
    "PELAJAR/MAHASISWA": [
        "PELAJAR", "MAHASISWA", "PELAJAR/MAHASISWA", "PELAJARMAHASISWA",
    ],
    "KARYAWAN SWASTA": [
        "KARYAWAN SWASTA", "KARYAWAN", "KARY. SWASTA", "KARY SWASTA",
        "KARYAWANSWASTA",
    ],
    "PNS": ["PNS", "PEGAWAI NEGERI SIPIL", "PEGAWAI NEGERI", "P.N.S"],
    "TNI": ["TNI", "TENTARA NASIONAL INDONESIA", "TENTARA"],
    "POLRI": ["POLRI", "POLISI"],
    "BURUH HARIAN LEPAS": [
        "BURUH HARIAN LEPAS", "BURUH HARIAN", "BURUH LEPAS",
        "CURLH HARIAN LEPAS", "CURLH HARIAN", "CURUH HARIAN LEPAS",
        "DURUH HARIAN LEPAS",
    ],
    "BURUH": ["BURUH", "KULI"],
    "PEDAGANG": ["PEDAGANG", "PENJUAL"],
    "PETANI": ["PETANI"],
    "NELAYAN": ["NELAYAN"],
    "GURU": ["GURU", "PENGAJAR"],
    "DOKTER": ["DOKTER"],
    "BIDAN": ["BIDAN"],
    "PERAWAT": ["PERAWAT"],
    "DOSEN": ["DOSEN"],
    "TIDAK BEKERJA": ["TIDAK BEKERJA", "BELUM BEKERJA", "PENGANGGURAN"],
    "IBU RUMAH TANGGA": [
        "IRT", "IBU RUMAH TANGGA", "IRUMAHTANGGA", "MENGURUS RUMAH TANGGA",
        "MENGURUS RT", "RUMAH TANGGA",
    ],
    "SUPIR": ["SUPIR", "SOPIR", "DRIVER"],
    "OJEK": ["OJEK", "PENGEMUDI OJEK"],
    "SWASTA": ["SWASTA"],
    "PEGAWAI SWASTA": ["PEGAWAI SWASTA"],
}

#: Citizenship canonical map (ktp_extractor.py:50-53).
KEWARGANEGARAAN_CANONICAL: dict[str, list[str]] = {
    "WNI": ["WNI", "WN", "WNl", "WN1", "WNI.", "WARGANEGARA INDONESIA",
            "INDONESIA"],
    "WNA": ["WNA", "WARGANEGARA ASING", "ASING"],
}

#: Marital-status canonical map (ktp_extractor.py:55-61).
STATUS_PERKAWINAN_CANONICAL: dict[str, list[str]] = {
    "BELUM KAWIN": ["BELUM KAWIN", "BELUM MENIKAH", "SINGLE", "LAJANG",
                    "BLM KAWIN", "BELUMKAWIN"],
    "KAWIN": ["KAWIN", "MENIKAH", "MARRIED", "SUDAH MENIKAH", "SDH KAWIN"],
    "CERAI HIDUP": ["CERAI HIDUP", "CERAI", "DIVORCED"],
    "CERAI MATI": ["CERAI MATI", "JANDA", "DUDA"],
}

#: The 16 canonical KTP field labels (ktp_extractor.py:155-160).
CANONICAL_FIELDS: list[str] = [
    "PROVINSI", "KABUPATEN", "NIK", "Nama", "Tempat/Tgl Lahir",
    "Jenis Kelamin", "Gol. Darah", "Alamat", "RT/RW", "Kel/Desa",
    "Kecamatan", "Agama", "Status Perkawinan", "Pekerjaan",
    "Kewarganegaraan", "Berlaku Hingga",
]

#: Truncated/garbled key-label repair map (substring containment test,
#: first match wins in this order; ktp_extractor.py:162-194).
TRUNCATED_KEY_MAP: dict[str, str] = {
    "RTIRW": "RT/RW",
    "RTRW": "RT/RW",
    "RT.RW": "RT/RW",
    "NIS KELAMIN": "Jenis Kelamin",
    "ENIS KELAMIN": "Jenis Kelamin",
    "TEMPAT/TGL": "Tempat/Tgl Lahir",
    "TEMPAT/": "Tempat/Tgl Lahir",
    "EMPAT/TGL": "Tempat/Tgl Lahir",
    "MPAT/TGL": "Tempat/Tgl Lahir",
    "TGL LAHIR": "Tempat/Tgl Lahir",
    "TGL. LAHIR": "Tempat/Tgl Lahir",
    "GAMA": "Agama",
    "KERJAAN": "Pekerjaan",
    "ATUS PERKAWINAN": "Status Perkawinan",
    "KAL/DESA": "Kel/Desa",
    "KEL/DESA": "Kel/Desa",
    "KACAMATAN": "Kecamatan",
    "KACAMALAN": "Kecamatan",
    "ECAMATAN": "Kecamatan",
    "NO KTP": "NIK",
    "NA NA": "Nama",
}

#: Per-field known-value lists used by missing-field recovery
#: (ktp_extractor.py:196-210).
KNOWN_VALUES: dict[str, list[str]] = {
    "Agama": ["ISLAM", "KRISTEN", "KATOLIK", "HINDU", "BUDDHA", "KONGHUCU",
              "CHRISTIAN", "CATHOLIC"],
    "Jenis Kelamin": ["LAKI-LAKI", "PEREMPUAN", "LAKI", "MALE", "FEMALE"],
    "Status Perkawinan": ["BELUM KAWIN", "KAWIN", "CERAI HIDUP", "CERAI MATI",
                          "MARRIED", "SINGLE", "DIVORCED"],
    "Kewarganegaraan": ["WNI", "WNA", "WN", "WARGANEGARA"],
}

#: Closed-vocabulary enum fields with fuzzy thresholds
#: (ocr_corrector.py:325-347).
FIELD_ENUMS: dict[str, dict] = {
    "jenis_kelamin": {"values": ["LAKI-LAKI", "PEREMPUAN"], "threshold": 55},
    "agama": {"values": ["ISLAM", "KRISTEN", "KATOLIK", "HINDU", "BUDDHA",
                         "KONGHUCU"], "threshold": 65},
    "status_perkawinan": {"values": ["BELUM KAWIN", "KAWIN", "CERAI HIDUP",
                                     "CERAI MATI"], "threshold": 65},
    "kewarganegaraan": {"values": ["WNI", "WNA"], "threshold": 45},
    "golongan_darah": {"values": ["A", "B", "AB", "O", "A+", "B+", "AB+",
                                  "O+", "A-", "B-", "AB-", "O-"],
                       "threshold": 80},
}


# ---------------------------------------------------------------------------
# Indonesian administrative-area database (~360 distinct entries)
# Content per ocr_corrector.py:93-253 (provinces ∪ kota ∪ kabupaten).
# ---------------------------------------------------------------------------

PROVINCES: frozenset[str] = frozenset({
    "ACEH", "SUMATERA UTARA", "SUMATERA BARAT", "RIAU", "KEPULAUAN RIAU",
    "JAMBI", "SUMATERA SELATAN", "BANGKA BELITUNG", "BENGKULU", "LAMPUNG",
    "DKI JAKARTA", "JAWA BARAT", "BANTEN", "JAWA TENGAH", "DI YOGYAKARTA",
    "JAWA TIMUR", "BALI", "NUSA TENGGARA BARAT", "NUSA TENGGARA TIMUR",
    "KALIMANTAN BARAT", "KALIMANTAN TENGAH", "KALIMANTAN SELATAN",
    "KALIMANTAN TIMUR", "KALIMANTAN UTARA",
    "SULAWESI UTARA", "GORONTALO", "SULAWESI TENGAH", "SULAWESI BARAT",
    "SULAWESI SELATAN", "SULAWESI TENGGARA",
    "MALUKU", "MALUKU UTARA", "PAPUA BARAT", "PAPUA",
})

KOTA: frozenset[str] = frozenset({
    "JAKARTA", "JAKARTA PUSAT", "JAKARTA UTARA", "JAKARTA BARAT",
    "JAKARTA SELATAN", "JAKARTA TIMUR",
    "BANDUNG", "BOGOR", "DEPOK", "BEKASI", "CIMAHI", "CIREBON",
    "SUKABUMI", "TASIKMALAYA", "BANJAR",
    "SEMARANG", "SURAKARTA", "SOLO", "MAGELANG", "SALATIGA",
    "PEKALONGAN", "TEGAL",
    "YOGYAKARTA",
    "SURABAYA", "MALANG", "MOJOKERTO", "PASURUAN", "PROBOLINGGO",
    "BLITAR", "KEDIRI", "MADIUN", "BATU",
    "TANGERANG", "TANGERANG SELATAN", "SERANG", "CILEGON",
    "DENPASAR",
    "MATARAM", "BIMA",
    "KUPANG",
    "MEDAN", "BINJAI", "PEMATANGSIANTAR", "TEBING TINGGI",
    "SIBOLGA", "TANJUNGBALAI", "PADANGSIDIMPUAN", "GUNUNGSITOLI",
    "PADANG", "BUKITTINGGI", "PAYAKUMBUH", "PADANG PANJANG",
    "PADANGPANJANG", "SAWAH LUNTO", "SAWAHUNTO", "SOLOK", "PARIAMAN",
    "BANDA ACEH", "SABANG", "LANGSA", "LHOKSEUMAWE", "SUBULUSSALAM",
    "PEKANBARU", "DUMAI",
    "BATAM", "TANJUNGPINANG",
    "JAMBI", "SUNGAIPENUH",
    "PALEMBANG", "PRABUMULIH", "PAGAR ALAM", "PAGARALAM", "LUBUKLINGGAU",
    "PANGKALPINANG",
    "BENGKULU",
    "BANDAR LAMPUNG", "METRO",
    "PONTIANAK", "SINGKAWANG",
    "PALANGKARAYA", "PALANGKA RAYA",
    "BANJARMASIN", "BANJARBARU",
    "BALIKPAPAN", "SAMARINDA", "BONTANG",
    "TARAKAN",
    "MANADO", "BITUNG", "TOMOHON", "KOTAMOBAGU",
    "GORONTALO",
    "PALU",
    "MAKASSAR", "PAREPARE", "PALOPO",
    "KENDARI", "BAUBAU",
    "MAMUJU",
    "AMBON", "TUAL",
    "TERNATE", "TIDORE KEPULAUAN",
    "JAYAPURA",
    "SORONG", "MANOKWARI",
})

KABUPATEN: frozenset[str] = frozenset({
    "BOGOR", "SUKABUMI", "CIANJUR", "BANDUNG", "BANDUNG BARAT", "GARUT",
    "TASIKMALAYA", "CIAMIS", "KUNINGAN", "CIREBON", "MAJALENGKA",
    "SUMEDANG", "INDRAMAYU", "SUBANG", "PURWAKARTA", "KARAWANG",
    "BEKASI", "PANGANDARAN",
    "SEMARANG", "KENDAL", "DEMAK", "GROBOGAN", "PATI", "KUDUS",
    "JEPARA", "REMBANG", "BLORA", "SRAGEN", "KARANGANYAR",
    "WONOGIRI", "SUKOHARJO", "KLATEN", "BOYOLALI", "MAGELANG",
    "TEMANGGUNG", "WONOSOBO", "BANJARNEGARA", "KEBUMEN", "PURWOREJO",
    "PURBALINGGA", "BANYUMAS", "CILACAP", "BREBES", "TEGAL",
    "PEMALANG", "BATANG", "PEKALONGAN",
    "KULONPROGO", "KULON PROGO", "BANTUL", "SLEMAN",
    "GUNUNG KIDUL", "GUNUNGKIDUL",
    "SIDOARJO", "GRESIK", "BANGKALAN", "SAMPANG", "PAMEKASAN",
    "SUMENEP", "MOJOKERTO", "JOMBANG", "NGANJUK", "MADIUN",
    "MAGETAN", "NGAWI", "BOJONEGORO", "TUBAN", "LAMONGAN",
    "PASURUAN", "PROBOLINGGO", "LUMAJANG", "JEMBER", "BONDOWOSO",
    "SITUBONDO", "BANYUWANGI", "MALANG", "BLITAR", "TULUNGAGUNG",
    "TRENGGALEK", "PONOROGO", "PACITAN", "KEDIRI",
    "LEBAK", "PANDEGLANG", "SERANG", "TANGERANG",
    "DELI SERDANG", "LANGKAT", "SERDANG BEDAGAI", "ASAHAN",
    "BATUBARA", "LABUHANBATU", "LABUHAN BATU",
    "SIMALUNGUN", "KARO", "DAIRI", "PAKPAK BHARAT",
    "NIAS", "NIAS UTARA", "NIAS SELATAN", "NIAS BARAT",
    "MANDAILING NATAL", "TAPANULI SELATAN", "TAPANULI TENGAH",
    "TAPANULI UTARA", "TOBA SAMOSIR",
    "HUMBANG HASUNDUTAN", "SAMOSIR",
    "PADANG LAWAS", "PADANG LAWAS UTARA",
    "AGAM", "LIMA PULUH KOTA", "PASAMAN", "PASAMAN BARAT",
    "PESISIR SELATAN", "SIJUNJUNG", "SOLOK", "SOLOK SELATAN",
    "TANAH DATAR", "DHARMASRAYA", "KEPULAUAN MENTAWAI",
    "BENGKALIS", "INDRAGIRI HILIR", "INDRAGIRI HULU", "KAMPAR",
    "KUANTAN SINGINGI", "PELALAWAN", "ROKAN HILIR", "ROKAN HULU",
    "SIAK", "KEPULAUAN MERANTI",
    "LAMPUNG BARAT", "LAMPUNG SELATAN", "LAMPUNG TENGAH",
    "LAMPUNG TIMUR", "LAMPUNG UTARA", "MESUJI", "PESAWARAN",
    "PESISIR BARAT", "PRINGSEWU", "TANGGAMUS", "TULANG BAWANG",
    "TULANG BAWANG BARAT", "WAY KANAN",
    "BENGKAYANG", "KAPUAS HULU", "KAYONG UTARA", "KETAPANG",
    "KUBU RAYA", "LANDAK", "MELAWI", "MEMPAWAH", "PONTIANAK",
    "SAMBAS", "SANGGAU", "SEKADAU", "SINTANG",
    "BALANGAN", "BANJAR", "BARITO KUALA", "HULU SUNGAI SELATAN",
    "HULU SUNGAI TENGAH", "HULU SUNGAI UTARA", "KOTABARU",
    "TABALONG", "TANAH BUMBU", "TANAH LAUT", "TAPIN",
    "BANTAENG", "BARRU", "BONE", "BULUKUMBA", "ENREKANG",
    "GOWA", "JENEPONTO", "KEPULAUAN SELAYAR", "LUWU",
    "LUWU TIMUR", "LUWU UTARA", "MAROS", "PANGKAJENE KEPULAUAN",
    "PANGKEP", "PINRANG", "SIDENRENG RAPPANG", "SINJAI",
    "SOPPENG", "TAKALAR", "TANA TORAJA", "TORAJA UTARA",
    "WAJO",
    "JAKBAR", "JAKSEL", "JAKPUS", "JAKTIM", "JAKUT",
    "LUAR NEGERI",
})

#: Unified place database: uppercase, deduplicated, sorted
#: (ocr_corrector.py:251-253).
INDONESIAN_PLACES: list[str] = sorted(PROVINCES | KOTA | KABUPATEN)

#: Per-field scoring weights (confidence_scorer.py:78-94 — used by the
#: V7 weighted composite of ``operators/scoring.score_fields``).
FIELD_WEIGHTS: dict[str, float] = {
    "nomor": 3.0,
    "nama": 2.5,
    "tgl_lahir": 1.5,
    "tempat_lahir": 0.8,
    "jenis_kelamin": 1.0,
    "agama": 0.5,
    "status_perkawinan": 0.5,
    "pekerjaan": 0.5,
    "kewarganegaraan": 0.5,
    "alamat.name": 1.0,
    "alamat.rt_rw": 0.5,
    "alamat.kel_desa": 0.7,
    "alamat.kecamatan": 0.7,
    "alamat.kabupaten": 0.7,
    "alamat.provinsi": 0.5,
}

#: Fields whose absence forces grade D/F (confidence_scorer.py:96).
CRITICAL_FIELDS: frozenset[str] = frozenset({"nomor", "nama", "tgl_lahir"})

#: Output-JSON field order (ktp_extractor.py:781-805) — also the emit order
#: of extracted `field:*` spans.
OUTPUT_FIELD_ORDER: list[str] = [
    "document_type",
    "nomor",
    "nama",
    "tempat_lahir",
    "tgl_lahir",
    "jenis_kelamin",
    "agama",
    "status_perkawinan",
    "pekerjaan",
    "kewarganegaraan",
    "alamat.name",
    "alamat.rt_rw",
    "alamat.kel_desa",
    "alamat.kecamatan",
    "alamat.kabupaten",
    "alamat.provinsi",
]

# ---------------------------------------------------------------------------
# SIM vocabularies (sim_extractor.py) — pure data shared by BOTH SIM
# implementations (operators/sim_core.py and oracle/sim_independent.py);
# keeping them here makes the no-shared-logic boundary between the two
# implementations explicit.
# ---------------------------------------------------------------------------

#: anchor variants for the smart-layout field tagger (sim_extractor.py:225-237)
SIM_ANCHORS: dict[str, list[str]] = {
    "NAMA": ["Nama", "Name", "NamaName"],
    "TTL": ["Tempat", "Lahir", "Birth", "Place", "Date"],
    "GOL_DARAH": ["Darah", "Blood", "Type"],
    "JK": ["Jenis", "Kelamin", "Sex", "Gender"],
    "ALAMAT": ["Alamat", "Address", "Alamrrat"],
    "PEKERJAAN": ["Pekerjaan", "Occupation", "eerjaan"],
    "PENERBIT": ["Diterbitkan", "Issued", "Oleh", "Dierbtkan",
                 "SATPAS", "POLRES", "POLDA", "KORLANTAS", "METRO JAYA",
                 "METROJAYA"],
}

#: fuzzy region list (sim_extractor.py:54-99)
SIM_REGIONS: list[str] = [
    "JAKARTA", "JAKARTA BARAT", "JAKARTA TIMUR", "JAKARTA SELATAN",
    "JAKARTA UTARA", "JAKARTA PUSAT", "DKI JAKARTA",
    "BANDUNG", "BOGOR", "BEKASI", "DEPOK", "CIMAHI", "SUKABUMI",
    "CIREBON", "GARUT", "TASIKMALAYA", "CIAMIS", "KUNINGAN",
    "CIANJUR", "SUMEDANG", "MAJALENGKA", "SUBANG", "PURWAKARTA",
    "KARAWANG", "INDRAMAYU", "JAWA BARAT",
    "TANGERANG", "TANGERANG SELATAN", "SERANG", "CILEGON",
    "LEBAK", "PANDEGLANG", "BANTEN",
    "SEMARANG", "SOLO", "SURAKARTA", "MAGELANG", "SALATIGA",
    "TEGAL", "PEKALONGAN", "KUDUS", "JEPARA", "DEMAK", "BLORA",
    "REMBANG", "PATI", "BOYOLALI", "KLATEN", "PURWOREJO",
    "KEBUMEN", "BANYUMAS", "CILACAP", "JAWA TENGAH",
    "YOGYAKARTA", "SLEMAN", "BANTUL", "GUNUNG KIDUL", "KULON PROGO",
    "DAERAH ISTIMEWA YOGYAKARTA",
    "SURABAYA", "MALANG", "SIDOARJO", "GRESIK", "MOJOKERTO",
    "PASURUAN", "PROBOLINGGO", "BANYUWANGI", "JEMBER", "KEDIRI",
    "BLITAR", "MADIUN", "PONOROGO", "NGAWI", "JOMBANG",
    "LAMONGAN", "BOJONEGORO", "TUBAN", "JAWA TIMUR",
    "MEDAN", "PADANG", "PEKANBARU", "PALEMBANG", "LAMPUNG",
    "BANDAR LAMPUNG", "BENGKULU", "JAMBI", "BATAM", "TANJUNGPINANG",
    "BANDA ACEH", "ACEH", "SUMATERA UTARA", "SUMATERA BARAT",
    "SUMATERA SELATAN", "RIAU", "KEPULAUAN RIAU", "BANGKA BELITUNG",
    "BANJARMASIN", "BALIKPAPAN", "SAMARINDA", "PONTIANAK",
    "PALANGKARAYA", "TARAKAN", "KALIMANTAN BARAT",
    "KALIMANTAN SELATAN", "KALIMANTAN TIMUR", "KALIMANTAN TENGAH",
    "KALIMANTAN UTARA",
    "MAKASSAR", "MANADO", "KENDARI", "PALU", "GORONTALO",
    "SULAWESI SELATAN", "SULAWESI UTARA", "SULAWESI TENGGARA",
    "SULAWESI TENGAH", "SULAWESI BARAT",
    "DENPASAR", "MATARAM", "KUPANG", "BALI",
    "NUSA TENGGARA BARAT", "NUSA TENGGARA TIMUR",
    "AMBON", "JAYAPURA", "SORONG", "MANOKWARI",
    "MALUKU", "PAPUA", "PAPUA BARAT",
]

#: fast-path city set (sim_extractor.py:701-712)
SIM_FAST_CITIES: set[str] = {
    "JAKARTA", "BOGOR", "DEPOK", "TANGERANG", "BEKASI", "BANDUNG",
    "SEMARANG", "SURABAYA", "MEDAN", "MAKASSAR", "BALIKPAPAN",
    "DENPASAR", "SLEMAN", "BANTUL", "KULON PROGO", "SERANG",
    "CILEGON", "CIMAHI", "SUKABUMI", "BATAM", "KUPANG", "PONOROGO",
    "MALANG", "SOLO", "SURAKARTA", "YOGYAKARTA", "PALEMBANG",
    "PEKANBARU", "PADANG", "LAMPUNG", "JAMBI", "BENGKULU", "ACEH",
    "MATARAM", "JAYAPURA", "MANADO", "AMBON", "KENDARI", "PALU",
    "LEBAK", "PANDEGLANG", "CIANJUR", "GARUT", "TASIKMALAYA", "CIAMIS",
    "KUNINGAN", "CIREBON", "MAJALENGKA", "SUMEDANG", "INDRAMAYU",
    "SUBANG", "PURWAKARTA", "KARAWANG", "BANDAR LAMPUNG",
}
