"""V6-V11 confidence-scoring query + DuckDB oracle.

Field values are synthesized deterministically from customer keys so
every scorer branch (valid / partial / malformed / missing) is
exercised; both engines compute identical strings, apply the same
scorer formulas (per-field scores rounded to 6 dp before weighting),
and must agree on overall, field_count, missing-critical count,
cross-check and grade.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators.scoring import score_fields
from .queries import _read

_COL_MAP = {
    "nomor": "nomor",
    "nama": "nama",
    "tgl_lahir": "tgl_lahir",
    "tempat_lahir": "tempat_lahir",
    "jenis_kelamin": "jenis_kelamin",
    "agama": "agama",
    "status_perkawinan": "status_perkawinan",
    "pekerjaan": "pekerjaan",
    "kewarganegaraan": "kewarganegaraan",
    "alamat.name": "a_name",
    "alamat.rt_rw": "a_rtrw",
    "alamat.kel_desa": "a_keldesa",
    "alamat.kecamatan": "a_kec",
    "alamat.kabupaten": "a_kab",
    "alamat.provinsi": "a_prov",
}


def _pick(k, options):
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (k % len(options)).cast("int") + 1)


def q_confidence_scoring(spark, sf_dir):
    # fanout=False: the gate was never measured on this query, so its
    # plan stays scan → project
    df = _read(spark, sf_dir, "customer", fanout=False)
    k = F.col("c_custkey")
    nik_valid = F.format_string(
        "%02d%02d%02d%02d%02d%02d%04d",
        F.lit(11) + k % 84, F.lit(1) + k % 99, k % 100,
        F.lit(1) + k % 28, F.lit(1) + k % 12, k % 100,
        F.lit(1) + k % 9999,
    )
    synth = df.select(
        k.alias("doc"),
        F.when(k % 4 == 0, nik_valid)
        .when(k % 4 == 1, F.substring(nik_valid, 2, 15))
        .when(k % 4 == 2, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("A"), F.substring(nik_valid, 2, 15)))
        .alias("nomor"),
        _pick(k, ["BUDI SANTOSO", "BUDI 5ANTOSO", "X"]).alias("nama"),
        F.when(k % 5 == 0, F.lit("15-08-1990"))
        .when(k % 5 == 1, F.lit("15-08-2015"))
        .when(k % 5 == 2, F.lit("5-8-1990"))
        .when(k % 5 == 3, F.lit("40-08-1990"))
        .alias("tgl_lahir"),
        _pick(k, ["BOGOR", "B0G0R12", "AB"]).alias("tempat_lahir"),
        F.when(k % 4 == 0, F.lit("LAKI-LAKI"))
        .when(k % 4 == 1, F.lit("PRIA"))
        .when(k % 4 == 2, F.lit("XX"))
        .alias("jenis_kelamin"),
        F.when(k % 2 == 0, F.lit("ISLAM")).alias("agama"),
        _pick(k, ["KAWIN", "K"]).alias("status_perkawinan"),
        _pick(k, ["PETANI", "12345"]).alias("pekerjaan"),
        F.when(k % 3 == 0, F.lit("WNI")).alias("kewarganegaraan"),
        _pick(k, ["JL. MERDEKA NO. 5", "GG X"]).alias("a_name"),
        _pick(k, ["001/002", "1-2"]).alias("a_rtrw"),
        _pick(k, ["SUKAMAJU", "77"]).alias("a_keldesa"),
        F.lit("SERPONG").alias("a_kec"),
        _pick(k, ["KOTA BOGOR", "XY", "LEBAK"]).alias("a_kab"),
        F.when(k % 2 == 1, F.lit("JAWA BARAT")).alias("a_prov"),
    )
    scored = score_fields(synth, _COL_MAP)
    return scored.select(
        "doc", "overall", "field_count", "missing_critical_n",
        "cross_check_passed", "grade",
    )


_SCORER_SQL = {
    "nomor": """
      CASE WHEN {c} IS NULL THEN 0.0
           WHEN NOT regexp_matches({c}, '^\\d{{16}}$') THEN
             round(0.1 + 0.1 * length(regexp_replace({c}, '\\D', '', 'g'))
                   / 16.0, 2)
           ELSE 1.0
             * (CASE WHEN CAST(substr({c},1,2) AS INT) < 11
                       OR CAST(substr({c},1,2) AS INT) > 94
                     THEN 0.65 ELSE 1.0 END)
             * (CASE WHEN (CAST(substr({c},7,2) AS INT) BETWEEN 1 AND 31)
                       OR (CAST(substr({c},7,2) AS INT) BETWEEN 41 AND 71)
                     THEN 1.0 ELSE 0.0 END)
             * (CASE WHEN CAST(substr({c},9,2) AS INT) BETWEEN 1 AND 12
                     THEN 1.0 ELSE 0.0 END)
             * (CASE WHEN CAST(substr({c},13,4) AS INT) = 0
                     THEN 0.75 ELSE 1.0 END)
      END""",
    "nama": """
      CASE WHEN {c} IS NULL THEN 0.0
           WHEN length(trim({c})) < 2 THEN 0.1
           ELSE least(CAST(length(regexp_replace(trim({c}),
                        '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                      / greatest(length(trim({c})), 1), 1.0)
                * (CASE WHEN regexp_matches(trim({c}), '\\d')
                        THEN 0.6 ELSE 1.0 END)
      END""",
    "tgl_lahir": """
      CASE WHEN {c} IS NULL THEN 0.0
           WHEN NOT regexp_matches({c}, '^\\d{{2}}-\\d{{2}}-\\d{{4}}$')
             THEN 0.3
           WHEN CAST(substr({c},1,2) AS INT) < 1
             OR CAST(substr({c},1,2) AS INT) > 31
             OR CAST(substr({c},4,2) AS INT) < 1
             OR CAST(substr({c},4,2) AS INT) > 12 THEN 0.0
           WHEN CAST(substr({c},7,4) AS INT) BETWEEN 1920 AND 2010
             THEN 1.0
           WHEN CAST(substr({c},7,4) AS INT) BETWEEN 2011 AND 2025
             THEN 0.7
           ELSE 0.2
      END""",
    "tempat_lahir": """
      CASE WHEN {c} IS NULL THEN 0.0
           WHEN length(trim({c})) < 3 THEN 0.2
           ELSE 1.0 - (CAST(length(regexp_replace(trim({c}), '\\D', '',
                        'g')) AS DOUBLE)
                       / greatest(length(trim({c})), 1)) * 0.8
      END""",
    "jenis_kelamin": """
      CASE WHEN {c} IS NULL THEN 0.0
           WHEN upper(trim({c})) IN ('LAKI-LAKI','PEREMPUAN') THEN 1.0
           WHEN upper(trim({c})) LIKE '%LAKI%'
             OR upper(trim({c})) LIKE '%MALE%'
             OR upper(trim({c})) LIKE '%PRIA%' THEN 0.8
           WHEN upper(trim({c})) LIKE '%PEREMPUAN%'
             OR upper(trim({c})) LIKE '%FEMALE%'
             OR upper(trim({c})) LIKE '%WANITA%' THEN 0.8
           ELSE 0.3
      END""",
    "enum": """
      CASE WHEN {c} IS NULL THEN 0.0
           WHEN length(trim({c})) < 2 THEN 0.2
           ELSE 0.9
      END""",
    "free": """
      CASE WHEN {c} IS NULL THEN 0.0
           ELSE least(length(trim({c})) / 5.0, 1.0)
                * (CASE WHEN regexp_matches(trim({c}), '^\\d+$')
                        THEN 0.3 ELSE 1.0 END)
      END""",
    "a_name": """
      CASE WHEN {c} IS NULL THEN 0.0
           WHEN length(trim({c})) < 5 THEN 0.4 ELSE 1.0 END""",
    "a_rtrw": """
      CASE WHEN {c} IS NULL THEN 0.0
           WHEN regexp_matches(trim({c}), '^\\d{{1,3}}/\\d{{1,3}}$')
             THEN 1.0 ELSE 0.4 END""",
    "a_kab": """
      CASE WHEN {c} IS NULL THEN 0.0
           WHEN regexp_matches(upper(trim({c})), '^[A-Z]{{1,3}}$')
             THEN 0.2
           WHEN upper(trim({c})) LIKE '%KOTA%'
             OR upper(trim({c})) LIKE '%KAB%'
             OR upper(trim({c})) LIKE '%KABUPATEN%'
             OR upper(trim({c})) LIKE '%JAKARTA%' THEN 1.0
           ELSE 0.7 END""",
}

_FIELD_SQL = [
    ("nomor", "nomor", 3.0),
    ("nama", "nama", 2.5),
    ("tgl_lahir", "tgl_lahir", 1.5),
    ("tempat_lahir", "tempat_lahir", 0.8),
    ("jenis_kelamin", "jenis_kelamin", 1.0),
    ("enum", "agama", 0.5),
    ("enum", "status_perkawinan", 0.5),
    ("free", "pekerjaan", 0.5),
    ("enum", "kewarganegaraan", 0.5),
    ("a_name", "a_name", 1.0),
    ("a_rtrw", "a_rtrw", 0.5),
    ("free", "a_keldesa", 0.7),
    ("free", "a_kec", 0.7),
    ("a_kab", "a_kab", 0.7),
    ("free", "a_prov", 0.5),
]

_TOTAL_W = sum(w for _, _, w in _FIELD_SQL)


def _build_sql() -> str:
    synth = """
WITH synth AS (
  SELECT c_custkey AS doc,
    CASE WHEN c_custkey % 4 = 0 THEN nikv
         WHEN c_custkey % 4 = 1 THEN substr(nikv, 2, 15)
         WHEN c_custkey % 4 = 2 THEN NULL
         ELSE 'A' || substr(nikv, 2, 15) END AS nomor,
    (['BUDI SANTOSO','BUDI 5ANTOSO','X'])[
      CAST(c_custkey % 3 AS INT) + 1] AS nama,
    CASE WHEN c_custkey % 5 = 0 THEN '15-08-1990'
         WHEN c_custkey % 5 = 1 THEN '15-08-2015'
         WHEN c_custkey % 5 = 2 THEN '5-8-1990'
         WHEN c_custkey % 5 = 3 THEN '40-08-1990' END AS tgl_lahir,
    (['BOGOR','B0G0R12','AB'])[
      CAST(c_custkey % 3 AS INT) + 1] AS tempat_lahir,
    CASE WHEN c_custkey % 4 = 0 THEN 'LAKI-LAKI'
         WHEN c_custkey % 4 = 1 THEN 'PRIA'
         WHEN c_custkey % 4 = 2 THEN 'XX' END AS jenis_kelamin,
    CASE WHEN c_custkey % 2 = 0 THEN 'ISLAM' END AS agama,
    (['KAWIN','K'])[CAST(c_custkey % 2 AS INT) + 1]
      AS status_perkawinan,
    (['PETANI','12345'])[CAST(c_custkey % 2 AS INT) + 1] AS pekerjaan,
    CASE WHEN c_custkey % 3 = 0 THEN 'WNI' END AS kewarganegaraan,
    (['JL. MERDEKA NO. 5','GG X'])[CAST(c_custkey % 2 AS INT) + 1]
      AS a_name,
    (['001/002','1-2'])[CAST(c_custkey % 2 AS INT) + 1] AS a_rtrw,
    (['SUKAMAJU','77'])[CAST(c_custkey % 2 AS INT) + 1] AS a_keldesa,
    'SERPONG' AS a_kec,
    (['KOTA BOGOR','XY','LEBAK'])[CAST(c_custkey % 3 AS INT) + 1]
      AS a_kab,
    CASE WHEN c_custkey % 2 = 1 THEN 'JAWA BARAT' END AS a_prov
  FROM (
    SELECT c_custkey,
      printf('%02d%02d%02d%02d%02d%02d%04d',
        11 + (c_custkey % 84), 1 + (c_custkey % 99), c_custkey % 100,
        1 + (c_custkey % 28), 1 + (c_custkey % 12), c_custkey % 100,
        1 + (c_custkey % 9999)) AS nikv
    FROM customer
  )
)"""
    score_exprs = []
    for kind, col, _w in _FIELD_SQL:
        formula = _SCORER_SQL[kind].format(c=col)
        score_exprs.append(
            f"round(CAST(({formula}) AS DOUBLE), 6) AS s_{col}")
    scored = (", scored AS (SELECT doc, nomor, tgl_lahir, jenis_kelamin, "
              + ", ".join(score_exprs) + " FROM synth)")

    weighted = " + ".join(f"s_{col} * {w}" for _, col, w in _FIELD_SQL)
    present = " + ".join(
        f"(CASE WHEN s_{col} > 0.0 THEN 1 ELSE 0 END)"
        for _, col, _w in _FIELD_SQL)
    bonus = """
      CASE WHEN nomor IS NOT NULL
             AND regexp_matches(nomor, '^\\d{16}$') THEN
        (CASE WHEN CAST(substr(nomor,1,2) AS INT) BETWEEN 11 AND 94
              THEN 0.03 ELSE -0.05 END)
        + (CASE WHEN (CAST(substr(nomor,7,2) AS INT) BETWEEN 1 AND 31)
                  OR (CAST(substr(nomor,7,2) AS INT) BETWEEN 41 AND 71)
                THEN 0.02 ELSE -0.08 END)
        + (CASE WHEN CAST(substr(nomor,9,2) AS INT) BETWEEN 1 AND 12
                THEN 0.02 ELSE -0.08 END)
        + (CASE WHEN CAST(substr(nomor,13,4) AS INT) > 0
                THEN 0.01 ELSE 0.0 END)
      ELSE 0.0 END"""
    cross = """
      CASE WHEN nomor IS NOT NULL
             AND regexp_matches(nomor, '^\\d{16}$')
             AND tgl_lahir IS NOT NULL
             AND regexp_matches(tgl_lahir, '^\\d{2}-\\d{2}-\\d{4}$')
      THEN
        ((CASE WHEN CAST(substr(nomor,7,2) AS INT) > 40
               THEN CAST(substr(nomor,7,2) AS INT) - 40
               ELSE CAST(substr(nomor,7,2) AS INT) END)
          = CAST(substr(tgl_lahir,1,2) AS INT))
        AND (CAST(substr(nomor,9,2) AS INT)
          = CAST(substr(tgl_lahir,4,2) AS INT))
        AND (CAST(substr(nomor,11,2) AS INT)
          = CAST(substr(tgl_lahir,7,4) AS INT) % 100)
        AND (coalesce(jenis_kelamin, '') = ''
          OR ((CAST(substr(nomor,7,2) AS INT) > 40)
              = (upper(coalesce(jenis_kelamin,'')) LIKE '%PEREMPUAN%'
                 OR upper(coalesce(jenis_kelamin,'')) LIKE '%WANITA%')))
      ELSE TRUE END"""
    missing = ("(CASE WHEN s_nomor = 0.0 THEN 1 ELSE 0 END)"
               " + (CASE WHEN s_nama = 0.0 THEN 1 ELSE 0 END)"
               " + (CASE WHEN s_tgl_lahir = 0.0 THEN 1 ELSE 0 END)")
    return (
        synth + scored + f"""
, agg AS (
  SELECT doc,
    round(least(({weighted}) / {_TOTAL_W} + ({bonus}), 1.0), 6)
      AS overall,
    ({present}) AS field_count,
    ({missing}) AS missing_critical_n,
    ({cross}) AS cross_check_passed
  FROM scored
)
SELECT doc, overall, field_count, missing_critical_n,
       cross_check_passed,
  CASE WHEN missing_critical_n >= 2 THEN 'F'
       WHEN missing_critical_n >= 1 THEN 'D'
       WHEN overall >= 0.88 THEN 'A'
       WHEN overall >= 0.72 THEN 'B'
       WHEN overall >= 0.55 THEN 'C'
       WHEN overall >= 0.35 THEN 'D'
       ELSE 'F' END AS grade
FROM agg
""")


SQL_CONFIDENCE_SCORING = _build_sql()


# ---------------------------------------------------------------------------
# C2: OCR confidence — mean per-token recognition score per document
# (document_processor.py:67-71: np.mean(rec_scores)). The corpus tables
# carry no OCR scores, so both engines synthesize the same deterministic
# per-token confidence from md5: conf(t) = 0.5 + hex16(md5(t)[:4])/131072
# — an exact dyadic rational (17 significand bits), so the sum over any
# realistic token count is EXACT in float64 and the mean is bit-identical
# regardless of summation order.
# ---------------------------------------------------------------------------


def q_ocr_confidence(spark, sf_dir):
    # per-token md5 HOF dominates — fan out row-group-bound scans
    df = _read(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    confs = F.transform(
        toks,
        lambda t: F.lit(0.5)
        + F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("double")
        / F.lit(131072.0),
    )
    mean = F.aggregate(confs, F.lit(0.0), lambda a, x: a + x) \
        / F.greatest(F.size(toks), F.lit(1))
    return df.select(
        F.col("doc_id"),
        F.round(mean, 6).alias("ocr_conf"),
        (F.round(mean, 6) < 0.70).alias("low_conf"),
    )


_NIB = "strpos('0123456789abcdef', substr(md5(t), {i}, 1)) - 1"

SQL_OCR_CONFIDENCE = f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks,
         list_transform(toks, t ->
           0.5 + (({_NIB.format(i=1)}) * 4096.0
                  + ({_NIB.format(i=2)}) * 256.0
                  + ({_NIB.format(i=3)}) * 16.0
                  + ({_NIB.format(i=4)})) / 131072.0) AS confs
  FROM t
)
SELECT doc_id,
       round(list_aggregate(confs, 'sum')
             / greatest(len(toks), 1), 6) AS ocr_conf,
       round(list_aggregate(confs, 'sum')
             / greatest(len(toks), 1), 6) < 0.70 AS low_conf
FROM c
"""
