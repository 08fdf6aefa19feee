"""Driver-contract queries: each SURVEY §2 operator exposed as a
(Spark callable, DuckDB oracle SQL) pair over /root/testdata.

Inputs are synthesized DETERMINISTICALLY from the testdata tables with
arithmetic both engines compute identically (printf/format_string,
modulo, translate), so the value-hash comparison is exact. Every
computed column is aliased identically on both sides.

Float outputs are rounded to 6 dp on both sides to keep hashes stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dictionaries import (
    TO_DIGIT_DST,
    TO_DIGIT_SRC,
    VALID_PROVINCE_CODES,
)
from .functions import chars as CH
from .functions import dates as DT
from .functions import fields as FX
from .functions import nik as NK
from .operators import classify
from .session import SQL_CONF

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def ensure_session_conf(spark: SparkSession) -> None:
    """The engine's expressions assume permissive (non-ANSI) cast
    semantics — null on malformed input, matching the reference's
    never-raise contract — and avoid Spark 4's ICU case-mapping
    static-init stall. Applied defensively for sessions not built by
    ``session.build_session`` (e.g. the driver's own)."""
    for k in ("spark.sql.ansi.enabled",
              "spark.sql.icu.caseMappings.enabled",
              "spark.sql.session.timeZone"):
        try:
            spark.conf.set(k, SQL_CONF[k])
        except Exception:
            pass


#: parquet footer metadata memo: (path) -> (n_rows, n_row_groups).
#: Metadata only (never results) — re-read per process, cheap (~ms).
_FOOTER_META: dict[str, tuple[int, int]] = {}


def _footer_meta(path: str) -> tuple[int, int]:
    meta = _FOOTER_META.get(path)
    if meta is None:
        import glob as _glob
        import os as _os

        rows, rgs = 0, 0
        try:
            import pyarrow.parquet as _pq

            files = ([path] if _os.path.isfile(path) else
                     _glob.glob(_os.path.join(path, "*.parquet")))
            for f in files:
                m = _pq.ParquetFile(f).metadata
                rows += m.num_rows
                rgs += m.num_row_groups
            if not files:
                rgs = 1 << 30
        except Exception:
            # unknown layout -> assume well-split, never fan out
            rows, rgs = 0, 1 << 30
        meta = (rows, rgs)
        _FOOTER_META[path] = meta
    return meta


def _read(spark: SparkSession, sf_dir: str, name: str, *,
          fanout: bool) -> DataFrame:
    """The one way a driver query reaches a testdata table: applies the
    session conf, reads ``<sf_dir>/<name>.parquet`` and, with
    ``fanout``, applies the scan-parallelism gate.

    The gate is for per-row-compute-dominant queries (guide §2.5/§6):
    parquet ROW GROUPS are the unit of scan parallelism — splits beyond
    the row-group count come back empty, so a 1.5M-row file with 2 row
    groups runs every downstream narrow expression/kernel on 2 of N
    cores no matter how splits are sized (measured: 32 splits, 2
    non-empty, at sf1.0). When the footer says the scan cannot fill the
    cores AND the table is big enough for the shuffle to pay for itself
    (4,096 rows), round-robin repartition to 2x cores (deterministic:
    sort-before-repartition is on by default).

    Scale-adaptive by construction: at warehouse scale inputs carry
    row groups >> cores, the gate never fires, and the plan is
    unchanged — this is a data-layout probe, not a local[N] constant.
    """
    ensure_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if not fanout:
        return df
    rows, rgs = _footer_meta(path)
    sc = spark.sparkContext
    if rgs < sc.defaultParallelism and rows >= 4096:
        return df.repartition(sc.defaultParallelism * 2)
    return df


def _map_rows(df: DataFrame, row_fn, schema: str) -> DataFrame:
    """``row_fn(*values)`` over each row of ``df`` → one output row
    tuple, in the columns of the DDL ``schema`` by position. One
    ``mapInPandas``, one pandas frame per Arrow batch, never a per-row
    UDF; the values are plain Python scalars."""

    def rows(frames):
        import pandas as pd

        for pdf in frames:
            yield pd.DataFrame([row_fn(*vals) for vals in
                                pdf.itertuples(index=False, name=None)])

    return df.mapInPandas(rows, schema)


#: deterministic 16-digit NIK synthesized from an integer key — written
#: identically in Spark (format_string) and DuckDB (printf)
_NIK_SQL = (
    "printf('%02d%02d%02d%02d%02d%02d%04d', "
    "11 + ({k} % 84), 1 + ({k} % 99), ({k} % 100), "
    "({k} % 75), ({k} % 14), ({k} % 100), ({k} % 10000))"
)

_PROV_IN = ",".join(str(p) for p in sorted(VALID_PROVINCE_CODES))


def _nik_col(k: str) -> F.Column:
    kc = F.col(k)
    return F.format_string(
        "%02d%02d%02d%02d%02d%02d%04d",
        F.lit(11) + kc % 84, F.lit(1) + kc % 99, kc % 100,
        kc % 75, kc % 14, kc % 100, kc % 10000,
    )


# ---------------------------------------------------------------------------
# N1: char substitution letters→digits  (translate, exact builtin)
# ---------------------------------------------------------------------------


def q_char_sub_to_digit(spark, sf_dir):
    """Noisy digits (every digit OCR'd as a letter) → repaired digits."""
    df = _read(spark, sf_dir, "orders", fanout=True)
    noisy = F.translate(_nik_col("o_orderkey"), "0123456789", "OIZEASGTBg")
    return df.select(
        F.col("o_orderkey").alias("k"),
        noisy.alias("raw"),
        CH.sub_to_digit(noisy).alias("repaired"),
    )


SQL_CHAR_SUB_TO_DIGIT = f"""
SELECT o_orderkey AS k,
       translate({_NIK_SQL.format(k='o_orderkey')},
                 '0123456789', 'OIZEASGTBg') AS raw,
       translate(translate({_NIK_SQL.format(k='o_orderkey')},
                           '0123456789', 'OIZEASGTBg'),
                 '{TO_DIGIT_SRC.replace("'", "''")}',
                 '{TO_DIGIT_DST}') AS repaired
FROM orders
"""


# ---------------------------------------------------------------------------
# N10: NIK structural validation
# ---------------------------------------------------------------------------


def q_nik_structural(spark, sf_dir):
    df = _read(spark, sf_dir, "orders", fanout=True)
    nik = _nik_col("o_orderkey")
    return df.select(
        nik.alias("nik"),
        F.round(NK.structural_score(nik), 6).alias("structural_score"),
    )


SQL_NIK_STRUCTURAL = f"""
WITH t AS (SELECT {_NIK_SQL.format(k='o_orderkey')} AS nik FROM orders)
SELECT nik,
  round(CAST(
    (CASE WHEN CAST(substr(nik,1,2) AS INT) IN ({_PROV_IN}) THEN 1.0
          WHEN CAST(substr(nik,1,2) AS INT) < 11
            OR CAST(substr(nik,1,2) AS INT) > 94 THEN 0.40
          ELSE 0.85 END)
  * (CASE WHEN CAST(substr(nik,5,2) AS INT) = 0 THEN 0.70 ELSE 1.0 END)
  * (CASE WHEN CAST(substr(nik,7,2) AS INT) = 0 THEN 0.0
          WHEN CAST(substr(nik,7,2) AS INT) BETWEEN 1 AND 31 THEN 1.0
          WHEN CAST(substr(nik,7,2) AS INT) BETWEEN 41 AND 71 THEN 1.0
          ELSE 0.10 END)
  * (CASE WHEN CAST(substr(nik,9,2) AS INT) < 1
            OR CAST(substr(nik,9,2) AS INT) > 12 THEN 0.0 ELSE 1.0 END)
  * (CASE WHEN CAST(substr(nik,13,4) AS INT) = 0 THEN 0.50 ELSE 1.0 END)
  AS DOUBLE), 6) AS structural_score
FROM t
"""


# ---------------------------------------------------------------------------
# N5: clean_nik — 16-digit extraction with substitution
# ---------------------------------------------------------------------------


def q_clean_nik(spark, sf_dir):
    df = _read(spark, sf_dir, "orders", fanout=True)
    raw = F.concat(F.lit("NIK : "),
                   F.translate(_nik_col("o_orderkey"), "018", "OIB"))
    return df.select(raw.alias("raw"), NK.clean_nik(raw).alias("nik16"))


SQL_CLEAN_NIK = f"""
WITH t AS (
  SELECT 'NIK : ' || translate({_NIK_SQL.format(k='o_orderkey')},
                               '018', 'OIB') AS raw
  FROM orders
), s AS (
  SELECT raw,
         regexp_replace(
           translate(raw, '{TO_DIGIT_SRC.replace("'", "''")}',
                     '{TO_DIGIT_DST}'),
           '\\D', '', 'g') AS digits,
         replace(translate(raw, '{TO_DIGIT_SRC.replace("'", "''")}',
                           '{TO_DIGIT_DST}'), ' ', '') AS despaced
  FROM t
)
SELECT raw,
       CASE WHEN length(digits) = 16 THEN digits
            WHEN length(digits) > 16 THEN
              nullif(regexp_extract(despaced, '\\d{{16}}', 0), '')
            ELSE NULL END AS nik16
FROM s
"""


# ---------------------------------------------------------------------------
# N14: date strategy 1 — standard patterns (separator collapse)
# ---------------------------------------------------------------------------


def _date_str() -> F.Column:
    return F.date_format(F.col("o_orderdate"), "dd-MM-yyyy")


def tier_batches(batches):
    """The scalar-tier queries' ``mapInArrow`` stage: each batch comes
    back with ``value``, ``confidence`` and ``method`` appended, the
    result of the extraction kernel's own tier (functions/pandas_ktp.py)
    that a row's ``tier`` names, over its ``raw``:

    - ``date``: the date chain ``normalize_date``; a raw it cannot date
      gives all three null;
    - ``canon:<field>``: the N25 canonical map of pekerjaan,
      status_perkawinan or kewarganegaraan, or the agama WRatio tier
      (``value`` only);
    - ``enum:<field>``: the N34 enum correction, (null, null) when no
      tier fires;
    - ``place``: the N35 place correction.

    A null raw gives all three null. The queries repeat raw values
    heavily (a date query holds at most ~2,400 distinct raws) and every
    tier is a pure function of its input, so rows go through a bounded
    memo on (tier, raw) local to the call. A module-level function, so
    workers import it by reference."""
    from functools import lru_cache

    import pyarrow as pa

    from .functions import pandas_ktp as PK

    canon = {"pekerjaan": PK.OCCUPATION.normalize,
             "status_perkawinan": PK.MARITAL_STATUS.normalize,
             "kewarganegaraan": PK.CITIZENSHIP.normalize,
             "agama": PK._agama_one}

    @lru_cache(maxsize=1 << 16)
    def one(tier, raw):
        if raw is None:
            return None, None, None
        if tier == "date":
            r = PK.normalize_date(raw)
            if r["normalized"] is None:
                return None, None, None
            return r["normalized"], r["confidence"], r["method"]
        if tier == "place":
            return (*PK._correct_place_one(raw), None)
        kind, _, key = tier.partition(":")
        if kind == "enum":
            return (*(PK._correct_enum_one(key, raw) or (None, None)), None)
        return canon[key](raw), None, None

    for batch in batches:
        rows = [one(t, r) for t, r in zip(batch.column("tier").to_pylist(),
                                          batch.column("raw").to_pylist())]
        value, conf, method = zip(*rows) if rows else ((), (), ())
        yield pa.RecordBatch.from_arrays(
            [*batch.columns, pa.array(value, pa.string()),
             pa.array(conf, pa.float64()), pa.array(method, pa.string())],
            names=[*batch.schema.names, "value", "confidence", "method"])


def _run_tiers(df: DataFrame) -> DataFrame:
    """``df`` (with string columns ``tier`` and ``raw``) through
    ``tier_batches``."""
    return df.mapInArrow(tier_batches, T.StructType([
        *df.schema.fields, T.StructField("value", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("method", T.StringType())]))


def _date_query(df: DataFrame, raw: F.Column,
                with_method: bool = True) -> DataFrame:
    """The kernel's date chain over a raw column, one row per input row:
    raw, normalized, confidence rounded to 6 dp and (``with_method``)
    method; a raw the chain cannot date gives all three null."""
    out = _run_tiers(df.select(F.lit("date").alias("tier"),
                               raw.alias("raw")))
    cols = [
        F.col("raw"),
        F.col("value").alias("normalized"),
        F.round(F.col("confidence"), 6).alias("confidence"),
    ]
    if with_method:
        cols.append(F.col("method"))
    return out.select(*cols)


def nik_date_batches(batches):
    """``__spark_entry__.entry()``'s ``mapInArrow`` stage: each batch
    comes back with ``nik_repaired``, ``nik_conf`` and ``nik_source``
    (the kernel's NIK engine, ``pandas_ktp.nik_best_one``, over
    ``nik_ocr``) and ``tgl_lahir`` (the kernel's date chain,
    ``pandas_ktp.normalize_date``, over ``date_raw``) appended. A
    module-level function, so workers import it by reference."""
    import pyarrow as pa

    from .functions.pandas_ktp import nik_best_one, normalize_date

    for batch in batches:
        value, conf, source = [], [], []
        for raw in batch.column("nik_ocr").to_pylist():
            v, c, s = nik_best_one(raw)
            value.append(v)
            conf.append(c)
            source.append(s)
        dates = [normalize_date(raw)["normalized"]
                 for raw in batch.column("date_raw").to_pylist()]
        yield pa.RecordBatch.from_arrays(
            [*batch.columns, pa.array(value, pa.string()),
             pa.array(conf, pa.float64()), pa.array(source, pa.string()),
             pa.array(dates, pa.string())],
            names=[*batch.schema.names, "nik_repaired", "nik_conf",
                   "nik_source", "tgl_lahir"])


def q_date_standard(spark, sf_dir):
    df = _read(spark, sf_dir, "orders", fanout=True)
    raw = F.replace(_date_str(), F.lit("-"), F.lit(" "))
    return _date_query(df, raw)


SQL_DATE_STANDARD = """
WITH t AS (
  SELECT replace(strftime(o_orderdate, '%d-%m-%Y'), '-', ' ') AS raw
  FROM orders
), c AS (
  SELECT raw,
         regexp_replace(regexp_replace(raw, '[-/. ]{2,}', '-', 'g'),
                        '[-/. ]', '-', 'g') AS clean
  FROM t
), p AS (
  SELECT raw,
         CAST(regexp_extract(trim(clean),
              '^(\\d{1,2})-(\\d{1,2})-(\\d{4})$', 1) AS INT) AS d,
         CAST(regexp_extract(trim(clean),
              '^(\\d{1,2})-(\\d{1,2})-(\\d{4})$', 2) AS INT) AS m,
         CAST(regexp_extract(trim(clean),
              '^(\\d{1,2})-(\\d{1,2})-(\\d{4})$', 3) AS INT) AS y
  FROM c
)
SELECT raw,
       printf('%02d-%02d-%04d', d, m, y) AS normalized,
       round(0.97, 6) AS confidence,
       'strict_dd_mm_yyyy' AS method
FROM p
"""


# ---------------------------------------------------------------------------
# N16: date strategy 3 — 3-digit-year reconstruction
# ---------------------------------------------------------------------------


def q_date_3digit_year(spark, sf_dir):
    # restrict to 19xx dates so the dropped first year digit yields a
    # 900-999 three-digit year (the deterministic '1'||y3 branch)
    df = _read(spark, sf_dir, "orders", fanout=True).filter(
        F.year("o_orderdate") < 1999)
    raw = F.concat(F.substring(_date_str(), 1, 6),
                   F.substring(_date_str(), 8, 3))
    return _date_query(df, raw)


SQL_DATE_3DIGIT = """
WITH t AS (
  SELECT substr(strftime(o_orderdate, '%d-%m-%Y'), 1, 6)
         || substr(strftime(o_orderdate, '%d-%m-%Y'), 8, 3) AS raw
  FROM orders WHERE year(o_orderdate) < 1999
), p AS (
  SELECT raw,
         CAST(regexp_extract(trim(raw),
              '(\\d{1,2})-(\\d{1,2})-(\\d{3})$', 1) AS INT) AS d,
         CAST(regexp_extract(trim(raw),
              '(\\d{1,2})-(\\d{1,2})-(\\d{3})$', 2) AS INT) AS m,
         regexp_extract(trim(raw),
              '(\\d{1,2})-(\\d{1,2})-(\\d{3})$', 3) AS y3
  FROM t
), y AS (
  SELECT raw, d, m,
         CASE WHEN CAST(y3 AS INT) BETWEEN 900 AND 999
              THEN CAST('1' || y3 AS INT) END AS yr
  FROM p
)
SELECT raw,
       printf('%02d-%02d-%04d', d, m, yr) AS normalized,
       round(0.75, 6) AS confidence,
       '3digit_year_recon' AS method
FROM y
"""


# ---------------------------------------------------------------------------
# N21: year repair — generate-and-test, priority (pos asc, digit asc)
# ---------------------------------------------------------------------------


def q_year_repair(spark, sf_dir):
    # 19xx dates only: century misread 1992 → 1392 etc.
    df = _read(spark, sf_dir, "orders", fanout=True).filter(
        F.year("o_orderdate") < 1999)
    raw = F.replace(_date_str(), F.lit("-19"), F.lit("-13"))
    return _date_query(df, raw)


SQL_YEAR_REPAIR = """
WITH t AS (
  SELECT replace(strftime(o_orderdate, '%d-%m-%Y'), '-19', '-13') AS raw
  FROM orders WHERE year(o_orderdate) < 1999
), p AS (
  SELECT raw,
         CAST(regexp_extract(trim(raw),
              '^(\\d{1,2})-(\\d{1,2})-(\\d{4})$', 1) AS INT) AS d,
         CAST(regexp_extract(trim(raw),
              '^(\\d{1,2})-(\\d{1,2})-(\\d{4})$', 2) AS INT) AS m,
         regexp_extract(trim(raw),
              '^(\\d{1,2})-(\\d{1,2})-(\\d{4})$', 3) AS ys
  FROM t
), r AS (
  SELECT raw, d, m,
         list_filter(
           flatten(list_transform(range(1, 5), p2 ->
             list_transform(range(0, 10), dd ->
               TRY_CAST(substr(ys, 1, p2 - 1) || dd || substr(ys, p2 + 1)
                        AS INT)))),
           c -> c BETWEEN 1920 AND 2026)[1] AS yr
  FROM p
)
SELECT raw,
       printf('%02d-%02d-%04d', d, m, yr) AS normalized,
       round(CAST(0.97 * 0.80 AS DOUBLE), 6) AS confidence,
       'year_repair_strict_dd_mm_yyyy' AS method
FROM r
"""


# ---------------------------------------------------------------------------
# N20: day/month swap
# ---------------------------------------------------------------------------


def q_date_month_validation(spark, sf_dir):
    """MM-DD-YYYY inputs: rows whose textual month slot exceeds 12 must
    fail validation (normalized null) — exercises _build_result's hard
    month gate. (The reference's day/month *swap* branch at
    date_normalizer.py:283-287 is unreachable — it requires d > 31 AND
    d ≤ 12 simultaneously — so the month gate is what decides here.)"""
    df = _read(spark, sf_dir, "orders", fanout=True)
    raw = F.date_format(F.col("o_orderdate"), "MM-dd-yyyy")
    return _date_query(df, raw, with_method=False)


SQL_DATE_MONTH_VALIDATION = """
WITH t AS (
  SELECT strftime(o_orderdate, '%m-%d-%Y') AS raw,
         CAST(strftime(o_orderdate, '%d') AS INT) AS dd,
         CAST(strftime(o_orderdate, '%m') AS INT) AS mm,
         CAST(strftime(o_orderdate, '%Y') AS INT) AS yy
  FROM orders
)
SELECT raw,
       CASE WHEN dd <= 12
              AND TRY_CAST(printf('%04d-%02d-%02d', yy, dd, mm) AS DATE)
                  IS NOT NULL
            THEN printf('%02d-%02d-%04d', mm, dd, yy) END AS normalized,
       CASE WHEN dd <= 12
              AND TRY_CAST(printf('%04d-%02d-%02d', yy, dd, mm) AS DATE)
                  IS NOT NULL
            THEN round(CAST(0.97 AS DOUBLE), 6) END AS confidence
FROM t
"""


# ---------------------------------------------------------------------------
# N24: place/date split
# ---------------------------------------------------------------------------


def q_place_date_split(spark, sf_dir):
    df = _read(spark, sf_dir, "customer", fanout=False)
    raw = F.concat(F.upper(F.col("c_name")), F.lit(", 15-08-1990"))
    s = DT.split_place_date(raw)
    return df.select(
        raw.alias("raw"),
        s["place"].alias("place"),
        s["date_raw"].alias("date_raw"),
    )


SQL_PLACE_DATE_SPLIT = """
SELECT upper(c_name) || ', 15-08-1990' AS raw,
       nullif(regexp_replace(trim(split_part(
           upper(c_name) || ', 15-08-1990', ',', 1)),
           '^[.:\\- ]+|[.:\\- ]+$', '', 'g'), '') AS place,
       '15-08-1990' AS date_raw
FROM customer
"""


# ---------------------------------------------------------------------------
# N28: RT/RW normalization
# ---------------------------------------------------------------------------


def q_rtrw(spark, sf_dir):
    df = _read(spark, sf_dir, "customer", fanout=False)
    raw = F.format_string("%d / %d", F.col("c_custkey") % 40,
                          F.col("c_custkey") % 17)
    return df.select(raw.alias("raw"),
                     FX.normalize_rt_rw(raw).alias("rt_rw"))


SQL_RTRW = """
WITH t AS (
  SELECT printf('%d / %d', c_custkey % 40, c_custkey % 17) AS raw
  FROM customer
)
SELECT raw,
       lpad(CAST(c_custkey_a AS VARCHAR), 3, '0') || '/' ||
       lpad(CAST(c_custkey_b AS VARCHAR), 3, '0') AS rt_rw
FROM (
  SELECT raw,
         regexp_extract(raw, '(\\d+)', 1) AS c_custkey_a,
         regexp_extract(raw, '\\d+ / (\\d+)', 1) AS c_custkey_b
  FROM t
)
"""


# ---------------------------------------------------------------------------
# N26/N27: status & gender keyword layers
# ---------------------------------------------------------------------------

_STATUS_INPUTS = [
    "CEL UM KAWIN", "SEL UM KAWIN", "BELUM KAWIN", "KAWIN", "MENIKAH",
    "CERAI HIDUP", "CERAI MATI", "CERAI", "BELUIERAWIN", "SINGLE",
    "LAJANG", "MARRIED",
]


def q_status_layers(spark, sf_dir):
    df = _read(spark, sf_dir, "customer", fanout=False)
    arr = F.array(*[F.lit(s) for s in _STATUS_INPUTS])
    raw = F.element_at(arr, (F.col("c_custkey") %
                             len(_STATUS_INPUTS)).cast("int") + 1)
    return df.select(raw.alias("raw"),
                     FX.status_keyword_layer(raw).alias("status"))


_STATUS_LIST_SQL = "[" + ", ".join(f"'{s}'" for s in _STATUS_INPUTS) + "]"

SQL_STATUS_LAYERS = f"""
WITH t AS (
  SELECT ({_STATUS_LIST_SQL})[
    CAST(c_custkey % {len(_STATUS_INPUTS)} AS INT) + 1] AS raw
  FROM customer
), n AS (
  SELECT raw,
         regexp_replace(regexp_replace(upper(raw),
           '\\bCEL\\s*UM\\b', 'BELUM', 'g'),
           '\\bSEL\\s*UM\\b', 'BELUM', 'g') AS v
  FROM t
)
SELECT raw,
  CASE WHEN v LIKE '%BELUM%' OR v LIKE '%SINGLE%' OR v LIKE '%LAJANG%'
         THEN 'BELUM KAWIN'
       WHEN regexp_matches(v, 'KAWIN|MARRIED') AND v NOT LIKE '%BELUM%'
         THEN 'KAWIN'
       WHEN (v LIKE '%CERAI%' OR v LIKE '%DIVORCED%') AND v LIKE '%HIDUP%'
         THEN 'CERAI HIDUP'
       WHEN (v LIKE '%CERAI%' OR v LIKE '%DIVORCED%') AND v LIKE '%MATI%'
         THEN 'CERAI MATI'
       WHEN v LIKE '%CERAI%' OR v LIKE '%DIVORCED%' THEN 'CERAI'
       WHEN v LIKE 'BELU%' AND v LIKE '%AWIN' THEN 'BELUM KAWIN'
       ELSE NULL END AS status
FROM n
"""


# ---------------------------------------------------------------------------
# N32: kabupaten artefact strip
# ---------------------------------------------------------------------------


def q_kabupaten_clean(spark, sf_dir):
    df = _read(spark, sf_dir, "nation", fanout=False)
    raw = F.concat(F.lit("XQ KOTA "), F.upper(F.col("n_name")))
    return df.select(raw.alias("raw"),
                     FX.clean_kabupaten(raw).alias("cleaned"))


# RE2 (DuckDB) lacks lookahead — keep the keyword via a backreference
# instead of Spark's zero-width (?=...) form; results are identical.
SQL_KABUPATEN_CLEAN = """
SELECT 'XQ KOTA ' || upper(n_name) AS raw,
       trim(regexp_replace(trim('XQ KOTA ' || upper(n_name)),
         '^[A-Z]{1,4}\\s+(KOTA\\b|KAB\\b|KABUPATEN\\b|JAKARTA\\b)',
         '\\1')) AS cleaned
FROM nation
"""


# ---------------------------------------------------------------------------
# C1: document-type detection over real document text
# ---------------------------------------------------------------------------


def q_doc_type(spark, sf_dir):
    df = _read(spark, sf_dir, "documents", fanout=True)
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.col("text").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )
    return df.select(
        F.col("doc_id"),
        classify.document_type(spans).alias("doc_type"),
    )


SQL_DOC_TYPE = """
WITH t AS (
  SELECT doc_id, upper(text) AS full_text,
         regexp_replace(upper(text), '\\s+', '', 'g') AS compact
  FROM documents
), s AS (
  SELECT doc_id, compact,
    (CASE WHEN full_text LIKE '%SURAT IZIN MENGEMUDI%' THEN 6 ELSE 0 END
     + CASE WHEN full_text LIKE '%DRIVING LICENSE%' THEN 6 ELSE 0 END
     + CASE WHEN full_text LIKE '%BERLAKU SAMPAI%' THEN 4 ELSE 0 END
     + CASE WHEN full_text LIKE '%KORLANTAS%' THEN 3 ELSE 0 END
     + CASE WHEN regexp_matches(full_text,
         '\\d{4}[-\\s]\\d{4}[-\\s]\\d{5,6}') THEN 4 ELSE 0 END
     + CASE WHEN full_text LIKE '%SATPAS%' THEN 2 ELSE 0 END
     + CASE WHEN full_text LIKE '%NOMOR SIM%' THEN 2 ELSE 0 END
     + CASE WHEN full_text LIKE '%NO. SIM%' THEN 2 ELSE 0 END
     + CASE WHEN full_text LIKE '%NO SIM%' THEN 2 ELSE 0 END
     + CASE WHEN full_text LIKE '%POLDA%' THEN 1 ELSE 0 END
     + CASE WHEN full_text LIKE '%POLRES%' THEN 1 ELSE 0 END
     + CASE WHEN full_text LIKE '%METRO JAYA%' THEN 1 ELSE 0 END
     + CASE WHEN full_text LIKE '%METROJAYA%' THEN 1 ELSE 0 END
     + CASE WHEN regexp_matches(full_text, '\\b[1-6]\\.\\s+[A-Z]')
         THEN 2 ELSE 0 END) AS sim_score,
    (CASE WHEN full_text LIKE '%KARTU TANDA PENDUDUK%' THEN 6 ELSE 0 END
     + CASE WHEN full_text LIKE '%KEWARGANEGARAAN%' THEN 4 ELSE 0 END
     + CASE WHEN full_text LIKE '%STATUS PERKAWINAN%' THEN 4 ELSE 0 END
     + CASE WHEN full_text LIKE '%BERLAKU HINGGA%' THEN 3 ELSE 0 END
     + CASE WHEN regexp_matches(compact, '\\b\\d{16}\\b') THEN 5 ELSE 0 END
     + CASE WHEN full_text LIKE '%PROVINSI%' THEN 2 ELSE 0 END
     + CASE WHEN full_text LIKE '%KABUPATEN%' THEN 2 ELSE 0 END
     + CASE WHEN full_text LIKE '%KECAMATAN%' THEN 2 ELSE 0 END
     + CASE WHEN regexp_matches(full_text, '\\bNIK\\b') THEN 3 ELSE 0 END
     + CASE WHEN full_text LIKE '%KEL/DESA%' THEN 1 ELSE 0 END
     + CASE WHEN full_text LIKE '%KEL./DESA%' THEN 1 ELSE 0 END
     + CASE WHEN full_text LIKE '%RT/RW%' THEN 1 ELSE 0 END
     + CASE WHEN full_text LIKE '%GOL. DARAH%' THEN 1 ELSE 0 END)
      AS ktp_score
  FROM t
)
SELECT doc_id,
  CASE WHEN sim_score > ktp_score AND sim_score >= 2 THEN 'SIM'
       WHEN ktp_score >= 2 THEN 'KTP'
       WHEN regexp_matches(compact, '\\d{16}') THEN 'KTP'
       ELSE 'UNKNOWN' END AS doc_type
FROM s
"""


# ---------------------------------------------------------------------------
# V1: NIK → demographic decode
# ---------------------------------------------------------------------------


def q_nik_decode(spark, sf_dir):
    df = _read(spark, sf_dir, "orders", fanout=True)
    nik = _nik_col("o_orderkey")
    dec = NK.nik_decode(nik)
    return df.select(
        nik.alias("nik"),
        dec["gender"].alias("gender"),
        dec["date_str"].alias("date_str"),
        dec["date_valid"].alias("date_valid"),
    )


SQL_NIK_DECODE = f"""
WITH t AS (SELECT {_NIK_SQL.format(k='o_orderkey')} AS nik FROM orders),
d AS (
  SELECT nik,
         CAST(substr(nik, 7, 2) AS INT) AS day_raw,
         CAST(substr(nik, 9, 2) AS INT) AS mon,
         CAST(substr(nik, 11, 2) AS INT) AS y2
  FROM t
), e AS (
  SELECT nik, mon,
         CASE WHEN day_raw > 40 THEN day_raw - 40 ELSE day_raw END AS day,
         CASE WHEN day_raw > 40 THEN 'PEREMPUAN'
              ELSE 'LAKI-LAKI' END AS gender,
         CASE WHEN y2 <= 26 THEN y2 + 2000 ELSE y2 + 1900 END AS yr
  FROM d
)
SELECT nik, gender,
       printf('%02d-%02d-%04d', day, mon, yr) AS date_str,
       (day BETWEEN 1 AND 31) AND (mon BETWEEN 1 AND 12)
         AND (yr BETWEEN 1920 AND 2026) AS date_valid
FROM e
"""


# ---------------------------------------------------------------------------
# V5: DOB-driven 15→16 padding (digit-major, position-minor)
# ---------------------------------------------------------------------------


def q_pad_nik_dob(spark, sf_dir):
    df = _read(spark, sf_dir, "orders", fanout=True)
    nik = _nik_col("o_orderkey")
    nik15 = F.substring(nik, 2, 15)           # drop the leading digit
    expected = F.substring(nik, 7, 6)         # true DOB segment
    return df.select(
        nik15.alias("nik15"),
        expected.alias("expected_dob"),
        NK.pad_nik_with_dob(nik15, expected).alias("padded"),
    )


SQL_PAD_NIK_DOB = f"""
WITH t AS (
  SELECT substr({_NIK_SQL.format(k='o_orderkey')}, 2, 15) AS nik15,
         substr({_NIK_SQL.format(k='o_orderkey')}, 7, 6) AS expected_dob
  FROM orders
)
SELECT nik15, expected_dob,
  list_filter(
    flatten(list_transform(range(0, 10), d ->
      list_transform(range(0, 16), p ->
        substr(nik15, 1, p) || d || substr(nik15, p + 1)))),
    c -> substr(c, 7, 6) = expected_dob)[1] AS padded
FROM t
"""


# ---------------------------------------------------------------------------
# N11: top-1-per-group ranking (deterministic tie-break)
# ---------------------------------------------------------------------------


def q_top1_per_group(spark, sf_dir):
    from pyspark.sql.window import Window

    df = _read(spark, sf_dir, "events", fanout=False)
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id",
                F.round(F.col("value"), 6).alias("value"))
    )


SQL_TOP1_PER_GROUP = """
SELECT user_id, event_id, round(value, 6) AS value
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rn
  FROM events
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Broadcast dimension join (every dictionary lookup at scale)
# ---------------------------------------------------------------------------


def q_broadcast_dim_join(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer", fanout=False)
    nation = _read(spark, sf_dir, "nation", fanout=False)
    region = _read(spark, sf_dir, "region", fanout=False)
    dim = F.broadcast(nation.join(F.broadcast(region),
                                  nation.n_regionkey == region.r_regionkey))
    return (
        cust.join(dim, cust.c_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
        .orderBy("r_name")
    )


SQL_BROADCAST_DIM_JOIN = """
SELECT r_name,
       count(*) AS n_customers,
       round(avg(c_acctbal), 6) AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# ---------------------------------------------------------------------------
# C5/V7: weighted completeness + composite score shape
# ---------------------------------------------------------------------------


def q_weighted_completeness(spark, sf_dir):
    df = _read(spark, sf_dir, "orders", fanout=False)
    score = (
        F.when(F.col("o_orderstatus").isNotNull(), F.lit(1.5)).otherwise(0.0)
        + F.when(F.col("o_totalprice") > 100000, F.lit(1.0)).otherwise(0.0)
        + F.when(F.col("o_orderpriority").startswith("1"),
                 F.lit(1.0)).otherwise(0.0)
        + F.when(F.col("o_custkey") % 2 == 0, F.lit(0.5)).otherwise(0.0)
    )
    return df.groupBy("o_orderstatus").agg(
        F.round(F.avg(score), 6).alias("avg_completeness"),
        F.count("*").alias("n"),
    ).orderBy("o_orderstatus")


SQL_WEIGHTED_COMPLETENESS = """
SELECT o_orderstatus,
       round(avg(
         (CASE WHEN o_orderstatus IS NOT NULL THEN 1.5 ELSE 0.0 END)
         + (CASE WHEN o_totalprice > 100000 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN o_orderpriority LIKE '1%' THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN o_custkey % 2 = 0 THEN 0.5 ELSE 0.0 END)), 6)
         AS avg_completeness,
       count(*) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Headline aggregation (TPC-H Q1 shape — bench workhorse)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    df = _read(spark, sf_dir, "lineitem", fanout=False)
    return (
        df.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)
         AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Tumbling-window aggregation over events (batch mode)
# ---------------------------------------------------------------------------


def q_events_hourly(spark, sf_dir):
    df = _read(spark, sf_dir, "events", fanout=False)
    return (
        df.groupBy(
            F.window("ts", "1 hour").getField("start").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("hour_start", "event_type")
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n, round(sum(value), 6) AS sum_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# §2.8 "not in the reference" relational shapes, closed as SQL-checkable
# demos: ROLLUP subtotals, INTERSECT/EXCEPT, and an HLL
# approx-distinct accuracy gate.
# ---------------------------------------------------------------------------


def q_rollup_pricing(spark, sf_dir):
    """Hierarchical subtotals: per (returnflag, linestatus), per
    returnflag, and grand total in one pass — Spark `rollup` = one
    Expand + hash aggregate, no multi-scan union."""
    df = _read(spark, sf_dir, "lineitem", fanout=False)
    return (
        df.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_first(),
                 F.col("l_linestatus").asc_nulls_first())
    )


SQL_ROLLUP_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def q_customer_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT over customer activity windows: customers
    ordering in both 1995 and 1996, minus those with any priority-1
    order. Set semantics (dedup), shuffle on the key only."""
    o = _read(spark, sf_dir, "orders", fanout=False)
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_custkey")
    return (
        y95.intersect(y96).exceptAll(urgent.distinct())
        .orderBy("o_custkey")
    )


SQL_CUSTOMER_SET_OPS = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY o_custkey
"""


def q_approx_distinct(spark, sf_dir):
    """Approximate aggregate gate: HyperLogLog++ distinct-count per
    order priority vs the exact count, asserting the documented ≤5%
    relative error INSIDE the result (the oracle can't replicate HLL
    registers across engines, but it can demand the accuracy
    contract: both emit the exact count and `approx_ok` must be
    true)."""
    # no fan-out: both aggregations shuffle on their own group keys and
    # their partial-agg (per-row) work is trivial, so the round-robin
    # exchange of 1.5M pairs was pure overhead (order-alternating A/B:
    # off wins 0.7 s at 1x and 1.4 s at 10x)
    o = _read(spark, sf_dir, "orders", fanout=False)
    pairs = o.select("o_orderpriority", "o_custkey")
    # exact and approx SPLIT into two aggregations: planned together,
    # the rewrite keys the first (partial) aggregate by
    # (priority, custkey) and materializes a ~3 KB HLL sketch buffer
    # per PAIR (~375k sketches through the exchange at sf1.0 — the
    # whole query cost). Split, the HLL partials are per (partition,
    # priority) — a handful of sketches — and the exact count shuffles
    # bare pairs. HLL merge is associative/commutative, so the sketch
    # (and a fortiori the approx_ok bound it feeds) is unchanged.
    exact = (
        pairs.distinct()
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("exact_custs"))
    )
    approx = pairs.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"))
    return (
        exact.join(F.broadcast(approx), "o_orderpriority")
        .select(
            "o_orderpriority",
            "exact_custs",
            (F.abs(F.col("approx") - F.col("exact_custs"))
             <= 0.05 * F.col("exact_custs")).alias("approx_ok"),
        )
        .orderBy("o_orderpriority")
    )


SQL_APPROX_DISTINCT = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS exact_custs,
       TRUE AS approx_ok
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# N25 fuzzy canonicalization + Agama WRatio tier (oracle-gated)
# ---------------------------------------------------------------------------
#
# The fuzzy tiers (token_set_ratio / WRatio scorers over the canonical
# alias maps; ktp_extractor.py:68-102,623-627) are not SQL-expressible,
# so the oracle uses the media_geometry fixture pattern: deterministic
# noisy inputs chosen by construction, with the expected canonical
# output pinned as a literal next to each input. The Spark side runs
# the extraction kernel's own tiers (``tier_batches``); the oracle
# replays only the pinned literals — if the production scorer drifts,
# the driver's value-hash gate fails.
#
# Each case is (field, raw_input, expected_canonical); the expected
# values were derived from the tier semantics at authoring time, and
# tests/test_tier_cases.py checks each one against both
# ``tier_batches`` and the independent pure-Python twin
# (``oracle.scalars``).

_FUZZY_CANON_CASES: list[tuple[str, str, str]] = [
    # pekerjaan — threshold 72 (exact-alias tier then token_set_ratio)
    ("pekerjaan", "WIRASWASTA", "WIRASWASTA"),
    ("pekerjaan", "WIRA SWASTA", "SWASTA"),
    ("pekerjaan", "PE TANI", "PETANI"),
    ("pekerjaan", "KARY. SWASTA", "KARYAWAN SWASTA"),
    ("pekerjaan", "DURUH HARIAN", "BURUH HARIAN LEPAS"),
    ("pekerjaan", "MENGURUS RUMAH TANGGA", "IBU RUMAH TANGGA"),
    ("pekerjaan", "PELAJARMAHASISWA", "PELAJAR/MAHASISWA"),
    ("pekerjaan", "NELAYAM", "NELAYAN"),
    ("pekerjaan", "PEDAGANQ", "PEDAGANG"),
    ("pekerjaan", "SUPR", "SUPIR"),
    ("pekerjaan", "BURUH HARIANEEPAS", "BURUH"),
    ("pekerjaan", "XZQW", "XZQW"),                 # below threshold
    # status perkawinan — threshold 65
    ("status_perkawinan", "BLM KAWIN", "BELUM KAWIN"),
    ("status_perkawinan", "BELUM KAVVIN", "BELUM KAWIN"),
    ("status_perkawinan", "MENIKAH", "KAWIN"),
    ("status_perkawinan", "JANDA", "CERAI MATI"),
    ("status_perkawinan", "KAWNI", "KAWIN"),
    ("status_perkawinan", "CERAI H1DUP", "CERAI HIDUP"),
    ("status_perkawinan", "QQQQ", "QQQQ"),         # below threshold
    # kewarganegaraan — threshold 80
    ("kewarganegaraan", "WNI", "WNI"),
    ("kewarganegaraan", "WN1", "WNI"),
    ("kewarganegaraan", "WARGANEGARA INDONESIA", "WNI"),
    ("kewarganegaraan", "ASING", "WNA"),
    ("kewarganegaraan", "WNNA", "WNA"),
    ("kewarganegaraan", "INDONESLA", "WNI"),
    ("kewarganegaraan", "ZZ", "ZZ"),               # below threshold
    # agama — WRatio extract_one, accept > 70
    ("agama", "ISLAM", "ISLAM"),
    ("agama", "1SLAM", "ISLAM"),
    ("agama", "KR1STEN", "KRISTEN"),
    ("agama", "HINDHU", "HINDU"),
    ("agama", "BUDHA", "BUDDHA"),
    ("agama", "KONGHUCHU", "KONGHUCU"),
    ("agama", "KATHOLIK", "KATOLIK"),
    ("agama", "XYZV", "XYZV"),                     # below threshold
]


def _case_arrays(cases):
    """(field, raw) columns selected from literal arrays by
    c_custkey mod."""
    n = len(cases)
    idx = (F.col("c_custkey") % n).cast("int") + 1
    field = F.element_at(F.array(*[F.lit(c[0]) for c in cases]), idx)
    raw = F.element_at(F.array(*[F.lit(c[1]) for c in cases]), idx)
    return field, raw


def _sql_list(vals) -> str:
    return "[" + ", ".join(
        "NULL" if v is None else "'" + v + "'" for v in vals) + "]"


def q_fuzzy_canonical(spark, sf_dir):
    """N25/Agama fuzzy tiers: each fixture row runs its field's
    ``canon:<field>`` tier through ``tier_batches``."""
    # fanout=False: the fixture is 15-30 short strings cycled over
    # customer; per-task Python worker init + the extra exchange cost
    # more than the fuzzy scoring saves (A/B at 1x and 10x: off wins)
    df = _read(spark, sf_dir, "customer", fanout=False)
    field, raw = _case_arrays(_FUZZY_CANON_CASES)
    out = _run_tiers(df.select(
        field.alias("field"), raw.alias("raw"),
        F.concat(F.lit("canon:"), field).alias("tier")))
    return out.select("field", "raw", F.col("value").alias("canonical"))


SQL_FUZZY_CANONICAL = f"""
WITH t AS (
  SELECT CAST(c_custkey % {len(_FUZZY_CANON_CASES)} AS INT) + 1 AS i
  FROM customer
)
SELECT ({_sql_list([c[0] for c in _FUZZY_CANON_CASES])})[i] AS field,
       ({_sql_list([c[1] for c in _FUZZY_CANON_CASES])})[i] AS raw,
       ({_sql_list([c[2] for c in _FUZZY_CANON_CASES])})[i] AS canonical
FROM t
"""


# ---------------------------------------------------------------------------
# N34 enum-field correction + N35 place-name correction (oracle-gated)
# ---------------------------------------------------------------------------
#
# Same fixture pattern as fuzzy_canonical: the Spark side runs the
# kernel's correction tiers (``tier_batches``'s ``enum:<field>`` and
# ``place``; ocr_corrector.py:368-477 semantics), the oracle replays
# pinned (corrected, confidence) literals. Enum cases where no tier
# fires yield NULL/NULL; place passthroughs keep the (possibly
# char-substituted) input at confidence 0.35 / 0.0 per the tier table.

_ENUM_PLACE_CASES: list[tuple[str, str, str, float]] = [
    # (field, raw, expected_corrected, expected_confidence)
    ("jenis_kelamin", "LAKI LAKI", "LAKI-LAKI", 1.0),
    ("jenis_kelamin", "PEREMPUAH", "PEREMPUAN", 0.89),
    ("jenis_kelamin", "LAKI-LAKI", "LAKI-LAKI", 1.0),
    ("jenis_kelamin", "PFREMPUAN", "PEREMPUAN", 0.89),
    ("agama", "ISLAW", "ISLAM", 0.8),
    ("agama", "KATOL1K", "KATOLIK", 0.93),
    ("agama", "KRISTEN", "KRISTEN", 1.0),
    ("agama", "QQFQ", None, None),                 # no tier fires
    ("golongan_darah", "0", "O", 0.93),            # char-sub tier
    ("golongan_darah", "A8", "AB", 0.93),
    ("golongan_darah", "AB", "AB", 1.0),
    ("golongan_darah", "XX", None, None),
    ("status_perkawinan", "BELUMKAWIN", "BELUM KAWIN", 0.95),
    ("status_perkawinan", "KAWLN", "KAWIN", 0.8),
    ("kewarganegaraan", "WM1", "WNI", 0.67),
    ("kewarganegaraan", "VVNI", "WNI", 0.57),
    ("place", "JAKARTA BARAT", "JAKARTA BARAT", 1.0),
    ("place", "JAKARTA 8ARAT", "JAKARTA BARAT", 0.95),
    ("place", "IAKARTA BARAT", "JAKARTA BARAT", 0.9),   # J/I variant
    ("place", "BANDUNQ", "BANDUNG", 0.86),
    ("place", "EBAK", "LEBAK", 0.89),
    ("place", "JAWA T1MUR", "JAWA TIMUR", 0.95),
    ("place", "SURABAYA", "SURABAYA", 1.0),
    ("place", "BEKAS1", "BEKASI", 0.95),
    ("place", "TANGERANG SELATAN", "TANGERANG SELATAN", 1.0),
    ("place", "KOTA XYZQW", "KOTA XYZQW", 0.35),   # low-conf passthrough
    ("place", "B", "B", 0.0),                      # too short
    ("place", "DEPOX", "DEPOX", 0.35),
]

def q_enum_place_correction(spark, sf_dir):
    """N34/N35 correction tiers: each fixture row runs the ``place``
    tier or its field's ``enum:<field>`` tier through
    ``tier_batches``."""
    # fanout=False: same trade as fuzzy_canonical (measured)
    df = _read(spark, sf_dir, "customer", fanout=False)
    field, raw = _case_arrays(_ENUM_PLACE_CASES)
    tier = F.when(field == "place", field).otherwise(
        F.concat(F.lit("enum:"), field))
    out = _run_tiers(df.select(field.alias("field"), raw.alias("raw"),
                               tier.alias("tier")))
    return out.select(
        "field", "raw", F.col("value").alias("corrected"),
        F.round(F.col("confidence"), 2).alias("confidence"))


def _sql_num_list(vals) -> str:
    return "[" + ", ".join(
        "NULL" if v is None else repr(float(v)) for v in vals) + "]"


SQL_ENUM_PLACE_CORRECTION = f"""
WITH t AS (
  SELECT CAST(c_custkey % {len(_ENUM_PLACE_CASES)} AS INT) + 1 AS i
  FROM customer
)
SELECT ({_sql_list([c[0] for c in _ENUM_PLACE_CASES])})[i] AS field,
       ({_sql_list([c[1] for c in _ENUM_PLACE_CASES])})[i] AS raw,
       ({_sql_list([c[2] for c in _ENUM_PLACE_CASES])})[i] AS corrected,
       ROUND(CAST(({_sql_num_list([c[3] for c in _ENUM_PLACE_CASES])})[i]
             AS DOUBLE), 2) AS confidence
FROM t
"""
