"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query over /root/testdata/sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2
(plus the training-data ops); each callable takes (spark, sf_dir).
``oracle_sql()`` — DuckDB-equivalent SQL per query (same column names,
same values; floats rounded identically on both sides).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from indonesian_id_ocr_service_spark import queries as Q  # noqa: E402
from indonesian_id_ocr_service_spark import queries_data as QD  # noqa: E402
from indonesian_id_ocr_service_spark import queries_e2e as QE  # noqa: E402
from indonesian_id_ocr_service_spark import queries_scoring as QS  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: NIK repair + date normalization over sf0.001 — repairs
    OCR-corrupted 15-digit NIKs synthesized from the orders table,
    normalizes a corrupted birth date and decodes the gender.

    The JVM builds ``nik_ocr``, ``date_raw`` and the gender
    (``nik.nik_decode``). One ``mapInArrow`` (``queries.nik_date_batches``)
    then runs the extraction kernel's NIK engine
    (``pandas_ktp.nik_best_one``: value, confidence, source label) and
    date chain (``pandas_ktp.normalize_date``) per row.
    """
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from indonesian_id_ocr_service_spark.functions import nik as NK

    sf_dir = "/root/testdata/sf0.001"
    orders = Q._read(spark, sf_dir, "orders", fanout=False)

    nik = Q._nik_col("o_orderkey")
    pre = orders.select(
        F.col("o_orderkey").alias("k"),
        nik.alias("nik_true"),
        F.substring(F.translate(nik, "018", "OIB"), 2, 15).alias("nik_ocr"),
        F.replace(F.date_format(F.col("o_orderdate"), "dd-MM-yyyy"),
                  F.lit("-19"), F.lit("-13")).alias("date_raw"),
        NK.nik_decode(nik)["gender"].alias("jenis_kelamin"),
    )
    out = pre.mapInArrow(Q.nik_date_batches, T.StructType(
        pre.schema.fields + [
            T.StructField("nik_repaired", T.StringType()),
            T.StructField("nik_conf", T.DoubleType()),
            T.StructField("nik_source", T.StringType()),
            T.StructField("tgl_lahir", T.StringType()),
        ]))
    return out.select(
        "k", "nik_true", "nik_ocr", "nik_repaired",
        F.round("nik_conf", 4).alias("nik_conf"),
        "nik_source", "tgl_lahir", "jenis_kelamin",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # §2.5 scalar normalizers / candidate engines
        "char_sub_to_digit": Q.q_char_sub_to_digit,
        "nik_structural": Q.q_nik_structural,
        "clean_nik": Q.q_clean_nik,
        "date_standard": Q.q_date_standard,
        "date_3digit_year": Q.q_date_3digit_year,
        "year_repair": Q.q_year_repair,
        "date_month_validation": Q.q_date_month_validation,
        "place_date_split": Q.q_place_date_split,
        "rtrw_normalize": Q.q_rtrw,
        "status_layers": Q.q_status_layers,
        "kabupaten_clean": Q.q_kabupaten_clean,
        "fuzzy_canonical": Q.q_fuzzy_canonical,
        "enum_place_correction": Q.q_enum_place_correction,
        # §2.3 classification
        "doc_type": Q.q_doc_type,
        # flagship extraction end-to-end (K/N/V series + span assembly
        # through the production mapInArrow kernel)
        "ktp_extraction_e2e": QE.q_ktp_extraction_e2e,
        "sim_extraction_e2e": QE.q_sim_extraction_e2e,
        # §2.7 cross-validation & scoring
        "nik_decode": Q.q_nik_decode,
        "pad_nik_dob": Q.q_pad_nik_dob,
        "confidence_scoring": QS.q_confidence_scoring,
        "ocr_confidence": QS.q_ocr_confidence,
        # §2.8 relational shapes
        "top1_per_group": Q.q_top1_per_group,
        "broadcast_dim_join": Q.q_broadcast_dim_join,
        "weighted_completeness": Q.q_weighted_completeness,
        "pricing_summary": Q.q_pricing_summary,
        "events_hourly": Q.q_events_hourly,
        "rollup_pricing": Q.q_rollup_pricing,
        "customer_set_ops": Q.q_customer_set_ops,
        "approx_distinct": Q.q_approx_distinct,
        # training-data ops
        "dedup_exact": QD.q_dedup_exact,
        "minhash_lsh": QD.q_minhash_lsh,
        "ngram_jaccard": QD.q_ngram_jaccard,
        "dedup_verified": QD.q_dedup_verified,
        "dedup_embedding": QD.q_dedup_embedding,
        "simhash": QD.q_simhash,
        "ann_cosine_topk": QD.q_ann_cosine_topk,
        "ann_lsh_bucket": QD.q_ann_lsh_bucket,
        "ann_ivf": QD.q_ann_ivf,
        "media_geometry": QD.q_media_geometry,
        "corpus_curation": QD.q_corpus_curation,
        "html_main_content": QD.q_html_main_content,
        "pdf_text": QD.q_pdf_text,
        "video_frames": QD.q_video_frames,
        "audio_features": QD.q_audio_features,
        "lang_id": QD.q_lang_id,
        "quality_score": QD.q_quality_score,
        "token_counts": QD.q_token_counts,
        "fingerprint": QD.q_fingerprint,
        "media_features": QD.q_media_features,
        "media_quality": QD.q_media_quality,
        "embedding_norms": QD.q_embedding_norms,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "char_sub_to_digit": Q.SQL_CHAR_SUB_TO_DIGIT,
        "nik_structural": Q.SQL_NIK_STRUCTURAL,
        "clean_nik": Q.SQL_CLEAN_NIK,
        "date_standard": Q.SQL_DATE_STANDARD,
        "date_3digit_year": Q.SQL_DATE_3DIGIT,
        "year_repair": Q.SQL_YEAR_REPAIR,
        "date_month_validation": Q.SQL_DATE_MONTH_VALIDATION,
        "place_date_split": Q.SQL_PLACE_DATE_SPLIT,
        "rtrw_normalize": Q.SQL_RTRW,
        "status_layers": Q.SQL_STATUS_LAYERS,
        "kabupaten_clean": Q.SQL_KABUPATEN_CLEAN,
        "fuzzy_canonical": Q.SQL_FUZZY_CANONICAL,
        "enum_place_correction": Q.SQL_ENUM_PLACE_CORRECTION,
        "doc_type": Q.SQL_DOC_TYPE,
        "ktp_extraction_e2e": QE.SQL_KTP_EXTRACTION_E2E,
        "sim_extraction_e2e": QE.SQL_SIM_EXTRACTION_E2E,
        "nik_decode": Q.SQL_NIK_DECODE,
        "pad_nik_dob": Q.SQL_PAD_NIK_DOB,
        "confidence_scoring": QS.SQL_CONFIDENCE_SCORING,
        "ocr_confidence": QS.SQL_OCR_CONFIDENCE,
        "top1_per_group": Q.SQL_TOP1_PER_GROUP,
        "broadcast_dim_join": Q.SQL_BROADCAST_DIM_JOIN,
        "weighted_completeness": Q.SQL_WEIGHTED_COMPLETENESS,
        "pricing_summary": Q.SQL_PRICING_SUMMARY,
        "events_hourly": Q.SQL_EVENTS_HOURLY,
        "rollup_pricing": Q.SQL_ROLLUP_PRICING,
        "customer_set_ops": Q.SQL_CUSTOMER_SET_OPS,
        "approx_distinct": Q.SQL_APPROX_DISTINCT,
        "dedup_exact": QD.SQL_DEDUP_EXACT,
        "minhash_lsh": QD.SQL_MINHASH_LSH,
        "ngram_jaccard": QD.SQL_NGRAM_JACCARD,
        "dedup_verified": QD.SQL_DEDUP_VERIFIED,
        "dedup_embedding": QD.SQL_DEDUP_EMBEDDING,
        "simhash": QD.SQL_SIMHASH,
        "ann_cosine_topk": QD.SQL_ANN_COSINE,
        "ann_lsh_bucket": QD.SQL_ANN_LSH_BUCKET,
        "ann_ivf": QD.SQL_ANN_IVF,
        "media_geometry": QD.SQL_MEDIA_GEOMETRY,
        "corpus_curation": QD.SQL_CORPUS_CURATION,
        "html_main_content": QD.SQL_HTML_MAIN_CONTENT,
        "pdf_text": QD.SQL_PDF_TEXT,
        "video_frames": QD.SQL_VIDEO_FRAMES,
        "audio_features": QD.SQL_AUDIO_FEATURES,
        "lang_id": QD.SQL_LANG_ID,
        "quality_score": QD.SQL_QUALITY,
        "token_counts": QD.SQL_TOKEN_COUNTS,
        "fingerprint": QD.SQL_FINGERPRINT,
        "media_features": QD.SQL_MEDIA_FEATURES,
        "media_quality": QD.SQL_MEDIA_QUALITY,
        "embedding_norms": QD.SQL_EMBEDDING_NORMS,
    }
