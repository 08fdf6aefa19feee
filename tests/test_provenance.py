"""Per-field extraction provenance (the reference's trace_info method
labels, ktp_extractor.py:344-347 / debug_ktp.py:127-133) must flow from
the spatial extractor into the kernel's frame (``pipeline._extract``),
the ``field_methods`` column."""

from __future__ import annotations

from pyspark.sql import functions as F

from indonesian_id_ocr_service_spark.corpus.generator import (
    SPAN_SCHEMA_DDL,
    doc_rows,
)
from indonesian_id_ocr_service_spark.operators.classify import (
    document_type_py,
)
from indonesian_id_ocr_service_spark.pipeline import _extract, run_pipeline

_KNOWN_METHODS = {
    "header_strip", "inline_extraction", "geometric_match",
    "geometric_match_multiline", "geometric_below_fallback",
    "typo_recovery", "regex_kawin_recovery", "value_keyword_recovery",
    "regex_date_place_recovery", "positional_inference_name",
    "regex_recovery_16_digits",
}


def _golden_df(spark):
    lines = [
        "PROVINSI DKI JAKARTA",           # K3 header_strip
        "KARTU TANDA PENDUDUK",
        "NIK : 3171014502900001",         # K4 inline_extraction
        "Nama",                           # key …
        "SITI AMINAH",                    # … value on the same line (K5)
        "Kewarganegaraan : WNI",
    ]
    ys = [10, 40, 70, 100, 100, 130]
    spans = [{"kind": "text", "text": t, "media_ref": "", "offset": i}
             for i, t in enumerate(lines)]
    geom = [{"y": y, "x0": 30 if t != "SITI AMINAH" else 200,
             "x1": (30 if t != "SITI AMINAH" else 200) + 9 * len(t),
             "h": 22}
            for t, y in zip(lines, ys)]
    return spark.createDataFrame(
        [("g-1", spans, geom, [0.9] * len(spans), [], [])],
        SPAN_SCHEMA_DDL)


def _ktp_rows(df):
    """The kernel's wide rows of the documents it extracts as KTP."""
    return _extract(df).filter(F.col("doc_type") == "KTP")


def test_methods_on_golden_doc(spark):
    [m] = _ktp_rows(_golden_df(spark)).select("field_methods").collect()
    fm = dict(m["field_methods"])
    assert fm["PROVINSI"] == "header_strip"
    assert fm["NIK"] == "inline_extraction"
    assert fm["Nama"] == "geometric_match"


def test_methods_vocabulary_on_corpus(spark):
    rows = list(doc_rows(80, fractions=(1.0, 0, 0)))
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)
    mets = _ktp_rows(df).select("doc_id", "field_methods").collect()
    assert len(mets) == 80
    seen = set()
    for r in mets:
        fm = dict(r["field_methods"] or {})
        assert fm, f"{r['doc_id']} carries no provenance"
        seen |= set(fm.values())
        assert set(fm.values()) <= _KNOWN_METHODS
    # the generator's noise mix should exercise several tiers
    assert len(seen) >= 3, seen


def test_fields_frame_matches_span_output(spark):
    """The kernel frame's KTP rows are exactly the docs the span output
    emits as KTP — including C3 retries, whose primary view classifies
    UNKNOWN and whose alternative view resolves to KTP."""
    rows = list(doc_rows(120, fractions=(0.6, 0.3, 0.1)))
    c3 = {r[0] for r in rows
          if document_type_py([s["text"] for s in r[1]
                               if s["kind"] == "text"]) == "UNKNOWN"}
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)
    ktp_spans = {
        r["doc_id"] for r in run_pipeline(df).collect()
        if ("field:document_type", "KTP")
        in {(s["kind"], s["text"]) for s in r["out_spans"]}
    }
    assert ktp_spans & c3, "corpus exercises no C3 retry to KTP"
    fields = {r["doc_id"]
              for r in _ktp_rows(df).select("doc_id").collect()}
    assert fields == ktp_spans, (sorted(ktp_spans - fields),
                                 sorted(fields - ktp_spans))
