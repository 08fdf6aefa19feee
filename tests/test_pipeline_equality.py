"""THE correctness gate: per-document span-sequence equality
(kind, text, media_ref, order) between the Spark pipeline and the
pure-Python oracle on the synthetic corpus (BASELINE.json input_hint).
"""

from __future__ import annotations

from indonesian_id_ocr_service_spark.corpus.generator import (
    SPAN_SCHEMA_DDL,
    doc_rows,
    generate_doc,
)
from indonesian_id_ocr_service_spark.oracle import ktp as ktp_oracle
from indonesian_id_ocr_service_spark.pipeline import run_pipeline

N_DOCS = 160


def _oracle_spans(i: int, fractions):
    d = generate_doc(i, fractions=fractions)
    spans = [{"kind": k, "text": t, "media_ref": m, "offset": o}
             for k, t, m, o in d.spans]
    geom = [{"y": y, "x0": x0, "x1": x1, "h": h}
            for y, x0, x1, h in d.geom]
    alt = [{"kind": k, "text": t, "media_ref": m, "offset": o}
           for k, t, m, o in d.alt_spans]
    alt_geom = [{"y": y, "x0": x0, "x1": x1, "h": h}
                for y, x0, x1, h in d.alt_geom]
    return d.doc_id, ktp_oracle.process_document(
        d.doc_id, spans, geom, alt, alt_geom, list(d.conf))


def _run_equality(spark, fractions, n_docs=N_DOCS):
    rows = list(doc_rows(n_docs, fractions=fractions))
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in sorted(r["out_spans"], key=lambda s: s["order"])
        ]
        for r in run_pipeline(df).collect()
    }
    n_bad = 0
    for i in range(n_docs):
        doc_id, expected = _oracle_spans(i, fractions)
        exp = [(s["kind"], s["text"], s["media_ref"], s["order"])
               for s in expected]
        if got.get(doc_id) != exp:
            n_bad += 1
            if n_bad <= 3:
                print(f"\n== MISMATCH {doc_id} ==")
                g = got.get(doc_id) or []
                for a, b in zip(exp, g):
                    flag = "  " if a == b else "->"
                    print(f" {flag} oracle={a}\n    spark ={b}")
                for extra in exp[len(g):]:
                    print(f" ++ oracle-only: {extra}")
                for extra in g[len(exp):]:
                    print(f" ++ spark-only : {extra}")
    assert n_bad == 0, f"{n_bad}/{n_docs} documents mismatched"


def test_ktp_span_equality(spark):
    """KTP + UNKNOWN mix: the KTP spatial extractor + post-chain and the
    UNKNOWN error span against the pure-Python oracle."""
    _run_equality(spark, fractions=(0.9, 0.0, 0.1))


def test_full_mix_span_equality_kernel(spark):
    """Full corpus mix incl. the SIM branch and the C3/C6 alt-view
    passes: validates the kernel plumbing + independent spatial
    extractor end-to-end."""
    _run_equality(spark, fractions=(0.6, 0.3, 0.1))


def test_kernel_pipeline_tolerates_v1_schema(spark):
    """A corpus WITHOUT the alternative view / confidence columns
    (round-1 schema) still runs through the arrow kernel: the kernel
    input projection and the kernel's optional-column handling degrade
    to single-view extraction."""
    from indonesian_id_ocr_service_spark.corpus.generator import (
        GEOM_STRUCT_DDL, SPAN_STRUCT_DDL)

    rows = [(r[0], r[1], r[2]) for r in doc_rows(40)]
    ddl = (f"doc_id string, spans {SPAN_STRUCT_DDL}, "
           f"span_geom {GEOM_STRUCT_DDL}")
    df = spark.createDataFrame(rows, ddl)
    out = run_pipeline(df).collect()
    assert len(out) == 40
    assert all(r["out_spans"] is not None and len(r["out_spans"]) > 0
               for r in out)


def _spans_of(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                      for s in r["out_spans"]]
        for r in run_pipeline(df).collect()
    }


def _assert_contract(doc_id, got, spans, geom, alt=None, alt_geom=None,
                     conf=None):
    exp = [(s["kind"], s["text"], s["media_ref"], s["order"])
           for s in ktp_oracle.process_document(doc_id, spans, geom, alt,
                                                alt_geom, conf)]
    assert got == exp, (doc_id, got, exp)
    assert [s[3] for s in got] == list(range(len(got))), doc_id
    kinds = [s[0] for s in got]
    n_media = kinds.count("media")
    assert kinds[len(kinds) - n_media:] == ["media"] * n_media, doc_id


def test_kernel_span_assembly_edge_cases(spark):
    """Kernel-built out_spans at the edges of span assembly equal the
    oracle's, with ``order`` contiguous from 0 and media after the
    field (or error) spans: a doc with no text spans (its alternative
    view resolves it, C3), a media-only doc, an empty ``spans`` array,
    a SIM doc whose optional columns are null and whose fields are
    mostly null, and the same docs in the v1 schema."""
    from indonesian_id_ocr_service_spark.corpus.generator import (
        GEOM_STRUCT_DDL, SPAN_STRUCT_DDL)

    ktp = next(iter(doc_rows(1, fractions=(1.0, 0.0, 0.0))))
    sim = next(iter(doc_rows(1, fractions=(0.0, 1.0, 0.0))))
    _, k_spans, k_geom, k_conf, _, _ = ktp
    _, s_spans, s_geom, s_conf, s_alt, s_alt_geom = sim
    media = [j for j, sp in enumerate(k_spans) if sp["kind"] == "media"]
    assert media and s_alt
    sparse = [j for j, sp in enumerate(s_spans)
              if sp["kind"] == "media"
              or sp["text"] in ("SURAT IZIN MENGEMUDI",
                                "BERLAKU SAMPAI 14-04-2029")]
    s_media = [j for j, sp in enumerate(s_spans) if sp["kind"] == "media"]
    rows = [
        ("no-text", [s_spans[j] for j in s_media],
         [s_geom[j] for j in s_media], [s_conf[j] for j in s_media],
         s_alt, s_alt_geom),
        ("media-only", [k_spans[j] for j in media],
         [k_geom[j] for j in media], [k_conf[j] for j in media], [], []),
        ("empty", [], [], [], None, None),
        ("sim-nulls", [s_spans[j] for j in sparse],
         [s_geom[j] for j in sparse], None, None, None),
    ]
    got = _spans_of(spark.createDataFrame(rows, SPAN_SCHEMA_DDL))
    assert len(got) == len(rows)
    for doc_id, spans, geom, conf, alt, alt_geom in rows:
        _assert_contract(doc_id, got[doc_id], spans, geom, alt, alt_geom,
                         conf)
    # the cases exercise what they name
    assert got["no-text"][0] == ("field:document_type", "SIM", "", 0)
    assert got["media-only"][0][0] == "error"
    assert got["empty"] == [("error", "Unknown document type", "", 0)]
    sim_fields = [s for s in got["sim-nulls"] if s[0].startswith("field:")]
    assert sim_fields[0][1] == "SIM" and len(sim_fields) < 6

    ddl = (f"doc_id string, spans {SPAN_STRUCT_DDL}, "
           f"span_geom {GEOM_STRUCT_DDL}")
    v1 = [r[:3] for r in rows] + [("ktp",) + ktp[1:3]]
    got = _spans_of(spark.createDataFrame(v1, ddl))
    assert len(got) == len(v1)
    for doc_id, spans, geom in v1:
        _assert_contract(doc_id, got[doc_id], spans, geom)
    assert got["ktp"][0] == ("field:document_type", "KTP", "", 0)
