"""The extraction kernel is batch-independent, without Spark: every
document's ``out_spans`` equals the pure-Python oracle's, and is the
same whether the kernel sees it alone, among 7 documents or in one
batch of all of them — including a batch with no KTP document and a
KTP document whose only field is its NIK (every other output field of
that batch's KTP documents is missing) — and whether its batch is a
fresh array or a zero-copy slice of a larger table, which the kernel
reads only within the slice. A null span text reads as ""."""

from __future__ import annotations

import pyarrow as pa

from indonesian_id_ocr_service_spark.corpus.generator import doc_rows
from indonesian_id_ocr_service_spark.operators.unified_extract import (
    full_kernel_batch_arrow,
)
from indonesian_id_ocr_service_spark.oracle import ktp as ktp_oracle

N_DOCS = 300

_SPAN = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                            ("media_ref", pa.string()),
                            ("offset", pa.int32())]))
_GEOM = pa.list_(pa.struct([("y", pa.int32()), ("x0", pa.int32()),
                            ("x1", pa.int32()), ("h", pa.int32())]))


def _nik_only_doc():
    """A KTP document with one text span, a NIK whose month (13) fails
    the cross-validation date check, so ``nomor`` is its only field."""
    return ("doc-nik-only",
            [{"kind": "text", "text": "3171014513900001", "media_ref": "",
              "offset": 0},
             {"kind": "media", "text": "", "media_ref": "img/nik.png",
              "offset": 16}],
            [{"y": 40, "x0": 10, "x1": 200, "h": 20},
             {"y": 0, "x0": 0, "x1": 0, "h": 0}],
            [0.95, None], [], [])


def _batch(rows):
    ids, spans, geom, conf, alt, alt_geom = zip(*rows)
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.string()), pa.array(spans, _SPAN),
         pa.array(geom, _GEOM), pa.array(alt, _SPAN),
         pa.array(alt_geom, _GEOM),
         pa.array(conf, pa.list_(pa.float64()))],
        names=["doc_id", "spans", "span_geom", "spans_alt", "alt_geom",
               "span_conf"])


def _poison_batch():
    """A one-document batch whose span text is not UTF-8, so converting
    it to Python raises."""
    text = pa.array([b"\xff"], pa.binary()).view(pa.string())
    span = pa.StructArray.from_arrays(
        [pa.array(["text"]), text, pa.array([""]),
         pa.array([0], pa.int32())],
        fields=list(_SPAN.value_type))
    one = _batch([("doc-poison", [], [{"y": 0, "x0": 0, "x1": 9, "h": 9}],
                   [0.9], [], [])])
    return pa.RecordBatch.from_arrays(
        [one.column(0),
         pa.ListArray.from_arrays(pa.array([0, 1], pa.int32()), span),
         *one.columns[2:]],
        names=one.schema.names)


def _run(batches):
    out = {}
    for rb in full_kernel_batch_arrow(batches):
        for doc_id, spans in zip(rb.column("doc_id").to_pylist(),
                                 rb.column("out_spans").to_pylist()):
            out[doc_id] = spans
    return out


def test_kernel_output_is_batch_independent():
    rows = list(doc_rows(N_DOCS)) + [_nik_only_doc()]
    expected = {
        r[0]: ktp_oracle.process_document(r[0], r[1], r[2], r[4], r[5],
                                          r[3])
        for r in rows}
    assert [s["kind"] for s in expected["doc-nik-only"]] == [
        "field:document_type", "field:nomor", "media"]

    cuts = {size: _run([_batch(rows[i:i + size])
                        for i in range(0, len(rows), size)])
            for size in (1, 7, len(rows))}
    for size, got in cuts.items():
        bad = [d for d in expected if got[d] != expected[d]]
        assert not bad, (size, len(bad), bad[:3])

    no_ktp = [r for r in rows if expected[r[0]][0]["text"] != "KTP"]
    assert no_ktp and len(no_ktp) < len(rows)
    got = _run([_batch(no_ktp)])
    assert all(got[r[0]] == expected[r[0]] for r in no_ktp)
    assert _run([_batch([_nik_only_doc()])]) == {
        "doc-nik-only": expected["doc-nik-only"]}

    # zero-copy slices of one table with an unreadable document at each
    # end: a kernel that converted the whole parent's spans would raise
    poison = _poison_batch()
    table = pa.Table.from_batches(
        [poison, _batch(rows), poison]).combine_chunks()
    whole = table.to_batches()[0]
    n = len(rows)
    assert whole.num_rows == n + 2
    sliced = _run([whole.slice(1 + i, min(64, n - i))
                   for i in range(0, n, 64)])
    assert sliced == expected


def _oracle(row):
    doc_id, spans, geom, conf, alt, alt_geom = row
    return ktp_oracle.process_document(doc_id, spans, geom, alt, alt_geom,
                                       conf)


def _with_text(row, j, text):
    """``row`` with its ``j``-th span's text replaced."""
    spans = [dict(s) for s in row[1]]
    spans[j]["text"] = text
    return (row[0], spans, *row[2:])


def test_a_null_span_text_reads_as_empty():
    """One null span text (the second text span) in a KTP and in a SIM
    document: the kernel reads it as "", so the document's spans equal
    the oracle's with "" there, alone and inside a larger batch."""
    rows = list(doc_rows(40))
    for doc_type in ("KTP", "SIM"):
        row = next(r for r in rows if _oracle(r)[0]["text"] == doc_type)
        j = [k for k, s in enumerate(row[1]) if s["kind"] == "text"][1]
        want = _oracle(_with_text(row, j, ""))
        nulled = _with_text(row, j, None)
        assert _run([_batch([nulled])]) == {row[0]: want}
        assert _run([_batch(rows[:5] + [nulled])])[row[0]] == want
