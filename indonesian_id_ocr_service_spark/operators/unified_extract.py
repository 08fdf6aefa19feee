"""The extraction kernel: classify + extract every document and build
its output spans in ONE mapInArrow stage — the pipeline's only per-row
work.

Why not union-of-filtered-branches: with three filtered branches over
the same source, Spark plans three sub-trees — the source scan,
repartition exchange and classification each execute once per branch
(observed 3× executor time and no exchange reuse under AQE), and the
final union stage multiplies per-row work again. One Arrow pass that
dispatches per row on the document type keeps the whole pipeline a
single linear narrow chain: scan → kernel input projection → this
kernel → write, at full parallelism with zero duplicated subtrees.

Per batch, one Python loop takes each document from spans to final
output fields: classification, then for KTP the spatial claiming
(``ktp_spatial``), the NIK cleanup and repair tiers
(``ktp_spatial.resolve_nik``) and the cleanup → repair → crossval →
format finish (``functions/pandas_ktp.finish_ktp``), for SIM the
state machines (``sim_core.process_sim_doc``). ``_out_spans`` then
lays the batch's output spans out as flat Arrow children. The
span-equality gate checks the result against the independent
pure-Python oracle (``oracle/ktp.py``).

Classification here is the same scoring function the JVM expression
implements (operators/classify.py, oracle-checked as q_doc_type); the
Python form rides inside the batch loop that already holds the texts,
costing one string scan per document, so no JVM classifier runs ahead
of the kernel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..dictionaries import OUTPUT_FIELD_ORDER
from ..functions.pandas_ktp import finish_ktp
from . import sim_core
from .classify import document_type_py as identify_document_type
from .ktp_spatial import _extract_one_doc, resolve_nik

#: the extracted span sequence of one document (FIXTURES.md §1):
#: array<struct<kind:string,text:string,media_ref:string,order:int>>
OUT_SPAN_TYPE = ArrayType(StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("order", IntegerType()),
]))

#: the kernel's output schema, built as types rather than a DDL string
#: so that planning the kernel starts no SQL parser on the driver
FULL_KERNEL_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("doc_type", StringType()),
    StructField("field_methods", MapType(StringType(), StringType())),
    StructField("out_spans", OUT_SPAN_TYPE),
])

#: (result key, span kind) of every output field after document_type,
#: in output order
_FIELD_KINDS = [(f, f"field:{f}") for f in OUTPUT_FIELD_ORDER
                if f != "document_type"]


def _out_spans(doc_types, results, medias):
    """The output span contract (format_to_target_json,
    ktp_extractor.py:750-805), columnar: per document the
    ``field:document_type`` span and every non-null field of its result
    dict in output order — or, for UNKNOWN, the single ``error`` span —
    then its ``media`` spans, ``order`` running from 0. Built as flat
    kind/text/media_ref/order children plus list offsets, the way the
    kernel reads its input."""
    import pyarrow as pa

    kinds: list = []
    texts: list = []
    refs: list = []
    offsets = [0]
    for doc_type, result, media in zip(doc_types, results, medias):
        if doc_type == "UNKNOWN":
            kinds.append("error")
            texts.append("Unknown document type")
        else:
            kinds.append("field:document_type")
            texts.append(doc_type)
            if result:
                for f, kind in _FIELD_KINDS:
                    v = result.get(f)
                    if v is not None:
                        kinds.append(kind)
                        texts.append(v)
        n_fields = len(kinds) - offsets[-1]
        refs += [""] * n_fields
        kinds += ["media"] * len(media)
        texts += [""] * len(media)
        refs += media
        offsets.append(len(kinds))
    order = np.arange(len(kinds), dtype=np.int32) - np.repeat(
        np.asarray(offsets[:-1], dtype=np.int32), np.diff(offsets))
    spans = pa.StructArray.from_arrays(
        [pa.array(kinds, pa.string()), pa.array(texts, pa.string()),
         pa.array(refs, pa.string()), pa.array(order, pa.int32())],
        names=["kind", "text", "media_ref", "order"])
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), spans)


def _list_parts(col):
    """A list column's offsets (rebased to 0) and its child elements.
    A zero-copy slice's child array spans its whole parent table, so
    only this batch's elements are kept."""
    off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    return off - off[0], col.values.slice(off[0], off[-1] - off[0])


class _View:
    """One OCR view of a batch — a (spans, geometry) column pair, the
    primary ``spans``/``span_geom`` or the alternative
    ``spans_alt``/``alt_geom`` — read once as flattened child arrays
    plus list offsets. A null span text reads as "", an empty OCR
    read; only a batch that holds one pays for the fill."""

    def __init__(self, spans, geom):
        self.valid = np.asarray(spans.is_valid())
        self.off, sv = _list_parts(spans)
        self.kind = sv.field("kind").to_pylist()
        text = sv.field("text")
        if text.null_count:
            text = text.fill_null("")
        self.text = text.to_pylist()
        self.media = sv.field("media_ref").to_pylist()
        self.g_off, gv = _list_parts(geom)
        self.y, self.x0, self.x1, self.h = (
            gv.field(c).to_numpy(zero_copy_only=False).astype(np.float64)
            for c in ("y", "x0", "x1", "h"))

    def has_spans(self, i) -> bool:
        return bool(self.valid[i]) and self.off[i + 1] > self.off[i]

    def doc(self, i):
        """Document ``i``: its text-span texts, their geometry row
        indexes, its media refs and the text spans' positions."""
        a, b = self.off[i], self.off[i + 1]
        kinds = self.kind[a:b]
        txt = [j for j in range(b - a) if kinds[j] == "text"]
        texts = [self.text[a + j] for j in txt]
        idx = self.g_off[i] + np.asarray(txt, dtype=np.int64)
        media = [self.media[a + j] for j in range(b - a)
                 if kinds[j] == "media"]
        return texts, idx, media, txt

    def sim_items(self, texts, idx):
        return [
            {"text": t, "x0": float(self.x0[j]), "h": float(self.h[j]),
             "y_center": float(2 * self.y[j] + self.h[j]) / 2}
            for t, j in zip(texts, idx)
        ]


def full_kernel_batch_arrow(batches):
    """(doc_id, spans, span_geom[, spans_alt, alt_geom, span_conf]) →
    one row per document of its type, per-field provenance and output
    spans (FULL_KERNEL_SCHEMA).

    The span/geometry columns are consumed as flattened child arrays +
    list offsets (``_View``), not per-span Python dicts: Arrow→pandas
    conversion of `array<struct>` columns builds one dict per span —
    measured ~3.4 core-ms/doc of pure conversion at 100k docs, more
    than the extraction itself (1.8), and the allocation storm is
    memory-bound so it also caps multi-core scaling. Here the only
    per-span Python objects are the text strings the state machines
    need anyway."""
    import pyarrow as pa

    out_names = FULL_KERNEL_SCHEMA.names
    methods_type = pa.map_(pa.string(), pa.string())

    for rb in batches:
        n = rb.num_rows
        names = rb.schema.names
        doc_ids = rb.column("doc_id").to_pylist()
        prim = _View(rb.column("spans"), rb.column("span_geom"))
        alt = None
        if "spans_alt" in names and "alt_geom" in names:
            alt = _View(rb.column("spans_alt"), rb.column("alt_geom"))

        has_conf = "span_conf" in names
        if has_conf:
            cf_col = rb.column("span_conf")
            cf_valid = np.asarray(cf_col.is_valid())
            cf_off, cfv = _list_parts(cf_col)
            cf_vals = cfv.to_numpy(zero_copy_only=False).astype(
                np.float64)

        doc_types: list = []
        results: list = []
        medias_out: list = []
        methods_out: list = []

        for i in range(n):
            view = prim
            texts, idx, media, txt_js = prim.doc(i)
            doc_type = identify_document_type(texts)

            ocr_conf = None
            if has_conf and cf_valid[i] \
                    and cf_off[i + 1] > cf_off[i]:
                m = cf_off[i + 1] - cf_off[i]
                js = np.asarray([j for j in txt_js if j < m],
                                dtype=np.int64)
                cvals = cf_vals[cf_off[i] + js]
                cvals = cvals[~np.isnan(cvals)]
                ocr_conf = float(cvals.mean()) if cvals.size else 0.0

            # C2/C3 (document_processor.py:67-71,279-287): an UNKNOWN
            # primary view is reclassified on the alternative view and,
            # if that resolves, processed instead of the primary view
            alt_ok = alt is not None and alt.has_spans(i)
            if doc_type == "UNKNOWN" and alt_ok:
                a_texts, a_idx, a_media, _ = alt.doc(i)
                alt_type = identify_document_type(a_texts)
                if alt_type != "UNKNOWN":
                    doc_type = alt_type
                    texts, idx, media = a_texts, a_idx, a_media
                    view = alt
                    alt_ok = False

            alt_supplier = None
            if alt_ok and doc_type == "SIM":
                def alt_supplier(i=i):
                    at, ai, _m, _ = alt.doc(i)
                    return at, alt.sim_items(at, ai)

            methods: dict = {}
            result = None
            if doc_type == "KTP":
                y0 = view.y[idx]
                y1 = y0 + view.h[idx]
                raw = _extract_one_doc(texts, y0, y1, view.x0[idx],
                                       view.x1[idx], methods_out=methods)
                raw["NIK"] = resolve_nik(texts, y0, y1, raw.get("NIK"))
                result = finish_ktp(raw)
            elif doc_type == "SIM":
                result = sim_core.process_sim_doc(
                    texts, view.sim_items(texts, idx),
                    ocr_conf=ocr_conf, alt_supplier=alt_supplier)
            doc_types.append(doc_type)
            results.append(result)
            medias_out.append(media)
            methods_out.append(methods)

        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_ids, pa.string()),
             pa.array(doc_types, pa.string()),
             pa.array(methods_out, methods_type),
             _out_spans(doc_types, results, medias_out)],
            names=out_names,
        )
