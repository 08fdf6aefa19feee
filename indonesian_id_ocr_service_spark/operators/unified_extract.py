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

from ..dictionaries import OUTPUT_FIELD_ORDER
from ..functions.pandas_ktp import finish_ktp
from . import sim_core
from .classify import document_type_py as identify_document_type
from .ktp_spatial import _extract_one_doc, resolve_nik

#: the extracted span sequence of one document (FIXTURES.md §1)
OUT_SPAN_TYPE = (
    "array<struct<kind:string,text:string,media_ref:string,order:int>>"
)

#: output field → flat column of the kernel's wide frame (``.`` → ``_``);
#: ``document_type`` is the ``doc_type`` column
OUT_COLS: dict[str, str] = {
    f: f.replace(".", "_") for f in OUTPUT_FIELD_ORDER
    if f != "document_type"
}

FULL_KERNEL_SCHEMA = (
    "doc_id string, doc_type string, media_refs array<string>, "
    + ", ".join(f"{col} string" for col in OUT_COLS.values())
    + f", field_methods map<string,string>, out_spans {OUT_SPAN_TYPE}"
)

_OUT_FIELDS = list(OUT_COLS)
_FIELD_KINDS = [f"field:{f}" for f in _OUT_FIELDS]


def _out_spans(doc_types, field_vals, medias):
    """The output span contract (format_to_target_json,
    ktp_extractor.py:750-805), columnar: per document the
    ``field:document_type`` span and every non-null field in output
    order — or, for UNKNOWN, the single ``error`` span — then its
    ``media`` spans, ``order`` running from 0. Built as flat
    kind/text/media_ref/order children plus list offsets, the way the
    kernel reads its input."""
    import pyarrow as pa

    kinds: list = []
    texts: list = []
    refs: list = []
    offsets = [0]
    for i, doc_type in enumerate(doc_types):
        if doc_type == "UNKNOWN":
            kinds.append("error")
            texts.append("Unknown document type")
        else:
            kinds.append("field:document_type")
            texts.append(doc_type)
            for kind, col in zip(_FIELD_KINDS, field_vals):
                v = col[i]
                if v is not None:
                    kinds.append(kind)
                    texts.append(v)
        n_fields = len(kinds) - offsets[-1]
        refs += [""] * n_fields
        media = medias[i]
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


def full_kernel_batch_arrow(batches):
    """(doc_id, spans, span_geom[, spans_alt, alt_geom, span_conf]) →
    one row of FINAL output fields and output spans per document
    (FULL_KERNEL_SCHEMA).

    The span/geometry columns are consumed as flattened child arrays +
    list offsets, not per-span Python dicts: Arrow→pandas conversion of
    `array<struct>` columns builds one dict per span — measured ~3.4
    core-ms/doc of pure conversion at 100k docs, more than the
    extraction itself (1.8), and the allocation storm is memory-bound
    so it also caps multi-core scaling. Here the only per-span Python
    objects are the text strings the state machines need anyway."""
    import pyarrow as pa

    out_names = (["doc_id", "doc_type", "media_refs"]
                 + list(OUT_COLS.values())
                 + ["field_methods", "out_spans"])
    out_type_sim = pa.map_(pa.string(), pa.string())

    def list_parts(col):
        # a zero-copy slice's child array spans its whole parent table:
        # keep only this batch's elements and rebase the offsets on them
        off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        return off - off[0], col.values.slice(off[0], off[-1] - off[0])

    for rb in batches:
        n = rb.num_rows
        names = rb.schema.names
        doc_ids = rb.column("doc_id").to_pylist()

        sp_off, spv = list_parts(rb.column("spans"))
        sp_kind = spv.field("kind").to_pylist()
        sp_text = spv.field("text").to_pylist()
        sp_media = spv.field("media_ref").to_pylist()
        sg_off, sgv = list_parts(rb.column("span_geom"))
        g_y = sgv.field("y").to_numpy(zero_copy_only=False).astype(
            np.float64)
        g_x0 = sgv.field("x0").to_numpy(zero_copy_only=False).astype(
            np.float64)
        g_x1 = sgv.field("x1").to_numpy(zero_copy_only=False).astype(
            np.float64)
        g_h = sgv.field("h").to_numpy(zero_copy_only=False).astype(
            np.float64)

        has_alt = "spans_alt" in names and "alt_geom" in names
        if has_alt:
            sa_col = rb.column("spans_alt")
            sa_valid = np.asarray(sa_col.is_valid())
            sa_off, sav = list_parts(sa_col)
            sa_kind = sav.field("kind").to_pylist()
            sa_text = sav.field("text").to_pylist()
            sa_media = sav.field("media_ref").to_pylist()
            ag_off, agv = list_parts(rb.column("alt_geom"))
            a_y = agv.field("y").to_numpy(zero_copy_only=False).astype(
                np.float64)
            a_x0 = agv.field("x0").to_numpy(
                zero_copy_only=False).astype(np.float64)
            a_x1 = agv.field("x1").to_numpy(
                zero_copy_only=False).astype(np.float64)
            a_h = agv.field("h").to_numpy(zero_copy_only=False).astype(
                np.float64)

        has_conf = "span_conf" in names
        if has_conf:
            cf_col = rb.column("span_conf")
            cf_valid = np.asarray(cf_col.is_valid())
            cf_off, cfv = list_parts(cf_col)
            cf_vals = cfv.to_numpy(zero_copy_only=False).astype(
                np.float64)

        def prim_view(i):
            a, b = sp_off[i], sp_off[i + 1]
            kinds = sp_kind[a:b]
            txt = [j for j in range(b - a) if kinds[j] == "text"]
            texts = [sp_text[a + j] for j in txt]
            idx = sg_off[i] + np.asarray(txt, dtype=np.int64)
            media = [sp_media[a + j] for j in range(b - a)
                     if kinds[j] == "media"]
            return texts, idx, media, a, txt

        def alt_view(i):
            a, b = sa_off[i], sa_off[i + 1]
            kinds = sa_kind[a:b]
            txt = [j for j in range(b - a) if kinds[j] == "text"]
            texts = [sa_text[a + j] for j in txt]
            idx = ag_off[i] + np.asarray(txt, dtype=np.int64)
            media = [sa_media[a + j] for j in range(b - a)
                     if kinds[j] == "media"]
            return texts, idx, media

        def sim_items(texts, idx, gy, gx0, gh):
            return [
                {"text": t, "x0": float(gx0[j]), "h": float(gh[j]),
                 "y_center": float(2 * gy[j] + gh[j]) / 2}
                for t, j in zip(texts, idx)
            ]

        doc_types: list = []
        medias_out: list = []
        methods_out: list = []
        field_vals = [[None] * n for _ in _OUT_FIELDS]

        for i in range(n):
            texts, idx, media, span_a, txt_js = prim_view(i)
            gy, gx0, gx1, gh = g_y, g_x0, g_x1, g_h
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
            alt_ok = (has_alt and sa_valid[i]
                      and sa_off[i + 1] > sa_off[i])
            if doc_type == "UNKNOWN" and alt_ok:
                a_texts, a_idx, a_media = alt_view(i)
                alt_type = identify_document_type(a_texts)
                if alt_type != "UNKNOWN":
                    doc_type = alt_type
                    texts, idx, media = a_texts, a_idx, a_media
                    gy, gx0, gx1, gh = a_y, a_x0, a_x1, a_h
                    alt_ok = False

            alt_supplier = None
            if alt_ok and doc_type == "SIM":
                def alt_supplier(i=i):
                    at, ai, _m = alt_view(i)
                    return at, sim_items(at, ai, a_y, a_x0, a_h)

            methods: dict = {}
            result = None
            if doc_type == "KTP":
                y0 = gy[idx]
                y1 = y0 + gh[idx]
                raw = _extract_one_doc(texts, y0, y1, gx0[idx],
                                       gx1[idx], methods_out=methods)
                raw["NIK"] = resolve_nik(texts, y0, y1, raw.get("NIK"))
                result = finish_ktp(raw)
            elif doc_type == "SIM":
                result = sim_core.process_sim_doc(
                    texts, sim_items(texts, idx, gy, gx0, gh),
                    ocr_conf=ocr_conf, alt_supplier=alt_supplier)
            if result:
                for col, f in zip(field_vals, _OUT_FIELDS):
                    col[i] = result.get(f)
            doc_types.append(doc_type)
            medias_out.append(media)
            methods_out.append(methods)

        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_ids, pa.string()),
             pa.array(doc_types, pa.string()),
             pa.array(medias_out, pa.list_(pa.string()))]
            + [pa.array(v, pa.string()) for v in field_vals]
            + [pa.array(methods_out, out_type_sim),
               _out_spans(doc_types, field_vals, medias_out)],
            names=out_names,
        )
