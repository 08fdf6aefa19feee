"""Single-document SIM oracle — wraps the shared per-document kernel
(operators.sim_core) with the span-contract field ordering.

The SIM path is dominated by sequential state machines (SURVEY §2.6);
the kernel is one implementation exercised by golden unit tests and by
the end-to-end span-equality gate (the mapInArrow extraction kernel
calls the same ``sim_core.process_sim_doc`` — the gate validates
classification routing, geometry plumbing, Arrow transfer and span
assembly).
"""

from __future__ import annotations

from ..dictionaries import OUTPUT_FIELD_ORDER
from ..operators import sim_core

#: SIM output omits agama/status_perkawinan/kewarganegaraan (they are
#: null in format_sim_to_json, sim_extractor.py:1049-1052), so the
#: shared order list works verbatim — null fields are skipped at emit.
SIM_OUTPUT_FIELD_ORDER = OUTPUT_FIELD_ORDER


def _view(spans, geom):
    texts_all = [s["text"] for s in spans if s["kind"] == "text"]
    items = []
    for sp, g in zip(spans, geom):
        if sp["kind"] != "text":
            continue
        y, h = g["y"], g["h"]
        items.append({
            "text": sp["text"],
            "x0": g["x0"],
            "h": h,
            "y_center": (y + (y + h)) / 2,
        })
    return texts_all, items


def process_sim(spans, geom, spans_alt=None, alt_geom=None,
                ocr_conf=None) -> dict:
    texts_all, items = _view(spans, geom)
    alt_texts, alt_items = (
        _view(spans_alt, alt_geom) if spans_alt else (None, None)
    )
    return sim_core.process_sim_doc(texts_all, items, alt_texts,
                                    alt_items, ocr_conf)
