"""Scalar post-chain parity: the kernel's KTP finish — the per-document
NIK resolution (ktp_spatial.resolve_nik) feeding the per-document
cleanup → repair → crossval → format (``pandas_ktp.finish_ktp``) — must
match the pure-Python oracle chain field-for-field on identical raw
inputs. The span-equality suite checks the same chain end to end."""

from __future__ import annotations

import numpy as np

from indonesian_id_ocr_service_spark.corpus.generator import generate_doc
from indonesian_id_ocr_service_spark.functions import pandas_ktp as PK
from indonesian_id_ocr_service_spark.operators.ktp_spatial import (
    FIELD_COLS,
    resolve_nik,
)
from indonesian_id_ocr_service_spark.oracle import ktp as O

N_DOCS = 500


def test_post_chain_matches_oracle_chain():
    rows, expected = [], []
    for i in range(N_DOCS * 2):
        d = generate_doc(i, fractions=(1.0, 0, 0))
        if d.doc_class != "KTP":
            continue
        spans = [{"kind": k, "text": t, "media_ref": m, "offset": o}
                 for k, t, m, o in d.spans]
        geom = [{"y": y, "x0": x0, "x1": x1, "h": h}
                for y, x0, x1, h in d.geom]
        items = O.build_items(spans, geom)
        raw = O.post_process(O.filter_spatial_outliers(items))
        expected.append(O.format_output(O.cross_validate(
            O.repair(O.cleanup_data(raw), items))))
        row = {lab: raw.get(lab) for lab in FIELD_COLS}
        texts = [s["text"] for s in spans if s["kind"] == "text"]
        y0 = np.array([g["y"] for s, g in zip(spans, geom)
                       if s["kind"] == "text"], float)
        y1 = np.array([g["y"] + g["h"] for s, g in zip(spans, geom)
                       if s["kind"] == "text"], float)
        row["NIK"] = resolve_nik(texts, y0, y1, raw.get("NIK"))
        rows.append(row)
        if len(rows) >= N_DOCS:
            break

    bad = []
    for i in range(len(rows)):
        got = PK.finish_ktp(rows[i])
        for f in got:
            ev = expected[i].get(f) or None
            gv = got[f]
            if ev != gv:
                bad.append((i, f, ev, gv))
    assert not bad, f"{len(bad)} field mismatches, first: {bad[:5]}"


def test_post_chain_adversarial_values():
    """Handcrafted nasties through both chains (no spans, so the
    tier-3 rescue has nothing to search)."""
    cases = [
        {"nik": ": NIK 3171O4S02900O01x", "ttl": "JAKARTA, 1-1-95"},
        {"nik": "317101450290000",            # 15 digits → DOB pad
         "ttl": "BANDUNG,14-02-1990", "jenis_kelamin": "PEREMPUAN"},
        {"nik": None, "ttl": ",", "rt_rw": "no digits here"},
        {"nik": "", "ttl": "SOLO 3.4.85", "kel_desa": "01/02"},
        {"nik": "12345", "agama": "1SLAM",
         "status_perkawinan": "CELUM KAWIN", "kabupaten": "XX KOTA"},
    ]
    labels = list(FIELD_COLS)
    rows, expected = [], []
    for c in cases:
        raw = {k: v for k, v in c.items() if v is not None}
        # map flat test keys back to raw labels
        label_map = {v: k for k, v in FIELD_COLS.items()}
        raw_l = {label_map[k]: v for k, v in raw.items()}
        expected.append(O.format_output(O.cross_validate(
            O.repair(O.cleanup_data(dict(raw_l)), []))))
        row = {lab: raw_l.get(lab) for lab in FIELD_COLS}
        row["NIK"] = resolve_nik([], np.empty(0), np.empty(0),
                                 raw_l.get("NIK"))
        rows.append(row)
    _ = labels
    for i in range(len(rows)):
        got = PK.finish_ktp(rows[i])
        for f in got:
            ev = expected[i].get(f) or None
            gv = got[f]
            assert ev == gv, (
                f"case {i} field {f}: oracle={ev!r} kernel={gv!r}")
