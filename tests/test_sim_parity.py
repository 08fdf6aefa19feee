"""SIM semantic parity: operators/sim_core (the kernel the Spark
branch drives) vs oracle/sim_independent (a second implementation
written from the reference text, not from the kernel).

Round 3 covered the M8/M9/M12 state machines end-to-end; round 4
extends sim_independent to re-derive EVERY building block (M1-M4, M10,
M11, M13, kabupaten cleaner, and the fuzzy scorers themselves), so the
two implementations share only dictionaries and the separately
parity-gated date chain. The fuzzed per-block tests below double as a
correctness check of the optimized fuzzy kernels (bit-parallel LCS,
closed-form token_set components, prepared-vocabulary bounds) against naive
re-derivations.

Pure-Python test — no SparkSession needed.
"""

from __future__ import annotations

from indonesian_id_ocr_service_spark.corpus.generator import doc_rows
from indonesian_id_ocr_service_spark.operators import sim_core
from indonesian_id_ocr_service_spark.oracle import sim_independent as SI

N_DOCS = 3500


def _items(spans, geom):
    return [
        {"text": sp["text"], "x0": g["x0"], "h": g["h"],
         "y_center": (2 * g["y"] + g["h"]) / 2}
        for sp, g in zip(spans, geom) if sp["kind"] == "text"
    ]


def _views():
    """Both OCR views of every generated SIM doc (the alt view is the
    SmartSIM re-OCR — adversarial for the SMART path)."""
    for row in doc_rows(N_DOCS, fractions=(0.0, 1.0, 0.0)):
        doc_id, spans, geom, _conf, alt_spans, alt_geom = row
        yield doc_id + "/main", spans, geom
        if alt_spans:
            yield doc_id + "/alt", alt_spans, alt_geom


def test_sim_state_machine_parity():
    n = legacy = smart = mismatches = 0
    for label, spans, geom in _views():
        texts = [s["text"] for s in spans if s["kind"] == "text"]
        items = _items(spans, geom)
        if not items:
            continue
        n += 1
        rows = sim_core.cluster_rows(items)
        row_texts = [" ".join(x["text"] for x in r).strip()
                     for r in rows]
        if sim_core.detect_version(texts) == "LEGACY":
            legacy += 1
            a = sim_core.extract_legacy(row_texts)
            b = SI.legacy_extract(texts, items)
        else:
            smart += 1
            a = sim_core.extract_smart(texts, row_texts)
            b = SI.smart_extract(texts, items)
        if a != b:
            mismatches += 1
            assert a == b, f"{label}: {a} != {b}"
        # M12: feed whatever address lines the machine produced
        lines = a.get("raw_address_lines") or []
        pa = sim_core.parse_address_block(lines)
        pb = SI.parse_address_block(lines)
        assert pa == pb, f"{label} address: {pa} != {pb}"
    assert mismatches == 0
    assert n >= 3000, f"corpus too small: {n}"
    # both regimes must actually be exercised
    assert legacy >= 500 and smart >= 500, (legacy, smart)


def test_address_parser_parity_adversarial():
    """M12 on hand-built adversarial line sets (RT/RW pivots, kel/desa
    prefixes, comma splits, region lines, OCR '/'→'1')."""
    cases = [
        [],
        ["JL MERDEKA NO. 5", "RT 003 RW 007", "CIPUTAT, TANGERANG",
         "KOTA TANGERANG SELATAN"],
        ["Alamat: KP BARU RT.0051012", "KEL. SUKAMAJU", "KEC SETU"],
        ["DS SUKARASA RT 01/02 CIBADAK", "KABUPATEN SUKABUMI"],
        ["PERUM GRIYA ASRI BLOK C2", "RT 011 | 013", "BEKASI TIMUR",
         "KOTA BEKASI"],
        ["GG MAWAR 3", "SUKAJADI, COBLONG", "KOTA BANDUNG"],
        ["4. JL PAHLAWAN 17", "RW 05", "KARYAWAN SWASTA",
         "KOTA SURABAYA"],
        ["KEL CEMPAKA PUTIH RT 002 RW 003 KEC JOHAR BARU",
         "JAKARTA PUSAT"],
        ["R.T 04 R.W 09", "DESA MEKARSARI"],
        ["JALAN DIPONEGORO NO 1,", "MEDAN BARU", "KOTA MEDAN"],
    ]
    for lines in cases:
        assert (sim_core.parse_address_block(lines)
                == SI.parse_address_block(lines)), lines


# ---------------------------------------------------------------------------
# Building-block parity (round 4): sim_core's M1/M2/M3/M4/M10/M11/M13
# + kabupaten cleaner + the fuzzy scorers vs the independent re-derived
# versions in sim_independent, over fuzzed/mutated inputs. Closes the
# last place a shared bug could hide (VERDICT r3, missing #1).
# ---------------------------------------------------------------------------

import random
import string

from indonesian_id_ocr_service_spark.functions import fuzzy


def _mutate(rng, s: str) -> str:
    """Random OCR-ish corruption: substitutions, drops, inserts, case,
    punctuation and digit noise."""
    chars = list(s)
    for _ in range(rng.randrange(0, 4)):
        if not chars:
            break
        op = rng.randrange(4)
        i = rng.randrange(len(chars))
        if op == 0:
            chars[i] = rng.choice(string.ascii_letters + "0125/|.-")
        elif op == 1:
            del chars[i]
        elif op == 2:
            chars.insert(i, rng.choice(string.ascii_letters + " .:"))
        else:
            chars[i] = chars[i].swapcase()
    return "".join(chars)


def _word_soup(rng, n: int) -> str:
    return " ".join(
        "".join(rng.choices(string.ascii_uppercase, k=rng.randrange(2, 9)))
        for _ in range(n))


def test_scorer_parity_fuzzed():
    """token_set_ratio / partial_ratio: bit-parallel + closed-form
    kernel vs the naive DP re-implementation."""
    rng = random.Random(41)
    vocab = [t for terms in sim_core.PEKERJAAN_CANONICAL.values()
             for t in terms] + sim_core.INDONESIAN_REGIONS[:40]
    for k in range(1500):
        a = _mutate(rng, rng.choice(vocab))
        b = rng.choice(vocab) if k % 3 else _word_soup(rng, rng.randrange(1, 4))
        assert fuzzy.token_set_ratio(a, b) == SI._token_set(a, b), (a, b)
        pa = fuzzy.partial_ratio(fuzzy.full_process(a), fuzzy.full_process(b))
        pb = SI._partial(SI._prep(a), SI._prep(b))
        assert pa == pb, (a, b, pa, pb)


def test_cluster_rows_parity_fuzzed():
    rng = random.Random(42)
    for _ in range(400):
        n = rng.randrange(0, 25)
        items = [{"text": f"t{i}",
                  "x0": rng.randrange(0, 900),
                  "h": rng.randrange(8, 60),
                  "y_center": rng.choice([rng.randrange(0, 600),
                                          40 * rng.randrange(0, 12)
                                          + rng.randrange(-6, 7)])}
                 for i in range(n)]
        a = sim_core.cluster_rows([dict(x) for x in items])
        b = SI._rows_of([dict(x) for x in items])
        aa = [[(x["text"], x["x0"]) for x in row] for row in a]
        bb = [[(x["text"], x["x0"]) for x in row] for row in b]
        assert aa == bb, items


def test_identify_field_parity_fuzzed():
    rng = random.Random(43)
    variants = [v for vs in sim_core.ANCHORS.values() for v in vs]
    inputs = []
    for v in variants:
        inputs.append(v)
        for _ in range(25):
            inputs.append(_mutate(rng, v))
            inputs.append(_mutate(rng, v) + " " + _word_soup(rng, 1))
    for _ in range(300):
        inputs.append(_word_soup(rng, rng.randrange(1, 4)))
    inputs += ["", "ab", "1234", "Nama :", "NamaName BUDI"]
    for s in inputs:
        assert sim_core.identify_field(s) == SI._tag(s), s


def test_is_job_parity_fuzzed():
    rng = random.Random(44)
    terms = sim_core.ALL_PEKERJAAN_TERMS
    inputs = []
    for t in rng.sample(terms, min(40, len(terms))):
        inputs.append(t)
        for _ in range(8):
            inputs.append(_mutate(rng, t.title()))
    for _ in range(250):
        inputs.append(_word_soup(rng, rng.randrange(1, 4)))
    inputs += ["", "PNS", "abc", "KARYA WAN SWASTA"]
    for s in inputs:
        assert sim_core.is_job(s) == SI._looks_like_job(s), s


def test_garbage_and_kabupaten_parity_fuzzed():
    rng = random.Random(45)
    seeds = ["SEPEDA MOTOR <= 250 CC", "MOBIL PENUMPANG", "INDONESIA",
             "SURAT IZIN MENGEMUDI", "DRIVING LICENSE", "BLOOD TYPE",
             "PASSENGER / GOODS", "X", "", "JL MERDEKA 5",
             "PLACE OF BIRTH", "TRUK/BUS", "DITERBITKAN OLEH"]
    for s in seeds + [_mutate(rng, rng.choice(seeds)) for _ in range(400)]:
        assert sim_core.is_garbage(s) == SI._is_noise(s), s
    kabs = ["KOTA TANGERANG", "XYZ KOTA BANDUNG", "AB KABUPATEN BOGOR",
            "Q JAKARTA SELATAN", "PQRST KAB. SLEMAN", "BANDUNG",
            "ABCDEF KOTA DEPOK", "KAB BEKASI", "X SURABAYA", ""]
    for s in kabs + [_mutate(rng, rng.choice(kabs)) for _ in range(300)]:
        assert sim_core.clean_sim_kabupaten(s) == SI._strip_kab_prefix(s), s


def test_ttl_and_rtrw_parity_fuzzed():
    rng = random.Random(46)
    ttls = ["BOGOR, 01-07-1992", "JAKARTA 17 08 1985", "BANDUNG,05.12.4986",
            "SEMARANG", "BOGOR 7", ", 12-12-2001", "X, Y", "03-03-83",
            "TANGERANG, 31-02-1999", "DEPOK 1-1-199", "", "KOTA, 9/9/99"]
    for s in ttls + [_mutate(rng, rng.choice(ttls)) for _ in range(400)]:
        da, db = {}, {}
        sim_core._parse_ttl(s, da)
        SI._ttl_into(s, db)
        assert da == db, (s, da, db)
    for _ in range(600):
        mv = "".join(rng.choices("0123456789", k=rng.randrange(0, 6)))
        residue = ("".join(rng.choices("0123456789", k=rng.randrange(0, 4)))
                   + rng.choice(["", " JATIUWUNG", " X", "ABC"]))
        assert (sim_core.split_rtrw_ocr(mv, residue)
                == SI._recover_rtrw(mv, residue)), (mv, residue)


def test_region_line_parity_fuzzed():
    rng = random.Random(47)
    lines = (sim_core.INDONESIAN_REGIONS[:30]
             + ["KEC. " + r for r in sim_core.INDONESIAN_REGIONS[30:45]]
             + [_mutate(rng, r) for r in sim_core.INDONESIAN_REGIONS[45:90]]
             + [_word_soup(rng, rng.randrange(1, 4)) for _ in range(150)]
             + ["KOTA X", "KAB. Y", "KABUPATEN Z", "JL MERDEKA"])
    for s in lines:
        u = s.upper()
        assert sim_core._is_region_line(u) == SI._names_region(u), s


def _one_char_mutation(rng, s: str) -> str:
    """Substitute, delete or insert exactly one character."""
    i = rng.randrange(len(s))
    c = rng.choice(string.ascii_uppercase + string.digits + " ./-")
    op = rng.randrange(3)
    if op == 0:
        return s[:i] + c + s[i + 1:]
    if op == 1:
        return s[:i] + s[i + 1:]
    return s[:i] + c + s[i:]


def _threshold_subsequences(rng) -> list:
    """Deletion-only variants of every occupation alias whose InDel
    ratio to it lands on the M3 (80) or normaliser (72) threshold: the
    inputs whose exact score equals the pruning bound that must admit
    it."""
    out = []
    for alias in sorted({a.upper()
                         for aliases in sim_core.PEKERJAAN_CANONICAL.values()
                         for a in aliases}):
        n = len(alias)
        for k in range(1, n):
            if int(round(200.0 * k / (k + n))) in (72, 80):
                for _ in range(3):
                    keep = sorted(rng.sample(range(n), k))
                    out.append("".join(alias[i] for i in keep))
    return out


def test_job_matchers_match_independent():
    """M3 and the SIM occupation normaliser run on a vocabulary prepared
    once with exact score bounds; the oracle wraps the same kernel, so
    only this differential test can catch a bound that skips a term
    that matches. Inputs: every text span of both views of the SIM
    corpus, a one-character mutation of each, every occupation alias,
    and alias subsequences scoring exactly at the thresholds. The naive
    re-derivations are slow (~4 ms per input), so they run on a small
    process pool."""
    from concurrent.futures import ProcessPoolExecutor
    from multiprocessing import get_context

    from indonesian_id_ocr_service_spark.functions.pandas_ktp import (
        OCCUPATION,
    )
    from indonesian_id_ocr_service_spark.oracle import scalars as S

    rng = random.Random(46)
    texts = set()
    for row in doc_rows(N_DOCS, fractions=(0.0, 1.0, 0.0)):
        for spans in (row[1], row[4]):
            texts.update(s["text"] for s in spans or ()
                         if s["kind"] == "text" and s["text"])
    inputs = sorted(texts)
    inputs += [_one_char_mutation(rng, t) for t in inputs]
    inputs += sorted({a for aliases in sim_core.PEKERJAAN_CANONICAL.values()
                      for a in aliases})
    inputs += _threshold_subsequences(rng)
    assert len(inputs) > 20000

    with ProcessPoolExecutor(4, mp_context=get_context("spawn")) as ex:
        want_job = list(ex.map(SI._looks_like_job, inputs, chunksize=500))
        want_norm = list(ex.map(S.normalize_pekerjaan_sim, inputs,
                                chunksize=500))
    got_job = [sim_core.is_job(s) for s in inputs]
    got_norm = [OCCUPATION.normalize(s) for s in inputs]
    bad_job = [s for s, a, b in zip(inputs, got_job, want_job) if a != b]
    bad_norm = [(s, a, b) for s, a, b in zip(inputs, got_norm, want_norm)
                if a != b]
    assert not bad_job, bad_job[:5]
    assert not bad_norm, bad_norm[:5]
    # both outcomes of both matchers are exercised
    assert 0 < sum(got_job) < len(inputs)
    assert any(a != s for s, a in zip(inputs, got_norm))
