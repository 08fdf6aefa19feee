"""The bit-parallel InDel distance is exactly the classic DP, and every
prepared vocabulary matches exactly as the plain extractOne loop."""

from __future__ import annotations

import random
import string
from concurrent.futures import ProcessPoolExecutor
from functools import partial
from multiprocessing import get_context

from indonesian_id_ocr_service_spark.corpus.generator import doc_rows
from indonesian_id_ocr_service_spark.dictionaries import (
    CANONICAL_FIELDS,
    FIELD_ENUMS,
    INDONESIAN_PLACES,
    KEWARGANEGARAAN_CANONICAL,
    KNOWN_VALUES,
    PEKERJAAN_CANONICAL,
    SIM_REGIONS,
    STATUS_PERKAWINAN_CANONICAL,
)
from indonesian_id_ocr_service_spark.functions import fuzzy
from indonesian_id_ocr_service_spark.functions import pandas_ktp as PK
from indonesian_id_ocr_service_spark.functions.fuzzy import indel_distance
from indonesian_id_ocr_service_spark.operators import ktp_spatial as KS
from indonesian_id_ocr_service_spark.operators import sim_core as SC
from indonesian_id_ocr_service_spark.oracle import scalars as S


def _indel_dp(a: str, b: str) -> int:
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return la + lb
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i]
        ca = a[i - 1]
        for j in range(1, lb + 1):
            if ca == b[j - 1]:
                cur.append(prev[j - 1])
            else:
                cur.append(1 + min(prev[j], cur[-1]))
        prev = cur
    return prev[lb]


def test_bitparallel_equals_dp():
    rng = random.Random(7)
    for _ in range(30000):
        n1, n2 = rng.randint(0, 40), rng.randint(0, 40)
        a = "".join(rng.choice("abcdef 0123") for _ in range(n1))
        b = "".join(rng.choice("abcdef 0123") for _ in range(n2))
        assert indel_distance(a, b) == _indel_dp(a, b), (a, b)


def test_bitparallel_long_strings():
    rng = random.Random(11)
    for _ in range(300):
        n1, n2 = rng.randint(60, 200), rng.randint(60, 200)
        a = "".join(rng.choice("abcdefgh") for _ in range(n1))
        b = "".join(rng.choice("abcdefgh") for _ in range(n2))
        assert indel_distance(a, b) == _indel_dp(a, b), (a, b)


# ---------------------------------------------------------------------------
# Prepared vocabularies (fuzzy.Vocabulary / fuzzy.AliasMap) vs the plain
# extractOne loop and the oracle's canonical-map tier
# ---------------------------------------------------------------------------

#: every production vocabulary with the scorer and cutoff its call
#: site uses: (name, prepared vocabulary, raw choices, scorer, cutoff)
VOCABULARIES = [
    ("labels", KS._LABELS, CANONICAL_FIELDS, fuzzy.partial_ratio, 81),
    *((f"keywords {field}", KS._KEYWORDS[field], values,
       fuzzy.token_set_ratio, 86) for field, values in KNOWN_VALUES.items()),
    ("jobs", SC._JOBS, SC.ALL_PEKERJAAN_TERMS, fuzzy.token_set_ratio, 80),
    ("regions", SC._REGIONS, SIM_REGIONS, fuzzy.partial_ratio, 82),
    ("places", PK._PLACES, INDONESIAN_PLACES, fuzzy.token_set_ratio, 82),
    ("agama", PK._AGAMA, KNOWN_VALUES["Agama"], fuzzy.wratio, 71),
    *((f"enum {key}", PK._ENUMS[key], cfg["values"], fuzzy.token_set_ratio,
       cfg["threshold"]) for key, cfg in FIELD_ENUMS.items()),
]
ALIAS_MAPS = [
    ("status", PK.MARITAL_STATUS, STATUS_PERKAWINAN_CANONICAL, 65),
    ("occupation", PK.OCCUPATION, PEKERJAAN_CANONICAL, 72),
    ("citizenship", PK.CITIZENSHIP, KEWARGANEGARAAN_CANONICAL, 80),
]


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


def _at_cutoff(rng, choices, scorer, cutoff) -> list:
    """Queries built from a choice that score exactly ``cutoff``
    against it: the inputs whose score equals the bound that must
    admit them. Deletion-only subsequences make the token_set_ratio
    length bound tight; a choice prefix after digits, or a suffix
    before digits, ends partial_ratio's window at the string's edge,
    which makes the char-multiset bound tight."""
    out = []
    for choice in choices:
        c = fuzzy.full_process(choice)
        n = len(c)
        cands = []
        for k in range(1, n):
            if int(round(200.0 * k / (k + n))) == cutoff:
                for _ in range(3):
                    keep = sorted(rng.sample(range(n), k))
                    cands.append("".join(c[i] for i in keep))
                cands.append("0" * (n - k + 1) + c[:k])
            for d in range(1, n - k):
                if int(round(200.0 * k / (2 * k + d))) == cutoff:
                    cands.append(c[n - k:] + "0" * d)
        out += [q for q in cands if scorer(fuzzy.full_process(q), c) == cutoff]
    return out


def _corpus_queries(rng) -> list:
    """Every text span of both OCR views of a generated mixed corpus,
    and a one-character mutation of each."""
    texts = set()
    for row in doc_rows(800):
        for spans in (row[1], row[4]):
            texts.update(s["text"] for s in spans or ()
                         if s["kind"] == "text" and s["text"])
    texts = sorted(texts)
    return texts + [_one_char_mutation(rng, t) for t in texts]


def test_vocabularies_match_plain_extract_one():
    """``Vocabulary.best`` skips choices on two score bounds; the plain
    extract_one loop over the raw choice list, filtered at the cutoff,
    is the reference. Random spans alone miss a weakened bound, so
    every vocabulary also gets its choices and the queries that score
    exactly at its cutoff. The reference runs on a small process pool
    (~2.5 ms per query for the place and region lists)."""
    rng = random.Random(48)
    corpus = _corpus_queries(rng)
    assert len(corpus) > 8000
    cases = []
    for name, vocab, choices, scorer, cutoff in VOCABULARIES:
        queries = (corpus + list(choices)
                   + _at_cutoff(rng, choices, scorer, cutoff))
        cases.append((name, vocab, choices, scorer, cutoff, queries))
    for name, amap, cmap, threshold in ALIAS_MAPS:
        aliases = [a for values in cmap.values() for a in values]
        queries = (corpus + aliases + _at_cutoff(
            rng, aliases, fuzzy.token_set_ratio, threshold))
        cases.append((name, amap, cmap, None, threshold, queries))

    with ProcessPoolExecutor(4, mp_context=get_context("spawn")) as ex:
        futures = []
        for name, vocab, choices, scorer, cutoff, queries in cases:
            ref = (partial(fuzzy.extract_one, choices=list(choices),
                           scorer=scorer) if scorer is not None
                   else partial(S.fuzzy_normalize_field,
                                canonical_map=choices, threshold=cutoff))
            futures.append(ex.map(ref, queries, chunksize=500))
        wants = [list(f) for f in futures]

    at_cutoff = 0
    for (name, vocab, choices, scorer, cutoff, queries), want in zip(
            cases, wants):
        if scorer is None:
            got = [vocab.normalize(q) for q in queries]
        else:
            got = [vocab.best(q, scorer, cutoff) for q in queries]
            want = [w if w[1] >= cutoff else (None, 0) for w in want]
            at_cutoff += sum(w[1] == cutoff for w in want)
        bad = [(q, g, w) for q, g, w in zip(queries, got, want) if g != w]
        assert not bad, (name, len(bad), bad[:5])
    assert at_cutoff > 100, at_cutoff
