"""Fuzzy string scorers (pure Python, rapidfuzz/thefuzz-compatible).

The reference pipeline leans on ``thefuzz`` (``fuzz.ratio``,
``fuzz.partial_ratio``, ``fuzz.token_set_ratio``, ``fuzz.WRatio`` via
``process.extractOne``) — see e.g. /root/reference/ktp_extractor.py:256-257,
290-291, 97; /root/reference/ocr_corrector.py:392-393, 463-464.
``thefuzz``/``rapidfuzz`` are not available in this environment, so this
module provides a self-contained implementation of the same scorer family:

- similarity base = normalized InDel distance (Levenshtein with
  substitution cost 2), the metric behind ``Levenshtein.ratio`` /
  rapidfuzz's ``fuzz.ratio``;
- ``partial_ratio`` uses the classic matching-blocks window search;
- token variants apply thefuzz's ``full_process`` (lowercase, strip
  non-alphanumeric) before comparing.

These functions run *inside* Arrow-batched pandas UDFs only — never as
row-at-a-time Spark UDFs — and only on the minority tier of rows that the
exact (JVM broadcast-join) tiers could not resolve.  At 100 TB scale the
exact tiers resolve the bulk of rows JVM-side; this Python fallback sees a
small residue per batch.
"""

from __future__ import annotations

import re
from difflib import SequenceMatcher
from functools import lru_cache

__all__ = [
    "full_process",
    "indel_distance",
    "ratio",
    "partial_ratio",
    "token_sort_ratio",
    "token_set_ratio",
    "wratio",
    "extract_one",
]

_NON_ALNUM = re.compile(r"(?ui)\W")


def full_process(s: str | None) -> str:
    """thefuzz's default preprocessor: non-alphanumeric → space, lower, trim."""
    if s is None:
        return ""
    return _NON_ALNUM.sub(" ", str(s)).lower().strip()


@lru_cache(maxsize=65536)
def _position_masks(b: str) -> dict:
    """Per-character position bitmasks over ``b`` (memoized — the mask
    side is usually a repeated vocabulary string)."""
    pm: dict = {}
    for i, c in enumerate(b):
        pm[c] = pm.get(c, 0) | (1 << i)
    return pm


def indel_distance(a: str, b: str) -> int:
    """InDel distance = Levenshtein with substitutions forbidden (cost 2).

    Equals ``len(a) + len(b) - 2 * LCS(a, b)``. LCS via the bit-parallel
    Crochemore/Hyyrö recurrence (V' = (V+U)|(V−U) with U = V & PM[c]):
    O(|a| · ⌈|b|/word⌉) — ~15× the classic two-row DP in pure Python,
    verified exactly equal on randomized cross-checks
    (tests/test_fuzzy_bitparallel.py).
    """
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return la + lb
    if lb > la:  # mask the shorter side: fewer bit-words per step
        a, b, la, lb = b, a, lb, la
    pm = _position_masks(b)
    v = (1 << lb) - 1
    for c in a:
        u = v & pm.get(c, 0)
        v = ((v + u) | (v - u)) & ((1 << lb) - 1)
    lcs = lb - v.bit_count()
    return la + lb - 2 * lcs


def ratio(a: str | None, b: str | None) -> int:
    """Normalized InDel similarity on 0–100, rounded to int (fuzz.ratio)."""
    a = "" if a is None else str(a)
    b = "" if b is None else str(b)
    total = len(a) + len(b)
    if total == 0:
        return 0
    return int(round(100.0 * (total - indel_distance(a, b)) / total))


def _ratio_f(a: str, b: str) -> float:
    """Unrounded 0–100 similarity, for internal max-comparisons."""
    total = len(a) + len(b)
    if total == 0:
        return 0.0
    return 100.0 * (total - indel_distance(a, b)) / total


@lru_cache(maxsize=16384)
def _prepped_matcher(longer: str) -> SequenceMatcher:
    """SequenceMatcher with the b-side (the expensive ``__chain_b``
    prep) baked in; callers vary seq1. One text span is compared
    against many vocabulary labels, so the b-side prep amortizes."""
    return SequenceMatcher(None, "", longer, autojunk=False)


def partial_ratio(a: str | None, b: str | None) -> int:
    """Best InDel ratio between the shorter string and any same-length
    window of the longer, window starts seeded by SequenceMatcher
    matching blocks (the classic fuzzywuzzy algorithm)."""
    a = "" if a is None else str(a)
    b = "" if b is None else str(b)
    if not a or not b:
        return 0
    shorter, longer = (a, b) if len(a) <= len(b) else (b, a)
    if shorter == longer:
        return 100
    m = _prepped_matcher(longer)
    m.set_seq1(shorter)
    best = 0.0
    for block in m.get_matching_blocks():
        start = max(block.b - block.a, 0)
        window = longer[start:start + len(shorter)]
        score = _ratio_f(shorter, window)
        if score > 99.5:
            return 100
        if score > best:
            best = score
    return int(round(best))


@lru_cache(maxsize=65536)
def _sorted_tokens(s: str) -> tuple[str, ...]:
    """Memoized: extract_one re-tokenizes the SAME query once per
    choice (56× for the job vocabulary) without this."""
    return tuple(sorted(full_process(s).split()))


def token_sort_ratio(a: str | None, b: str | None) -> int:
    """Ratio of the space-joined sorted token lists (fuzz.token_sort_ratio)."""
    return ratio(" ".join(_sorted_tokens(a or "")), " ".join(_sorted_tokens(b or "")))


def token_set_ratio(a: str | None, b: str | None) -> int:
    """fuzz.token_set_ratio: compare intersection-anchored token strings.

    The two inter-vs-sect components are closed-form — ``inter`` is a
    prefix (hence subsequence) of each sect string, so
    LCS(inter, sect) = len(inter) and the InDel ratio is exactly
    200·li/(li+lsect) — only the sect_a↔sect_b comparison needs the
    bit-parallel LCS. Verified equal to the three-ratio form in
    tests/test_fuzzy_bitparallel.py."""
    ta = set(_sorted_tokens(a or ""))
    tb = set(_sorted_tokens(b or ""))
    if not ta and not tb:
        return 0
    inter = " ".join(sorted(ta & tb))
    sect_a = (inter + " " + " ".join(sorted(ta - tb))).strip()
    sect_b = (inter + " " + " ".join(sorted(tb - ta))).strip()
    li = len(inter)
    best = 0
    if li:
        best = max(
            int(round(200.0 * li / (li + len(sect_a)))),
            int(round(200.0 * li / (li + len(sect_b)))),
        )
        if best == 100:            # one token set contains the other
            return 100
    return max(best, ratio(sect_a, sect_b))


def _partial_token_sort_ratio(a: str, b: str) -> int:
    return partial_ratio(" ".join(_sorted_tokens(a)), " ".join(_sorted_tokens(b)))


def _partial_token_set_ratio(a: str, b: str) -> int:
    ta = set(_sorted_tokens(a))
    tb = set(_sorted_tokens(b))
    if not ta and not tb:
        return 0
    inter = " ".join(sorted(ta & tb))
    sect_a = (inter + " " + " ".join(sorted(ta - tb))).strip()
    sect_b = (inter + " " + " ".join(sorted(tb - ta))).strip()
    return max(
        partial_ratio(inter, sect_a),
        partial_ratio(inter, sect_b),
        partial_ratio(sect_a, sect_b),
    )


def wratio(a: str | None, b: str | None) -> int:
    """fuzz.WRatio — thefuzz's default scorer for ``process.extractOne``.

    Weighted combination: plain ratio vs. 0.95-scaled token ratios; when
    string lengths differ by ≥1.5×, partial variants scaled by 0.9
    (length ratio < 8) or 0.6.
    """
    p1, p2 = full_process(a), full_process(b)
    if not p1 or not p2:
        return 0
    base = _ratio_f(p1, p2)
    len_ratio = max(len(p1), len(p2)) / min(len(p1), len(p2))
    unbase_scale = 0.95
    if len_ratio < 1.5:
        tsr = token_sort_ratio(p1, p2) * unbase_scale
        tse = token_set_ratio(p1, p2) * unbase_scale
        return int(round(max(base, tsr, tse)))
    partial_scale = 0.90 if len_ratio < 8 else 0.60
    pr = partial_ratio(p1, p2) * partial_scale
    ptsr = _partial_token_sort_ratio(p1, p2) * unbase_scale * partial_scale
    ptse = _partial_token_set_ratio(p1, p2) * unbase_scale * partial_scale
    return int(round(max(base, pr, ptsr, ptse)))


def _char_counts(s: str) -> dict:
    out: dict = {}
    for ch in s:
        out[ch] = out.get(ch, 0) + 1
    return out


def _partial_upper_bound(qc: dict, qlen: int, c: str) -> float:
    """Upper bound on partial_ratio(q, c).

    For any window w of the longer string, LCS(shorter, w) ≤ C (the
    common character multiset of shorter and the FULL longer) and
    LCS ≤ len(w), so ratio = 200·LCS/(len(s)+len(w)) is maximized at
    len(w) = min(C, len(s)):  bound = 200·C'/(len(s)+C'),
    C' = min(C, len(s)). Holds for truncated edge windows too."""
    cc = _choice_char_counts(c)
    common = 0
    if len(qc) <= len(cc):
        for ch, n in qc.items():
            m = cc.get(ch)
            if m:
                common += n if n < m else m
    else:
        for ch, n in cc.items():
            m = qc.get(ch)
            if m:
                common += n if n < m else m
    s_len = qlen if qlen <= len(c) else len(c)
    if s_len == 0 or common == 0:
        return 0.0
    c_eff = common if common < s_len else s_len
    return 200.0 * c_eff / (s_len + c_eff)


@lru_cache(maxsize=256)
def _prepped_choices(choices: tuple) -> tuple:
    """(raw, full_process(raw)) per choice — extract_one call sites
    loop fixed vocabularies (labels, canonical field values), so the
    per-call re-processing of every choice (one regex sub each) is
    pure repeat work. Only consulted for tuples of length ≥ 4: tiny
    ad-hoc tuples (e.g. single-span probes) are unique per call and
    would churn the cache."""
    return tuple((ch, full_process(ch)) for ch in choices)


@lru_cache(maxsize=65536)
def _choice_char_counts(c: str) -> dict:
    """Choice-side char multiset for the partial_ratio upper bound —
    choices repeat across calls; treat the returned dict as
    read-only."""
    return _char_counts(c)


def extract_one(query: str | None, choices, scorer=wratio,
                process_inputs=True, score_cutoff: int | None = None):
    """thefuzz's ``process.extractOne``: best (choice, score) by scorer.

    Applies ``full_process`` to both sides by default (as thefuzz does even
    when a custom scorer is passed).  Ties keep the earliest choice.
    Returns (None, 0) for an empty/unprocessable query or empty choices.

    For the partial_ratio scorer, choices whose character-multiset upper
    bound cannot beat the current best are skipped — strictly
    result-preserving (the bound dominates the score and ties keep the
    earlier choice).

    ``score_cutoff``: when set, scores BELOW the cutoff are not
    distinguished — choices whose upper bound is < cutoff may be
    skipped entirely, so the returned (choice, score) is exact only
    when score ≥ cutoff. For callers that threshold the result at
    ≥ cutoff this is result-preserving and much cheaper.
    """
    if query is None:
        return None, 0
    q = full_process(query) if process_inputs else str(query)
    if not q:
        return None, 0
    prune = scorer is partial_ratio
    qc = _char_counts(q) if prune else None
    best_choice, best_score = None, -1
    floor0 = -1 if score_cutoff is None else score_cutoff - 1
    if process_inputs and isinstance(choices, tuple) and len(choices) >= 4:
        pairs = _prepped_choices(choices)
    else:
        pairs = (
            (ch, full_process(ch) if process_inputs else str(ch))
            for ch in choices)
    for choice, c in pairs:
        if not c:
            continue
        floor = best_score if best_score > floor0 else floor0
        if prune and _partial_upper_bound(qc, len(q), c) <= floor:
            continue
        s = scorer(q, c)
        if s > best_score:
            best_choice, best_score = choice, s
    if best_choice is None:
        return None, 0
    return best_choice, best_score

