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

Production code matches a query against a fixed vocabulary only through
``Vocabulary.best`` (and ``AliasMap``, the canonical-value tier built on
it): the extraction kernel's KTP labels, K8 keywords, SIM job and region
lists, and the agama/place/enum/alias tiers of the KTP finish, which
the driver queries also run through ``queries.tier_batches``. Each
vocabulary is prepared once per
process when its module is imported, and two exact score bounds skip the
choices that cannot win. ``extract_one`` is thefuzz's plain loop, with no
bound and no cache; the oracle calls it, so the oracle checks those
bounds against an independent reference.
"""

from __future__ import annotations

import re
from difflib import SequenceMatcher
from functools import lru_cache
from typing import NamedTuple

__all__ = [
    "full_process",
    "indel_distance",
    "ratio",
    "partial_ratio",
    "token_sort_ratio",
    "token_set_ratio",
    "wratio",
    "extract_one",
    "Vocabulary",
    "AliasMap",
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
    """Memoized: the plain extract_one loop tokenizes its query once
    per choice, and wratio tokenizes each side up to three times."""
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


def extract_one(query: str | None, choices, scorer=wratio):
    """thefuzz's ``process.extractOne``: best (choice, score) by scorer.

    Applies ``full_process`` to both sides (as thefuzz does even when a
    custom scorer is passed) and scores every choice. Ties keep the
    earliest choice. Returns (None, 0) for an empty/unprocessable query
    or empty choices. This plain loop is the reference the oracle runs;
    the kernel matches its fixed vocabularies with ``Vocabulary.best``.
    """
    if query is None:
        return None, 0
    q = full_process(query)
    if not q:
        return None, 0
    best_choice, best_score = None, -1
    for choice in choices:
        c = full_process(choice)
        if not c:
            continue
        s = scorer(q, c)
        if s > best_score:
            best_choice, best_score = choice, s
    if best_choice is None:
        return None, 0
    return best_choice, best_score


def _char_counts(s: str) -> dict:
    out: dict = {}
    for ch in s:
        out[ch] = out.get(ch, 0) + 1
    return out


def _common(a: dict, b: dict) -> int:
    """Size of the intersection of two char multisets."""
    if len(a) > len(b):
        a, b = b, a
    common = 0
    for ch, n in a.items():
        m = b.get(ch)
        if m:
            common += n if n < m else m
    return common


class _Entry(NamedTuple):
    """A choice (or a query) prepared for the two bounds: its
    full_process ``text`` and that string's char multiset
    (partial_ratio); its token set, the sorted tokens space-joined (the
    token_set_ratio sect string when no token is shared) and that
    string's char multiset (token_set_ratio)."""

    choice: str
    text: str
    counts: dict
    tokens: frozenset
    joined: str
    joined_counts: dict


def _prepare(choice: str, text: str) -> _Entry:
    tokens = frozenset(text.split())
    joined = " ".join(sorted(tokens))
    return _Entry(choice, text, _char_counts(text), tokens, joined,
                  _char_counts(joined))


def _partial_bound(qc: dict, ql: int, c: _Entry) -> float:
    """Upper bound on partial_ratio(q, c.text) for a query q of length
    ``ql`` and char multiset ``qc``.

    For any window w of the longer string, LCS(shorter, w) ≤ C (the
    common character multiset of shorter and the FULL longer) and
    LCS ≤ len(w), so ratio = 200·LCS/(len(s)+len(w)) is maximized at
    len(w) = min(C, len(s)):  bound = 200·C'/(len(s)+C'),
    C' = min(C, len(s)). Holds for truncated edge windows too."""
    common = _common(qc, c.counts)
    lc = len(c.text)
    s_len = ql if ql < lc else lc
    c_eff = common if common < s_len else s_len
    return 200.0 * c_eff / (s_len + c_eff)


def _token_set_at_least(q: _Entry, c: _Entry, need: int) -> int:
    """token_set_ratio(q.text, c.text) when it is ≥ ``need``, else -1.

    Exact: the sect strings hold every token of their side, so their
    lengths and char multisets are those of ``joined``, and the InDel
    component 200·LCS/(la+lb) is bounded by LCS ≤ min(la, lb, common
    chars). Only a choice whose bound reaches ``need`` and beats the
    closed-form intersection component pays for the bit-parallel LCS."""
    la, lb = len(q.joined), len(c.joined)
    shared = q.tokens & c.tokens
    inter = ""
    closed = 0
    if shared:
        inter = " ".join(sorted(shared))
        li = len(inter)
        closed = max(int(round(200.0 * li / (li + la))),
                     int(round(200.0 * li / (li + lb))))
        if closed == 100:
            return 100
    total = la + lb
    m = la if la < lb else lb
    bound = int(round(200.0 * m / total))
    if bound >= need and bound > closed:
        common = _common(q.joined_counts, c.joined_counts)
        if common < m:
            bound = int(round(200.0 * common / total))
    if bound < need or bound <= closed:
        return closed if closed >= need else -1
    if shared:
        sect_a = (inter + " " + " ".join(sorted(q.tokens - shared))).strip()
        sect_b = (inter + " " + " ".join(sorted(c.tokens - shared))).strip()
    else:
        sect_a, sect_b = q.joined, c.joined
    score = max(closed, ratio(sect_a, sect_b))
    return score if score >= need else -1


class Vocabulary:
    """A fixed choice list, prepared once when the module that owns it
    is imported (per executor process, not per call)."""

    def __init__(self, choices):
        self._entries = tuple(_prepare(ch, text) for ch in choices
                              if (text := full_process(ch)))

    def best(self, query: str | None, scorer, score_cutoff: int):
        """``extract_one(query, choices, scorer)`` when its score is
        ≥ ``score_cutoff``, else (None, 0); ties keep the earliest
        choice.

        Choices that cannot beat the running best (cutoff − 1 at the
        start) are skipped on an exact upper bound: the char-multiset
        bound for partial_ratio, the length/multiset bound for
        token_set_ratio. Any other scorer scores every choice."""
        q = full_process(query)
        if not q:
            return None, 0
        best_choice, best = None, score_cutoff - 1
        if scorer is token_set_ratio:
            qe = _prepare(query, q)
            for c in self._entries:
                s = _token_set_at_least(qe, c, best + 1)
                if s > best:
                    best_choice, best = c.choice, s
        else:
            qc = _char_counts(q) if scorer is partial_ratio else None
            for c in self._entries:
                if qc is not None and _partial_bound(qc, len(q), c) <= best:
                    continue
                s = scorer(q, c.text)
                if s > best:
                    best_choice, best = c.choice, s
        if best_choice is None:
            return None, 0
        return best_choice, best


class AliasMap:
    """The canonical-value tier over one alias map (N25: KTP
    ktp_extractor.py:68-102, SIM sim_extractor.py:156-179), prepared
    once. ``normalize`` equals ``oracle.scalars.fuzzy_normalize_field``
    at this map's threshold."""

    def __init__(self, canonical_map: dict, threshold: int):
        #: alias → the first canonical listing it, in map order
        self._canonical: dict = {}
        for canonical, aliases in canonical_map.items():
            for alias in aliases:
                self._canonical.setdefault(alias.upper(), canonical)
        # a repeated alias scores as its first listing, which ties win
        self._aliases = Vocabulary(self._canonical)
        self._threshold = threshold

    def normalize(self, value: str) -> str:
        """The canonical of ``value``'s exact alias, else of its best
        token_set_ratio alias ≥ threshold (the first in map order on
        ties), else ``value`` unchanged."""
        if not value:
            return value
        v = value.upper().strip()
        canonical = self._canonical.get(v)
        if canonical is None:
            alias, _ = self._aliases.best(v, token_set_ratio,
                                          self._threshold)
            canonical = value if alias is None else self._canonical[alias]
        return canonical
