"""Vectorized (pandas/numpy) date normalization — the date queries'
Arrow path.

One of three implementations of the reference's five-strategy
``DateNormalizer`` chain (reference date_normalizer.py:71-344); the
first two are checked against the third:
- this one — the ``__spark_entry__`` date queries' residue UDF,
- ``dates.py`` — JVM Column expression tree (the scalar
  ``__spark_entry__`` queries),
- ``pandas_ktp.normalize_date`` — the scalar per-row chain the
  extraction kernel runs and the oracle re-imports.

This one is mask-based numpy/pandas over whole Arrow batches: every
strategy is computed column-wise for all rows, then combined
first-success-wins — no per-row Python anywhere. It exists because the
Spark expression form of this chain hits an engine pathology at scale
(higher-order functions recompute ``dataType`` recursively and run
interpreted in the let-tree, ~10 core-ms/row) while a vectorized
kernel runs the whole chain in ~100 µs per 4k-row batch.

Failure semantics match ``dates.normalize_date`` (null struct → all-None
row), not the oracle's ``all_strategies_failed`` sentinel dict.

``repair_year`` (N21) replaces the 40-candidate generate-and-test
search (date_normalizer.py:238-258) by its closed form, in pure
integer arithmetic: digit p of year Y (in its zfill(4) decimal form of
length L) zeroed gives base_p = Y − digit_p·10^(L−p); candidates are
monotone in the replacement digit, so the first in-range one is
d = max(0, ceil((MIN_YEAR − base_p)/10^(L−p))), priority (p asc, d asc).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd

from ..dictionaries import (
    DATE_DST,
    DATE_SRC,
    MAX_BIRTH_YEAR,
    MIN_BIRTH_YEAR,
    REFERENCE_YEAR,
)

__all__ = ["normalize_date_frame"]

_DATE_TRANS = str.maketrans(DATE_SRC, DATE_DST)

_STRICT = r"^(\d{1,2})-(\d{1,2})-(\d{4})$"
_EMB = r"\b(\d{1,2})-(\d{1,2})-(\d{4})\b"
_3DIGIT = r"(\d{1,2})-(\d{1,2})-(\d{3})$"
_PERMISSIVE = r"(\d{1,2})\s*[-/.]\s*(\d{1,2})\s*[-/.]\s*(\d{2,4})"


def _collapse(s: pd.Series) -> pd.Series:
    return (
        s.str.replace(r"[-/. ]{2,}", "-", regex=True)
        .str.replace(r"[-/. ]", "-", regex=True)
    )


def _sub_date(s: pd.Series) -> pd.Series:
    return s.str.translate(_DATE_TRANS)


@dataclass
class _Result:
    """Columnar build result; ``ok`` marks rows with a real value."""

    ok: np.ndarray          # bool
    normalized: pd.Series   # object (str / None)
    day: np.ndarray         # float (NaN on failure)
    month: np.ndarray
    year: np.ndarray
    confidence: np.ndarray  # float (NaN on failure)
    method: pd.Series       # object


def _repair_year_vec(y1: np.ndarray, attempt: np.ndarray) -> np.ndarray:
    """Closed-form N21 (date_normalizer.py:238-258) on rows where
    ``attempt``; NaN elsewhere / when unrepairable."""
    rep = np.full(y1.shape, np.nan)
    idx = np.flatnonzero(attempt & ~np.isnan(y1))
    if idx.size == 0:
        return rep
    y = y1[idx].astype(np.int64)
    ndig = np.maximum(
        4, np.floor(np.log10(np.maximum(y, 1))).astype(np.int64) + 1
    )
    out = np.full(y.shape, np.nan)
    done = np.zeros(y.shape, dtype=bool)
    for p in (1, 2, 3, 4):
        step = np.power(10, ndig - p).astype(np.int64)
        digit = (y // step) % 10
        base = y - digit * step
        dmin = np.maximum(
            0, np.ceil((MIN_BIRTH_YEAR - base) / step)
        ).astype(np.int64)
        cand = base + dmin * step
        good = ~done & (dmin <= 9) & (cand <= REFERENCE_YEAR)
        out[good] = cand[good]
        done |= good
    rep[idx] = out
    return rep


def _days_in_month(m: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Proleptic-Gregorian month lengths; m/y may contain NaN."""
    mi = np.where(np.isnan(m), 0, m).astype(np.int64)
    yi = np.where(np.isnan(y), 1, y).astype(np.int64)
    leap = ((yi % 4 == 0) & (yi % 100 != 0)) | (yi % 400 == 0)
    table = np.array([0, 31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31])
    dim = table[np.clip(mi, 0, 12)]
    return np.where((mi == 2) & leap, 29, dim).astype(np.float64)


def _build(d_s: pd.Series, m_s: pd.Series, y_s: pd.Series,
           conf: np.ndarray, method: pd.Series,
           valid: np.ndarray) -> _Result:
    """_build_result (date_normalizer.py:264-329), columnar."""
    n = len(d_s)
    d0 = pd.to_numeric(d_s.str.strip(), errors="coerce").to_numpy(float)
    m0 = pd.to_numeric(m_s.str.strip(), errors="coerce").to_numpy(float)
    y0 = pd.to_numeric(y_s.str.strip(), errors="coerce").to_numpy(float)

    day_bad = (d0 < 1) | (d0 > 31)
    can_swap = (m0 >= 1) & (m0 <= 31) & (d0 >= 1) & (d0 <= 12)
    do_swap = day_bad & can_swap
    d1 = np.where(do_swap, m0, d0)
    m1 = np.where(do_swap, d0, m0)
    fail = (day_bad & ~can_swap) | np.isnan(d0) | np.isnan(m0)

    two = y0 < 100
    y1 = np.where(two, np.where(y0 > 25, y0 + 1900, y0 + 2000), y0)
    fail = fail | (m1 < 1) | (m1 > 12) | np.isnan(y1)

    c1 = conf * np.where(do_swap, 0.80, 1.0) * np.where(two, 0.85, 1.0)
    inr = (y1 >= MIN_BIRTH_YEAR) & (y1 <= REFERENCE_YEAR)
    rep = _repair_year_vec(y1, ~inr & ~fail)
    repaired = ~np.isnan(rep)

    y2 = np.where(inr, y1, np.where(repaired, rep, y1))
    c2 = c1 * np.select(
        [inr, repaired, (y1 > REFERENCE_YEAR) & (y1 <= MAX_BIRTH_YEAR)],
        [1.0, 0.80, 0.75], 0.15,
    )
    meth = pd.Series(
        np.where(~inr & repaired, "year_repair_" + method, method),
        index=d_s.index, dtype=object,
    )

    cal_ok = (d1 >= 1) & (d1 <= _days_in_month(m1, y2))
    ok = valid & ~fail & (y2 >= 1) & (y2 <= 9999) & cal_ok

    norm = pd.Series([None] * n, index=d_s.index, dtype=object)
    if ok.any():
        di = d1[ok].astype(np.int64)
        mi = m1[ok].astype(np.int64)
        yi = y2[ok].astype(np.int64)
        norm.iloc[np.flatnonzero(ok)] = [
            f"{a:02d}-{b:02d}-{c:04d}" for a, b, c in zip(di, mi, yi)
        ]
    return _Result(
        ok=ok,
        normalized=norm,
        day=np.where(ok, d1, np.nan),
        month=np.where(ok, m1, np.nan),
        year=np.where(ok, y2, np.nan),
        confidence=np.where(ok, c2, np.nan),
        method=meth.where(pd.Series(ok, index=d_s.index), None),
    )


def _rescale(r: _Result, scale: float, prefix: str) -> _Result:
    """Reference semantics for the charsub / 7digit wrappers
    (date_normalizer.py:148-158,192-215): the ×scale and method prefix
    apply to the finished result, AFTER the build's own year_repair_
    prefix — 'char_sub_year_repair_strict…', not the other order."""
    okp = pd.Series(r.ok, index=r.method.index)
    return _Result(
        ok=r.ok,
        normalized=r.normalized,
        day=r.day, month=r.month, year=r.year,
        confidence=np.where(r.ok, r.confidence * scale, r.confidence),
        method=(prefix + r.method).where(okp, None),
    )


def _strategy_standard(text: pd.Series) -> _Result:
    cln = _collapse(text)
    strict = cln.str.strip()
    es = strict.str.extract(_STRICT)
    isstr = es[2].notna().to_numpy()
    ee = cln.str.extract(_EMB)
    d_s = es[0].where(isstr, ee[0])
    m_s = es[1].where(isstr, ee[1])
    y_s = es[2].where(isstr, ee[2])
    conf = np.where(isstr, 0.97, 0.90)
    method = pd.Series(
        np.where(isstr, "strict_dd_mm_yyyy", "embedded_dd_mm_yyyy"),
        index=text.index, dtype=object,
    )
    valid = isstr | ee[2].notna().to_numpy()
    return _build(d_s, m_s, y_s, conf, method, valid)


def _strategy_3digit(src: pd.Series,
                     pre_collapsed: Optional[pd.Series] = None) -> _Result:
    c3 = (_collapse(_sub_date(src)) if pre_collapsed is None
          else pre_collapsed).str.strip()
    e = c3.str.extract(_3DIGIT)
    yi = pd.to_numeric(e[2], errors="coerce").to_numpy(float)
    yf = pd.Series(
        np.select(
            [(yi >= 900) & (yi <= 999), (yi >= 0) & (yi <= 25),
             (yi >= 26) & (yi <= 99), (yi >= 100) & (yi <= 199)],
            ["1" + e[2], "20" + e[2], "19" + e[2], "1" + e[2] + "0"],
            None,
        ),
        index=src.index, dtype=object,
    )
    cf = np.select(
        [(yi >= 900) & (yi <= 999), (yi >= 0) & (yi <= 25),
         (yi >= 26) & (yi <= 99), (yi >= 100) & (yi <= 199)],
        [0.75, 0.70, 0.65, 0.50], np.nan,
    )
    valid = e[2].notna().to_numpy() & yf.notna().to_numpy()
    return _build(
        e[0], e[1], yf, cf,
        pd.Series(["3digit_year_recon"] * len(src),
                  index=src.index, dtype=object),
        valid,
    )


def _first_wins(base: _Result, nxt: _Result) -> _Result:
    """Fill still-empty rows of ``base`` from ``nxt``."""
    take = ~base.ok & nxt.ok
    if not take.any():
        return base
    tk = pd.Series(take, index=base.normalized.index)
    return _Result(
        ok=base.ok | nxt.ok,
        normalized=base.normalized.where(~tk, nxt.normalized),
        day=np.where(take, nxt.day, base.day),
        month=np.where(take, nxt.month, base.month),
        year=np.where(take, nxt.year, base.year),
        confidence=np.where(take, nxt.confidence, base.confidence),
        method=base.method.where(~tk, nxt.method),
    )


def _mask(r: _Result, keep: np.ndarray) -> _Result:
    """Null out rows of ``r`` outside ``keep``."""
    kp = pd.Series(keep, index=r.normalized.index)
    return _Result(
        ok=r.ok & keep,
        normalized=r.normalized.where(kp, None),
        day=np.where(keep, r.day, np.nan),
        month=np.where(keep, r.month, np.nan),
        year=np.where(keep, r.year, np.nan),
        confidence=np.where(keep, r.confidence, np.nan),
        method=r.method.where(kp, None),
    )


def normalize_date_frame(raw: pd.Series) -> pd.DataFrame:
    """normalize_date (N19, date_normalizer.py:81-92) for a whole batch.

    Returns a DataFrame indexed like ``raw`` with columns
    normalized/day/month/year/confidence/method; failed rows are None/NaN
    (the JVM chain's null struct)."""
    filled = raw.fillna("")
    t = filled.str.strip()
    live = raw.notna().to_numpy() & (t != "").to_numpy()

    sub = _sub_date(t)
    s2_cln = _collapse(sub)

    # S1 standard on t
    r = _strategy_standard(t)
    # S2 char-sub standard, only where substitution changed the text
    s2 = _mask(_rescale(_strategy_standard(sub), 0.88, "char_sub_"),
               (sub != t).to_numpy())
    r = _first_wins(r, s2)
    # S3 three-digit year (its collapsed input == S2's cln)
    r = _first_wins(r, _strategy_3digit(t, pre_collapsed=s2_cln))
    # S4 seven-digit
    dig = sub.str.replace(r"\D", "", regex=True)
    is7 = (dig.str.len() == 7).to_numpy()
    i1 = dig.str[0:2] + "-" + dig.str[2:4] + "-" + dig.str[4:7]
    r4 = _rescale(_strategy_3digit(i1), 0.82, "7digit_")
    r4b = _build(
        "0" + dig.str[0:1], dig.str[1:3], dig.str[3:7],
        np.full(len(t), 0.45),
        pd.Series(["7digit_alt_interp"] * len(t), index=t.index,
                  dtype=object),
        np.ones(len(t), dtype=bool),
    )
    r = _first_wins(r, _mask(_first_wins(r4, r4b), is7))
    # S5 permissive scan on the char-subbed text
    e5 = sub.str.extract(_PERMISSIVE)
    y5 = e5[2]
    two5 = y5.str.len() == 2
    y5n = pd.to_numeric(y5, errors="coerce")
    yf5 = y5.where(~two5, np.where(y5n > 25, "19" + y5, "20" + y5))
    r5 = _build(
        e5[0], e5[1], yf5, np.full(len(t), 0.55),
        pd.Series(["permissive_scan"] * len(t), index=t.index,
                  dtype=object),
        y5.notna().to_numpy(),
    )
    r = _first_wins(r, r5)

    r = _mask(r, live)
    return pd.DataFrame({
        "normalized": r.normalized,
        "day": r.day,
        "month": r.month,
        "year": r.year,
        "confidence": r.confidence,
        "method": r.method,
    }, index=raw.index)
