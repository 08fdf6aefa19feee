"""Property-based parity (hypothesis): the kernel's per-value NIK
candidate engine (value, confidence and source label) and the DOB
padding must match the pure-Python oracle on arbitrary noisy inputs and
on NIK-shaped reads built to reach the engine's tie rules — not just
the generator's noise distribution. (The date chain's random-input check is
tests/test_scalar_parity.py::test_date_normalize_random_parity.)"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from indonesian_id_ocr_service_spark.dictionaries import VALID_PROVINCE_CODES
from indonesian_id_ocr_service_spark.functions import pandas_ktp as PK
from indonesian_id_ocr_service_spark.oracle import scalars as O

_OCRISH = st.text(
    alphabet="0123456789OoIl!SsBZEGTAQ -./:,ABCDEFGHIJKLMNOPQRSTUVWXYZ",
    min_size=0, max_size=40,
)


def _nik_run(prov, region, day, month, year, seq, n, pos):
    """A NIK-shaped digit run of ``n`` (14-16) digits: the 16-digit NIK
    with ``16 - n`` consecutive digits lost at ``pos`` (a position past
    the run's end truncates it)."""
    nik = f"{prov:02d}{region:04d}{day:02d}{month:02d}{year:02d}{seq:04d}"
    at = min(pos, n)
    return nik[:at] + nik[at + 16 - n:]


#: NIK-shaped reads: a label or stray digit, the run, an OCR separator
#: or space, and stray digits or letters OCR reads as digits. Here the
#: longest-run, insertion and edge-pad families make the same value
#: and the engine's tie rules decide (a 14-digit run and a stray 0 is
#: the run-14 rule); random OCR-ish text seldom forms a 14-digit run
#: that scores >= 0.30, and free text for the label and the stray
#: digits reached that rule in 0.1% of examples against 5% here
_NIK_READS = st.builds(
    lambda head, run, sep, tail: head + run + sep + tail,
    st.sampled_from(["", "NIK ", "NIK: ", "1"]),
    # the DOB day spans women's +40 range and invalid days
    st.builds(_nik_run, st.sampled_from(sorted(VALID_PROVINCE_CODES)),
              st.integers(0, 9999), st.integers(1, 71), st.integers(1, 12),
              st.integers(0, 99), st.integers(0, 9999), st.integers(14, 16),
              st.integers(0, 16)),
    st.sampled_from([" ", "-", ".", ":", "/", " . ", ""]),
    st.sampled_from(["0", "O", " 0", "00", "1", "l", ""]),
)


@settings(max_examples=300, deadline=None)
@given(st.one_of(_OCRISH, _NIK_READS))
# one read per family that wins: exact, char_sub, and an insertion into
# the 15 plain digits when the char-subbed read has 16
@example("NIK: 1101024107950003")
@example("11O1024107950003")
@example("80L1123039200031")
# a 15-digit NIK whose best candidate is an insertion (the trailing-pad
# candidate loses on its zero sequence number)
@example("317101450290000")
# inserting 1 at position 0 or 1 gives the same best value: the first
# position's label, padded_pos0, wins
@example("171011205991234")
# the longest_run_15 value is also the edge_pad value (a trailing 0):
# the earlier, higher-based longest_run_15 wins
@example("320101450290001")
# the longest_run_14 value recurs as a 0.62 insertion at position 14:
# it keeps the run's position but takes the insertion's confidence and
# label, so it beats an equal-confidence insertion at an earlier position
@example("32010669074391 0")
def test_nik_candidate_engine_matches_oracle(raw):
    v, c, source = PK.nik_best_one(raw)
    exp = O.nik_best_candidate(raw, 0.30) if raw else None
    if exp is None:
        assert (v, c, source) == (None, None, None), (raw, v)
    else:
        assert v == exp["value"], raw
        assert abs(c - exp["confidence"]) < 1e-12, raw
        assert source == exp["source"], (raw, source, exp["source"])


_DIGITS = "0123456789"
#: a random 15-digit string and DOB segment (mostly no candidate), or a
#: 16-digit NIK with one digit dropped and its own DOB segment (the
#: case the padding exists for)
_PAD_CASES = st.one_of(
    st.tuples(st.text(alphabet=_DIGITS, min_size=15, max_size=15),
              st.text(alphabet=_DIGITS, min_size=6, max_size=6)),
    st.builds(lambda nik, pos: (nik[:pos] + nik[pos + 1:], nik[6:12]),
              st.text(alphabet=_DIGITS, min_size=16, max_size=16),
              st.integers(0, 15)),
)


@settings(max_examples=200, deadline=None)
@given(_PAD_CASES)
# repairs that insert a digit ≥ 6 inside the DOB segment (positions 6-11)
@example(("073662585171286", "585178"))
@example(("622519961839145", "961983"))
def test_pad_nik_dob_matches_oracle(case):
    d15, exp_dob = case
    got = PK._pad_nik_dob_one(d15, exp_dob)
    assert got == O.pad_nik_with_dob(d15, exp_dob), (d15, exp_dob)
