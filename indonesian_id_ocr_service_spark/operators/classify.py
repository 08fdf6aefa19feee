"""C1: document-type detection as a JVM expression over the packed
spans array (SURVEY §2.3), plus its Python twin.

Semantics per /root/reference/document_processor.py:32-64: additive
keyword and regex scoring, one table of terms for both forms. The
extraction kernel classifies every document with the Python twin
inside its per-document loop (operators/unified_extract.py); the JVM
form serves the ``doc_type`` driver query (queries.py).
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.core import let2

__all__ = ["joined_text", "document_type", "document_type_py"]

#: C1 keyword terms (keyword, points), scored on the upper-cased text
_SIM_CONTAINS = (("SURAT IZIN MENGEMUDI", 6), ("DRIVING LICENSE", 6),
                 ("BERLAKU SAMPAI", 4), ("KORLANTAS", 3), ("SATPAS", 2),
                 ("NOMOR SIM", 2), ("NO. SIM", 2), ("NO SIM", 2),
                 ("POLDA", 1), ("POLRES", 1), ("METRO JAYA", 1),
                 ("METROJAYA", 1))
_KTP_CONTAINS = (("KARTU TANDA PENDUDUK", 6), ("KEWARGANEGARAAN", 4),
                 ("STATUS PERKAWINAN", 4), ("BERLAKU HINGGA", 3),
                 ("PROVINSI", 2), ("KABUPATEN", 2), ("KECAMATAN", 2),
                 ("KEL/DESA", 1), ("KEL./DESA", 1), ("RT/RW", 1),
                 ("GOL. DARAH", 1))
#: C1 regex terms (pattern, points, scored on the whitespace-free text?)
_SIM_MATCHES = ((r"\d{4}[-\s]\d{4}[-\s]\d{5,6}", 4, False),
                (r"\b[1-6]\.\s+[A-Z]", 2, False))
_KTP_MATCHES = ((r"\b\d{16}\b", 5, True), (r"\bNIK\b", 3, False))
#: a 16-digit run in the whitespace-free text makes an unscored doc KTP
_KTP_FALLBACK = r"\d{16}"
_SCORING = ((_SIM_CONTAINS, _SIM_MATCHES), (_KTP_CONTAINS, _KTP_MATCHES))


def document_type_py(texts) -> str:
    """Python twin of the ``document_type`` Column expression (same C1
    terms), for the Arrow kernel's in-batch dispatch — the kernel must
    not depend on oracle/*. Parity with both the JVM form and the
    oracle is asserted in tests/test_scalar_parity.py."""
    full = " ".join(texts).upper()
    compact = re.sub(r"\s+", "", full)
    sim, ktp = (
        sum(p for kw, p in contains if kw in full)
        + sum(p for pat, p, on_compact in matches
              if re.search(pat, compact if on_compact else full))
        for contains, matches in _SCORING)
    if sim > ktp and sim >= 2:
        return "SIM"
    if ktp >= 2:
        return "KTP"
    if re.search(_KTP_FALLBACK, compact):
        return "KTP"
    return "UNKNOWN"


def joined_text(spans: Column) -> Column:
    """S7: all text-span texts joined with single spaces, in span order."""
    return F.array_join(
        F.transform(
            F.filter(spans, lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
        " ",
    )


def document_type(spans: Column) -> Column:
    """C1 additive keyword scoring (document_processor.py:32-64)."""

    def score(full: Column, compact: Column) -> Column:
        def points(contains, matches) -> Column:
            terms = [F.when(full.contains(kw), F.lit(p)).otherwise(F.lit(0))
                     for kw, p in contains]
            terms += [F.when((compact if on_compact else full).rlike(pat),
                             F.lit(p)).otherwise(F.lit(0))
                      for pat, p, on_compact in matches]
            return reduce(Column.__add__, terms)

        return let2(
            *(points(contains, matches) for contains, matches in _SCORING),
            lambda s, k: (
                F.when((s > k) & (s >= 2), F.lit("SIM"))
                .when(k >= 2, F.lit("KTP"))
                .when(compact.rlike(_KTP_FALLBACK), F.lit("KTP"))
                .otherwise(F.lit("UNKNOWN"))
            ),
        )

    from ..functions.core import let

    return let(
        F.upper(joined_text(spans)),
        lambda full: let(
            F.regexp_replace(full, r"\s+", ""),
            lambda compact: score(full, compact),
        ),
    )
