"""Output-side JVM column expressions outside the extraction kernel.

- ``_OUT_COLS`` — output field → flat column of the kernel's wide frame
  (the metrics sink's field list).
- ``_pad_nik_with_dob`` — the V5 DOB-padding search as a pruned JVM
  expression (the ``pad_nik_dob`` query).

The field values and the output span sequence come from the mapInArrow
kernel (operators/unified_extract.py → functions/pandas_ktp.post_chain
and ``_out_spans``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _pad_nik_with_dob(digits15: Column, expected: Column) -> Column:
    """V5: first insertion (digit-major, position-minor) whose chars 6-11
    equal the expected DOB segment (nik_cross_validator.py:271-285).

    Pruned equivalent of the 160-candidate search. Inserting digit d at
    0-based position p yields candidate c with window
    ``c[6:12]``:

    - p ≤ 5:  c[6:12] = d15[5:11]  — independent of d and p, so if it
      matches, the digit-major first hit is (d=0, p=0) → '0'+d15;
      if it doesn't, no p ≤ 5 insertion can ever match.
    - p ≥ 12: c[6:12] = d15[6:12] — likewise; first hit is (d=0, p=12).
    - 6 ≤ p ≤ 11: c[6:12] = d15[6:p] + d + d15[p:11], which forces
      d = expected[p-6]; only prefix/suffix equality remains to check.

    Candidate priority is (d asc, p asc): (0,0) < case-3 with d=0 <
    (0,12) < case-3 with d≥1. Exactly the reference's search order.
    """
    sig1 = F.substring(digits15, 6, 6) == expected   # d15[5:11]
    sig2 = F.substring(digits15, 7, 6) == expected   # d15[6:12]

    def case3(p: int) -> Column:
        """0-based insert position p in 6..11."""
        d_req = F.substring(expected, p - 6 + 1, 1)
        prefix_ok = (
            F.substring(digits15, 7, p - 6)
            == F.substring(expected, 1, p - 6)
        )
        suffix_ok = (
            F.substring(digits15, p + 1, 11 - p)
            == F.substring(expected, p - 4, 11 - p)
        )
        return F.when(
            prefix_ok & suffix_ok,
            F.struct(
                (d_req.cast("int") * 16 + F.lit(p)).alias("prio"),
                F.concat(
                    F.substring(digits15, 1, p),
                    d_req,
                    F.substr(digits15, F.lit(p + 1)),
                ).alias("value"),
            ),
        )

    # Priorities are pairwise distinct (0; d*16+p for p in 6..11; 12), so
    # a struct-ordered least == the reference's first-hit search order.
    # F.least skips nulls and is plain codegen — no higher-order
    # functions (whose per-eval dataType recursion runs interpreted).
    best = F.least(
        F.when(
            sig1,
            F.struct(
                F.lit(0).alias("prio"),
                F.concat(F.lit("0"), digits15).alias("value"),
            ),
        ),
        *[case3(p) for p in range(6, 12)],
        F.when(
            sig2,
            F.struct(
                F.lit(12).alias("prio"),
                F.concat(
                    F.substring(digits15, 1, 12),
                    F.lit("0"),
                    F.substr(digits15, F.lit(13)),
                ).alias("value"),
            ),
        ),
    )
    return best["value"]


#: output-field → flat column of the extraction kernel's wide frame
_OUT_COLS: dict[str, str] = {
    "document_type": "document_type",
    "nomor": "nomor",
    "nama": "nama",
    "tempat_lahir": "tempat_lahir",
    "tgl_lahir": "tgl_lahir",
    "jenis_kelamin": "jenis_kelamin",
    "agama": "agama",
    "status_perkawinan": "status_perkawinan",
    "pekerjaan": "pekerjaan",
    "kewarganegaraan": "kewarganegaraan",
    "alamat.name": "alamat_name",
    "alamat.rt_rw": "alamat_rt_rw",
    "alamat.kel_desa": "alamat_kel_desa",
    "alamat.kecamatan": "alamat_kecamatan",
    "alamat.kabupaten": "alamat_kabupaten",
    "alamat.provinsi": "alamat_provinsi",
}
