"""Output-side JVM column expressions shared by the pipeline and the
oracle-gated ``__spark_entry__`` queries.

- ``assemble_spans`` — the output span contract (format_to_target_json,
  ktp_extractor.py:750-805): the extraction kernel's wide frame → one
  ``out_spans`` array per document. Built once here for every doc type,
  including the UNKNOWN error span.
- ``_OUT_COLS`` — output field → flat column of that wide frame (also
  the metrics sink's field list).
- ``_pad_nik_with_dob`` — the V5 DOB-padding search as a pruned JVM
  expression (the ``pad_nik_dob`` query).

The field values themselves come from the mapInArrow kernel
(operators/unified_extract.py → functions/pandas_ktp.post_chain).
Everything here is shuffle-free per-row work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import let


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

OUT_SPAN_TYPE = (
    "array<struct<kind:string,text:string,media_ref:string,order:int>>"
)


def assemble_spans(df: DataFrame) -> DataFrame:
    """Emit the extracted span sequence: non-null ``field:*`` spans in
    output-JSON order — or, when ``document_type`` is null (UNKNOWN),
    the single ``error`` span — then pass-through ``media`` spans
    (FIXTURES.md §1, span contract of the pytest gate)."""
    def span(kind: Column, text: Column) -> Column:
        return F.struct(kind.alias("kind"), text.alias("text"),
                        F.lit("").alias("media_ref"),
                        F.lit(-1).alias("order"))

    field_structs = [
        F.when(F.col(col).isNotNull(),
               span(F.lit(f"field:{name}"), F.col(col).cast("string")))
        for name, col in _OUT_COLS.items()
    ]
    fields_arr = F.when(
        F.col("document_type").isNull(),
        F.array(span(F.lit("error"), F.lit("Unknown document type"))),
    ).otherwise(F.array_compact(F.array(*field_structs)))
    out = let(
        fields_arr,
        lambda fa: let(
            F.size(fa),
            lambda n_fields: F.concat(
                F.transform(
                    fa,
                    lambda x, i: F.struct(
                        x["kind"].alias("kind"),
                        x["text"].alias("text"),
                        x["media_ref"].alias("media_ref"),
                        i.cast("int").alias("order"),
                    ),
                ),
                F.transform(
                    F.coalesce(F.col("media_refs"),
                               F.array().cast("array<string>")),
                    lambda m, i: F.struct(
                        F.lit("media").alias("kind"),
                        F.lit("").alias("text"),
                        m.alias("media_ref"),
                        (n_fields + i).cast("int").alias("order"),
                    ),
                ),
            ),
        ),
    )
    return df.withColumn("out_spans", out.cast(OUT_SPAN_TYPE))
