"""End-to-end extraction pipeline: span corpus → extracted span table.

Plan shape (SURVEY §7) — ONE linear narrow chain, no union, no join,
no Exchange:

    scan (doc_id, spans, span_geom[, span_conf, spans_alt, alt_geom])
      → _kernel_input: column projection, the alternative OCR view
        included as stored
      → ONE mapInArrow kernel (operators.unified_extract): per document
        classify (C1, incl. the C3 retry) → KTP spatial extraction +
        the per-document finish, or the SIM state machines → one row of
        document type + per-field provenance + the output span sequence
        (``out_spans``, or the UNKNOWN error span + media pass-through)

The only per-row work is that kernel; around it the plan holds a scan
and column projections, no JVM expression tree to build or analyse
(a geometry-free corpus adds ``with_default_geometry``). The input
already holds one row per document, so the chain is embarrassingly
parallel and throughput scales linearly with cores (the
scaling-efficiency criterion in BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType


def with_default_geometry(df: DataFrame) -> DataFrame:
    """Synthesize line geometry from span order when the corpus carries
    none: each text span is its own line (y = offset·30), x from 0.
    Keeps the spatial operators well-defined on geometry-free corpora."""
    if "span_geom" in df.columns:
        return df
    geom = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            (s["offset"] * 30).cast(IntegerType()).alias("y"),
            F.lit(0).cast(IntegerType()).alias("x0"),
            (F.length(F.coalesce(s["text"], F.lit(""))) * 9)
            .cast(IntegerType()).alias("x1"),
            F.lit(22).cast(IntegerType()).alias("h"),
        ),
    )
    return df.withColumn("span_geom", geom)


def _kernel_input(src: DataFrame) -> DataFrame:
    """Project the extraction kernel's input: the span-contract columns
    plus, when the corpus carries them, the alternative OCR view (C3
    UNKNOWN retry / C6 SmartSIM pass) and per-span confidences (C2).

    The alternative view ships for every document, as stored. The
    kernel classifies every document in Python and reads the
    alternative view only for C3 and C6; nulling it for the KTP
    majority would need a JVM classifier ahead of the kernel, which
    costs more than the transfer it saves. Measured on 12k docs, warm
    local[4]: an identity mapInArrow over every alternative view took
    0.67-0.76 s, against 1.16-1.65 s with that classifier."""
    cols = ["doc_id", "spans", "span_geom"]
    if "spans_alt" in src.columns and "alt_geom" in src.columns:
        cols += ["spans_alt", "alt_geom"]
    if "span_conf" in src.columns:
        cols.append("span_conf")
    return src.select(*cols)


def _extract(df: DataFrame) -> DataFrame:
    """The kernel's frame: doc_id, doc_type, field_methods and
    out_spans."""
    from .operators.unified_extract import (
        FULL_KERNEL_SCHEMA,
        full_kernel_batch_arrow,
    )
    from .queries import ensure_session_conf

    ensure_session_conf(df.sparkSession)
    # mapInArrow, not mapInPandas: Arrow→pandas conversion of the
    # array<struct> span columns builds a dict per span (~3.4
    # core-ms/doc, allocation-bound → also caps multi-core scaling);
    # the arrow kernel reads flattened child arrays + offsets directly
    return _kernel_input(with_default_geometry(df)).mapInArrow(
        full_kernel_batch_arrow, schema=FULL_KERNEL_SCHEMA
    )


def run_pipeline(df: DataFrame) -> DataFrame:
    """Full pipeline → (doc_id, out_spans).

    The complete per-document grammar, span assembly included, runs
    inside the single Arrow kernel (~1-2 core-ms/doc): Spark's
    higher-order functions recompute ``dataType`` recursively on every
    evaluation, so normalizer-chain-sized expression trees cost ~85
    core-ms/doc interpreted — measured, not guessed. The span-equality
    gate checks this path against the pure-Python oracle, and the
    ``ktp_extraction_e2e`` / ``sim_extraction_e2e`` queries against
    DuckDB."""
    return _extract(df).select("doc_id", "out_spans")

