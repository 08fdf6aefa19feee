"""End-to-end extraction pipeline: span corpus → extracted span table.

Plan shape (SURVEY §7) — ONE linear narrow chain, no union, no join,
no Exchange:

    scan (doc_id, spans, span_geom[, span_conf, spans_alt, alt_geom])
      → _kernel_input: JVM projection; the alternative OCR view is
        nulled for docs the JVM classifier already reads as KTP (lazy
        alt view — only the C3 UNKNOWN retry and the C6 SIM second
        pass consume it)
      → ONE mapInArrow kernel (operators.unified_extract): per document
        classify (C1, incl. the C3 retry) → KTP spatial extraction +
        vectorized post-chain, or the SIM state machines → one wide row
        of final output fields + per-field provenance
      → ktp_post.assemble_spans: field/media spans, or the UNKNOWN
        error span + media pass-through

The only Python stage is that kernel; everything around it is
whole-stage-codegen JVM. The input already holds one row per document,
so the chain is embarrassingly parallel and throughput scales linearly
with cores (the scaling-efficiency criterion in BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import classify, ktp_post


def with_default_geometry(df: DataFrame) -> DataFrame:
    """Synthesize line geometry from span order when the corpus carries
    none: each text span is its own line (y = offset·30), x from 0.
    Keeps the spatial operators well-defined on geometry-free corpora."""
    if "span_geom" in df.columns:
        return df
    geom = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            (s["offset"] * 30).cast("int").alias("y"),
            F.lit(0).cast("int").alias("x0"),
            (F.length(F.coalesce(s["text"], F.lit(""))) * 9)
            .cast("int").alias("x1"),
            F.lit(22).cast("int").alias("h"),
        ),
    )
    return df.withColumn("span_geom", geom)


def _kernel_input(src: DataFrame) -> DataFrame:
    """Project the extraction kernel's input: the span-contract columns
    plus, when the corpus carries them, the alternative OCR view (C3
    UNKNOWN retry / C6 SmartSIM pass) and per-span confidences (C2).

    The alternative view is shipped LAZILY: only C3 (UNKNOWN retry) and
    C6 (SIM std↔smart second pass) ever consume it, so the JVM
    classifier (oracle-checked identical to the kernel's Python
    classifier) nulls ``spans_alt``/``alt_geom`` for the KTP majority
    before the Arrow transfer. This is the reference's lazy-recompute
    shape (SURVEY §4) expressed as a conditional projection — it keeps
    the pipeline a single zero-shuffle narrow chain, where the
    flag + filtered-second-pass alternative would add a join (shuffle)
    and re-execute the main kernel once per union branch (no AQE
    exchange reuse; see BENCH.md)."""
    cols = [F.col("doc_id"), F.col("spans"), F.col("span_geom")]
    if "spans_alt" in src.columns and "alt_geom" in src.columns:
        need_alt = classify.document_type(F.col("spans")) != F.lit("KTP")
        cols += [
            F.when(need_alt, F.col("spans_alt")).alias("spans_alt"),
            F.when(need_alt, F.col("alt_geom")).alias("alt_geom"),
        ]
    if "span_conf" in src.columns:
        cols.append(F.col("span_conf"))
    return src.select(*cols)


def _extract(df: DataFrame) -> DataFrame:
    """The kernel's wide frame: doc_id, doc_type, media_refs, the final
    output-field columns, field_methods and ``document_type`` (doc_type
    for KTP/SIM, null for UNKNOWN)."""
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
    wide = _kernel_input(with_default_geometry(df)).mapInArrow(
        full_kernel_batch_arrow, schema=FULL_KERNEL_SCHEMA
    )
    doc_type = F.col("doc_type")
    return wide.withColumn(
        "document_type", F.when(doc_type.isin("KTP", "SIM"), doc_type)
    )


def run_pipeline(df: DataFrame) -> DataFrame:
    """Full pipeline → (doc_id, out_spans).

    The complete per-document grammar runs inside the single Arrow
    kernel (~1-2 core-ms/doc): Spark's higher-order functions recompute
    ``dataType`` recursively on every evaluation, so normalizer-chain-
    sized expression trees cost ~85 core-ms/doc interpreted — measured,
    not guessed. The span-equality gate checks this path against the
    pure-Python oracle, and the ``ktp_extraction_e2e`` /
    ``sim_extraction_e2e`` queries against DuckDB."""
    return ktp_post.assemble_spans(_extract(df)).select("doc_id",
                                                        "out_spans")


def run_pipeline_fields(df: DataFrame) -> DataFrame:
    """The flat output-field columns of the KTP documents (for the
    metrics table): the kernel's own wide frame before span assembly,
    so a doc is KTP here exactly when ``run_pipeline`` emits it as KTP
    (including C3 retries resolved through the alternative view)."""
    return _extract(df).filter(F.col("doc_type") == "KTP").drop("doc_type")
