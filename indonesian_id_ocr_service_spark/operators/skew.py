"""Skew handling: salted repartitioning for media-heavy documents
(the north star's "salted repartitioning for skewed media-heavy
documents").

The extraction pipeline partitions by doc_id hash. A document with
hundreds of media spans makes its partition a straggler in the
compute-bound media stage: task time follows the max partition WEIGHT
(total media payload), not row count. ``salted_explode_media`` splits
each document's media refs into weight-bounded chunks and spreads the
chunks uniformly by (doc_id, salt) hash; the per-chunk results
reduce back to one row per document (``media_quality_metrics``,
operators/media_metrics.py). AQE's skew-join splitter does not
cover this case — the skew is inside a mapInPandas stage, not a join —
so the salt must be explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_explode_media"]


def salted_explode_media(docs: DataFrame, spans_col: str = "spans",
                         chunk: int = 8) -> DataFrame:
    """One row per (doc_id, salt) chunk of ≤``chunk`` media refs:
    heavy documents split into many chunks, each landing on its own
    partition by the (doc_id, salt) shuffle key; text-only documents
    pass through as a single empty chunk (salt 0)."""
    media = F.filter(F.col(spans_col), lambda s: s["kind"] == "media")
    refs = F.transform(media, lambda s: s["media_ref"])
    n_chunks = F.greatest(
        F.ceil(F.size(refs) / F.lit(chunk)), F.lit(1)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(refs, i * chunk + 1, chunk),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks)
                    .alias("salt", "media_refs"))
        .repartition(F.col("doc_id"), F.col("salt"))
    )

