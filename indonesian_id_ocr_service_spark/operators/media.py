"""Media feature extraction over opaque payloads (SURVEY §2.2).

Media payloads are opaque ``binary`` columns with typed metadata. The
Spark-side plumbing — schema, Arrow batching via mapInPandas and
partitioning — is real and tested. The features themselves come from
``_decode_fake``, a DETERMINISTIC decoder that derives them from the
payload's md5, so tests and DuckDB oracles reproduce the values
exactly. Pixel decoding and the P1-P13 preprocessing ops live in
``image_ops``, which the media queries call directly.
"""

from __future__ import annotations

import hashlib

import pandas as pd

MEDIA_FEATURE_SCHEMA = (
    "doc_id string, n_bytes int, tag string, "
    "f0 int, f1 int, f2 int, f3 int"
)

_HEX = "0123456789abcdef"


def _decode_fake(payload: bytes) -> tuple:
    """Deterministic fake decoder: md5-derived metadata. Engine-portable
    (a DuckDB oracle reproduces it from the same bytes)."""
    h = hashlib.md5(payload).hexdigest()
    return (
        len(payload),
        h[:8],
        _HEX.index(h[0]),
        _HEX.index(h[1]),
        _HEX.index(h[2]),
        _HEX.index(h[3]),
    )


def media_feature_batch(batches):
    """mapInPandas body: (doc_id, payload binary) → feature columns.
    Batched Arrow transfer; per-batch vectorized decode loop."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload) if payload is not None else b""
            rows.append((str(doc_id),) + _decode_fake(b))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "n_bytes", "tag", "f0", "f1", "f2", "f3"],
        )


def extract_media_features(df):
    """Media feature extraction over the ``payload`` binary column; the
    stage is stateless per payload."""
    from pyspark.sql import functions as F

    src = df.select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.col("payload").alias("payload"))
    return src.mapInPandas(media_feature_batch,
                           schema=MEDIA_FEATURE_SCHEMA)
