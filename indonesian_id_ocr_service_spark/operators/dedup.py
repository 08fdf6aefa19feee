"""Deduplication operators for web-scale corpora (SURVEY addendum —
training-data pipeline ops): exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Scale design:
- Exact dedup: hash-groupBy on a 16-byte fingerprint — one shuffle of
  (hash, doc_id) pairs only, never the text.
- MinHash: signatures and band keys computed per row in an Arrow
  kernel (ZERO shuffle); only the (band, key) grouping shuffles, and it
  shuffles just (band, key, doc). Band keys are md5 strings →
  uniformly distributed → no skew.
- SimHash: per-row 32-bit sketch in an Arrow kernel (no shuffle).
  ``minhash_signature`` and ``simhash32`` are the JVM-expression forms
  the tests check the kernels against.
- All hashing is md5-based so DuckDB oracles reproduce values exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import let
from ..functions.text_analysis import fingerprint, normalize_text, word_shingles

__all__ = [
    "exact_dedup_stats",
    "minhash_signature",
    "lsh_candidate_pairs",
    "simhash32",
    "ngram_jaccard_pairs",
]

# MinHash-LSH design: 12 md5 hashes over word 3-shingles, banded in
# pairs (6 bands); the DuckDB oracles restate these values.
N_HASHES = 12
BAND_SIZE = 2
SHINGLE_K = 3


def exact_dedup_stats(df: DataFrame) -> DataFrame:
    """Exact-duplicate groups over the normalized-text fingerprint."""
    fp = df.select(fingerprint(F.col("text")).alias("fp"))
    return (
        fp.groupBy("fp").count()
        .agg(
            F.count("*").alias("n_distinct"),
            F.sum("count").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("count") > 1, 1).otherwise(0))
            .cast("long").alias("n_dup_groups"),
            F.sum(F.when(F.col("count") > 1, F.col("count") - 1)
                  .otherwise(0)).cast("long").alias("n_removable"),
        )
    )


def minhash_signature(text: Column, n_hashes: int = N_HASHES) -> Column:
    """Array of n md5-min hashes over word shingles — per-row, no
    shuffle. Hash_j(s) = md5(j || ':' || s); the minimum is taken on the
    hex string (fixed length ⇒ lexicographic == numeric order)."""
    shingles = word_shingles(text, SHINGLE_K)
    return let(
        shingles,
        lambda sh: F.array(*[
            F.array_min(
                F.transform(
                    sh, lambda s: F.md5(F.concat(F.lit(f"{j}:"), s))
                )
            )
            for j in range(n_hashes)
        ]),
    )


def minhash_band_rows(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, text) → one (doc, band, key) row per LSH band — the Arrow-
    kernel form of minhash_signature + banding. Identical hashes/keys
    to the expression form (parity-tested): the JVM tree evaluates
    N_HASHES interpreted transform-over-shingles trees per row (~2,400
    md5 + type-walks per doc — the HOF dataType recursion pathology);
    here normalization stays JVM-side and the per-batch kernel
    memoizes the n-hash md5 vector per UNIQUE shingle."""
    import pandas as pd

    n_bands = N_HASHES // BAND_SIZE

    def gen(batches):
        import hashlib

        # hash_j(s) = md5("j:" || s): the j-prefix states are fixed, so
        # seed them once and .copy().update(s) per shingle. The min is
        # taken on DIGEST BYTES — hex is a monotone byte-wise encoding
        # of the digest, so bytes order == hex order and only the 12
        # per-doc winners pay hexdigest (was: every hash of every
        # shingle).
        seeds = [hashlib.md5(f"{j}:".encode())
                 for j in range(N_HASHES)]
        cache: dict = {}
        for pdf in batches:
            # bound the per-task memo: unique shingles grow with every
            # batch a long-lived task processes (a leak at 100-TB task
            # sizes); within-batch hits carry most of the win
            if len(cache) > 1 << 20:
                cache.clear()
            docs, bands, keys = [], [], []
            for doc, t in zip(pdf[id_col], pdf["_norm"]):
                t = t or ""
                ws = t.split(" ")
                if len(ws) >= SHINGLE_K:
                    shingles = [
                        " ".join(ws[i:i + SHINGLE_K])
                        for i in range(len(ws) - SHINGLE_K + 1)
                    ]
                else:
                    shingles = [t]
                rows = []
                for s in shingles:
                    v = cache.get(s)
                    if v is None:
                        sb = s.encode()
                        v = []
                        for m in seeds:
                            h = m.copy()
                            h.update(sb)
                            v.append(h.digest())
                        cache[s] = v
                    rows.append(v)
                sig = [min(r[j] for r in rows).hex()
                       for j in range(N_HASHES)]
                for b in range(n_bands):
                    docs.append(doc)
                    bands.append(b)
                    keys.append("|".join(
                        sig[b * BAND_SIZE + r]
                        for r in range(BAND_SIZE)))
            yield pd.DataFrame(
                {"doc": docs, "band": bands, "key": keys})

    src = df.select(F.col(id_col),
                    normalize_text(F.col(text_col)).alias("_norm"))
    id_type = dict(df.dtypes)[id_col]
    return src.mapInPandas(gen, f"doc {id_type}, band int, key string")


def lsh_candidate_pairs(df: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band of the
    signature. Returns distinct (doc_a, doc_b), doc_a < doc_b.

    Shape: groupBy (band, key) → sorted doc list → in-bucket pair
    explosion → distinct. The earlier self-join form evaluated the
    banding kernel (signature mapInPandas) TWICE — once per join side —
    and shuffled the band rows into two exchanges; grouping runs the
    kernel once and shuffles the (band, key, doc) rows once. Bucket
    sizes are bounded by construction (md5-uniform keys), so the
    per-group pair explosion is the same quadratic-inside-buckets work
    the join did, minus the duplicate kernel pass."""
    banded = minhash_band_rows(df)
    groups = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda a, i: F.transform(
                F.slice(F.col("ds"), i + 2,
                        F.greatest(F.size(F.col("ds")) - i - 1,
                                   F.lit(0))),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    return (
        groups.select(F.explode(pairs).alias("p"))
        # sorted-order pairs are (ds[i], ds[j>i]); keep the old join's
        # strict a < b in case an id ever repeats inside one bucket
        .filter(F.col("p.doc_a") != F.col("p.doc_b"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )


def simhash32(text: Column) -> Column:
    """32-bit SimHash over word tokens as a '0'/'1' string.

    Bit p votes +1 when hex nibble p of md5(token) ≥ 8, else −1; bit is
    1 when the vote sum is positive. A nibble-granular variant of
    Charikar's simhash that both Spark and DuckDB compute identically.
    """
    tokens = F.split(normalize_text(text), " ")
    votes = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0), 32),
        lambda acc, t: let(
            F.md5(t),
            lambda h: F.zip_with(
                acc,
                F.transform(F.sequence(F.lit(1), F.lit(32)),
                            lambda p: F.substring(h, p, F.lit(1))),
                lambda a, nib: a + F.when(
                    nib.isin("8", "9", "a", "b", "c", "d", "e", "f"), 1
                ).otherwise(-1),
            ),
        ),
    )
    return F.array_join(
        F.transform(votes,
                    lambda v: F.when(v > 0, F.lit("1")).otherwise("0")),
        "",
    )


def simhash32_kernel(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Arrow-kernel form of simhash32 — identical bits, ~10× cheaper:
    the expression form is an interpreted aggregate-over-zip_with tree
    (32 nibble votes per token, HOF dataType recursion — BENCH.md
    round-1 notes). Here normalization stays JVM-side (codegen) and
    the votes run per batch in Python with per-unique-token md5
    memoization (votes are additive, so duplicate tokens reuse the
    sign vector)."""
    import pandas as pd

    from ..functions.text_analysis import normalize_text

    def gen(batches):
        import hashlib

        cache: dict = {}
        for pdf in batches:
            # bounded memo — same rationale as minhash_band_rows
            if len(cache) > 1 << 20:
                cache.clear()
            sims = []
            for txt in pdf["_norm"]:
                votes = np.zeros(32, dtype=np.int64)
                for tk in (txt or "").split(" "):
                    s = cache.get(tk)
                    if s is None:
                        # nibble p of the hex digest is >= '8' exactly
                        # when its 4-bit value has the high bit set —
                        # read the sign vector straight off the digest
                        # bytes instead of scanning 32 hex chars
                        b = np.frombuffer(
                            hashlib.md5(tk.encode()).digest(),
                            dtype=np.uint8)
                        nib = np.empty(32, dtype=np.int64)
                        nib[0::2] = b >> 4
                        nib[1::2] = b & 15
                        s = np.where(nib >= 8, 1, -1)
                        cache[tk] = s
                    votes += s
                sims.append(
                    "".join("1" if v > 0 else "0" for v in votes))
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sims})

    src = df.select(
        F.col(id_col),
        normalize_text(F.col(text_col)).alias("_norm"))
    id_type = dict(df.dtypes)[id_col]
    return src.mapInPandas(gen, f"{id_col} {id_type}, simhash string")


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs of consecutive ids —
    the verification stage behind LSH candidates (kept linear here;
    at scale you feed it LSH pairs instead of consecutive ids)."""
    sh = df.select(
        F.col("doc_id").alias("doc"),
        F.array_distinct(word_shingles(F.col("text"),
                                       SHINGLE_K)).alias("sh"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    joined = a.join(b, F.col("a.doc") + 1 == F.col("b.doc"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return joined.select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )
