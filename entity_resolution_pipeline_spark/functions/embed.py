"""Deterministic local embeddings: hashed character-n-gram projection.

Replaces the reference's OpenAI `text-embedding-3-small` client (rate-limited
batch API, src/batch_parallel_embedding.py:300-386) with a local,
deterministic, seed-free feature-hashing embedding, per the north rule
("locally-computed embedding cosine similarity").

Construction: character n-grams of the lowercased ' '-padded string are
hashed with crc32; each n-gram adds ±1 (sign bit from the hash) into
`hash % dim` of a float accumulator; the vector is L2-normalized.  This is
the classic feature-hashing / SimHash-style projection (Weinberger et al.,
"Feature Hashing for Large Scale Multitask Learning") — same inner-product
geometry contract the pipeline needs: near-identical strings ⇒ cosine ≈ 1.

Runs as ONE numpy pass per Arrow batch inside a pandas UDF, over *distinct*
strings only (dedup-before-embed, the reference's own key optimization at
embedding.py:106-119).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType


def char_ngrams(text: str, n: int) -> list[str]:
    """Lowercased, single-space-padded character n-grams; shorter-than-n
    strings yield the padded string itself."""
    padded = f" {text.lower()} "
    if len(padded) <= n:
        return [padded]
    return [padded[i : i + n] for i in range(len(padded) - n + 1)]


def embed_string(
    text: str | None, dim: int = 256, n: int = 3, weights: np.ndarray | None = None
) -> np.ndarray:
    """Deterministic hashed-n-gram embedding, L2-normalized float32[dim].
    Empty/None → zero vector (cosine treats it as 0-similarity, matching the
    reference's empty-vector guard, feature_engineering.py:694-700).

    ``weights`` (optional, len dim) is a per-bucket IDF vector from
    :func:`bucket_idf_weights`: template boilerplate shared by every document
    hashes into high-DF buckets and is downweighted toward 0, so cosine
    measures *distinctive* overlap — the role the reference's semantic
    OpenAI embeddings played.  Without weights, cosine is dominated by
    whatever fixed scaffolding the corpus shares.
    """
    if not text:
        return np.zeros(dim, dtype=np.float32)
    grams = char_ngrams(text, n)
    hs = np.fromiter(
        (zlib.crc32(g.encode("utf-8")) for g in grams),
        dtype=np.uint32,
        count=len(grams),
    )
    signs = np.where((hs >> np.uint32(31)) & np.uint32(1), 1.0, -1.0)
    # bincount = vectorized scatter-add (the per-gram `vec[h] += s` Python
    # loop was the pipeline's hottest line at corpus scale)
    vec = np.bincount((hs % np.uint32(dim)).astype(np.int64), weights=signs, minlength=dim)
    if weights is not None:
        vec = vec * weights
    norm = np.linalg.norm(vec)
    if norm > 0:
        vec /= norm
    return vec.astype(np.float32)


def make_embed_udf(dim: int = 256, n: int = 3, weights=None):
    """Factory for an Arrow pandas UDF: string column → array<float> column.
    ``weights``: optional list/array of per-bucket IDF weights (len dim),
    closed over and shipped to executors once per task."""
    w = None if weights is None else np.asarray(weights, dtype=np.float64)

    @pandas_udf(ArrayType(FloatType()))
    def embed_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: embed_string(t, dim=dim, n=n, weights=w).tolist())

    return embed_udf


def _make_buckets_udf(dim: int, n: int):
    """Arrow UDF: string → sorted distinct bucket ids of its char n-grams."""
    from pyspark.sql.functions import pandas_udf as pudf
    from pyspark.sql.types import ArrayType as AT, IntegerType as IT

    @pudf(AT(IT()))
    def buckets_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t:
                out.append([])
                continue
            grams = char_ngrams(t, n)
            hs = np.fromiter(
                (zlib.crc32(g.encode("utf-8")) for g in grams),
                dtype=np.uint32,
                count=len(grams),
            )
            out.append(np.unique(hs % np.uint32(dim)).astype(int).tolist())
        return pd.Series(out)

    return buckets_udf


def bucket_frequencies_with_total(
    strings_df, col: str, dim: int = 256, n: int = 3
) -> tuple[list[tuple[int, int]], int]:
    """Per-bucket document frequencies over a corpus of distinct strings
    (n-grams → bucket id → count of source strings; dim rows, broadcastable
    by construction) AND the distinct-string total in ONE agg job: a -1
    sentinel bucket is prepended to every string's bucket array before the
    explode, so count(bucket = -1) IS the string count and the
    other rows are the per-bucket document frequencies — replacing the
    persist + count() + agg sequence (two sequential jobs) the IDF stage
    used to run.  Returns ([(bucket, df), ...], n_docs)."""
    from pyspark.sql import functions as F

    rows = (
        strings_df.select(
            F.explode(
                F.concat(
                    F.array(F.lit(-1)),
                    _make_buckets_udf(dim, n)(F.col(col)),
                )
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    n_docs = 0
    out: list[tuple[int, int]] = []
    for r in rows:
        if int(r["bucket"]) == -1:
            n_docs = int(r["df"])
        else:
            out.append((int(r["bucket"]), int(r["df"])))
    return out, n_docs


def bucket_idf_weights(df_counts, n_docs: int, dim: int = 256) -> np.ndarray:
    """(bucket, df) rows — a DataFrame or a pre-collected iterable of
    (bucket, df) pairs — → smooth IDF weight vector log(1 + n_docs/(1+df));
    buckets never seen get the max weight."""
    weights = np.full(dim, np.log(1.0 + n_docs), dtype=np.float64)
    rows = df_counts.collect() if hasattr(df_counts, "collect") else df_counts
    for row in rows:
        b, df = (row[0], row[1]) if isinstance(row, tuple) else (row["bucket"], row["df"])
        weights[int(b)] = np.log(1.0 + n_docs / (1.0 + float(df)))
    return weights
