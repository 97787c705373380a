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

`embed_string` is the per-string definition; `embed_batch` computes the same
vectors bit for bit for a whole Arrow batch in one numpy pass, and runs
inside the fused scoring stage over each task's *distinct* strings only
(dedup-before-embed, the reference's own key optimization at
embedding.py:106-119).
"""

from __future__ import annotations

import functools
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


@functools.lru_cache(maxsize=None)
def _crc_tables(max_len: int) -> tuple[np.ndarray, np.ndarray]:
    """crc32 is affine over GF(2): for messages of one length L,
    crc32(m) = crc32(0^L) ^ XOR_i U[L-1-i, m_i], where
    U[d, b] = crc32(b 0^d) ^ crc32(0^(d+1)) depends only on the byte's
    distance d from the end.  Returns (U flattened to index d*256 + b,
    [crc32(0^L) for L in 0..max_len])."""
    u = np.zeros((max_len, 256), dtype=np.uint32)
    for d in range(max_len):
        base = zlib.crc32(bytes(d + 1))
        for b in range(256):
            u[d, b] = zlib.crc32(bytes([b]) + bytes(d)) ^ base
    zero = np.array([zlib.crc32(bytes(n)) for n in range(max_len + 1)], dtype=np.uint32)
    return u.ravel(), zero


def gram_hashes(texts, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(row, crc32) of every character n-gram of every text, as
    `embed_string` hashes them (row i indexes texts[i]; empty and None
    texts have no grams), in one numpy pass over the batch's concatenated
    UTF-8 bytes: a gram's crc32 is an XOR of table lookups, one per byte."""
    padded = []
    rows = []
    for i, t in enumerate(texts):
        if t:
            padded.append(f" {t.lower()} ")
            rows.append(i)
    if not padded:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.uint32)
    buf = np.frombuffer("".join(padded).encode("utf-8"), dtype=np.uint8)
    chars = np.fromiter(map(len, padded), dtype=np.int64, count=len(padded))
    # char_ngrams: len - n + 1 grams, or the whole padded string if shorter
    grams = np.maximum(chars - n + 1, 1)
    # global index of every gram's first character, and its length in chars
    first = np.arange(int(grams.sum()), dtype=np.int64) + np.repeat(
        np.cumsum(chars) - chars - (np.cumsum(grams) - grams), grams
    )
    width = np.repeat(np.minimum(chars, n), grams)
    if len(buf) == int(chars.sum()):  # all ASCII: one byte per character
        start, length = first, width
    else:
        char_at = np.append(np.flatnonzero((buf & 0xC0) != 0x80), len(buf))
        start = char_at[first]
        length = char_at[first + width] - start
    u, zero = _crc_tables(4 * n)  # a UTF-8 character is at most 4 bytes
    h = zero[length]
    offset = (length - 1) * 256  # table row of each gram's first byte
    shortest = int(length.min())
    for j in range(int(length.max())):
        if j < shortest:
            h ^= u[offset + buf[start + j]]
        else:  # only grams longer than j bytes have a byte j
            sel = np.flatnonzero(length > j)
            h[sel] ^= u[offset[sel] + buf[start[sel] + j]]
        offset -= 256
    return np.repeat(np.asarray(rows, dtype=np.int64), grams), h


def embed_batch(
    texts, dim: int = 256, n: int = 3, weights: np.ndarray | None = None
) -> np.ndarray:
    """float32 (len(texts), dim): row i equals embed_string(texts[i], dim,
    n, weights) bit for bit, from one gram-hash pass and one bincount for
    the whole batch."""
    k = len(texts)
    rows, hs = gram_hashes(texts, n)
    signs = np.where((hs >> np.uint32(31)) & np.uint32(1), 1.0, -1.0)
    keys = rows * dim + (hs % np.uint32(dim)).astype(np.int64)
    # sums of ±1 are exact whatever the order, so this equals the
    # per-string bincount
    vec = np.bincount(keys, weights=signs, minlength=k * dim).astype(np.float64, copy=False)
    vec = vec.reshape(k, dim)
    if weights is not None:
        vec = vec * np.asarray(weights, dtype=np.float64)
    # per-row dot, as np.linalg.norm computes a vector's norm (a reduction
    # along axis 1 sums in another order and can differ in the last bit)
    norms = np.sqrt(np.fromiter((r.dot(r) for r in vec), dtype=np.float64, count=k))
    nz = norms > 0
    vec[nz] /= norms[nz, None]
    return vec.astype(np.float32)


def bucket_document_frequencies(texts, dim: int = 256, n: int = 3) -> np.ndarray:
    """int64[dim]: how many of `texts` have at least one n-gram in each
    bucket (the document frequencies `bucket_idf_weights` takes)."""
    rows, hs = gram_hashes(texts, n)
    keys = np.unique(rows * dim + (hs % np.uint32(dim)).astype(np.int64))
    return np.bincount(keys % dim, minlength=dim)


def make_embed_udf(dim: int = 256, n: int = 3, weights=None):
    """Factory for an Arrow pandas UDF: string column → array<float> column.
    ``weights``: optional list/array of per-bucket IDF weights (len dim),
    closed over and shipped to executors once per task."""
    w = None if weights is None else np.asarray(weights, dtype=np.float64)

    @pandas_udf(ArrayType(FloatType()))
    def embed_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(list(embed_batch(texts.tolist(), dim=dim, n=n, weights=w)))

    return embed_udf


def bucket_idf_weights(df_counts, n_docs: int, dim: int = 256) -> np.ndarray:
    """(bucket, df) pairs → smooth IDF weight vector log(1 + n_docs/(1+df));
    buckets never seen get the max weight."""
    weights = np.full(dim, np.log(1.0 + n_docs), dtype=np.float64)
    for b, df in df_counts:
        weights[int(b)] = np.log(1.0 + n_docs / (1.0 + float(df)))
    return weights
