"""Batched embedding kernel parity (no Spark): `embed_batch` must equal
`embed_string` bit for bit, and `bucket_document_frequencies` must equal
the per-string distinct-bucket counts, on every kind of string the
pipeline can hand them."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from entity_resolution_pipeline_spark import synth
from entity_resolution_pipeline_spark.functions.embed import (
    bucket_document_frequencies,
    char_ngrams,
    embed_batch,
    embed_string,
)

DIM = 256

EDGE = [
    "", None, " ", "   ", "\t \n", "a", "ab", "abc", "x y",
    "é", "Ü", "straße", "Łódź, Jan, 1900–1980",  # 2-byte UTF-8
    "日本", "東京都, 1868",  # 3-byte UTF-8
    "😀", "😀x", "a😀b😀c",  # 4-byte UTF-8
    "K",  # KELVIN SIGN lowercases to ASCII "k"
    "İstanbul",  # lowercases to two code points
]


def _corpus() -> list:
    """Generator page texts (the composite field) and their labeled
    field values, then the edge strings."""
    strings = []
    for text in synth.pages_pdf(400)["text"].dropna():
        strings.append(text)
        strings += [line.partition(": ")[2] for line in text.split("\n")]
    return list(dict.fromkeys(strings)) + EDGE


def _bits(a: np.ndarray) -> np.ndarray:
    return a.view(np.uint32)


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
@pytest.mark.parametrize("weighted", [False, True])
def test_embed_batch_equals_embed_string(n, weighted):
    texts = _corpus()
    weights = np.random.default_rng(n).random(DIM) if weighted else None
    got = embed_batch(texts, dim=DIM, n=n, weights=weights)
    assert got.shape == (len(texts), DIM) and got.dtype == np.float32
    for i, t in enumerate(texts):
        want = embed_string(t, dim=DIM, n=n, weights=weights)
        assert np.array_equal(_bits(got[i]), _bits(want)), (n, t)


def test_embed_batch_edge_strings_alone_and_mixed():
    """Shorter-than-n, empty, None and non-ASCII strings give the same row
    whatever else is in the batch (all-ASCII batches take no UTF-8
    boundary pass)."""
    ascii_only = [t for t in _corpus() if t and t.isascii()]
    for batch in (EDGE, ascii_only[:50], ascii_only[:50] + EDGE, ["ab"], [None], []):
        got = embed_batch(batch, dim=DIM, n=4)
        assert got.shape == (len(batch), DIM)
        for i, t in enumerate(batch):
            assert np.array_equal(_bits(got[i]), _bits(embed_string(t, dim=DIM, n=4))), t


def test_empty_strings_embed_to_zero():
    got = embed_batch(["", None, "a"], dim=DIM, n=3)
    assert not got[0].any() and not got[1].any()
    assert np.linalg.norm(got[2]) == pytest.approx(1.0, abs=1e-6)


@pytest.mark.parametrize("n", [2, 3, 4])
def test_document_frequencies_equal_per_string_buckets(n):
    texts = _corpus()
    want = np.zeros(DIM, dtype=np.int64)
    for t in texts:
        if t:
            hs = np.array([zlib.crc32(g.encode("utf-8")) for g in char_ngrams(t, n)],
                          dtype=np.uint32)
            want[np.unique(hs % np.uint32(DIM))] += 1
    got = bucket_document_frequencies(texts, dim=DIM, n=n)
    assert np.array_equal(got, want)
    # a sum of per-batch counts is the whole corpus's count
    halves = (bucket_document_frequencies(texts[: len(texts) // 2], dim=DIM, n=n)
              + bucket_document_frequencies(texts[len(texts) // 2:], dim=DIM, n=n))
    assert np.array_equal(halves, want)
