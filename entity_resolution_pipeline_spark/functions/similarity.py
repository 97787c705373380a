"""String/vector similarity primitives for the pairwise feature battery.

Pure-Python/numpy reference implementations (used inside Arrow pandas UDFs
and in tests); the hot path batches them over whole Arrow batches in
operators/features.py.

Parity targets:
* cosine — reference feature_engineering.py:670-702 (0.0 on empty/zero).
* levenshtein similarity — feature_engineering.py:504-514
  (`1 - dist/max_len`, 1.0 when both empty).
* jaro_winkler — jellyfish.jaro_winkler_similarity semantics
  (feature_engineering.py:516-520); implemented from the published
  Jaro-Winkler definition (prefix scale 0.1, max prefix 4, boost only
  when jaro > 0.7).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def batch_cosine(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two (n, d) matrices; 0.0 where either row has zero
    norm.  This is the vectorized form used in the scoring UDF — ONE numpy
    expression per Arrow batch instead of the reference's per-pair,
    per-process calls (SURVEY.md §4 'Batched vector ops')."""
    na = np.linalg.norm(A, axis=1)
    nb = np.linalg.norm(B, axis=1)
    denom = na * nb
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.einsum("ij,ij->i", A, B) / denom
    sims[~np.isfinite(sims)] = 0.0
    return sims


def levenshtein_distance(s1: str, s2: str) -> int:
    """Classic DP edit distance (two-row)."""
    if s1 == s2:
        return 0
    if not s1:
        return len(s2)
    if not s2:
        return len(s1)
    if len(s1) < len(s2):
        s1, s2 = s2, s1
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1, 1):
        cur = [i]
        for j, c2 in enumerate(s2, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (c1 != c2)))
        prev = cur
    return prev[-1]


def levenshtein_similarity(s1: str, s2: str) -> float:
    """`1 - dist/max_len`; 1.0 when both empty (feature_engineering.py:504-514)."""
    max_len = max(len(s1), len(s2))
    if max_len == 0:
        return 1.0
    return 1.0 - levenshtein_distance(s1, s2) / max_len


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(i + match_window + 1, len2)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    transpositions //= 2
    return (matches / len1 + matches / len2 + (matches - transpositions) / matches) / 3.0


def jaro_winkler_similarity(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler with the standard >0.7 boost threshold and 4-char prefix."""
    jaro = _jaro(s1, s2)
    if jaro > 0.7:
        prefix = 0
        for c1, c2 in zip(s1[:4], s2[:4]):
            if c1 != c2:
                break
            prefix += 1
        jaro += prefix * prefix_weight * (1.0 - jaro)
    return jaro


def make_jaro_winkler_udf():
    """Arrow pandas UDF: (string, string) → Jaro-Winkler similarity.
    The reference calls jellyfish per pair in worker processes
    (feature_engineering.py:516-520); this is the same metric batched."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                jaro_winkler_similarity(x, y) if x is not None and y is not None else None
                for x, y in zip(a, b)
            ]
        )

    return jw_udf
