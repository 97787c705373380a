"""MinHash signatures + LSH band keys over character shingles.

This is the engine's candidate-generation core — the stage the reference
*designed but never implemented* (pipeline.py:334-388 calls
`execute_candidate_queries` which does not exist in src/; SURVEY.md §3 EP3).
The reference delegated ANN to a Weaviate HNSW server; here blocking is pure
computation + shuffle: shingle → MinHash signature → band hashes → block
keys, all inside Arrow pandas UDFs (no server, no per-row Python).

MinHash uses k universal-hash permutations h_i(x) = (a_i·x + b_i) mod p over
polynomial-rolling-hash values of the k-BYTE shingle windows (see
`shingle_set`; Broder, "On the resemblance and containment of documents");
banding per Leskovec/Rajaraman/Ullman MMDS ch.3.  a_i/b_i come
from a fixed numpy PCG64 seed so signatures are deterministic across runs,
executors, and parallelism levels.

Arithmetic note: p = 2³¹−1 (Mersenne) with shingle values reduced mod p keeps
every product a·x < 2⁶² — exact in native uint64, so the whole signature is
ONE vectorized numpy expression per batch (the earlier 2⁶¹−1 variant needed
object-dtype big-int math, ~100× slower; 31-bit hash space is ample for
MinHash, collision prob 2⁻³¹ per permutation).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, StringType

_MERSENNE_P = (1 << 31) - 1
_SEED = 42


def _coeffs(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.Generator(np.random.PCG64(_SEED))
    a = rng.integers(1, _MERSENNE_P, size=num_hashes, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE_P, size=num_hashes, dtype=np.uint64)
    return a, b


_POLY_B = 1000003  # polynomial rolling-hash base


def _pows(k: int) -> np.ndarray:
    pw = np.empty(k, dtype=np.uint64)
    acc = 1
    for i in range(k):
        pw[i] = acc
        acc = (acc * _POLY_B) % _MERSENNE_P
    return pw


_POW_CACHE: dict[int, np.ndarray] = {}


def _mod_mersenne(v: np.ndarray) -> np.ndarray:
    """Exact v mod (2³¹−1) for uint64 v < 2⁶³ without integer division.

    2³¹ ≡ 1 (mod p) ⇒ v ≡ (v & p) + (v ≫ 31); two folds bring v < 2⁶³ down
    to [0, p+4], one conditional subtract lands [0, p−1].  numpy uint64 `%`
    compiles to a hardware divide (no SIMD, ~20-40 cycles/lane); the
    shift-add fold is pure vector ops — measured ~6× on the signature
    kernel.  Bit-identical to `%` (pinned by test_properties parity)."""
    m = np.uint64(_MERSENNE_P)
    s = np.uint64(31)
    v = (v & m) + (v >> s)
    v = (v & m) + (v >> s)
    return np.where(v >= m, v - m, v)


def shingle_set(text: str, k: int = 3) -> np.ndarray:
    """Distinct hash values of the k-byte shingles of the lowercased padded
    string — fully vectorized: one sliding_window_view + one uint64 matvec
    per document (the per-substring crc32 loop was ~1000× slower; each term
    < 255·p·k < 2⁴³, exact in uint64, same 31/32-bit collision regime as
    crc32).

    Text shorter than k bytes after the 2-space padding yields an EMPTY
    set — no full window exists, so Jaccard is undefined and the document
    is excluded from LSH pairing (zero-padding a partial window would make
    unrelated micro-docs J=1.0 near-dups, and would drift from the SQL
    oracle's windowing, which emits no rows for them; exact duplicates of
    short docs are exact-dedup's job).  The k=3 blocking path never hits
    this: any non-empty name plus padding is ≥ 3 bytes."""
    data = np.frombuffer(f" {text.lower()} ".encode("utf-8"), dtype=np.uint8)
    pw = _POW_CACHE.get(k)
    if pw is None:
        pw = _pows(k)
        _POW_CACHE[k] = pw
    if len(data) < k:
        return np.empty(0, dtype=np.uint64)
    w = np.lib.stride_tricks.sliding_window_view(data, k)
    hv = _mod_mersenne((w.astype(np.uint64) * pw[None, :]).sum(axis=1))
    return np.unique(hv)


def _sig_from_shingles(x: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(a·x + b) mod p, min over shingles — exact in uint64 (see module doc)."""
    xr = _mod_mersenne(x.astype(np.uint64))
    hv = _mod_mersenne(a[:, None] * xr[None, :] + b[:, None])
    return hv.min(axis=1).astype(np.int64)


def minhash_signature(text: str | None, num_hashes: int = 64, k: int = 3) -> np.ndarray:
    """int64[num_hashes] MinHash signature; empty/too-short text (no full
    k-byte window) → all -1 sentinel (band_keys emits no keys for it)."""
    a, b = _coeffs(num_hashes)
    if not text:
        return np.full(num_hashes, -1, dtype=np.int64)
    sh = shingle_set(text, k)
    if not len(sh):
        return np.full(num_hashes, -1, dtype=np.int64)
    return _sig_from_shingles(sh, a, b)


def band_keys(sig: np.ndarray, bands: int) -> list[str]:
    """One block key per band: 'b<i>:<hash of the band rows>'.  Band hash is
    crc32 over the row bytes — cheap, deterministic, collision-safe enough at
    32 bits per band given pair verification happens downstream."""
    if sig[0] == -1 and np.all(sig == -1):
        return []
    rows = len(sig) // bands
    keys = []
    for i in range(bands):
        chunk = sig[i * rows : (i + 1) * rows]
        keys.append(f"b{i}:{zlib.crc32(chunk.tobytes()):08x}")
    return keys


def jaccard(text1: str, text2: str, k: int = 3) -> float:
    """Exact shingle-set Jaccard (ground truth for MinHash estimates).
    Empty shingle sets (text shorter than the window) → 0.0: Jaccard is
    undefined there and such docs are excluded from near-dup pairing."""
    s1 = set(shingle_set(text1, k).tolist())
    s2 = set(shingle_set(text2, k).tolist())
    if not s1 or not s2:
        return 0.0
    return len(s1 & s2) / len(s1 | s2)


# uint64 budget for one (num_hashes × Σshingles) hash block: 2²⁰ cells
# = 8 MB — sized to stay cache-resident, NOT for peak memory.  Measured
# sweep (2000×3000-char docs, 6M shingles): 2²⁵ cells = 26 s (the ~8
# temporaries of the hash expression each sweep 268 MB of DRAM), 2²⁰ = 3.1 s;
# per-doc formulation = 3.5 s.  Blocking also amortizes numpy dispatch for
# short-doc corpora (~8% there).
_SIG_BLOCK_CELLS = 1 << 20


def make_minhash_udf(num_hashes: int = 64, k: int = 3):
    """Arrow pandas UDF: string column → array<int> signature column.
    Coefficients are computed once per executor (closure), re-used across
    batches.

    Column type is int32, NOT long: every signature slot is a value mod
    p = 2³¹−1 (and the empty-text sentinel −1), so int32 holds it exactly —
    half the bytes through every exchange/broadcast the signatures ride
    (guide §2.3 narrower types).  Band keys are unaffected: they are
    computed from the int64 numpy representation inside the kernels
    (band_keys coerces), never from the column bytes.

    Batched kernel: shingle sets for a block of docs are concatenated into
    ONE flat array, hashed as a single (num_hashes × Σ|S|) vectorized
    expression, and reduced per-doc with `np.minimum.reduceat` — the per-doc
    64×|S| matrix formulation paid numpy dispatch + allocation once per
    document; blocking pays it once per block.  Block size is capped
    cache-resident (see _SIG_BLOCK_CELLS) whatever Arrow's batch size.
    Values are bit-identical to the per-doc path (same arithmetic)."""
    a, b = _coeffs(num_hashes)

    @pandas_udf(ArrayType(IntegerType()))
    def minhash_udf(texts: pd.Series) -> pd.Series:
        sets = [
            shingle_set(t, k) if t else np.empty(0, dtype=np.uint64)
            for t in texts
        ]
        return pd.Series(_sigs_batched(sets, a, b, num_hashes))

    return minhash_udf


def _sigs_batched(
    sets: list[np.ndarray], a: np.ndarray, b: np.ndarray, num_hashes: int
) -> list[list[int]]:
    """Batched signature kernel over precomputed shingle sets (see
    make_minhash_udf docstring); empty sets get the -1 sentinel row."""
    empty = np.full(num_hashes, -1, dtype=np.int64).tolist()
    out: list[list[int]] = [empty] * len(sets)
    max_shingles = max(_SIG_BLOCK_CELLS // max(num_hashes, 1), 1)
    i = 0
    while i < len(sets):
        j, total, idx = i, 0, []
        while j < len(sets) and (total == 0 or total + len(sets[j]) <= max_shingles):
            if len(sets[j]):
                idx.append(j)
                total += len(sets[j])
            j += 1
        if idx:
            flat = _mod_mersenne(np.concatenate([sets[p] for p in idx]))
            hv = _mod_mersenne(a[:, None] * flat[None, :] + b[:, None])
            offs = np.zeros(len(idx), dtype=np.intp)
            np.cumsum([len(sets[p]) for p in idx[:-1]], out=offs[1:])
            mins = np.minimum.reduceat(hv, offs, axis=1).astype(np.int64)
            for col, p in enumerate(idx):
                out[p] = mins[:, col].tolist()
        i = j
    return out


def make_sig_shingle_udf(num_hashes: int = 64, k: int = 3):
    """Arrow pandas UDF: string column → struct(sig array<int>, sh
    array<int>) — MinHash signature AND the sorted distinct shingle-hash
    set from ONE pass over the text.  The LSH operators need both (bands
    from sig, exact verify from sh); computing them in separate UDFs
    shingled every document twice and scanned the text column twice.
    Column values are numerically identical to make_minhash_udf's
    signatures and to shingle_set (same batch kernel); both arrays are
    int32 because every element is a value mod p = 2³¹−1 (sentinel −1) —
    see make_minhash_udf.  The sh arrays are the verify stage's dominant
    per-pair payload, so the narrowing halves the bytes that cross the
    pair-assembly joins and the Arrow intersect kernel's boundary."""
    from pyspark.sql.types import StructField, StructType

    a, b = _coeffs(num_hashes)
    ret = StructType(
        [
            StructField("sig", ArrayType(IntegerType())),
            StructField("sh", ArrayType(IntegerType())),
        ]
    )

    @pandas_udf(ret)
    def sig_shingle_udf(texts: pd.Series) -> pd.DataFrame:
        sets = [
            shingle_set(t, k) if t else np.empty(0, dtype=np.uint64)
            for t in texts
        ]
        return pd.DataFrame(
            {
                "sig": _sigs_batched(sets, a, b, num_hashes),
                # exact: shingle values are mod p = 2³¹−1 < int32 max
                "sh": [s.astype(np.int32).tolist() for s in sets],
            }
        )

    return sig_shingle_udf


def make_sig_shingle_band_udf(num_hashes: int = 64, k: int = 3, bands: int = 16):
    """Arrow pandas UDF: string column → struct(sig array<int>, sh
    array<int>, keys array<string>) — signature, sorted distinct
    shingle-hash set AND the LSH band keys, all from ONE pass over the
    text.  Emitting the keys here removes the separate band-key Python
    stage the LSH operators otherwise run over the sig column (a whole
    extra Arrow round-trip per corpus side at crawl-snapshot latencies).
    Values are numerically identical to make_sig_shingle_udf +
    make_band_keys_udf composed (same kernels; the band keys are computed
    HERE from the int64 numpy signatures, before the int32 column cast, so
    they are byte-identical to the long-typed era).  int32 arrays: see
    make_minhash_udf / make_sig_shingle_udf."""
    from pyspark.sql.types import StructField, StructType

    a, b = _coeffs(num_hashes)
    ret = StructType(
        [
            StructField("sig", ArrayType(IntegerType())),
            StructField("sh", ArrayType(IntegerType())),
            StructField("keys", ArrayType(StringType())),
        ]
    )

    @pandas_udf(ret)
    def sig_shingle_band_udf(texts: pd.Series) -> pd.DataFrame:
        sets = [
            shingle_set(t, k) if t else np.empty(0, dtype=np.uint64)
            for t in texts
        ]
        sigs = _sigs_batched(sets, a, b, num_hashes)
        return pd.DataFrame(
            {
                "sig": sigs,
                # exact: shingle values are mod p = 2³¹−1 < int32 max
                "sh": [s.astype(np.int32).tolist() for s in sets],
                # band keys hash the INT64 signature bytes (byte-identical
                # to the long-typed column era; the int32 column cast
                # happens after this kernel returns)
                "keys": [
                    band_keys(np.asarray(s, dtype=np.int64), bands) for s in sigs
                ],
            }
        )

    return sig_shingle_band_udf


def make_intersect_size_udf():
    """Arrow pandas UDF: two sorted-distinct integer-array columns → exact
    |A∩B| (int).  Sorted-merge via one np.searchsorted of the shorter set
    into the longer + an equality count — exact because shingle_set emits
    sorted distinct values, so positional hits are 1:1 with set members.

    Why not JVM array_intersect: the estimate-gate fold (zip_with/
    aggregate) is CodegenFallback, which drops the whole verify filter to
    the interpreted path where ArrayIntersect builds a BOXED hash set per
    row (~45 µs/pair at 250-element sets, and the division filter
    evaluates it twice).  Measured at sf0.1: self-join verify 3.6 s → 1.7 s,
    cross verify 2.4 s → 1.1 s with this kernel.  Transfer stays bounded:
    only estimate-gate survivors reach the Arrow stage, so bytes scale
    with true near-dup density, not candidate volume."""

    @pandas_udf(IntegerType())
    def intersect_size_udf(lsh: pd.Series, rsh: pd.Series) -> pd.Series:
        # dtype-preserving: both columns are array<int32>, and searchsorted
        # on matching integer dtypes needs no cast — forcing int64 here
        # would copy every array right after it crossed the boundary
        out = np.empty(len(lsh), dtype=np.int32)
        for i, (a, b) in enumerate(zip(lsh, rsh)):
            out[i] = sorted_intersect_size(np.asarray(a), np.asarray(b))
        return pd.Series(out)

    return intersect_size_udf


def sorted_intersect_size(a: np.ndarray, b: np.ndarray) -> int:
    """Exact |A∩B| for two SORTED-DISTINCT same-dtype integer arrays:
    searchsorted of the shorter into the longer + equality count (see
    make_intersect_size_udf for why this replaces JVM array_intersect)."""
    if len(a) > len(b):
        a, b = b, a
    if not len(b) or not len(a):
        return 0
    idx = np.searchsorted(b, a)
    idx[idx == len(b)] = 0
    return int(np.count_nonzero(b[idx] == a))


def make_band_keys_udf(bands: int):
    """Arrow pandas UDF: signature array column → array<string> band keys."""

    @pandas_udf(ArrayType(StringType()))
    def band_keys_udf(sigs: pd.Series) -> pd.Series:
        return sigs.map(lambda s: band_keys(np.asarray(s, dtype=np.int64), bands))

    return band_keys_udf
