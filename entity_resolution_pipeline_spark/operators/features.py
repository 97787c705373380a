"""Pairwise feature battery + standardization.

Re-expresses the reference's per-pair, per-process feature computation
(feature_engineering.py:332-392 fan-out; battery 426-665) as ONE fused
Arrow pass (`pair_features_hashed`, `pair_predictions_hashed`):

* pair rows carry only the 5+5 field hashes and the person strings
  (pair ⋈ record_field_hashes ⋈ record_field_hashes — reference J3,
  querying.py:174-210); no embedding vector ever rides a pair row
* one `mapInPandas` stage gathers vectors by hash from the staged
  unit-vector matrix (`stage_vector_matrix`) and computes the whole battery
  with stacked-matrix numpy (the reference's dominant overhead was per-pair
  numpy calls across process pools — SURVEY.md §4 'Batched vector ops');
  on the predict path the same batch is LR-scored
* StandardScaler as agg + select expressions (feature_engineering.py:931-960;
  sklearn population std, zero-variance columns scale 1.0)

The battery is fixed: `FEATURES`, the columns the model trains on.  The
reference computed a wider configurable battery and then selected from it
(config.yml:76-193, feature_engineering.py:704-803); the features its
shipped selection never trained on are not computed (COVERAGE.md §2.7).

The wide-row path (`record_repr` → `assemble_pairs` → `pair_features` over
`compute_features_pdf`) is the direct per-pair re-expression, kept as the
parity oracle the fused stage is tested against.

Semantics preserved per feature: see functions/similarity.py docstrings and
the f-battery table SURVEY.md §2.7.  Missing-field conventions: a feature the
reference never emitted for a pair is 0.0 after vectorization fill
(classification.py:330) — replicated via presence masks here, NOT by running
cosine over zero vectors (which would give norm 0.5 and a spurious
low-composite penalty).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..config import EMBED_FIELDS

HARMONICS: tuple[tuple[str, str], ...] = (("person", "title"), ("person", "subjects"))
LOW_COMPOSITE_THRESHOLD = 0.65
BIRTH_DEATH: tuple[str, ...] = ("birth_death_left", "birth_death_right", "birth_death_match")
# The battery, sorted (the reference sorts its final feature_names).
# * Cosines over every embedded field.  Deviation from the reference's
#   selection (config.yml:169): with semantic OpenAI embeddings composite and
#   person cosines carried most signal; with hashed char-n-gram embeddings
#   the entity-distinctive vocabulary lives in the per-field title/subjects
#   cosines.
# * String similarities on the YEAR-STRIPPED normalized person name
#   (reference normalize_name, birth_death_regexes.py:197-225).  Raw-person
#   levenshtein is noisy — "Haddad, Jan" vs "Haddad, Jan, 1797-1828" scores
#   0.5 while the truly different "Haddad, Jan" vs "Haddad, Eszter" scores
#   0.57; stripping the life dates makes given-name differences the signal.
FEATURES: tuple[str, ...] = tuple(
    sorted(
        [f"{f}_cosine" for f in EMBED_FIELDS]
        + ["low_composite_penalty", "person_norm_levenshtein", "person_norm_jaro_winkler"]
        + [f"{a}_{b}_harmonic" for a, b in HARMONICS]
        + list(BIRTH_DEATH)
    )
)


def record_repr(melted: DataFrame, vectors: DataFrame) -> DataFrame:
    """(record_id, {field}_value, {field}_vec ×5) — the per-record
    representation both sides of a pair join against (reference
    record_vectors, querying.py:455-512)."""
    joined = melted.where(F.col("field").isin(*EMBED_FIELDS)).join(
        vectors.select("hash", "embedding").dropDuplicates(["hash"]), "hash", "left"
    )
    aggs = []
    for f in EMBED_FIELDS:
        aggs.append(
            F.first(F.when(F.col("field") == f, F.col("value_norm")), ignorenulls=True).alias(f"{f}_value")
        )
        aggs.append(
            F.first(F.when(F.col("field") == f, F.col("embedding")), ignorenulls=True).alias(f"{f}_vec")
        )
    return joined.groupBy("record_id").agg(*aggs)


def assemble_pairs(pairs: DataFrame, repr_df: DataFrame) -> DataFrame:
    """pairs(left_id, right_id[, match]) ⋈ repr ⋈ repr → wide pair rows with
    l_/r_ prefixed value+vector columns."""
    l = repr_df.select(
        F.col("record_id").alias("left_id"),
        *[F.col(f"{f}_value").alias(f"l_{f}_value") for f in EMBED_FIELDS],
        *[F.col(f"{f}_vec").alias(f"l_{f}_vec") for f in EMBED_FIELDS],
    )
    r = repr_df.select(
        F.col("record_id").alias("right_id"),
        *[F.col(f"{f}_value").alias(f"r_{f}_value") for f in EMBED_FIELDS],
        *[F.col(f"{f}_vec").alias(f"r_{f}_vec") for f in EMBED_FIELDS],
    )
    return pairs.join(l, "left_id").join(r, "right_id")


def _stack_vectors(col: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Series of list/None → (matrix (n,dim) zero-filled, present mask)."""
    present = col.map(lambda v: v is not None and len(v) > 0).to_numpy()
    mat = np.zeros((len(col), dim), dtype=np.float64)
    if present.any():
        vals = np.array([np.asarray(v, dtype=np.float64) for v in col[present]])
        mat[present] = vals
    return mat, present


def _harmonic(s1: np.ndarray, s2: np.ndarray) -> np.ndarray:
    """Harmonic mean of two normalized cosines; 0.0 unless both are > 0
    (a missing field's cosine is 0.0)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        h = 2.0 * s1 * s2 / (s1 + s2)
    return np.where((s1 > 0) & (s2 > 0) & np.isfinite(h), h, 0.0)


def compute_features_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """The whole battery for one Arrow batch of wide pair rows: numpy matrix
    ops, no per-pair Python in the similarity math."""
    from ..functions.birth_death import extract_birth_death_years, normalize_name
    from ..functions.similarity import (
        batch_cosine,
        jaro_winkler_similarity,
        levenshtein_similarity,
    )

    n = len(pdf)
    out: dict[str, np.ndarray] = {}

    # cosine block — one stacked matrix op per field
    for f in EMBED_FIELDS:
        lv = pdf[f"l_{f}_vec"]
        rv = pdf[f"r_{f}_vec"]
        dim = next((len(v) for v in lv if v is not None and len(v)), 0) or next(
            (len(v) for v in rv if v is not None and len(v)), 1
        )
        L, pl = _stack_vectors(lv, dim)
        R, pr = _stack_vectors(rv, dim)
        both = pl & pr
        raw = np.where(both, batch_cosine(L, R), 0.0)
        out[f"{f}_cosine"] = np.where(both, (raw + 1.0) / 2.0, 0.0)
        if f == "composite":
            out["low_composite_penalty"] = np.where(
                both & (out["composite_cosine"] < LOW_COMPOSITE_THRESHOLD), 1.0, 0.0
            )

    # normalized-name string sims (year-stripped; see FEATURES)
    ln = pdf["l_person_value"].map(lambda v: normalize_name(v) if v else "")
    rn = pdf["r_person_value"].map(lambda v: normalize_name(v) if v else "")
    for m, fn in (("levenshtein", levenshtein_similarity), ("jaro_winkler", jaro_winkler_similarity)):
        vals = np.zeros(n)
        for i, (a, b) in enumerate(zip(ln, rn)):
            if a and b:
                vals[i] = fn(a, b)
        out[f"person_norm_{m}"] = vals

    for f1, f2 in HARMONICS:
        out[f"{f1}_{f2}_harmonic"] = _harmonic(out[f"{f1}_cosine"], out[f"{f2}_cosine"])

    # birth/death block
    lb = np.full(n, np.nan)
    ld = np.full(n, np.nan)
    rb = np.full(n, np.nan)
    rd = np.full(n, np.nan)
    for i, (a, b) in enumerate(zip(pdf["l_person_value"], pdf["r_person_value"])):
        if a:
            y = extract_birth_death_years(a)
            lb[i] = np.nan if y[0] is None else y[0]
            ld[i] = np.nan if y[1] is None else y[1]
        if b:
            y = extract_birth_death_years(b)
            rb[i] = np.nan if y[0] is None else y[0]
            rd[i] = np.nan if y[1] is None else y[1]
    out["birth_death_left"] = (~np.isnan(lb) | ~np.isnan(ld)).astype(np.float64)
    out["birth_death_right"] = (~np.isnan(rb) | ~np.isnan(rd)).astype(np.float64)
    birth_match = ~np.isnan(lb) & ~np.isnan(rb) & (lb == rb)
    death_match = ~np.isnan(ld) & ~np.isnan(rd) & (ld == rd)
    out["birth_death_match"] = (birth_match | death_match).astype(np.float64)

    res = pd.DataFrame({"left_id": pdf["left_id"], "right_id": pdf["right_id"]})
    if "match" in pdf.columns:
        res["match"] = pdf["match"]
    for name in FEATURES:
        res[name] = out[name]
    return res


def pair_features(assembled: DataFrame) -> DataFrame:
    """Wide pair rows → (left_id, right_id[, match], <FEATURES>)."""
    has_match = "match" in assembled.columns
    fields = [
        StructField("left_id", assembled.schema["left_id"].dataType, False),
        StructField("right_id", assembled.schema["right_id"].dataType, False),
    ]
    if has_match:
        fields.append(StructField("match", assembled.schema["match"].dataType, True))
    fields += [StructField(nm, DoubleType(), True) for nm in FEATURES]
    schema = StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield compute_features_pdf(pdf)

    return assembled.mapInPandas(run, schema=schema)


def selected_feature_names(cfg=None, sel=None) -> list[str]:
    """The model's feature columns: the whole battery, sorted (the
    reference sorts its final feature_names).  Both arguments are ignored;
    perfbench still passes them."""
    return list(FEATURES)


_NULL_SENT = "NULL"


def _parallelism(df: DataFrame) -> int:
    """Target partition count for Python-UDF stages (see
    config.python_stage_width for the half-width rationale)."""
    from ..config import python_stage_width

    return python_stage_width(df.sparkSession)


class _ShardedMatrix:
    """Worker-side view of the shard-staged vector matrix: lazy mmap per
    shard file, vectorized gather by (shard << 32 | row) codes.  Shards hold
    UNIT vectors (pre-normalized at write time, so cosine is one dot with no
    per-pair norms)."""

    def __init__(self, shard_paths: list[str], dim: int):
        self.paths = shard_paths
        self.dim = dim
        self._mats: list = [None] * len(shard_paths)

    def _shard(self, s: int) -> np.ndarray:
        m = self._mats[s]
        if m is None:
            try:
                m = np.load(self.paths[s], mmap_mode="r")
            except FileNotFoundError as e:
                raise FileNotFoundError(
                    f"vector shard {self.paths[s]!r} is not visible on this "
                    "executor — the staging root is not shared across hosts. "
                    "Set ERX_STAGE_ROOT to a filesystem mounted on the driver "
                    "and ALL executors."
                ) from e
            self._mats[s] = m
        return m

    def gather(self, codes: np.ndarray, ok: np.ndarray) -> np.ndarray:
        """codes: int64 (shard<<32|row), -1 for missing → unit-vector matrix
        (n,dim); rows with ~ok stay zero."""
        A = np.zeros((len(codes), self.dim), dtype=np.float32)
        if ok.any():
            act = codes[ok]
            rows_out = np.nonzero(ok)[0]
            shards = act >> 32
            rows = act & 0xFFFFFFFF
            for s in np.unique(shards):
                m = shards == s
                A[rows_out[m]] = self._shard(int(s))[rows[m]]
        return A


_MMAP_CACHE: dict[str, "_ShardedMatrix"] = {}

# worker-local memoization shared across Arrow batches, keyed by the
# per-invocation matrix file name (a new featurize call ⇒ fresh caches; same
# job ⇒ every batch and every task on the worker reuses normalized names /
# years / string sims computed for a hash (pair) once)
_FUSED_CACHE: dict[str, dict[str, dict]] = {}

# keep only the newest few invocations' caches/mmaps alive on a long-lived
# worker (each can hold tens of MB of memoized strings at corpus scale)
_CACHE_KEEP = 3


def _evict_stale_caches(current_key: str) -> None:
    for cache in (_MMAP_CACHE, _FUSED_CACHE):
        while len(cache) > _CACHE_KEEP:
            oldest = next(iter(k for k in cache if k != current_key), None)
            if oldest is None:
                break
            cache.pop(oldest, None)


# staging dirs created by THIS driver process; removed at exit so repeated
# bench/pipeline runs don't accumulate matrices in tmpfs
_STAGE_DIRS: list[str] = []


def _cleanup_stage_dirs() -> None:
    import shutil

    for d in _STAGE_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def cleanup_stage_dirs() -> None:
    """Delete all vector-staging shard dirs registered this session.  The
    atexit hook covers process exit, but a long-lived session that runs
    MANY pipelines (bench loops, notebooks) must call this between runs —
    on tmpfs the leaked shards are RAM, and ~20 accumulated runs
    OOM-killed a 320k-record bench JVM.  Only safe once every DataFrame
    that scores against the current staging matrix has been materialized
    (workers mmap shards lazily at first task use)."""
    _cleanup_stage_dirs()
    _STAGE_DIRS.clear()


def release_stage_dir(mat_dir: str) -> None:
    """Delete ONE staging dir (the last element of a stage_vector_matrix
    result) once everything scored against it has been materialized.
    Unlike cleanup_stage_dirs it leaves every other registered matrix —
    e.g. a concurrent pipeline's — in place."""
    import shutil

    shutil.rmtree(mat_dir, ignore_errors=True)
    try:
        _STAGE_DIRS.remove(mat_dir)
    except ValueError:
        pass  # already freed by cleanup_stage_dirs


def _register_stage_dir(path: str) -> None:
    if not _STAGE_DIRS:
        import atexit

        atexit.register(_cleanup_stage_dirs)
    _STAGE_DIRS.append(path)


def _fused_battery_udf(
    bc_vec,
    out_schema: StructType,
    score_params: tuple | None = None,
):
    """ONE mapInPandas pass computing the entire battery over the narrow
    pair×hash rows: vectors are gathered from the staged mmap matrix
    (cosine = one dot of unit vectors, ~2·dim flops per field), string sims
    and birth/death years come off the carried person-string columns.  No
    joins and no extra stages; string sims and year extraction stay
    deduplicated via worker-local memoization instead of a global
    distinct.  With `score_params` the same batch is also LR-scored."""
    out_cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.birth_death import extract_birth_death_years
        from ..functions.similarity import jaro_winkler_similarity

        index, shard_paths, dim, mat_key = bc_vec.value
        mat = _MMAP_CACHE.get(mat_key)
        if mat is None:
            mat = _ShardedMatrix(shard_paths, dim)
            _MMAP_CACHE[mat_key] = mat
        _evict_stale_caches(mat_key)
        # keyed by the (per-invocation-unique) staging dir: worker-side
        # Broadcast handles don't expose .id
        caches = _FUSED_CACHE.setdefault(
            mat_key, {"years": {}, "sims": {}}
        )
        years_c, sims_c = caches["years"], caches["sims"]

        def _years(value: str):
            """Years per distinct person string, memoized across batches."""
            v = years_c.get(value)
            if v is None:
                v = extract_birth_death_years(value or "")
                years_c[value] = v
            return v

        def _valid_idx(col: pd.Series) -> np.ndarray:
            """Hash column → matrix codes, resolved once per DISTINCT hash in
            the batch (factorize + per-unique dict get), -1 for missing."""
            codes, uniqs = pd.factorize(col)
            u_codes = np.fromiter(
                (
                    index.get(h, -1) if (h is not None and h != _NULL_SENT) else -1
                    for h in uniqs
                ),
                dtype=np.int64,
                count=len(uniqs),
            )
            if not len(uniqs):
                return np.full(len(col), -1, dtype=np.int64)
            return np.where(codes >= 0, u_codes[np.clip(codes, 0, None)], -1)

        def _years_arrays(col: pd.Series) -> tuple[np.ndarray, np.ndarray]:
            """(birth, death) arrays; the year cascade runs once per DISTINCT
            person string in the batch (memoized across batches)."""
            codes, uniqs = pd.factorize(col)
            b_u = np.full(len(uniqs) + 1, np.nan)
            d_u = np.full(len(uniqs) + 1, np.nan)
            for j, v in enumerate(uniqs):
                y = _years(v)
                b_u[j] = np.nan if y[0] is None else y[0]
                d_u[j] = np.nan if y[1] is None else y[1]
            # code -1 (null value → no person) maps to the trailing NaN
            return b_u[codes], d_u[codes]

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            out: dict[str, np.ndarray] = {}
            for f in EMBED_FIELDS:
                li = _valid_idx(pdf[f"l_{f}_h"])
                ri = _valid_idx(pdf[f"r_{f}_h"])
                ok = (li >= 0) & (ri >= 0)
                A = mat.gather(li, ok)
                B = mat.gather(ri, ok)
                # shards hold unit vectors: cosine is one dot.  A PRESENT
                # but zero-norm embedding stages as a zero row (dot 0 →
                # ncos 0.5) — identical to the wide-row oracle, where
                # batch_cosine yields raw 0.0 → (0+1)/2.  Only truly MISSING
                # fields (ok False) are 0.0.
                sims = np.einsum("ij,ij->i", A, B)
                ncos = ((sims.astype(np.float64) + 1.0) / 2.0)
                out[f"{f}_cosine"] = np.where(ok, ncos, 0.0)
                if f == "composite":
                    out["low_composite_penalty"] = np.where(
                        ok & (out["composite_cosine"] < LOW_COMPOSITE_THRESHOLD),
                        1.0,
                        0.0,
                    )

            # levenshtein arrives precomputed (JVM codegen expression over
            # the carried string columns — see _fused_pairs)
            out["person_norm_levenshtein"] = pdf["person_norm_levenshtein"].to_numpy(
                dtype=np.float64
            )
            # jaro-winkler (no Spark builtin) runs here, straight off the
            # carried normalized names.  factorize → compute once per
            # DISTINCT name pair in the batch (memoized across batches) →
            # scatter by code: no per-row Python dict lookups in the hot loop.
            combined = pdf["l_pn"].fillna("").str.cat(pdf["r_pn"].fillna(""), sep="\x01")
            codes, uniqs = pd.factorize(combined)
            jw_u = np.empty(len(uniqs))
            for j, u in enumerate(uniqs):
                v = sims_c.get(u)
                if v is None:
                    a, _, b = u.partition("\x01")
                    v = jaro_winkler_similarity(a, b) if a and b else 0.0
                    sims_c[u] = v
                jw_u[j] = v
            out["person_norm_jaro_winkler"] = jw_u[codes]

            for f1, f2 in HARMONICS:
                out[f"{f1}_{f2}_harmonic"] = _harmonic(
                    out[f"{f1}_cosine"], out[f"{f2}_cosine"]
                )

            lb, ld = _years_arrays(pdf["l_pv"])
            rb, rd = _years_arrays(pdf["r_pv"])
            out["birth_death_left"] = (~np.isnan(lb) | ~np.isnan(ld)).astype(np.float64)
            out["birth_death_right"] = (~np.isnan(rb) | ~np.isnan(rd)).astype(np.float64)
            out["birth_death_match"] = (
                (~np.isnan(lb) & ~np.isnan(rb) & (lb == rb))
                | (~np.isnan(ld) & ~np.isnan(rd) & (ld == rd))
            ).astype(np.float64)

            if score_params is not None:
                # fused LR scoring: one matmul over the in-memory feature
                # arrays — skips a full second Python stage (features →
                # Arrow → score UDF → Arrow) and returns the narrow
                # predictions schema instead of the feature doubles/row
                feat_cols, w_eff, b_eff, thr = score_params
                X = np.column_stack([out[c] for c in feat_cols])
                z = np.clip(X @ w_eff + b_eff, -100, 100)
                probs = 1.0 / (1.0 + np.exp(-z))
                yield pd.DataFrame(
                    {
                        "left_id": pdf["left_id"],
                        "right_id": pdf["right_id"],
                        "probability": probs,
                        "match": probs >= thr,
                    }
                )[out_cols]
                continue
            # single-constructor build (per-column inserts re-consolidate the
            # block manager each time — measured ~10% of the batch)
            data = {"left_id": pdf["left_id"], "right_id": pdf["right_id"]}
            if "match" in out_cols:
                data["match"] = pdf["match"]
            for nm in FEATURES:
                data[nm] = out[nm]
            yield pd.DataFrame(data)[out_cols]

    return run


def stage_vector_matrix(
    vectors: DataFrame, cfg=None
) -> tuple[dict, list, int, str]:
    """DISTRIBUTED matrix staging: executors write float32 npy shards of
    the dedup'd vector table in parallel (one shard per Arrow batch); the
    driver collects only (hash, shard, row) — O(uniques) small values,
    never the vectors.  Workers np.load(mmap_mode='r') each shard lazily
    and share page cache.

    The staging root is ERX_STAGE_ROOT, else /dev/shm, else the system
    tempdir.  Those defaults are host-local: on a multi-host cluster
    ERX_STAGE_ROOT must name a filesystem the driver and every executor
    mount.  `cfg` is ignored; perfbench still passes it.

    Returns (index, shard_paths, dim, mat_dir).  Separate from the fused
    featurization so prepare() can run it in its background vector
    thread, overlapping the blocking phase."""
    import tempfile
    import uuid

    root = os.environ.get("ERX_STAGE_ROOT")
    if root is None:
        root = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    if not os.path.isdir(root):
        raise FileNotFoundError(
            f"vector staging root {root!r} is not a directory on the "
            "driver. Set ERX_STAGE_ROOT to a filesystem shared by the driver "
            "and ALL executors."
        )
    mat_dir = os.path.join(root, f"erx-vecmat-{uuid.uuid4().hex}")
    os.makedirs(mat_dir, exist_ok=True)
    _register_stage_dir(mat_dir)

    def _write_shards(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import uuid as _uuid

        for pdf in batches:
            keep = pdf["embedding"].notna()
            pdf = pdf[keep]
            if not len(pdf):
                continue
            arr = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
            # pre-normalize: downstream cosine is then one dot product
            norms = np.linalg.norm(arr, axis=1)
            nz = norms > 0
            arr[nz] /= norms[nz, None]
            name = f"shard-{_uuid.uuid4().hex}.npy"
            np.save(os.path.join(mat_dir, name), arr)
            yield pd.DataFrame(
                {
                    "hash": pdf["hash"].to_numpy(),
                    "shard": name,
                    "row": np.arange(len(pdf), dtype=np.int64),
                }
            )

    idx_pdf = (
        vectors.select("hash", "embedding")
        .mapInPandas(_write_shards, schema="hash string, shard string, row long")
        .toPandas()
    )
    if len(idx_pdf):
        shard_names = sorted(idx_pdf["shard"].unique().tolist())
        shard_ids = {nm: i for i, nm in enumerate(shard_names)}
        codes = (
            idx_pdf["shard"].map(shard_ids).to_numpy(dtype=np.int64) << 32
        ) | idx_pdf["row"].to_numpy(dtype=np.int64)
        index = dict(zip(idx_pdf["hash"], codes.tolist()))
        shard_paths = [os.path.join(mat_dir, nm) for nm in shard_names]
        # header-only read for the dimension (same shared path the workers
        # use)
        dim = int(np.load(shard_paths[0], mmap_mode="r").shape[1])
    else:
        index, shard_paths, dim = {}, [], 1
    return index, shard_paths, dim, mat_dir


def pair_features_hashed(
    pairs: DataFrame,
    rfh: DataFrame,
    unique_strings: DataFrame,
    vectors: DataFrame,
    staged=None,
) -> DataFrame:
    """The scale-path feature battery, one fused Python stage per Arrow
    batch.  Pair rows carry field hashes, never embedding vectors (the
    naive pair⋈repr⋈repr join ships |pairs|·fields·2·dim floats through
    the shuffle — the dominant cost at any scale); each vector is staged
    once per distinct string (`stage_vector_matrix`) and gathered by hash
    inside the stage.  This is the reference's dedup-before-embed
    optimization (embedding.py:106-119) applied to pairwise scoring.

    Inputs: pairs(left_id, right_id[, match]); rfh = record_field_hashes
    wide table; unique_strings(hash, value); vectors(hash, embedding);
    `staged`, a prebuilt stage_vector_matrix result (staged here when
    None).  Output schema identical to :func:`pair_features`.
    """
    return _fused_pairs(pairs, rfh, unique_strings, vectors, None, staged)


def pair_predictions_hashed(
    pairs: DataFrame,
    rfh: DataFrame,
    unique_strings: DataFrame,
    vectors: DataFrame,
    model,
    cfg=None,
    staged=None,
) -> DataFrame:
    """Fused featurize+score for the predict path: the same Python stage
    as pair_features_hashed computes the battery AND the LR probability
    per Arrow batch, emitting the narrow PREDICTIONS schema — the
    13-column feature table never materializes.  Bit-identical to
    classify.score(pair_features_hashed(...)) (pinned by test_features).
    `cfg` is ignored; perfbench still passes it."""
    return _fused_pairs(pairs, rfh, unique_strings, vectors, model, staged)


def _fused_pairs(pairs, rfh, unique_strings, vectors, model, staged) -> DataFrame:
    from ..functions.birth_death import normalize_name_udf

    valid = lambda c: c.isNotNull() & (c != _NULL_SENT)  # noqa: E731

    # String-similarity and birth/death inputs resolved ONCE per distinct
    # person hash and carried as pair-row COLUMNS: levenshtein then runs as
    # a whole-stage-codegen JVM expression over the pair table (the pure-
    # Python DP was ~60 µs/pair — the dominant per-pair cost at 2M+
    # candidates), and jaro-winkler and the year cascade read the strings
    # without any per-row dict lookup.  The normalize cascade runs once per
    # distinct hash, not once per pair.
    pstr = (
        rfh.select(F.col("person").alias("hash"))
        .where(valid(F.col("hash")))
        .distinct()
        .join(unique_strings, "hash")
        .select("hash", F.col("value").alias("pv"))
        .withColumn("pn", normalize_name_udf("pv"))
    )
    pstr = F.broadcast(pstr)
    side = lambda p: pstr.select(  # noqa: E731
        F.col("hash").alias(f"{p}_person_h"),
        F.col("pv").alias(f"{p}_pv"),
        F.col("pn").alias(f"{p}_pn"),
    )
    l = rfh.select(
        F.col("record_id").alias("left_id"),
        *[F.col(f).alias(f"l_{f}_h") for f in EMBED_FIELDS],
    ).join(side("l"), "l_person_h", "left")
    r = rfh.select(
        F.col("record_id").alias("right_id"),
        *[F.col(f).alias(f"r_{f}_h") for f in EMBED_FIELDS],
    ).join(side("r"), "r_person_h", "left")
    pw = pairs.join(l, "left_id").join(r, "right_id")

    if staged is None:
        staged = stage_vector_matrix(vectors)
    # NOTE: the staging dir must outlive the DataFrame — workers mmap
    # shards lazily at first task use
    bc = pairs.sparkSession.sparkContext.broadcast(staged)

    fields = [
        StructField("left_id", pw.schema["left_id"].dataType, False),
        StructField("right_id", pw.schema["right_id"].dataType, False),
    ]
    score_params = None
    if model is not None:
        from pyspark.sql.types import BooleanType

        # fold the scaler into the weights (see classify.score)
        mu = np.array([model.scaler[c][0] for c in model.feature_names])
        sd = np.array([model.scaler[c][1] for c in model.feature_names])
        w_eff = model.weights / sd
        b_eff = float(model.bias - np.dot(model.weights, mu / sd))
        score_params = (
            list(model.feature_names), w_eff, b_eff, model.decision_threshold
        )
        fields += [
            StructField("probability", DoubleType(), False),
            StructField("match", BooleanType(), False),
        ]
    else:
        if "match" in pairs.columns:
            fields.append(StructField("match", pw.schema["match"].dataType, True))
        fields += [StructField(nm, DoubleType(), True) for nm in FEATURES]
    out_schema = StructType(fields)

    # normalized-name levenshtein similarity as a whole-stage-codegen JVM
    # expression over the carried string columns; the fused UDF reads it
    a, b = F.col("l_pn"), F.col("r_pn")
    pw = pw.withColumn(
        "person_norm_levenshtein",
        F.when(
            (F.length(a) > 0) & (F.length(b) > 0),
            1.0 - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b)),
        )
        .otherwise(0.0)
        .cast("double"),
    )

    fused = _fused_battery_udf(bc, out_schema, score_params=score_params)
    # explicit repartition: the Python stage must run at half-width
    # regardless of AQE's byte-based coalescing (UDF cost/row ≫ bytes/row)
    return pw.repartition(_parallelism(pairs)).mapInPandas(fused, schema=out_schema)


def fit_scaler(features_df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """Column means + population stds (sklearn StandardScaler semantics:
    ddof=0; zero-variance columns get scale 1.0)."""
    aggs = []
    for c in cols:
        aggs.append(F.avg(c).alias(f"{c}__mean"))
        aggs.append(F.stddev_pop(c).alias(f"{c}__std"))
    row = features_df.agg(*aggs).collect()[0]
    params = {}
    for c in cols:
        mean = row[f"{c}__mean"] or 0.0
        std = row[f"{c}__std"] or 0.0
        params[c] = (float(mean), float(std) if std and std > 0 else 1.0)
    return params


def apply_scaler(features_df: DataFrame, params: dict[str, tuple[float, float]]) -> DataFrame:
    """(x - μ)/σ as select expressions — whole-stage codegen, no UDF."""
    exprs = [c for c in features_df.columns if c not in params]
    exprs += [((F.col(c) - F.lit(m)) / F.lit(s)).alias(c) for c, (m, s) in params.items()]
    return features_df.select(*exprs)
