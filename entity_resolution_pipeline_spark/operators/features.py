"""Pairwise feature battery + standardization.

Re-expresses the reference's per-pair, per-process feature computation
(feature_engineering.py:332-392 fan-out; battery 426-665) as:

* two equi-joins assembling a wide pair row (pair ⋈ record_repr ⋈ record_repr
  — reference J3, querying.py:174-210)
* ONE `mapInPandas` pass computing the whole battery with stacked-matrix
  numpy (the reference's dominant overhead was per-pair numpy calls across
  process pools — SURVEY.md §4 'Batched vector ops')
* StandardScaler as agg + select expressions (feature_engineering.py:931-960;
  sklearn population std, zero-variance columns scale 1.0)

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

from ..config import EMBED_FIELDS, FeatureConfig, FeatureSelectionConfig


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


def feature_names(cfg: FeatureConfig = FeatureConfig()) -> list[str]:
    """The full battery's column list under `cfg` (pre-selection)."""
    names = [f"{f}_cosine" for f in cfg.cosine_similarities]
    if cfg.title_cosine_squared_enabled and "title" in cfg.cosine_similarities:
        names.append("title_cosine_squared")
    if cfg.low_composite_penalty_enabled and "composite" in cfg.cosine_similarities:
        names.append("low_composite_penalty")
    for m in cfg.string_similarity_metrics:
        if m in ("levenshtein", "jaro_winkler"):
            names.append(f"{cfg.string_similarity_field}_{m}")
    for m in cfg.normalized_name_sims:
        if m in ("levenshtein", "jaro_winkler"):
            names.append(f"{cfg.string_similarity_field}_norm_{m}")
    names += [f"{a}_{b}_harmonic" for a, b in cfg.harmonic_means]
    names += [f"{a}_{b}_product" for a, b in cfg.products]
    names += [f"{a}_{b}_ratio" for a, b in cfg.ratios]
    if cfg.birth_death_enabled:
        names += ["birth_death_left", "birth_death_right", "birth_death_match"]
        if cfg.person_lev_bd_product_enabled and f"{cfg.string_similarity_field}_levenshtein" in names:
            names.append("person_levenshtein_birth_death_match_product")
        if cfg.person_cos_bd_product_enabled and "person" in cfg.cosine_similarities:
            names.append("person_cosine_birth_death_match_product")
    return names


def _stack_vectors(col: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Series of list/None → (matrix (n,dim) zero-filled, present mask)."""
    present = col.map(lambda v: v is not None and len(v) > 0).to_numpy()
    mat = np.zeros((len(col), dim), dtype=np.float64)
    if present.any():
        vals = np.array([np.asarray(v, dtype=np.float64) for v in col[present]])
        mat[present] = vals
    return mat, present


def compute_features_pdf(pdf: pd.DataFrame, cfg: FeatureConfig) -> pd.DataFrame:
    """The whole battery for one Arrow batch: numpy matrix ops, no per-pair
    Python in the similarity math."""
    from ..functions.birth_death import extract_birth_death_years
    from ..functions.similarity import (
        batch_cosine,
        jaro_winkler_similarity,
        levenshtein_similarity,
    )

    n = len(pdf)
    out: dict[str, np.ndarray] = {}
    norm: dict[str, np.ndarray] = {}
    present: dict[str, np.ndarray] = {}

    # cosine block — one stacked matrix op per field
    for f in cfg.cosine_similarities:
        lv = pdf[f"l_{f}_vec"]
        rv = pdf[f"r_{f}_vec"]
        dim = next((len(v) for v in lv if v is not None and len(v)), 0) or next(
            (len(v) for v in rv if v is not None and len(v)), 1
        )
        L, pl = _stack_vectors(lv, dim)
        R, pr = _stack_vectors(rv, dim)
        both = pl & pr
        raw = np.where(both, batch_cosine(L, R), 0.0)
        nrm = np.where(both, (raw + 1.0) / 2.0, 0.0)
        out[f"{f}_cosine"] = nrm          # pre-scaler value = normalized cosine
        norm[f"{f}_cosine"] = nrm
        present[f] = both
        if f == "title" and cfg.title_cosine_squared_enabled:
            out["title_cosine_squared"] = np.where(both, nrm**2, 0.0)
        if f == "composite" and cfg.low_composite_penalty_enabled:
            out["low_composite_penalty"] = np.where(
                both & (nrm < cfg.low_composite_penalty_threshold), 1.0, 0.0
            )

    # string similarities (config-gated; per-row Python only when enabled)
    sf = cfg.string_similarity_field
    for m in cfg.string_similarity_metrics:
        if m not in ("levenshtein", "jaro_winkler"):
            continue
        ls = pdf[f"l_{sf}_value"]
        rs = pdf[f"r_{sf}_value"]
        vals = np.zeros(n)
        fn = levenshtein_similarity if m == "levenshtein" else jaro_winkler_similarity
        for i, (a, b) in enumerate(zip(ls, rs)):
            if a and b:
                vals[i] = fn(a, b)
        out[f"{sf}_{m}"] = vals

    # normalized-name string sims (year-stripped; see FeatureConfig docstring)
    if cfg.normalized_name_sims:
        from ..functions.birth_death import normalize_name

        ln = pdf[f"l_{sf}_value"].map(lambda v: normalize_name(v) if v else "")
        rn = pdf[f"r_{sf}_value"].map(lambda v: normalize_name(v) if v else "")
        for m in cfg.normalized_name_sims:
            if m not in ("levenshtein", "jaro_winkler"):
                continue
            vals = np.zeros(n)
            fn = levenshtein_similarity if m == "levenshtein" else jaro_winkler_similarity
            for i, (a, b) in enumerate(zip(ln, rn)):
                if a and b:
                    vals[i] = fn(a, b)
            out[f"{sf}_norm_{m}"] = vals

    # interactions over normalized cosines (harmonic / product / ratio)
    def _sims(f1: str, f2: str):
        s1 = norm.get(f"{f1}_cosine")
        s2 = norm.get(f"{f2}_cosine")
        if s1 is None or s2 is None:
            return None, None, None
        both = present[f1] & present[f2]
        return s1, s2, both

    for f1, f2 in cfg.harmonic_means:
        s1, s2, both = _sims(f1, f2)
        if s1 is None:
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            h = 2.0 * s1 * s2 / (s1 + s2)
        h = np.where((s1 > 0) & (s2 > 0) & np.isfinite(h), h, 0.0)
        out[f"{f1}_{f2}_harmonic"] = np.where(both, h, 0.0)
    for f1, f2 in cfg.products:
        s1, s2, both = _sims(f1, f2)
        if s1 is None:
            continue
        out[f"{f1}_{f2}_product"] = np.where(both, s1 * s2, 0.0)
    for f1, f2 in cfg.ratios:
        s1, s2, both = _sims(f1, f2)
        if s1 is None:
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = np.where(s2 > 0, 2.0 / (1.0 + np.exp(-s1 / np.where(s2 > 0, s2, 1.0))) - 1.0, 0.0)
        out[f"{f1}_{f2}_ratio"] = np.where(both, ratio, 0.0)

    # birth/death block
    if cfg.birth_death_enabled:
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
        bd_match = (birth_match | death_match).astype(np.float64)
        out["birth_death_match"] = bd_match
        lev_name = f"{sf}_levenshtein"
        if cfg.person_lev_bd_product_enabled and lev_name in out:
            out["person_levenshtein_birth_death_match_product"] = np.where(
                bd_match == 1.0, out[lev_name], out[lev_name] * cfg.person_lev_bd_dampening
            )
        if cfg.person_cos_bd_product_enabled and "person_cosine" in norm:
            pc = norm["person_cosine"]
            out["person_cosine_birth_death_match_product"] = np.where(
                present["person"],
                np.where(bd_match == 1.0, pc, pc * cfg.person_cos_bd_dampening),
                0.0,
            )

    res = pd.DataFrame({"left_id": pdf["left_id"], "right_id": pdf["right_id"]})
    if "match" in pdf.columns:
        res["match"] = pdf["match"]
    for name in feature_names(cfg):
        res[name] = out.get(name, np.zeros(n))
    return res


def pair_features(
    assembled: DataFrame, cfg: FeatureConfig = FeatureConfig()
) -> DataFrame:
    """Wide pair rows → (left_id, right_id[, match], <feature ×k>)."""
    has_match = "match" in assembled.columns
    fields = [
        StructField("left_id", assembled.schema["left_id"].dataType, False),
        StructField("right_id", assembled.schema["right_id"].dataType, False),
    ]
    if has_match:
        fields.append(StructField("match", assembled.schema["match"].dataType, True))
    fields += [StructField(nm, DoubleType(), True) for nm in feature_names(cfg)]
    schema = StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield compute_features_pdf(pdf, cfg)

    return assembled.mapInPandas(run, schema=schema)


def selected_feature_names(
    cfg: FeatureConfig = FeatureConfig(),
    sel: FeatureSelectionConfig = FeatureSelectionConfig(),
) -> list[str]:
    """Reference include/exclude selection logic
    (feature_engineering.py:704-803), evaluated over the battery's columns;
    returns a sorted list (the reference sorts its final feature_names)."""
    all_names = feature_names(cfg)
    if not sel.enabled:
        return sorted(all_names)
    base = set(sel.base_features)
    inter = set(sel.interaction_features)
    if sel.include_all_cosine:
        base |= {f for f in all_names if f.endswith("_cosine")}
    if sel.include_all_levenshtein:
        base |= {f for f in all_names if f.endswith("_levenshtein")}
    if sel.include_all_harmonic:
        inter |= {f for f in all_names if f.endswith("_harmonic")}
    if sel.include_all_product:
        inter |= {f for f in all_names if f.endswith("_product")}
    if sel.include_all_ratio:
        inter |= {f for f in all_names if f.endswith("_ratio")}
    if sel.include_all_birth_death:
        base |= {f for f in all_names if f.startswith("birth_death")}
    if sel.keep_custom_features:
        for pattern in sel.custom_feature_patterns:
            base |= {f for f in all_names if pattern in f}
    chosen = base | inter
    if sel.mode == "include":
        return sorted([f for f in all_names if f in chosen])
    return sorted([f for f in all_names if f not in chosen])


_NULL_SENT = "NULL"


def _parallelism(df: DataFrame) -> int:
    """Target partition count for Python-UDF stages (see
    config.python_stage_width for the half-width rationale)."""
    from ..config import python_stage_width

    return python_stage_width(df.sparkSession)


def _ncos_udf():
    """Arrow UDF: (vec, vec) → normalized cosine (raw+1)/2, one stacked
    matmul per batch.  Arrow already hands list<float> elements over as
    float32 ndarrays — np.stack keeps them zero-copy-ish and the math runs
    in float32 (ample for similarity; result upcast to double once)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def ncos(lv: pd.Series, rv: pd.Series) -> pd.Series:
        A = np.stack(lv.to_numpy())
        B = np.stack(rv.to_numpy())
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        denom = na * nb
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.einsum("ij,ij->i", A, B) / denom
        sims = np.where(np.isfinite(sims), sims, 0.0).astype(np.float64)
        return pd.Series((sims + 1.0) / 2.0)

    return ncos


class _ShardedMatrix:
    """Worker-side view of the shard-staged vector matrix: lazy mmap per
    shard file, vectorized gather by (shard << 32 | row) codes.  Shards hold
    UNIT vectors (pre-normalized at write time, so cosine is one dot with no
    per-pair norms); a `.norms.npy` sidecar carries the original norms —
    only their >0 flag is consumed, to keep the zero-vector-is-missing
    semantics of the unsharded path."""

    def __init__(self, shard_paths: list[str], dim: int):
        self.paths = shard_paths
        self.dim = dim
        self._mats: list = [None] * len(shard_paths)
        self._norms: list = [None] * len(shard_paths)

    def _shard(self, s: int) -> tuple[np.ndarray, np.ndarray]:
        m = self._mats[s]
        if m is None:
            try:
                m = np.load(self.paths[s], mmap_mode="r")
            except FileNotFoundError as e:
                raise FileNotFoundError(
                    f"vector shard {self.paths[s]!r} is not visible on this "
                    "executor — the staging root is not shared across hosts. "
                    "Set FeatureConfig.stage_root (or ERX_STAGE_ROOT) to a "
                    "filesystem mounted on the driver and ALL executors, or "
                    "set broadcast_vectors=False for the shuffle-join path."
                ) from e
            self._mats[s] = m
            self._norms[s] = np.load(
                self.paths[s][: -len(".npy")] + ".norms.npy", mmap_mode="r"
            )
        return m, self._norms[s]

    def gather(self, codes: np.ndarray, ok: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """codes: int64 (shard<<32|row), -1 for missing → (unit-vector matrix
        (n,dim), norm vector (n,)); rows with ~ok stay zero."""
        n = len(codes)
        A = np.zeros((n, self.dim), dtype=np.float32)
        nv = np.zeros(n, dtype=np.float32)
        if ok.any():
            act = codes[ok]
            rows_out = np.nonzero(ok)[0]
            shards = act >> 32
            rows = act & 0xFFFFFFFF
            for s in np.unique(shards):
                m = shards == s
                mat, norms = self._shard(int(s))
                A[rows_out[m]] = mat[rows[m]]
                nv[rows_out[m]] = norms[rows[m]]
        return A, nv


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


def _register_stage_dir(path: str) -> None:
    if not _STAGE_DIRS:
        import atexit

        atexit.register(_cleanup_stage_dirs)
    _STAGE_DIRS.append(path)


def _fused_battery_udf(
    bc_vec,
    cfg: FeatureConfig,
    out_schema: StructType,
    passthrough: tuple[str, ...] = (),
    score_params: tuple | None = None,
):
    """ONE mapInPandas pass computing the entire battery over the narrow
    pair×hash rows (pw0), resolving vectors from the host-shared mmap matrix
    and person strings from a broadcast dict.

    Broadcast mode previously ran 3 separate distinct-hash-pair UDF stages
    (cosine / string sims / birth-death) and then LEFT-JOINED each result
    back onto the pair table — 8 join-backs whose exchanges dominated the
    stage (measured ~22 s of a 60 s featurize at 90k pairs).  With the
    vector matrix already host-shared, recomputing a cosine per pair row is
    ~2·dim flops — far cheaper than shuffling the pair table through the
    join-backs — so the fused pass does zero joins and zero extra stages;
    string sims and year extraction stay deduplicated via worker-local
    memoization instead of a global distinct."""
    from pyspark.sql.functions import pandas_udf  # noqa: F401  (doc parity)

    names = feature_names(cfg)
    sf = cfg.string_similarity_field
    raw_metrics = tuple(
        m for m in cfg.string_similarity_metrics if m in ("levenshtein", "jaro_winkler")
    )
    norm_metrics = tuple(
        m for m in cfg.normalized_name_sims if m in ("levenshtein", "jaro_winkler")
    )
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
        fns = {"jaro_winkler": jaro_winkler_similarity}

        def _years(h: str, value):
            """Years per distinct person hash, memoized; the value comes off
            the carried pair-row column (same unique_strings source the old
            broadcast dict read)."""
            v = years_c.get(h)
            if v is None:
                v = extract_birth_death_years(value or "")
                years_c[h] = v
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

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            out: dict[str, np.ndarray] = {}
            present: dict[str, np.ndarray] = {}
            for f in cfg.cosine_similarities:
                li = _valid_idx(pdf[f"l_{f}_h"])
                ri = _valid_idx(pdf[f"r_{f}_h"])
                ok = (li >= 0) & (ri >= 0)
                A, _ = mat.gather(li, ok)
                B, _ = mat.gather(ri, ok)
                # shards hold unit vectors: cosine is one dot.  A PRESENT
                # but zero-norm embedding stages as a zero row (dot 0 →
                # ncos 0.5) — identical to the unfused parity path, where
                # batch_cosine yields raw 0.0 → (0+1)/2.  Masking such rows
                # to 0.0 on norms (na>0 & nb>0) would silently diverge the
                # two paths; only truly MISSING fields (ok False) are 0.0.
                sims = np.einsum("ij,ij->i", A, B)
                ncos = ((sims.astype(np.float64) + 1.0) / 2.0)
                out[f"{f}_cosine"] = np.where(ok, ncos, 0.0)
                present[f] = ok
                if f == "title" and cfg.title_cosine_squared_enabled:
                    out["title_cosine_squared"] = out["title_cosine"] ** 2
                if f == "composite" and cfg.low_composite_penalty_enabled:
                    out["low_composite_penalty"] = np.where(
                        ok & (out["composite_cosine"] < cfg.low_composite_penalty_threshold),
                        1.0,
                        0.0,
                    )

            # levenshtein arrives precomputed (JVM codegen expression over
            # the carried string columns — see pair_features_hashed)
            for nm in passthrough:
                out[nm] = pdf[nm].to_numpy(dtype=np.float64)
            # jaro-winkler (no Spark builtin) runs here, straight off the
            # carried string columns.  factorize → compute once per DISTINCT
            # string pair in the batch (memoized across batches) → scatter
            # by code: no per-row Python dict lookups in the hot loop.
            def _jw_block(lcol: pd.Series, rcol: pd.Series, out_name: str) -> None:
                jw = fns["jaro_winkler"]
                combined = lcol.fillna("").str.cat(rcol.fillna(""), sep="\x01")
                codes, uniqs = pd.factorize(combined)
                vals_u = np.empty(len(uniqs))
                for j, u in enumerate(uniqs):
                    v = sims_c.get(u)
                    if v is None:
                        a, _, b = u.partition("\x01")
                        v = jw(a, b) if a and b else 0.0
                        sims_c[u] = v
                    vals_u[j] = v
                out[out_name] = vals_u[codes]

            if "jaro_winkler" in raw_metrics:
                _jw_block(pdf["l_pv"], pdf["r_pv"], f"{sf}_jaro_winkler")
            if "jaro_winkler" in norm_metrics:
                _jw_block(pdf["l_pn"], pdf["r_pn"], f"{sf}_norm_jaro_winkler")

            def _sims2(f1: str, f2: str):
                s1 = out.get(f"{f1}_cosine")
                s2 = out.get(f"{f2}_cosine")
                return s1, s2

            for f1, f2 in cfg.harmonic_means:
                s1, s2 = _sims2(f1, f2)
                if s1 is None or s2 is None:
                    continue
                with np.errstate(divide="ignore", invalid="ignore"):
                    h = 2.0 * s1 * s2 / (s1 + s2)
                out[f"{f1}_{f2}_harmonic"] = np.where(
                    (s1 > 0) & (s2 > 0) & np.isfinite(h), h, 0.0
                )
            for f1, f2 in cfg.products:
                s1, s2 = _sims2(f1, f2)
                if s1 is None or s2 is None:
                    continue
                out[f"{f1}_{f2}_product"] = s1 * s2
            for f1, f2 in cfg.ratios:
                s1, s2 = _sims2(f1, f2)
                if s1 is None or s2 is None:
                    continue
                both = present[f1] & present[f2]
                with np.errstate(divide="ignore", invalid="ignore"):
                    ratio = 2.0 / (1.0 + np.exp(-s1 / np.where(s2 > 0, s2, 1.0))) - 1.0
                out[f"{f1}_{f2}_ratio"] = np.where(both & (s2 > 0), ratio, 0.0)

            if cfg.birth_death_enabled:
                # factorize per side: the year cascade runs once per DISTINCT
                # person string in the batch (memoized across batches)
                def _years_arrays(col: pd.Series) -> tuple[np.ndarray, np.ndarray]:
                    codes, uniqs = pd.factorize(col)
                    b_u = np.full(len(uniqs) + 1, np.nan)
                    d_u = np.full(len(uniqs) + 1, np.nan)
                    for j, v in enumerate(uniqs):
                        y = _years(v, v)
                        b_u[j] = np.nan if y[0] is None else y[0]
                        d_u[j] = np.nan if y[1] is None else y[1]
                    # code -1 (null value → no person) maps to the trailing NaN
                    return b_u[codes], d_u[codes]

                lb, ld = _years_arrays(pdf["l_pv"])
                rb, rd = _years_arrays(pdf["r_pv"])
                out["birth_death_left"] = (~np.isnan(lb) | ~np.isnan(ld)).astype(np.float64)
                out["birth_death_right"] = (~np.isnan(rb) | ~np.isnan(rd)).astype(np.float64)
                bd_match = (
                    (~np.isnan(lb) & ~np.isnan(rb) & (lb == rb))
                    | (~np.isnan(ld) & ~np.isnan(rd) & (ld == rd))
                ).astype(np.float64)
                out["birth_death_match"] = bd_match
                lev_name = f"{sf}_levenshtein"
                if cfg.person_lev_bd_product_enabled and lev_name in out:
                    out["person_levenshtein_birth_death_match_product"] = np.where(
                        bd_match == 1.0,
                        out[lev_name],
                        out[lev_name] * cfg.person_lev_bd_dampening,
                    )
                if cfg.person_cos_bd_product_enabled and "person_cosine" in out:
                    pc = out["person_cosine"]
                    out["person_cosine_birth_death_match_product"] = np.where(
                        present["person"],
                        np.where(bd_match == 1.0, pc, pc * cfg.person_cos_bd_dampening),
                        0.0,
                    )

            if score_params is not None:
                # fused LR scoring: one matmul over the in-memory feature
                # arrays — skips a full second Python stage (features →
                # Arrow → score UDF → Arrow) and returns the narrow
                # predictions schema instead of 20+ feature doubles/row
                feat_cols, w_eff, b_eff, thr = score_params
                X = np.column_stack(
                    [out.get(c, np.zeros(n)) for c in feat_cols]
                )
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
            zeros = np.zeros(n)
            for nm in names:
                data[nm] = out.get(nm, zeros)
            yield pd.DataFrame(data)[out_cols]

    return run


def _string_sims_udf(metrics: tuple[str, ...], norm_metrics: tuple[str, ...]):
    """Arrow UDF: (value, value) → struct of the enabled raw/normalized-name
    string similarities."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.birth_death import normalize_name
    from ..functions.similarity import jaro_winkler_similarity, levenshtein_similarity

    fields = [StructField(f"raw_{m}", DoubleType(), True) for m in metrics]
    fields += [StructField(f"norm_{m}", DoubleType(), True) for m in norm_metrics]
    schema = StructType(fields)
    fns = {"levenshtein": levenshtein_similarity, "jaro_winkler": jaro_winkler_similarity}

    @pandas_udf(schema)
    def sims(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        out: dict[str, list[float]] = {f.name: [] for f in fields}
        for x, y in zip(a, b):
            x = x or ""
            y = y or ""
            nx, ny = normalize_name(x), normalize_name(y)
            for m in metrics:
                out[f"raw_{m}"].append(fns[m](x, y) if x and y else 0.0)
            for m in norm_metrics:
                out[f"norm_{m}"].append(fns[m](nx, ny) if nx and ny else 0.0)
        return pd.DataFrame(out)

    return sims


def pair_predictions_hashed(
    pairs: DataFrame,
    rfh: DataFrame,
    unique_strings: DataFrame,
    vectors: DataFrame,
    model,
    cfg: FeatureConfig = FeatureConfig(),
    staged=None,
) -> DataFrame:
    """Fused featurize+score for the predict path: ONE Python stage computes
    the battery AND the LR probability per Arrow batch, emitting the narrow
    PREDICTIONS schema.  vs. score(pair_features_hashed(...)) this removes a
    complete second Python stage round-trip of the 20+-column feature table
    — at 10^12-pair scale the feature table never materializes at all.
    Bit-identical to the unfused path (pinned by test_classify)."""
    if cfg.broadcast_vectors:
        return pair_features_hashed(
            pairs, rfh, unique_strings, vectors, cfg, _score_model=model,
            staged=staged,
        )
    from .classify import score

    return score(
        pair_features_hashed(
            pairs, rfh, unique_strings, vectors, cfg, staged=staged
        ),
        model,
    )


def stage_vector_matrix(
    vectors: DataFrame, cfg: FeatureConfig = FeatureConfig()
) -> tuple[dict, list, int, str]:
    """DISTRIBUTED matrix staging: executors write float32 npy shards of
    the dedup'd vector table in parallel (one shard per Arrow batch); the
    driver collects only (hash, shard, row) — O(uniques) small values,
    never the vectors.  This removes the former driver-side toArrow
    collect + np.save, the pipeline's dominant serial term in the N-vs-4N
    scaling criterion: the serial remainder is the tiny index collect +
    dict build.  Workers np.load(mmap_mode='r') each shard lazily and
    share page cache.  The staging dir must be host-shared (tmpfs here);
    on a multi-host cluster point it at a shared filesystem — or set
    broadcast_vectors=False for the shuffle-join path that needs no
    shared storage.

    Returns (index, shard_paths, dim, mat_dir).  Factored out of
    pair_features_hashed so prepare() can run it in its background vector
    thread, overlapping the blocking phase."""
    import tempfile
    import uuid

    # staging-root resolution: config > ERX_STAGE_ROOT env > /dev/shm >
    # tempdir.  Single-node defaults are host-local; multi-host clusters
    # MUST set a shared path (see FeatureConfig.stage_root).
    stage_root = cfg.stage_root or os.environ.get("ERX_STAGE_ROOT")
    if stage_root is None:
        stage_root = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    if not os.path.isdir(stage_root):
        raise FileNotFoundError(
            f"vector staging root {stage_root!r} is not a directory on the "
            "driver. On a multi-host cluster set FeatureConfig.stage_root "
            "(or ERX_STAGE_ROOT) to a filesystem shared by the driver and "
            "ALL executors, or set broadcast_vectors=False to use the "
            "shuffle-join path that needs no shared storage."
        )
    mat_dir = os.path.join(stage_root, f"erx-vecmat-{uuid.uuid4().hex}")
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
            # pre-normalize: downstream cosine is then one dot product;
            # original norms ride a sidecar (>0 flag = presence mask)
            norms = np.linalg.norm(arr, axis=1)
            nz = norms > 0
            arr[nz] /= norms[nz, None]
            name = f"shard-{_uuid.uuid4().hex}.npy"
            np.save(os.path.join(mat_dir, name), arr)
            np.save(os.path.join(mat_dir, name[: -len(".npy")] + ".norms.npy"), norms)
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
    cfg: FeatureConfig = FeatureConfig(),
    _score_model=None,
    staged=None,
) -> DataFrame:
    """The scale-path feature battery: every expensive similarity is computed
    once per DISTINCT (left_hash, right_hash) pair — not per record pair —
    then equi-joined back; interactions are pure column math.

    Why: person/title strings are power-law (159 uniques over 2,354 records
    in the reference's dev data, output/field_statistics.json), so distinct
    hash pairs ≪ record pairs, and no embedding vector ever rides along a
    record-pair row (the naive pair⋈repr⋈repr join ships
    |pairs|·fields·2·dim floats through the shuffle — the dominant cost at
    any scale).  This is the reference's dedup-before-embed optimization
    (embedding.py:106-119) applied to pairwise scoring.

    Inputs: pairs(left_id, right_id[, match]); rfh = record_field_hashes
    wide table; unique_strings(hash, value); vectors(hash, embedding).
    Output schema identical to :func:`pair_features`.
    """
    from pyspark import StorageLevel

    valid = lambda c: c.isNotNull() & (c != _NULL_SENT)  # noqa: E731
    sfld = cfg.string_similarity_field
    raw_metrics = tuple(
        m for m in cfg.string_similarity_metrics if m in ("levenshtein", "jaro_winkler")
    )
    norm_metrics = tuple(
        m for m in cfg.normalized_name_sims if m in ("levenshtein", "jaro_winkler")
    )

    l = rfh.select(
        F.col("record_id").alias("left_id"),
        *[F.col(f).alias(f"l_{f}_h") for f in EMBED_FIELDS],
    )
    r = rfh.select(
        F.col("record_id").alias("right_id"),
        *[F.col(f).alias(f"r_{f}_h") for f in EMBED_FIELDS],
    )
    # the raw person value is also carried when the fused path needs
    # birth/death years — extracting them from the carried column kills the
    # separate person-strings collect+broadcast job the driver used to run
    need_pv = bool(raw_metrics) or (cfg.birth_death_enabled and cfg.broadcast_vectors)
    if need_pv or norm_metrics:
        # String-similarity inputs resolved ONCE per distinct person hash and
        # carried as pair-row COLUMNS: levenshtein then runs as a
        # whole-stage-codegen JVM expression over the pair table (the pure-
        # Python DP was ~60 µs/pair — the dominant per-pair cost at 2M+
        # candidates), and jaro-winkler reads the strings without any
        # per-row dict lookup.  The normalize cascade runs once per distinct
        # hash, not once per pair.
        from ..functions.birth_death import normalize_name_udf

        pstr = (
            rfh.select(F.col(sfld).alias("hash"))
            .where(valid(F.col("hash")))
            .distinct()
            .join(unique_strings, "hash")
            .select("hash", "value")
        )
        scols = []
        if need_pv:
            scols.append(F.col("value").alias("pv"))
        if norm_metrics:
            pstr = pstr.withColumn("nval", normalize_name_udf("value"))
            scols.append(F.col("nval").alias("pn"))
        pstr = F.broadcast(pstr.select("hash", *scols))
        sel_l = [F.col("hash").alias(f"l_{sfld}_h")]
        sel_r = [F.col("hash").alias(f"r_{sfld}_h")]
        if need_pv:
            sel_l.append(F.col("pv").alias("l_pv"))
            sel_r.append(F.col("pv").alias("r_pv"))
        if norm_metrics:
            sel_l.append(F.col("pn").alias("l_pn"))
            sel_r.append(F.col("pn").alias("r_pn"))
        l = l.join(pstr.select(*sel_l), f"l_{sfld}_h", "left")
        r = r.join(pstr.select(*sel_r), f"r_{sfld}_h", "left")
    # The narrow pair×hash base is materialized ONCE; every distinct-hash-pair
    # set derives from it (deriving them from the growing join chain would
    # re-execute each sim UDF per downstream join — quadratic lineage).  In
    # the stage-table pipeline this persist is the stage's parquet write.
    pw0 = pairs.join(l, "left_id").join(r, "right_id").persist(StorageLevel.MEMORY_AND_DISK)
    pw = pw0

    if cfg.broadcast_vectors:
        sc = pairs.sparkSession.sparkContext
        # `staged`: a prebuilt matrix (stage_vector_matrix result or a
        # zero-arg callable/future-resolver returning one) — lets prepare()
        # stage the matrix in its background thread so the staging job
        # overlaps the blocking phase instead of serializing at the head of
        # the scoring window.
        if staged is not None:
            index, shard_paths, dim, mat_dir = (
                staged() if callable(staged) else staged
            )
        else:
            index, shard_paths, dim, mat_dir = stage_vector_matrix(vectors, cfg)
        # NOTE: the staging dir must outlive the DataFrame — workers mmap
        # shards lazily at first task use
        bc = sc.broadcast((index, shard_paths, dim, mat_dir))
        # birth/death years read the carried l_pv/r_pv pair-row columns —
        # no separate person-strings collect+broadcast job

        has_match = "match" in pairs.columns
        fields = [
            StructField("left_id", pw0.schema["left_id"].dataType, False),
            StructField("right_id", pw0.schema["right_id"].dataType, False),
        ]
        score_params = None
        if _score_model is not None:
            from pyspark.sql.types import BooleanType

            # fold the scaler into the weights (see classify.score)
            mu = np.array([_score_model.scaler[c][0] for c in _score_model.feature_names])
            sd = np.array([_score_model.scaler[c][1] for c in _score_model.feature_names])
            w_eff = _score_model.weights / sd
            b_eff = float(_score_model.bias - np.dot(_score_model.weights, mu / sd))
            score_params = (
                list(_score_model.feature_names),
                w_eff,
                b_eff,
                _score_model.decision_threshold,
            )
            fields += [
                StructField("probability", DoubleType(), False),
                StructField("match", BooleanType(), False),
            ]
            out_schema = StructType(fields)
        else:
            if has_match:
                fields.append(StructField("match", pw0.schema["match"].dataType, True))
            fields += [StructField(nm, DoubleType(), True) for nm in feature_names(cfg)]
            out_schema = StructType(fields)

        # levenshtein similarities as whole-stage-codegen JVM expressions
        # over the carried string columns; the fused UDF passes them through
        def lev_expr(a, b):
            mx = F.greatest(F.length(a), F.length(b))
            return (
                F.when(
                    (F.length(a) > 0) & (F.length(b) > 0),
                    1.0 - F.levenshtein(a, b) / mx,
                )
                .otherwise(0.0)
                .cast("double")
            )

        pw_in = pw0
        jvm_sims = []
        if "levenshtein" in raw_metrics:
            pw_in = pw_in.withColumn(f"{sfld}_levenshtein", lev_expr(F.col("l_pv"), F.col("r_pv")))
            jvm_sims.append(f"{sfld}_levenshtein")
        if "levenshtein" in norm_metrics:
            pw_in = pw_in.withColumn(
                f"{sfld}_norm_levenshtein", lev_expr(F.col("l_pn"), F.col("r_pn"))
            )
            jvm_sims.append(f"{sfld}_norm_levenshtein")

        fused = _fused_battery_udf(
            bc, cfg, out_schema,
            passthrough=tuple(jvm_sims), score_params=score_params,
        )
        # explicit repartition: the Python stage must run at half-width
        # regardless of AQE's byte-based coalescing (UDF cost/row ≫ bytes/row)
        return pw_in.repartition(_parallelism(pairs)).mapInPandas(fused, schema=out_schema)

    # ---- shuffle-join path (vector table exceeds executor memory) ----
    ncos = _ncos_udf()
    vec_l = vectors.select(F.col("hash").alias("lh"), F.col("embedding").alias("lv"))
    vec_r = vectors.select(F.col("hash").alias("rh"), F.col("embedding").alias("rv"))

    # Cosine at GLOBAL distinct-hash-pair granularity: cosine is a function
    # of the hash pair alone, so ONE fused UDF stage serves every field —
    # stage count, scheduling latency, and per-worker broadcast loads don't
    # multiply by the field count, and a hash pair shared by two fields is
    # computed once.  Explicit repartition: the Python stage must run at
    # full width regardless of AQE's byte-based coalescing (UDF cost/row ≫
    # bytes/row).
    hp_parts = [
        pw0.select(
            F.col(f"l_{f}_h").alias("lh"), F.col(f"r_{f}_h").alias("rh")
        ).where(valid(F.col(f"l_{f}_h")) & valid(F.col(f"r_{f}_h")))
        for f in cfg.cosine_similarities
    ]
    hp_all = hp_parts[0]
    for p in hp_parts[1:]:
        hp_all = hp_all.unionAll(p)
    hp_all = hp_all.distinct().repartition(_parallelism(pairs))
    sim_all = (
        hp_all.join(vec_l, "lh")
        .join(vec_r, "rh")
        .repartition(_parallelism(pairs))
        .select("lh", "rh", ncos("lv", "rv").alias("ncos"))
    )
    sim_all = sim_all.persist(StorageLevel.MEMORY_AND_DISK)
    sim_all.count()  # eager: materialize the UDF stage now — left lazy, AQE
    # may fold it into a broadcast-side build evaluated near-serially inside
    # the assembly job (measured 6×)
    for f in cfg.cosine_similarities:
        lh, rh = f"l_{f}_h", f"r_{f}_h"
        simf = sim_all.select(
            F.col("lh").alias(lh), F.col("rh").alias(rh), F.col("ncos").alias(f"{f}_cosine")
        )
        pw = pw.join(simf, [lh, rh], "left")
        pw = pw.withColumn(f"{f}_cosine", F.coalesce(F.col(f"{f}_cosine"), F.lit(0.0)))

    presence = {
        f: valid(F.col(f"l_{f}_h")) & valid(F.col(f"r_{f}_h"))
        for f in cfg.cosine_similarities
    }

    if cfg.title_cosine_squared_enabled and "title" in cfg.cosine_similarities:
        pw = pw.withColumn("title_cosine_squared", F.pow(F.col("title_cosine"), 2))
    if cfg.low_composite_penalty_enabled and "composite" in cfg.cosine_similarities:
        pw = pw.withColumn(
            "low_composite_penalty",
            F.when(
                presence["composite"]
                & (F.col("composite_cosine") < F.lit(cfg.low_composite_penalty_threshold)),
                1.0,
            ).otherwise(0.0),
        )

    # string sims + birth/death over the person field, hash-pair deduped
    sf = cfg.string_similarity_field
    raw_metrics = tuple(m for m in cfg.string_similarity_metrics if m in ("levenshtein", "jaro_winkler"))
    norm_metrics = tuple(m for m in cfg.normalized_name_sims if m in ("levenshtein", "jaro_winkler"))
    if raw_metrics or norm_metrics:
        lh, rh = f"l_{sf}_h", f"r_{sf}_h"
        hp = (
            pw0.select(F.col(lh), F.col(rh))
            .where(valid(F.col(lh)) & valid(F.col(rh)))
            .distinct()
            .repartition(_parallelism(pairs))
        )
        us_l = unique_strings.select(F.col("hash").alias("lh"), F.col("value").alias("lval"))
        us_r = unique_strings.select(F.col("hash").alias("rh"), F.col("value").alias("rval"))
        sims_udf = _string_sims_udf(raw_metrics, norm_metrics)
        sim = (
            hp.join(us_l, F.col(lh) == F.col("lh"))
            .join(us_r, F.col(rh) == F.col("rh"))
            .repartition(_parallelism(pairs))
            .select(F.col(lh), F.col(rh), sims_udf("lval", "rval").alias("ss"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        sim.count()  # eager (see cosine note)
        cols = [F.col(lh), F.col(rh)]
        for m in raw_metrics:
            cols.append(F.col(f"ss.raw_{m}").alias(f"{sf}_{m}"))
        for m in norm_metrics:
            cols.append(F.col(f"ss.norm_{m}").alias(f"{sf}_norm_{m}"))
        pw = pw.join(sim.select(*cols), [lh, rh], "left")
        for m in raw_metrics:
            pw = pw.withColumn(f"{sf}_{m}", F.coalesce(F.col(f"{sf}_{m}"), F.lit(0.0)))
        for m in norm_metrics:
            pw = pw.withColumn(f"{sf}_norm_{m}", F.coalesce(F.col(f"{sf}_norm_{m}"), F.lit(0.0)))

    # interactions: pure column math over normalized cosines
    def _cos(f: str):
        return F.col(f"{f}_cosine") if f"{f}_cosine" in pw.columns else None

    for f1, f2 in cfg.harmonic_means:
        s1, s2 = _cos(f1), _cos(f2)
        if s1 is None or s2 is None:
            continue
        pw = pw.withColumn(
            f"{f1}_{f2}_harmonic",
            F.when((s1 > 0) & (s2 > 0), 2.0 * s1 * s2 / (s1 + s2)).otherwise(0.0),
        )
    for f1, f2 in cfg.products:
        s1, s2 = _cos(f1), _cos(f2)
        if s1 is None or s2 is None:
            continue
        pw = pw.withColumn(f"{f1}_{f2}_product", s1 * s2)
    for f1, f2 in cfg.ratios:
        s1, s2 = _cos(f1), _cos(f2)
        if s1 is None or s2 is None:
            continue
        pw = pw.withColumn(
            f"{f1}_{f2}_ratio",
            F.when(
                presence[f1] & presence[f2] & (s2 > 0),
                2.0 / (1.0 + F.exp(-s1 / s2)) - 1.0,
            ).otherwise(0.0),
        )

    # birth/death: extract years once per DISTINCT person hash
    if cfg.birth_death_enabled:
        from ..functions.birth_death import birth_death_udf

        lh, rh = f"l_{sf}_h", f"r_{sf}_h"
        person_hashes = (
            pw0.select(F.col(lh).alias("h"))
            .unionAll(pw0.select(F.col(rh).alias("h")))
            .where(valid(F.col("h")))
            .distinct()
        )
        years = (
            person_hashes.join(unique_strings, F.col("h") == F.col("hash"))
            .repartition(_parallelism(pairs))
            .select("h", birth_death_udf("value").alias("bd"))
            .select("h", F.col("bd.birth_year").alias("by"), F.col("bd.death_year").alias("dy"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        years.count()  # eager (see cosine note)
        pw = pw.join(
            years.select(F.col("h").alias(lh), F.col("by").alias("l_by"), F.col("dy").alias("l_dy")),
            lh,
            "left",
        ).join(
            years.select(F.col("h").alias(rh), F.col("by").alias("r_by"), F.col("dy").alias("r_dy")),
            rh,
            "left",
        )
        has = lambda b, d: (b.isNotNull() | d.isNotNull()).cast("double")  # noqa: E731
        pw = pw.withColumn("birth_death_left", F.coalesce(has(F.col("l_by"), F.col("l_dy")), F.lit(0.0)))
        pw = pw.withColumn("birth_death_right", F.coalesce(has(F.col("r_by"), F.col("r_dy")), F.lit(0.0)))
        bd_match = (
            (F.col("l_by").isNotNull() & F.col("r_by").isNotNull() & (F.col("l_by") == F.col("r_by")))
            | (F.col("l_dy").isNotNull() & F.col("r_dy").isNotNull() & (F.col("l_dy") == F.col("r_dy")))
        ).cast("double")
        pw = pw.withColumn("birth_death_match", F.coalesce(bd_match, F.lit(0.0)))
        lev_name = f"{sf}_levenshtein"
        if cfg.person_lev_bd_product_enabled and lev_name in pw.columns:
            pw = pw.withColumn(
                "person_levenshtein_birth_death_match_product",
                F.when(F.col("birth_death_match") == 1.0, F.col(lev_name)).otherwise(
                    F.col(lev_name) * cfg.person_lev_bd_dampening
                ),
            )
        if cfg.person_cos_bd_product_enabled and "person" in cfg.cosine_similarities:
            pc = F.col("person_cosine")
            pw = pw.withColumn(
                "person_cosine_birth_death_match_product",
                F.when(
                    presence["person"],
                    F.when(F.col("birth_death_match") == 1.0, pc).otherwise(
                        pc * cfg.person_cos_bd_dampening
                    ),
                ).otherwise(0.0),
            )

    names = feature_names(cfg)
    out_cols = ["left_id", "right_id"]
    if "match" in pairs.columns:
        out_cols.append("match")
    out_cols += [
        nm if nm in pw.columns else F.lit(0.0).alias(nm) for nm in names
    ]
    return pw.select(*out_cols)


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
