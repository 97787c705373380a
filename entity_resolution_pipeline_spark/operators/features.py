"""Pairwise feature battery + standardization.

Re-expresses the reference's per-pair, per-process feature computation
(feature_engineering.py:332-392 fan-out; battery 426-665) as ONE fused
Arrow pass (`pair_features_hashed`, `pair_predictions_hashed`):

* pair rows carry both records' normalized field values and year-stripped
  person names (pair ⋈ record table ⋈ record table — reference J3,
  querying.py:174-210); no embedding vector ever rides a pair row, and no
  vector table is built before the stage
* one `mapInPandas` stage embeds each distinct value once per task with
  the batched kernel (functions/embed.py `embed_batch`, under the IDF
  weights the stage closes over) and computes the whole battery
  with stacked-matrix numpy (the reference's dominant overhead was
  per-pair numpy calls across process pools — SURVEY.md §4 'Batched
  vector ops'); on the predict path the same batch is LR-scored
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

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..config import EMBED_FIELDS, EmbeddingConfig

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


def _parallelism(df: DataFrame) -> int:
    """Target partition count for Python-UDF stages (see
    config.python_stage_width for the half-width rationale)."""
    from ..config import python_stage_width

    return python_stage_width(df.sparkSession)


def cleanup_stage_dirs() -> None:
    """No-op: nothing is staged on disk.  perfbench still calls it."""


def _fused_battery_udf(
    out_schema: StructType,
    embedding: EmbeddingConfig,
    weights: list | None,
    score_params: tuple | None = None,
):
    """ONE mapInPandas pass computing the entire battery over pair rows
    that carry both records' field values: each distinct value is embedded
    once per task (`embed_batch` over the batch's new strings, rows kept
    as unit float32 vectors, so cosine is one dot of ~2·dim flops per
    field), string sims and birth/death years come off the carried person
    columns.  Every memo lives for one task, and a value's vector, years
    and sims depend only on the value, so the output does not depend on
    how pairs fall into tasks or batches.  With `score_params` the same
    batch is also LR-scored."""
    out_cols = [f.name for f in out_schema.fields]
    dim, ngram = embedding.dimensions, embedding.char_ngram
    embedded = [f for f in EMBED_FIELDS if f in embedding.fields_to_embed]
    w = None if weights is None else np.asarray(weights, dtype=np.float64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.birth_death import extract_birth_death_years
        from ..functions.embed import embed_batch
        from ..functions.similarity import jaro_winkler_similarity

        row_of: dict[str, int] = {}  # value → its row of `unit`
        unit = np.zeros((0, dim), dtype=np.float32)
        years_c: dict = {}
        sims_c: dict = {}

        def _rows(col: pd.Series) -> np.ndarray:
            """Value column → rows of `unit`, -1 for a missing field;
            one dict lookup per DISTINCT value in the batch."""
            codes, uniqs = pd.factorize(col)
            if not len(uniqs):
                return np.full(len(col), -1, dtype=np.int64)
            u = np.fromiter((row_of[v] for v in uniqs), dtype=np.int64, count=len(uniqs))
            return np.where(codes >= 0, u[np.clip(codes, 0, None)], -1)

        def _years(value: str):
            """Years per distinct person string, memoized across batches."""
            v = years_c.get(value)
            if v is None:
                v = extract_birth_death_years(value or "")
                years_c[value] = v
            return v

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
            new = {
                v: None
                for f in embedded for p in "lr"
                for v in pdf[f"{p}_{f}"].dropna().unique() if v not in row_of
            }
            if new:
                vecs = embed_batch(list(new), dim=dim, n=ngram, weights=w)
                # unit float32 rows: cosine is then one dot.  A present but
                # empty value embeds to a zero row (dot 0 → ncos 0.5), as in
                # the wide-row oracle, where batch_cosine yields raw 0.0.
                norms = np.linalg.norm(vecs, axis=1)
                nz = norms > 0
                vecs[nz] /= norms[nz, None]
                used = len(row_of)
                if used + len(vecs) > len(unit):  # grow by doubling
                    grown = np.empty((max(used + len(vecs), 2 * len(unit)), dim), np.float32)
                    grown[:used] = unit[:used]
                    unit = grown
                unit[used:used + len(vecs)] = vecs
                row_of.update(zip(new, range(used, used + len(vecs))))
            out: dict[str, np.ndarray] = {}
            for f in EMBED_FIELDS:
                sims = np.zeros(n, dtype=np.float32)
                ok = np.zeros(n, dtype=bool)
                if f in embedded:
                    li, ri = _rows(pdf[f"l_{f}"]), _rows(pdf[f"r_{f}"])
                    # only MISSING fields (ok False) are 0.0
                    ok = (li >= 0) & (ri >= 0)
                    if ok.any():
                        sims[ok] = np.einsum("ij,ij->i", unit[li[ok]], unit[ri[ok]])
                ncos = (sims.astype(np.float64) + 1.0) / 2.0
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

            lb, ld = _years_arrays(pdf["l_person"])
            rb, rd = _years_arrays(pdf["r_person"])
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


def stage_vector_matrix(vectors: DataFrame, cfg=None):
    """Nothing is staged: the fused kernel embeds per task.
    perfbench still names this behind `broadcast_vectors`, which is False."""
    raise NotImplementedError(
        "vectors are computed inside the fused scoring kernel; nothing is staged"
    )


def pair_features_hashed(
    pairs: DataFrame,
    rfh: DataFrame,
    unique_strings: DataFrame | None = None,
    vectors: DataFrame | None = None,
    staged=None,
    weights: list | None = None,
    embedding: EmbeddingConfig = EmbeddingConfig(),
) -> DataFrame:
    """The scale-path feature battery, one fused Python stage per Arrow
    batch.  Pair rows carry both records' field values from `rfh`, the
    row-wise record table (preprocess.record_table); no vector rides a
    pair row or is built before the stage.  Vectors are embedded under
    `weights`, else, with `embedding.use_idf` on, under the corpus IDF
    weights of `rfh` (one driver-side action).  `unique_strings`,
    `vectors` and `staged` are ignored; perfbench still passes the first
    two.  Output schema identical to :func:`pair_features`."""
    return _fused_pairs(pairs, rfh, None, weights, embedding)


def pair_predictions_hashed(
    pairs: DataFrame,
    rfh: DataFrame,
    unique_strings: DataFrame | None,
    vectors: DataFrame | None,
    model,
    cfg=None,
    staged=None,
    weights: list | None = None,
    embedding: EmbeddingConfig = EmbeddingConfig(),
) -> DataFrame:
    """Fused featurize+score for the predict path: the same Python stage
    as pair_features_hashed computes the battery AND the LR probability
    per Arrow batch, emitting the narrow PREDICTIONS schema — the
    13-column feature table never materializes.  Bit-identical to
    classify.score(pair_features_hashed(...)) (pinned by test_features).
    `unique_strings`, `vectors`, `cfg` and `staged` are ignored;
    perfbench still passes them."""
    return _fused_pairs(pairs, rfh, model, weights, embedding)


def _fused_pairs(pairs, table, model, weights, embedding) -> DataFrame:
    if weights is None and embedding.use_idf:
        from .embedding import corpus_idf_weights

        weights = corpus_idf_weights(table, embedding)

    # each side's field values and year-stripped name join onto the pair
    # rows.  The narrow pairs are repartitioned to the Python stage's
    # width BEFORE the joins: a broadcast join keeps that partitioning, so
    # the wide rows never cross a shuffle.
    def side(p: str, key: str) -> DataFrame:
        return table.select(
            F.col("record_id").alias(key),
            *[F.col(f"{f}_value").alias(f"{p}_{f}") for f in EMBED_FIELDS],
            F.col("pn").alias(f"{p}_pn"),
        )

    pw = (
        pairs.repartition(_parallelism(pairs))
        .join(side("l", "left_id"), "left_id")
        .join(side("r", "right_id"), "right_id")
    )

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

    fused = _fused_battery_udf(out_schema, embedding, weights, score_params=score_params)
    return pw.mapInPandas(fused, schema=out_schema)


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
