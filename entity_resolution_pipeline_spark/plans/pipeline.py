"""End-to-end pipeline plans.

The reference's `Pipeline` class runs 8 sequential stages with pickle
checkpoints (src/pipeline.py:66-120).  Here each stage is a pure
DataFrame→DataFrame function (operators/*), and plans are thin compositions;
`run_resumable` adds the manifest checkpoint/resume protocol between stages.

Two mainline plans:

* `run_labeled(...)`  — the reference's shipped path: ground-truth pairs →
  features → train/evaluate (EP1 in SURVEY.md §3).
* `run_dedup(...)`    — the full-corpus path the reference designed but never
  implemented (EP3): LSH blocking → candidate pairs → scoring → clustering.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators import blocking as B
from ..operators import classify as C
from ..operators import cluster as G
from ..operators import embedding as E
from ..operators import extract as X
from ..operators import features as FE
from ..operators import preprocess as P


class PipelineResult:
    """Stage handles of the shared pipeline prefix.

    `embeddings` / `idf_weights` may be built ASYNCHRONOUSLY (prepare()
    hands them off to a background thread so the IDF agg and the embed-UDF
    materialization overlap the blocking phase, which never reads vectors);
    the properties block until the build completes, so consumers see
    exactly the values the synchronous construction produced.
    `idf_weights` are the frozen featurization params the embeddings were
    computed under (None when cfg.embedding.use_idf is off); incremental /
    streaming scoring re-embeds NEW strings under these same weights."""

    def __init__(
        self,
        records: DataFrame,
        melted: DataFrame,
        unique_strings: DataFrame,
        record_field_hashes: DataFrame,
        embeddings: DataFrame | None = None,
        model: Any = None,
        metrics: dict | None = None,
        predictions: DataFrame | None = None,
        clusters: DataFrame | None = None,
        idf_weights: list | None = None,
        emb_future: Any = None,
    ) -> None:
        self.records = records
        self.melted = melted
        self.unique_strings = unique_strings
        self.record_field_hashes = record_field_hashes
        self.model = model
        self.metrics = metrics if metrics is not None else {}
        self.predictions = predictions
        self.clusters = clusters
        self._embeddings = embeddings
        self._idf_weights = idf_weights
        self._staged = None
        self._emb_future = emb_future

    def _resolve_emb(self) -> None:
        # the future is kept, not cleared: a finished Future re-raises its
        # error on every .result(), so every consumer sees a failed build
        if self._emb_future is not None:
            self._embeddings, self._idf_weights, self._staged = self._emb_future.result()

    @property
    def embeddings(self) -> DataFrame:
        self._resolve_emb()
        return self._embeddings

    @property
    def idf_weights(self) -> list | None:
        self._resolve_emb()
        return self._idf_weights

    @property
    def staged(self):
        """Pre-staged vector matrix (features.stage_vector_matrix result)
        built by prepare()'s background thread, or None when the
        shuffle-join path is configured."""
        self._resolve_emb()
        return self._staged


def prepare(pages: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> PipelineResult:
    """pages → records → melted/unique_strings/record_field_hashes →
    embeddings (the shared prefix of both mainline plans).

    The per-record representation is the narrow hash-wide table; vectors and
    string values stay keyed by unique hash and are only touched at
    distinct-hash-pair granularity in featurization (pair_features_hashed)."""
    from pyspark import StorageLevel

    records = X.extract_records(pages).persist(StorageLevel.MEMORY_AND_DISK)
    melted = P.melt_fields(records).persist(StorageLevel.MEMORY_AND_DISK)
    uniq = P.unique_strings(melted).persist(StorageLevel.MEMORY_AND_DISK)
    rfh = P.record_field_hashes(melted).persist(StorageLevel.MEMORY_AND_DISK)

    # The entire vector build — IDF agg, embed-UDF plan, persist
    # materialization — runs in a BACKGROUND thread: the blocking/candidate
    # phase that follows prepare() in the dedup plan never reads vectors,
    # so these jobs overlap it instead of serializing in front of the
    # scoring stage's first action (guide-style independent-job overlap).
    # PipelineResult.embeddings/.idf_weights block on the future, so every
    # consumer sees exactly the synchronous result; the persist is
    # populated once and real failures re-raise at every consumer.
    from concurrent.futures import ThreadPoolExecutor

    def _build_emb():
        weights = (
            E.corpus_idf_weights(melted, cfg.embedding)
            if cfg.embedding.use_idf
            else None
        )
        emb = E.embed_unique_strings(melted, cfg.embedding, weights=weights).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        emb.count()  # pre-materialize while off the critical path
        staged = None
        if cfg.features.broadcast_vectors:
            # pre-stage the scoring matrix too: it depends only on the
            # (now materialized) vector table, so the staging job also
            # overlaps blocking instead of heading the scoring window
            vectors = emb.select("hash", "embedding").dropDuplicates(["hash"])
            staged = FE.stage_vector_matrix(vectors, cfg.features)
        return emb, weights, staged

    pool = ThreadPoolExecutor(max_workers=1)
    fut = pool.submit(_build_emb)
    pool.shutdown(wait=False)
    return PipelineResult(
        records=records,
        melted=melted,
        unique_strings=uniq,
        record_field_hashes=rfh,
        emb_future=fut,
    )


def featurize_pairs(
    pairs: DataFrame, prep: PipelineResult, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    from pyspark import StorageLevel

    vectors = prep.embeddings.select("hash", "embedding").dropDuplicates(["hash"])
    feats = FE.pair_features_hashed(
        pairs, prep.record_field_hashes, prep.unique_strings, vectors,
        cfg.features, staged=prep.staged,
    )
    # consumers run several actions (scaler agg, collect, scoring); in the
    # stage-table pipeline this is the stage's parquet write
    return feats.persist(StorageLevel.MEMORY_AND_DISK)


def score_pairs(
    pairs: DataFrame, prep: PipelineResult, model: Any, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Predict-path scoring: fused featurize+score, one Python stage, narrow
    PREDICTIONS out (see features.pair_predictions_hashed)."""
    vectors = prep.embeddings.select("hash", "embedding").dropDuplicates(["hash"])
    return FE.pair_predictions_hashed(
        pairs, prep.record_field_hashes, prep.unique_strings, vectors, model,
        cfg.features, staged=prep.staged,
    )


def run_labeled(
    pages: DataFrame,
    labeled_pairs: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> PipelineResult:
    """Ground-truth path: train + evaluate on labeled (left, right, match)."""
    prep = prepare(pages, cfg)
    pairs = labeled_pairs.select(
        F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match"
    )
    features_df = featurize_pairs(pairs, prep, cfg)
    feature_cols = FE.selected_feature_names(cfg.features, cfg.feature_selection)
    model, metrics = C.fit(features_df, feature_cols, cfg.classifier)
    prep.model = model
    prep.metrics = metrics
    return prep


def run_dedup(
    pages: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    model: Any = None,
    labeled_pairs: DataFrame | None = None,
) -> PipelineResult:
    """Full-corpus path: blocking → candidate pairs → score → cluster.
    Needs a model — either passed in or trained from `labeled_pairs`."""
    prep = prepare(pages, cfg)
    if model is None:
        if labeled_pairs is None:
            raise ValueError("run_dedup needs `model` or `labeled_pairs`")
        lp = labeled_pairs.select(
            F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match"
        )
        lp_features = featurize_pairs(lp, prep, cfg)
        feature_cols = FE.selected_feature_names(cfg.features, cfg.feature_selection)
        model, metrics = C.fit(lp_features, feature_cols, cfg.classifier)
        prep.metrics = metrics
    prep.model = model

    membership = B.block_membership(prep.records, cfg.blocking)
    candidates = B.candidate_pairs(membership, cfg.blocking)
    predictions = score_pairs(candidates, prep, model, cfg)
    clusters = G.cluster_predictions(
        predictions, prep.records.select("record_id"), cfg.clustering
    )
    prep.predictions = predictions
    prep.clusters = clusters
    return prep


def pairwise_f1_against_labels(
    predictions: DataFrame, labeled_pairs: DataFrame
) -> dict[str, float]:
    """The north-rule criterion: pairwise F1 of predicted matches vs the
    labeled pair set (pairs canonicalized left<right on both sides).

    FULL outer join: synth.ground_truth_pdf enumerates ALL within-entity
    positives, so a predicted match on a pair absent from the labels is
    provably cross-entity — a false positive that must count.  (A left
    join would silently drop it and report inflated precision: a model
    spraying matches over unlabeled pairs would still score 1.0.)"""
    lp = labeled_pairs.select(
        F.least("left", "right").alias("left_id"),
        F.greatest("left", "right").alias("right_id"),
        F.col("match").alias("label"),
    )
    pred = predictions.select(
        F.least("left_id", "right_id").alias("left_id"),
        F.greatest("left_id", "right_id").alias("right_id"),
        F.col("match").alias("pred"),
    )
    joined = lp.join(pred, ["left_id", "right_id"], "full").fillna(
        False, ["pred", "label"]
    )
    agg = joined.agg(
        F.sum(F.when(F.col("label") & F.col("pred"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("label") & F.col("pred"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("label") & ~F.col("pred"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"]), int(agg["fp"]), int(agg["fn"])
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1, "tp": tp, "fp": fp, "fn": fn}
