"""End-to-end pipeline plans.

The reference's `Pipeline` class runs 8 sequential stages with pickle
checkpoints (src/pipeline.py:66-120).  Here each stage is a pure
DataFrame→DataFrame function (operators/*), and plans are thin compositions.
`prepare_records`, `train` and `score_pairs` are the one stage composition:
these plans, incremental ingest and (over its stage tables) the CLI
(main.py) all train and score over a `PipelineResult`.

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

    `embeddings` is the (hash, embedding) vector table, one row per distinct
    string.  It and `idf_weights` may be built ASYNCHRONOUSLY
    (prepare_records() hands them off to a background thread so the IDF agg
    and the embed-UDF materialization overlap the blocking phase, which
    never reads vectors); the properties block until the build completes,
    so consumers see exactly the values the synchronous construction
    produced.
    `idf_weights` are the frozen featurization params the embeddings were
    computed under (None when cfg.embedding.use_idf is off); incremental
    ingest re-embeds the strings it scores under these same weights.

    Only the CLI, which already holds the stage tables, passes `embeddings`
    in; `staged` then stages it on first access.  Every owner calls
    `release()` once everything scored against the result is written."""

    def __init__(
        self,
        records: DataFrame,
        melted: DataFrame,
        unique_strings: DataFrame,
        record_field_hashes: DataFrame,
        embeddings: DataFrame | None = None,
        emb_future: Any = None,
    ) -> None:
        self.records = records
        self.melted = melted
        self.unique_strings = unique_strings
        self.record_field_hashes = record_field_hashes
        self.model: Any = None
        self.metrics: dict = {}
        self.predictions: DataFrame | None = None
        self.clusters: DataFrame | None = None
        self._embeddings = embeddings
        self._idf_weights = None
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
        """Staged vector matrix (features.stage_vector_matrix result):
        built by prepare_records()' background thread, else staged here on
        first access."""
        self._resolve_emb()
        if self._staged is None:
            self._staged = FE.stage_vector_matrix(self._embeddings)
        return self._staged

    def release(self) -> None:
        """Wait for the vector build, then free its staged matrix and the
        prefix tables' caches.  Call once everything scored against this
        result is written."""
        try:
            self._resolve_emb()
        finally:
            if self._staged is not None:
                FE.release_stage_dir(self._staged[3])
            for df in (self.records, self.melted, self.unique_strings,
                       self.record_field_hashes, self._embeddings):
                if df is not None:
                    df.unpersist()


def prepare(pages: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> PipelineResult:
    """pages → records → the shared prefix (see prepare_records)."""
    return prepare_records(X.extract_records(pages), cfg)


def prepare_records(
    records: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    idf_weights: list | None = None,
) -> PipelineResult:
    """records → melted/unique_strings/record_field_hashes → embeddings
    (the shared prefix of both mainline plans and of incremental ingest).

    The per-record representation is the narrow hash-wide table; vectors
    stay keyed by unique hash in the staged matrix that featurization
    (pair_features_hashed) gathers from.  Given `idf_weights` (a model's
    frozen train-time weights), the vectors are embedded under them instead
    of under `corpus_idf_weights` of these records."""
    from pyspark import StorageLevel

    records = records.persist(StorageLevel.MEMORY_AND_DISK)
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
        weights = idf_weights
        if weights is None and cfg.embedding.use_idf:
            weights = E.corpus_idf_weights(melted, cfg.embedding)
        emb = E.embed_unique_strings(melted, cfg.embedding, weights=weights).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        emb.count()  # pre-materialize while off the critical path
        # pre-stage the scoring matrix too: it depends only on the (now
        # materialized) vector table, so the staging job also overlaps
        # blocking instead of heading the scoring window
        return emb, weights, FE.stage_vector_matrix(emb)

    pool = ThreadPoolExecutor(max_workers=1)
    fut = pool.submit(_build_emb)
    pool.shutdown(wait=False)
    return PipelineResult(records, melted, uniq, rfh, emb_future=fut)


def featurize_pairs(
    pairs: DataFrame, prep: PipelineResult, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Pairs → the fixed battery (features.FEATURES), persisted.  The
    battery has no settings, so `cfg` is unused; perfbench still passes it."""
    from pyspark import StorageLevel

    feats = FE.pair_features_hashed(
        pairs, prep.record_field_hashes, prep.unique_strings, prep.embeddings,
        staged=prep.staged,
    )
    # consumers run several actions (scaler agg, collect, scoring); in the
    # stage-table pipeline this is the stage's parquet write
    return feats.persist(StorageLevel.MEMORY_AND_DISK)


def score_pairs(
    pairs: DataFrame, prep: PipelineResult, model: Any, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Predict-path scoring: fused featurize+score, one Python stage, narrow
    PREDICTIONS out (see features.pair_predictions_hashed).  `cfg` is
    unused; the CLI, ingest and perfbench pass it."""
    return FE.pair_predictions_hashed(
        pairs, prep.record_field_hashes, prep.unique_strings, prep.embeddings,
        model, staged=prep.staged,
    )


def train(
    labeled_pairs: DataFrame, prep: PipelineResult, cfg: PipelineConfig = DEFAULT_CONFIG
) -> tuple[Any, dict]:
    """Labeled (left, right, match) pairs → (model, metrics): featurize the
    pairs over `prep`, fit on the whole battery."""
    pairs = labeled_pairs.select(
        F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match"
    )
    features_df = featurize_pairs(pairs, prep)
    model, metrics = C.fit(features_df, list(FE.FEATURES), cfg.classifier)
    features_df.unpersist()
    return model, metrics


def run_labeled(
    pages: DataFrame,
    labeled_pairs: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> PipelineResult:
    """Ground-truth path: train + evaluate on labeled (left, right, match)."""
    prep = prepare(pages, cfg)
    prep.model, prep.metrics = train(labeled_pairs, prep, cfg)
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
        model, prep.metrics = train(labeled_pairs, prep, cfg)
    prep.model = model

    membership = B.block_membership(prep.records, cfg.blocking)
    candidates = B.candidate_pairs(membership, cfg.blocking)
    predictions = score_pairs(candidates, prep, model)
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
