"""End-to-end pipeline plans.

The reference's `Pipeline` class runs 8 sequential stages with pickle
checkpoints (src/pipeline.py:66-120).  Here each stage is a pure
DataFrame→DataFrame function (operators/*), and plans are thin compositions.
`prepare_records`, `train` and `score_pairs` are the one stage composition:
these plans, incremental ingest and (over its extract stage table) the CLI
(main.py) all train and score over a `PipelineResult`.

Two mainline plans:

* `run_labeled(...)`  — the reference's shipped path: ground-truth pairs →
  features → train/evaluate (EP1 in SURVEY.md §3).
* `run_dedup(...)`    — the full-corpus path the reference designed but never
  implemented (EP3): LSH blocking → candidate pairs → scoring → clustering.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EmbeddingConfig, PipelineConfig
from ..operators import blocking as B
from ..operators import classify as C
from ..operators import cluster as G
from ..operators import embedding as E
from ..operators import extract as X
from ..operators import features as FE
from ..operators import preprocess as P


class PipelineResult:
    """Stage handles of the shared pipeline prefix.

    `record_field_hashes` is the persisted row-wise record table
    (preprocess.record_table): per record, the field hashes, the normalized
    field values and the year-stripped person name.  Featurization joins
    pairs against it and embeds the values inside the fused scoring kernel,
    so no vector table is built.  `idf_weights` are the frozen
    featurization params the kernel embeds under (None when
    `embedding.use_idf` is off): the corpus weights of these records, built
    by prepare_records() in a BACKGROUND thread that overlaps blocking, or
    a model's train-time weights passed in.  The property blocks until the
    build completes and re-raises a failed build at every read.

    `melted`, `unique_strings` and `embeddings` are lazy DataFrames that no
    pass runs; perfbench still reads them, and `staged` (nothing is staged:
    it waits on the IDF build and returns None).  Every owner calls
    `release()` once everything scored against the result is written."""

    def __init__(
        self,
        records: DataFrame,
        record_field_hashes: DataFrame,
        embedding: EmbeddingConfig = DEFAULT_CONFIG.embedding,
        idf: Future | list | None = None,
    ) -> None:
        self.records = records
        self.record_field_hashes = record_field_hashes
        self.embedding = embedding
        self.model: Any = None
        self.metrics: dict = {}
        self.predictions: DataFrame | None = None
        self.clusters: DataFrame | None = None
        self._idf = idf

    @property
    def idf_weights(self) -> list | None:
        # a finished Future re-raises its error on every .result(), so
        # every consumer sees a failed build
        return self._idf.result() if isinstance(self._idf, Future) else self._idf

    @property
    def staged(self) -> None:
        """Waits on the IDF build; nothing is staged.  perfbench still
        reads it."""
        self.idf_weights
        return None

    @property
    def melted(self) -> DataFrame:
        """perfbench still unpersists it; no pass runs it."""
        return P.melt_fields(self.records)

    @property
    def unique_strings(self) -> DataFrame:
        """perfbench still unpersists it; no pass runs it."""
        return P.unique_strings(self.melted)

    @property
    def embeddings(self) -> DataFrame:
        """perfbench still unpersists it; no pass runs it."""
        return E.embed_unique_strings(self.melted, self.embedding, weights=self.idf_weights)

    def release(self) -> None:
        """Wait for the IDF build, then free the prefix tables' caches.
        Call once everything scored against this result is written."""
        try:
            self.idf_weights
        finally:
            for df in (self.records, self.record_field_hashes):
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
    """records → the row-wise record table + IDF weights (the shared prefix
    of both mainline plans and of incremental ingest).

    Given `idf_weights` (a model's frozen train-time weights), the kernel
    embeds under them; else, with IDF on, under the corpus weights of
    these records."""
    from pyspark import StorageLevel

    records = records.persist(StorageLevel.MEMORY_AND_DISK)
    table = P.record_table(records).persist(StorageLevel.MEMORY_AND_DISK)
    idf: Future | list | None = idf_weights
    if idf is None and cfg.embedding.use_idf:
        # The IDF document-frequency pass (which also materializes the
        # table) runs in a BACKGROUND thread: the blocking/candidate phase
        # that follows prepare() in the dedup plan never reads it, so it
        # overlaps blocking instead of heading the scoring stage.
        pool = ThreadPoolExecutor(max_workers=1)
        idf = pool.submit(E.corpus_idf_weights, table, cfg.embedding)
        pool.shutdown(wait=False)
    return PipelineResult(records, table, cfg.embedding, idf)


def featurize_pairs(
    pairs: DataFrame, prep: PipelineResult, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Pairs → the fixed battery (features.FEATURES), persisted.  The
    battery has no settings, so `cfg` is unused; perfbench still passes it."""
    from pyspark import StorageLevel

    feats = FE.pair_features_hashed(
        pairs, prep.record_field_hashes,
        weights=prep.idf_weights, embedding=prep.embedding,
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
        pairs, prep.record_field_hashes, None, None, model,
        weights=prep.idf_weights, embedding=prep.embedding,
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
