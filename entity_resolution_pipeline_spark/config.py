"""Pipeline configuration.

Mirrors the semantics of the reference's single ``config.yml``
(/root/reference/config.yml) as a frozen dataclass tree so every stage is
config-driven (reference pattern I8, SURVEY.md §2.10).  Defaults reproduce
the reference's shipped configuration exactly where semantics depend on it
(null tokens, thresholds, LR hyper-parameters, clustering knobs).
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field
from typing import Any

# Null tokens: reference config.yml:63 (preprocessing.null_values).
NULL_VALUES: tuple[str, ...] = ("NULL", "null", "", "None", "NA", "N/A")

# Sentinel hash for empty/whitespace-only strings: reference src/utils.py:98-99.
# NOT md5("") — the reference hardcodes this constant; replicated for parity.
EMPTY_STRING_HASH = "132172610905071792854514019103556680276"

# The string fields of a catalog record, in the reference's processing order
# (src/batch_parallel_preprocessing.py:328-353).  'roles' is tracked but never
# embedded (preprocessing.py:344-352).
EMBED_FIELDS: tuple[str, ...] = ("composite", "person", "title", "provision", "subjects")
ALL_FIELDS: tuple[str, ...] = EMBED_FIELDS + ("roles",)


@dataclass(frozen=True)
class EmbeddingConfig:
    """Deterministic local embedding (replaces the reference's OpenAI client,
    src/batch_parallel_embedding.py:300-386 — north rule mandates locally
    computed embeddings)."""

    dimensions: int = 256          # hashed-projection width; reference used 1536
    # dense OpenAI dims (config.yml:29).  Empirically (synthetic fixture,
    # IDF on): 256/512/1024/4096 dims all reach pairwise F1 ≥ 0.999 — IDF
    # weighting, not width, carries the signal — while every vector cost
    # in the scoring kernel (the per-task embedding bincount, the unit-row
    # memo, the per-pair cosine dots) scales linearly with width.
    char_ngram: int = 4            # character shingle width for the hashed projection
    fields_to_embed: tuple[str, ...] = EMBED_FIELDS
    use_idf: bool = True           # IDF-weight hash buckets by corpus document
    # frequency (one extra agg over unique strings + a dim-float broadcast):
    # downweights shared boilerplate so cosine measures distinctive overlap


@dataclass(frozen=True)
class BlockingConfig:
    """MinHash-LSH blocking (replaces the Weaviate HNSW server,
    reference docker-compose.yml:18-22; the candidate-generation stage the
    reference designed but never implemented, SURVEY.md §3 EP3)."""

    shingle_size: int = 3          # char shingles over the normalized person name
    num_hashes: int = 64           # MinHash signature length
    bands: int = 8                 # LSH bands (rows per band = num_hashes // bands).
    # 8×8 rows: collision prob ≈ 1−(1−J⁸)⁸ → 0.03 at J=0.5 (different persons
    # sharing a surname token) vs ≈ 1.0 at J≥0.9 (same person, since block
    # keys are computed on the YEAR-STRIPPED name, making same-entity strings
    # near-identical).  The exact-name key covers J=1.0 independently; fewer
    # false candidates is the single biggest scoring-cost lever.
    max_block_size: int = 2000     # per-block member cap (SURVEY.md §7 risk 3):
    # over-cap keys are non-discriminative "stop keys", dropped by batch and
    # incremental blocking alike and counted in stage metrics; recall/cost knob
    also_exact_name_key: bool = True  # add a normalized-name exact block key


@dataclass(frozen=True)
class FeatureConfig:
    """No settings: the pairwise battery is fixed (operators/features.py
    FEATURES).  The section stays because perfbench still reads it."""

    # not a field: nothing is staged or broadcast; perfbench still reads it
    broadcast_vectors = False


@dataclass(frozen=True)
class FeatureSelectionConfig:
    """No settings: the model trains on the whole fixed battery.  Returned by
    PipelineConfig.feature_selection, which perfbench still reads."""


@dataclass(frozen=True)
class ClassifierConfig:
    """Logistic regression, mini-batch GD (reference classification.py:456-536,
    hyper-parameters config.yml:196-206)."""

    regularization: str = "l2"
    regularization_strength: float = 1.0
    learning_rate: float = 0.01
    max_iterations: int = 1000
    convergence_tolerance: float = 1e-4
    batch_size: int = 1000
    class_weight: str = "balanced"
    decision_threshold: float = 0.95
    # Threshold sweep (reference classification.py:576-601, W5 in SURVEY.md
    # §2.5).  The reference sweeps np.linspace(0.1,0.9,9) ON THE TEST SET and
    # mutates decision_threshold mid-eval (flagged bug, SURVEY.md §7 item 7);
    # we sweep a finer grid on the TRAIN split only, ties broken toward the
    # higher (more precise) threshold.
    tune_threshold: bool = True
    threshold_grid_start: float = 0.05
    threshold_grid_stop: float = 0.95
    threshold_grid_steps: int = 19
    threshold_metric: str = "f1"
    train_test_split: float = 0.7              # config.yml:22
    random_seed: int = 42                      # config.yml:15


@dataclass(frozen=True)
class ClusteringConfig:
    """Transitive clustering (reference classification.py:840-969,
    config.yml:209-214); algorithm here is always the distributed
    large-star/small-star connected components."""

    min_edge_weight: float = 0.5
    max_iterations: int = 50                   # safety bound for CC iterations
    # Once the (shrinking) edge set fits one task's memory budget, finish CC
    # with a single-task vectorized min-label kernel instead of paying full
    # shuffle-round latency for the tail O(log n) star rounds.  Edge counts
    # come free from the per-round convergence checksum, so the cutover adds
    # zero actions.  0 disables (pure star iteration).  4M string-pair edges
    # ≈ a few hundred MB in one Arrow group — the same per-task budget the
    # semantic-dedup bucket kernel is sized for.
    local_finish_max_edges: int = 4_000_000


@dataclass(frozen=True)
class ImputationConfig:
    """Vector hot-deck imputation (reference src/batch_parallel_imputation.py,
    config.yml:66-73).  Passed to operators/impute.py directly; it is not a
    PipelineConfig section, since no ER stage imputes."""

    fields_to_impute: tuple[str, ...] = ("provision", "subjects")
    vector_similarity_threshold: float = 0.30
    max_candidates: int = 10
    method: str = "average"                    # average | weighted_average | nearest


@dataclass(frozen=True)
class PipelineConfig:
    """Top-level config: one object drives every stage."""

    embedding: EmbeddingConfig = field(default_factory=EmbeddingConfig)
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    features: FeatureConfig = field(default_factory=FeatureConfig)
    classifier: ClassifierConfig = field(default_factory=ClassifierConfig)
    clustering: ClusteringConfig = field(default_factory=ClusteringConfig)
    shuffle_partitions: int = 32               # sized per SF; cluster deploys override

    @property
    def feature_selection(self) -> FeatureSelectionConfig:
        """Not a field: nothing to select; perfbench still reads it."""
        return FeatureSelectionConfig()

    def replace(self, **kw: Any) -> "PipelineConfig":
        return dataclasses.replace(self, **kw)


DEFAULT_CONFIG = PipelineConfig()


def ensure_min_width(df, width: int | None = None):
    """Round-robin repartition up to `width` (default python_stage_width)
    ONLY when the plan's current partitioning is narrower — a no-op at
    corpus scale, where the scan/exchange upstream already provides ≥width
    partitions, so no shuffle is ever added to a big input.  Guards
    compute-heavy row-local stages (regex extraction chains, gram hashing,
    span excision) against single-split inputs: a small parquet file scans
    as ONE partition, and every downstream row-local expression would
    otherwise run on one core regardless of cluster size.

    Caller contract: pass an EXCHANGE-FREE lineage (scan, localCheckpoint,
    row-local projections/filters over one) — the partition-count probe
    (`df.rdd`) forces physical planning, and under AQE a lineage containing
    exchanges would materialize its query stages eagerly."""
    if df.isStreaming:
        return df  # no static partition count; micro-batches size themselves
    w = width if width is not None else python_stage_width(df.sparkSession)
    if df.rdd.getNumPartitions() >= w:
        return df
    return df.repartition(w)


def python_stage_width(spark) -> int:
    """Partition count for Python-UDF (Arrow) stages: HALF the scheduler
    slots, floor 4.  A pandas-UDF task keeps ~2 threads busy — the JVM side
    feeding/draining Arrow batches plus the Python worker computing — so one
    UDF task per core oversubscribes the box 2×; measured on local[32] as a
    sustained 60-90% kernel-time storm and a 2× slower stage.  Half-width
    restores one busy thread per core.  The same sizing applies
    per-executor on a real cluster (e.g. 8-core executors → 4-task Python
    stages via spark.task.cpus=2 or explicit repartition)."""
    return max(spark.sparkContext.defaultParallelism // 2, 4)
