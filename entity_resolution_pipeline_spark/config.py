"""Pipeline configuration.

Mirrors the semantics of the reference's single ``config.yml``
(/root/reference/config.yml) as a frozen dataclass tree so every stage is
config-driven (reference pattern I8, SURVEY.md §2.10).  Defaults reproduce
the reference's shipped configuration exactly where semantics depend on it
(null tokens, thresholds, dampening factors, feature selection, LR
hyper-parameters, clustering knobs).
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
    # weighting, not width, carries the signal — while EVERY downstream
    # vector cost (embed UDF, unique-vector collect for the broadcast
    # matrix, per-pair cosine gathers) scales linearly with width.  256 cut
    # the serial vector-collect term 4× (the Amdahl bottleneck of the N-vs-4N
    # scaling criterion) with no measurable quality change.
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
    max_block_size: int = 2000     # per-block member cap; see hot_block_strategy
    # Skew handling for hot (over-cap) block keys (SURVEY.md §7 risk 3):
    # * "drop": over-cap keys are non-discriminative "stop keys" — dropped
    #   and counted (surfaced in stage metrics, never silent); recall/cost knob.
    # * "salt": triangle-decomposition salting — members get ceil(size/cap)
    #   salt groups, each unordered group pair becomes its own join bucket,
    #   so pair enumeration stays COMPLETE while no task sees more than
    #   ~2·cap members.  Residual within-cap imbalance → AQE skew-join.
    hot_block_strategy: str = "drop"
    also_exact_name_key: bool = True  # add a normalized-name exact block key


@dataclass(frozen=True)
class FeatureConfig:
    """Pairwise feature battery (reference src/batch_parallel_feature_engineering.py
    426-665; toggles from config.yml:76-193)."""

    cosine_similarities: tuple[str, ...] = ("person", "title", "provision", "subjects", "composite")
    string_similarity_field: str = "person"
    string_similarity_metrics: tuple[str, ...] = ()   # config.yml:90 ships [""] → none
    # Our extension (north_rule: "Jaro-Winkler + Levenshtein on normalized
    # title/url fields"): string similarities over the YEAR-STRIPPED
    # normalized person name (reference normalize_name,
    # birth_death_regexes.py:197-225).  Raw-person levenshtein is noisy —
    # "Haddad, Jan" vs "Haddad, Jan, 1797-1828" scores 0.5 while the truly
    # different "Haddad, Jan" vs "Haddad, Eszter" scores 0.57; stripping the
    # life dates first makes given-name differences the dominant signal.
    normalized_name_sims: tuple[str, ...] = ("levenshtein", "jaro_winkler")
    harmonic_means: tuple[tuple[str, str], ...] = (
        ("person", "title"),
        ("person", "provision"),
        ("person", "subjects"),
        ("title", "subjects"),
        ("title", "provision"),
        ("provision", "subjects"),
    )
    products: tuple[tuple[str, str], ...] = (("person", "provision"),)
    ratios: tuple[tuple[str, str], ...] = ()
    birth_death_enabled: bool = True
    low_composite_penalty_enabled: bool = True
    low_composite_penalty_threshold: float = 0.65
    title_cosine_squared_enabled: bool = True
    person_lev_bd_product_enabled: bool = True
    person_lev_bd_dampening: float = 0.25
    person_cos_bd_product_enabled: bool = True
    person_cos_bd_dampening: float = 0.25
    normalize_features: bool = True    # StandardScaler (feature_engineering.py:931-960)
    # Physical knob: hash-join the unique-string vector table broadcast-side
    # (vectors are the dedup'd small side by construction) so the wide
    # pair×vector rows never shuffle — the cosine UDF consumes them pipelined
    # in the probe stage.  Disable on corpora whose unique-string vector
    # table exceeds executor memory; the shuffle-join fallback then applies.
    broadcast_vectors: bool = True
    # Staging root for the broadcast-vector matrix shards.  None → the
    # ERX_STAGE_ROOT env var, else /dev/shm, else the system tempdir.  On a
    # MULTI-HOST cluster this MUST point at storage all executors AND the
    # driver share (NFS/FUSE mount); host-local tmpfs only works single-node.
    # If executors can't see each other's shards, featurization fails fast
    # with an actionable error naming this knob (features.py) — set
    # broadcast_vectors=False for the shuffle-join path that needs no shared
    # storage.
    stage_root: str | None = None


@dataclass(frozen=True)
class FeatureSelectionConfig:
    """Include-mode whitelist (reference config.yml:163-193 +
    feature_engineering.py:704-803)."""

    enabled: bool = True
    mode: str = "include"
    base_features: tuple[str, ...] = (
        "person_cosine",
        "composite_cosine",
        "person_norm_levenshtein",
        "person_norm_jaro_winkler",
    )
    interaction_features: tuple[str, ...] = ("person_title_harmonic", "person_subjects_harmonic")
    # Deviation from the reference default (config.yml:169): with semantic
    # OpenAI embeddings, composite+person cosines carry most signal; with our
    # hashed char-n-gram embeddings the entity-distinctive vocabulary signal
    # lives in the per-field title/subjects cosines, so all cosines are
    # selected by default.
    include_all_cosine: bool = True
    include_all_levenshtein: bool = False
    include_all_harmonic: bool = False
    include_all_product: bool = False
    include_all_ratio: bool = False
    include_all_birth_death: bool = True
    keep_custom_features: bool = True          # keeps low_composite_penalty
    custom_feature_patterns: tuple[str, ...] = ("low_composite_penalty",)


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
    min_cluster_size: int = 1
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
    config.yml:66-73)."""

    fields_to_impute: tuple[str, ...] = ("provision", "subjects")
    vector_similarity_threshold: float = 0.30
    max_candidates: int = 10
    method: str = "average"                    # average | weighted_average | nearest


@dataclass(frozen=True)
class PipelineConfig:
    """Top-level config: one object drives every stage."""

    null_values: tuple[str, ...] = NULL_VALUES
    normalize_strings: bool = True             # config.yml:61
    embedding: EmbeddingConfig = field(default_factory=EmbeddingConfig)
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    features: FeatureConfig = field(default_factory=FeatureConfig)
    feature_selection: FeatureSelectionConfig = field(default_factory=FeatureSelectionConfig)
    classifier: ClassifierConfig = field(default_factory=ClassifierConfig)
    clustering: ClusteringConfig = field(default_factory=ClusteringConfig)
    imputation: ImputationConfig = field(default_factory=ImputationConfig)
    shuffle_partitions: int = 32               # sized per SF; cluster deploys override

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
