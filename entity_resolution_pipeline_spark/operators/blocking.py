"""MinHash-LSH blocking + candidate-pair generation.

The candidate stage the reference designed but never shipped (pipeline.py:
334-388 calls `execute_candidate_queries`, absent from src/ — SURVEY.md §3
EP3).  Blocking keys come from MinHash band hashes over character shingles of
the *year-stripped, lowercased* person name (so records of one person whose
strings differ only in life-date formatting still collide; the classifier
separates true twins downstream), plus an exact normalized-name key.

Scale design (north rule: partitioning/shuffle/skew handled explicitly):
* band keys are computed in one Arrow UDF pass; explode → (block_key, id)
* frequent-bucket pruning: block keys with > max_block_size members are
  non-discriminative "stop keys" (power-law person names, SURVEY.md §7 risk
  3); they are dropped and *counted* — a recall/cost knob reported in stage
  metrics, never silent
* the block self-join shuffles on block_key; AQE skew-join splitting handles
  residual imbalance inside the cap
* pair dedup (same pair from multiple bands) is one exchange on
  (left_id, right_id)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BlockingConfig


def block_membership(
    records: DataFrame,
    cfg: BlockingConfig = BlockingConfig(),
    key_col: str = "person",
    id_col: str = "record_id",
) -> DataFrame:
    """records → (block_key, id).  Records with a missing key get no blocks
    (reference behavior: a record without a person string was never queried
    against Weaviate)."""
    from ..functions.birth_death import normalize_name_udf
    from ..functions.minhash import make_band_keys_udf, make_minhash_udf

    minhash_udf = make_minhash_udf(num_hashes=cfg.num_hashes, k=cfg.shingle_size)
    band_udf = make_band_keys_udf(bands=cfg.bands)

    from ..config import python_stage_width

    keyed = (
        records.where(F.col(key_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(key_col))
        # coalesce (no shuffle) to half-width before the Arrow UDF pass —
        # see config.python_stage_width
        .coalesce(python_stage_width(records.sparkSession))
        .withColumn("block_base", F.lower(normalize_name_udf(key_col)))
    )
    # Signatures are computed directly per record in ONE shuffle-free pass.
    # A dedup-before-compute variant (distinct names → signatures → join
    # membership back, the reference's unique-strings pattern,
    # embedding.py:106-119) was measured 3-15× SLOWER here: person names are
    # short, so the vectorized MinHash UDF costs less per record than the
    # two exchanges (distinct + join-back) the dedup needs — recompute beats
    # shuffle for cheap-per-row pure functions at any scale, since this
    # formulation ships zero bytes before the block-key exchange.
    # the LSH band keys plus one exact key on the normalized name
    keys = F.concat(
        band_udf(minhash_udf("block_base")),
        F.array(F.concat(F.lit("x:"), F.xxhash64("block_base").cast("string"))),
    )
    return keyed.select("id", F.explode(keys).alias("block_key"))


def prune_hot_blocks(
    membership: DataFrame,
    cfg: BlockingConfig = BlockingConfig(),
    key_col: str = "block_key",
) -> tuple[DataFrame, DataFrame]:
    """Split membership into (kept, dropped_block_stats).  dropped stats =
    (key_col, size) for keys over the cap — surfaced as stage metrics."""
    sizes = membership.groupBy(key_col).agg(F.count("*").alias("size"))
    hot = sizes.where(F.col("size") > cfg.max_block_size)
    kept = membership.join(F.broadcast(hot.select(key_col)), key_col, "left_anti")
    return kept, hot


def salt_hot_blocks(
    membership: DataFrame,
    cfg: BlockingConfig = BlockingConfig(),
    key_col: str = "block_key",
    id_col: str = "id",
) -> DataFrame:
    """Triangle-decomposition salting: rewrite each over-cap block into
    bounded join buckets WITHOUT losing any pair.

    A hot block of size s gets G = ceil(s / cap) salt groups; a member in
    group g is exploded into one bucket key per unordered group pair
    involving g — (i, g) for i ≤ g and (g, j) for j > g.  A CROSS-group pair
    (ga ≠ gb) then meets in exactly ONE bucket, (min, max).  A SAME-group
    pair (g, g) co-resides in every bucket of g's set, so the self-join must
    additionally filter with `salted_pair_predicate` — keep the pair only in
    the diagonal bucket (a == b) unless the two groups differ — which makes
    enumeration EXACTLY once overall.  (Within its one bucket the self-join
    emits both orderings of the pair, so the salting is also sound for
    asymmetric consumers like per-query top-k.)  No bucket holds more than
    ~2·cap members (expected; hash-group unevenness adds slack).  Salt
    assignment is deterministic (xxhash64 of the id) — stable across runs
    and parallelism levels.

    Returns membership with `key_col` rewritten to the salted bucket key,
    all other columns passed through unchanged, plus the salt bookkeeping
    columns `__salt_g`, `__salt_a`, `__salt_b` consumed by
    `salted_pair_predicate` (drop them after the join).
    """
    other = [c for c in membership.columns if c != key_col]
    sizes = membership.groupBy(key_col).agg(F.count("*").alias("size"))
    groups = F.ceil(F.col("size") / F.lit(cfg.max_block_size)).cast("int").alias("G")
    # no broadcast hint: the sizes side is one row per distinct block key —
    # small here, but unbounded at corpus scale; AQE picks the strategy
    sized = membership.join(sizes.select(key_col, groups), key_col)
    g = F.pmod(F.xxhash64(id_col), F.col("G")).cast("int")
    # bucket keys for member in group g: (i, g) for i in [0, g] and (g, j)
    # for j in (g, G)
    buckets = F.concat(
        F.transform(F.sequence(F.lit(0), g), lambda i: F.struct(i.alias("a"), g.alias("b"))),
        F.when(
            g + 1 < F.col("G"),
            F.transform(
                F.sequence(g + 1, F.col("G") - 1),
                lambda j: F.struct(g.alias("a"), j.alias("b")),
            ),
        ).otherwise(F.array()),
    )
    return sized.select(
        *other,
        g.alias("__salt_g"),
        F.explode(buckets).alias("bk"),
        key_col,
    ).select(
        *other,
        "__salt_g",
        F.col("bk.a").alias("__salt_a"),
        F.col("bk.b").alias("__salt_b"),
        F.concat_ws("#", key_col, F.col("bk.a"), F.col("bk.b")).alias(key_col),
    )


def salted_pair_predicate(left_alias: str = "l", right_alias: str = "r"):
    """Join filter completing salt_hot_blocks' exactly-once guarantee: a
    same-group pair co-resides in every bucket of its group's set, so it is
    kept only in the diagonal bucket (a == b); cross-group pairs (which meet
    exactly once anyway) always pass."""
    return (F.col(f"{left_alias}.__salt_a") == F.col(f"{left_alias}.__salt_b")) | (
        F.col(f"{left_alias}.__salt_g") != F.col(f"{right_alias}.__salt_g")
    )


def candidate_pairs(
    membership: DataFrame, cfg: BlockingConfig = BlockingConfig()
) -> DataFrame:
    """Block self-join → distinct (left_id, right_id), left < right.

    The l.id < r.id predicate halves the join output before the exchange;
    dropDuplicates collapses multi-band duplicates.  Hot (over-cap) keys are
    dropped, as incremental ingest drops them; callers count them from
    `prune_hot_blocks`' second output.  No single block key then dominates
    a shuffle partition; AQE skew-join handles the rest.
    """
    # membership is consumed four times (size agg, anti-join, both join
    # sides); eager lineage-truncating materialization (see
    # dedup._minhash_feats): a lazy persist raced its own concurrent AQE
    # subtree materializations, running the signature UDF pass per consumer
    membership = membership.localCheckpoint(eager=True)
    kept, _ = prune_hot_blocks(membership, cfg)
    l = kept.alias("l")
    r = kept.alias("r")
    pairs = l.join(r, "block_key").where(F.col("l.id") < F.col("r.id")).select(
        F.col("l.id").alias("left_id"), F.col("r.id").alias("right_id")
    )
    return pairs.dropDuplicates(["left_id", "right_id"])
