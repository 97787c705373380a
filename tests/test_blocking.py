"""Blocking tests: hot-block dropping in candidate_pairs, and the
completeness guarantee of triangle-decomposition salting (salt_hot_blocks,
used by the dedup and ANN hot buckets)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.config import BlockingConfig
from entity_resolution_pipeline_spark.operators import blocking as B


def _salted_pairs(membership, cfg):
    """Self-join of the salted membership under salted_pair_predicate."""
    salted = B.salt_hot_blocks(membership, cfg)
    l, r = salted.alias("l"), salted.alias("r")
    return (
        l.join(r, "block_key")
        .where(F.col("l.id") < F.col("r.id"))
        .where(B.salted_pair_predicate())
        .select(F.col("l.id").alias("left_id"), F.col("r.id").alias("right_id"))
    )


def test_salt_hot_blocks_complete_enumeration(spark):
    """One hot block of 200 members, cap 50 → salted self-join must produce
    EXACTLY C(200,2) pairs — none lost, none duplicated."""
    n, cap = 200, 50
    membership = spark.createDataFrame(
        [(f"id{i:04d}", "hot") for i in range(n)], ["id", "block_key"]
    )
    cfg = BlockingConfig(max_block_size=cap)
    pairs = _salted_pairs(membership, cfg)
    assert pairs.count() == n * (n - 1) // 2
    # bounded buckets: a bucket holds two hash-assigned salt groups of
    # expected size ≤ cap each (± hash-uniformity variance) — far below the
    # unsalted block of 200
    salted = B.salt_hot_blocks(membership, cfg)
    max_bucket = salted.groupBy("block_key").count().agg(F.max("count")).collect()[0][0]
    assert max_bucket <= 3 * cap
    assert max_bucket < n


def test_salt_leaves_cold_blocks_intact(spark):
    membership = spark.createDataFrame(
        [(f"id{i}", "cold") for i in range(10)], ["id", "block_key"]
    )
    cfg = BlockingConfig(max_block_size=50)
    pairs = _salted_pairs(membership, cfg)
    assert pairs.count() == 45


def test_drop_strategy_removes_hot_blocks(spark):
    rows = [(f"a{i}", "hot") for i in range(100)] + [("x", "cold"), ("y", "cold")]
    membership = spark.createDataFrame(rows, ["id", "block_key"])
    cfg = BlockingConfig(max_block_size=10)
    pairs = B.candidate_pairs(membership, cfg).collect()
    assert {(r["left_id"], r["right_id"]) for r in pairs} == {("x", "y")}
    _, hot = B.prune_hot_blocks(membership, cfg)
    assert [(r["block_key"], r["size"]) for r in hot.collect()] == [("hot", 100)]


def test_salt_determinism_across_parallelism(spark):
    rows = [(f"id{i:03d}", "hot") for i in range(120)]
    cfg = BlockingConfig(max_block_size=30)
    a = sorted(
        _salted_pairs(spark.createDataFrame(rows, ["id", "block_key"]).repartition(1), cfg).collect()
    )
    b = sorted(
        _salted_pairs(spark.createDataFrame(rows, ["id", "block_key"]).repartition(8), cfg).collect()
    )
    assert a == b
