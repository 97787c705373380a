"""Determinism across partitioning (SURVEY.md §5 item 5): the same input at
different partition counts must produce identical outputs — hashes, blocks,
candidate pairs, features, predictions.  The reference never had this
property (ProcessPool completion order leaked into artifacts); our engine
guarantees it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark import synth
from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
from entity_resolution_pipeline_spark.operators import blocking as B
from entity_resolution_pipeline_spark.operators import embedding as E
from entity_resolution_pipeline_spark.operators import extract as X
from entity_resolution_pipeline_spark.operators import features as FE
from entity_resolution_pipeline_spark.operators import preprocess as P
from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS

N = 300


def _prep(spark, partitions: int):
    pages = synth.pages_df(spark, N, partitions=partitions)
    records = X.extract_records(pages)
    melted = P.melt_fields(records).persist()
    melted.count()
    return records, melted


@pytest.fixture(scope="module")
def both(spark):
    return _prep(spark, 1), _prep(spark, 8)


def test_hashes_and_unique_strings_identical(both):
    (r1, m1), (r8, m8) = both
    u1 = sorted(map(tuple, P.unique_strings(m1).collect()))
    u8 = sorted(map(tuple, P.unique_strings(m8).collect()))
    assert u1 == u8


def test_embeddings_identical(both):
    (_, m1), (_, m8) = both
    cfg = DEFAULT_CONFIG.embedding
    e1 = {r["hash"]: r["embedding"] for r in E.embed_unique_strings(m1, cfg).collect()}
    e8 = {r["hash"]: r["embedding"] for r in E.embed_unique_strings(m8, cfg).collect()}
    assert e1.keys() == e8.keys()
    for h in e1:
        assert e1[h] == e8[h], h


def test_candidates_and_features_identical(spark, both):
    """Candidates and all 13 features, exactly, at 1 vs 8 input partitions:
    the fused kernel's per-task memos must not make a feature depend on
    which pairs share a task or a batch."""
    (r1, _), (r8, _) = both
    gt = spark.createDataFrame(synth.ground_truth_pdf(N), LABELED_PAIRS)
    pairs = gt.select(F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match")
    out = []
    for records in (r1, r8):
        cands = B.candidate_pairs(B.block_membership(records), DEFAULT_CONFIG.blocking)
        table = P.record_table(records)
        weights = E.corpus_idf_weights(table, DEFAULT_CONFIG.embedding)
        feats = FE.pair_features_hashed(pairs, table, weights=weights)
        out.append(
            (
                sorted(map(tuple, cands.collect())),
                weights,
                sorted(
                    (r["left_id"], r["right_id"], *[r[c] for c in FE.FEATURES])
                    for r in feats.collect()
                ),
            )
        )
    assert out[0][0] == out[1][0]
    assert out[0][1] == out[1][1]
    assert len(out[0][2]) == gt.count()
    assert out[0][2] == out[1][2]
