"""Golden end-to-end test (SURVEY.md §5 item 3 / north rule).

Synthetic labeled fixture → full pipeline; asserts the pairwise-F1 ≥ 0.99
criterion on BOTH paths:

* `run_labeled` — the reference's shipped ground-truth path (train + eval)
* `run_dedup`   — the full-corpus blocking path (candidates from MinHash-LSH,
  i.e. identical blocking keys for every record) scored + clustered, compared
  back against the labeled pairs.

Kept small (160 entities × 5 records) so the suite stays fast; the bench and
driver runs exercise larger scales.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark import synth
from entity_resolution_pipeline_spark.plans import pipeline as PL
from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS

N_RECORDS = 800  # 160 entities


@pytest.fixture(scope="module")
def fixture(spark):
    pages = synth.pages_df(spark, N_RECORDS).cache()
    gt = spark.createDataFrame(synth.ground_truth_pdf(N_RECORDS), LABELED_PAIRS).cache()
    pages.count(), gt.count()
    return pages, gt


@pytest.fixture(scope="module")
def labeled_result(fixture):
    pages, gt = fixture
    return PL.run_labeled(pages, gt)


def test_labeled_f1(labeled_result):
    m = labeled_result.metrics
    assert m["f1"] >= 0.99, m
    assert m["precision"] >= 0.99, m
    assert m["roc_auc"] >= 0.999, m


def test_dedup_pairwise_f1(fixture, labeled_result):
    pages, gt = fixture
    res = PL.run_dedup(pages, model=labeled_result.model)
    scores = PL.pairwise_f1_against_labels(res.predictions, gt)
    assert scores["f1"] >= 0.99, scores
    # every record must land in exactly one cluster
    n_assigned = res.clusters.select("entity_id").distinct().count()
    assert n_assigned == N_RECORDS
    # cluster sizes must sum to the record count
    total = (
        res.clusters.select("cluster_id", "cluster_size")
        .dropDuplicates(["cluster_id"])
        .agg(F.sum("cluster_size"))
        .collect()[0][0]
    )
    assert total == N_RECORDS


def test_blocking_recall_on_labeled_positives(fixture):
    """LSH blocking must retrieve (nearly) all true pairs as candidates —
    recall of the blocking stage itself, independent of the classifier."""
    from entity_resolution_pipeline_spark.operators import blocking as B
    from entity_resolution_pipeline_spark.operators import extract as X

    pages, gt = fixture
    records = X.extract_records(pages)
    membership = B.block_membership(records)
    cands = B.candidate_pairs(membership)
    pos = gt.where("match").select(
        F.least("left", "right").alias("left_id"),
        F.greatest("left", "right").alias("right_id"),
    )
    found = pos.join(cands, ["left_id", "right_id"], "left_semi").count()
    total = pos.count()
    assert found / total >= 0.999, (found, total)


def test_failed_idf_build_raises_at_every_consumer():
    """A failed background IDF build must surface at EVERY consumer, not
    only the first: later reads of .idf_weights / .staged and scoring
    must not silently go on without weights."""
    from concurrent.futures import Future

    fut = Future()
    fut.set_exception(RuntimeError("idf build failed"))
    res = PL.PipelineResult(None, None, None, fut)
    for prop in ("idf_weights", "staged", "idf_weights"):
        with pytest.raises(RuntimeError, match="idf build failed"):
            getattr(res, prop)
    with pytest.raises(RuntimeError, match="idf build failed"):
        PL.score_pairs(None, res, None)
