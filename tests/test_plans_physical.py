"""Physical-plan shape pins: the declarative plans must compile to the
intended strategies.  These are the properties that make the engine scale —
regressions here (a lost broadcast, a dropped pushdown, an extra Python
stage) silently cost multiples at 100 TB, so they are pinned as tests."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as e

    return e


def test_q3_broadcasts_the_dimension(spark, entry_mod):
    """customer (filtered dim) must broadcast — the fact table never
    shuffles on the join key."""
    df = entry_mod.queries()["top_unshipped_orders"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_scan_prunes_columns(spark, entry_mod):
    """token_counts projects 2 of 5 document columns — the parquet scan
    must read only those (column pruning reached the source)."""
    df = entry_mod.queries()["token_counts"](spark, SF_DIR)
    plan = _plan(df)
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "doc_id" in scan and "text" in scan
    assert "lang" not in scan and "n_chars" not in scan, scan


def test_filter_pushdown_reaches_scan(spark, entry_mod):
    """top_unshipped_orders' date predicates must appear as PushedFilters
    on the orders/lineitem scans, not as post-scan filters only."""
    df = entry_mod.queries()["top_unshipped_orders"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "LessThan" in ln or "GreaterThan" in ln]
    assert pushed, plan


def test_dedup_agg_is_partial(spark, entry_mod):
    """exact_dedup_groups must map-side combine: two HashAggregate nodes
    (partial + final) around one exchange."""
    df = entry_mod.queries()["exact_dedup_groups"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_count" in plan or "merge_count" in plan or "count" in plan


def test_fused_predict_is_one_python_stage(spark):
    """The predict path must contain exactly ONE Python (mapInPandas) node —
    battery + scoring fused; no second Arrow round-trip."""
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark import synth
    from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
    from entity_resolution_pipeline_spark.operators import blocking as B
    from entity_resolution_pipeline_spark.operators import classify as C
    from entity_resolution_pipeline_spark.operators import features as FE
    from entity_resolution_pipeline_spark.plans import pipeline as PL
    from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS

    pages = synth.pages_df(spark, 200)
    gt = spark.createDataFrame(synth.ground_truth_pdf(200), LABELED_PAIRS)
    prep = PL.prepare(pages, DEFAULT_CONFIG)
    lp = gt.select(F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match")
    feats = PL.featurize_pairs(lp, prep, DEFAULT_CONFIG)
    cols = list(FE.FEATURES)
    model, _ = C.fit(feats, cols, DEFAULT_CONFIG.classifier)

    membership = B.block_membership(prep.records, DEFAULT_CONFIG.blocking)
    candidates = B.candidate_pairs(membership, DEFAULT_CONFIG.blocking)
    preds = PL.score_pairs(candidates, prep, model, DEFAULT_CONFIG)
    plan = _plan(preds)
    # exactly one battery/scoring Python stage ("run"); the other
    # MapInPandas nodes in this TEST plan are the synthetic page generator
    assert plan.count("MapInPandas run(") == 1, plan


def test_levenshtein_is_jvm_codegen(spark):
    """The carried-string levenshtein must be a JVM expression (inside the
    plan, not inside the Python UDF)."""
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark import synth
    from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
    from entity_resolution_pipeline_spark.plans import pipeline as PL
    from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS

    pages = synth.pages_df(spark, 200)
    gt = spark.createDataFrame(synth.ground_truth_pdf(200), LABELED_PAIRS)
    prep = PL.prepare(pages, DEFAULT_CONFIG)
    lp = gt.select(F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match")
    feats = PL.featurize_pairs(lp, prep, DEFAULT_CONFIG)
    assert "levenshtein" in _plan(feats)


def test_lm_quality_buckets_never_sorts_globally(spark, entry_mod):
    """The CCNet split's cut points come from a 1-row percentile agg, not a
    window/ntile — the plan must contain NO range partitioning (global
    sort) and NO Window; the threshold side folds back as a broadcast."""
    df = entry_mod.queries()["lm_quality_buckets"](spark, SF_DIR)
    plan = _plan(df)
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_remove_dup_spans_semi_join_and_pruned_grams(spark, entry_mod):
    """Exact-substring dedup: the duplicate-hash probe must be a LEFT SEMI
    join (gram rows are never multiplied by match count), and the gram-side
    scan must read only (doc_id, text)."""
    df = entry_mod.queries()["remove_dup_spans"](spark, SF_DIR)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "lang" not in scan and "n_chars" not in scan, scan
