"""Feature battery tests: hashed-path ⇄ wide-row-path equivalence, plus
semantics pins for interactions and scaler folding.

The hashed path (pair_features_hashed) is the production/scale
implementation; the wide-row path (pair_features) is the direct
re-expression of the reference's per-pair battery
(feature_engineering.py:332-392).  Bit-level agreement between the two is
the strongest semantics check we have.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark import synth
from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
from entity_resolution_pipeline_spark.operators import (
    embedding as E,
)
from entity_resolution_pipeline_spark.operators import extract as X
from entity_resolution_pipeline_spark.operators import features as FE
from entity_resolution_pipeline_spark.operators import preprocess as P
from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS


@pytest.fixture(scope="module")
def prep(spark):
    pages = synth.pages_df(spark, 300)
    gt = spark.createDataFrame(synth.ground_truth_pdf(300), LABELED_PAIRS)
    records = X.extract_records(pages)
    melted = P.melt_fields(records).cache()
    melted.count()
    uniq = P.unique_strings(melted)
    rfh = P.record_field_hashes(melted)
    emb = E.embed_unique_strings(melted, DEFAULT_CONFIG.embedding)
    vectors = emb.select("hash", "embedding").dropDuplicates(["hash"])
    pairs = gt.select(
        F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match"
    )
    return melted, uniq, rfh, vectors, pairs


def test_record_table_equals_melt_pivot(spark):
    """The one-pass row-wise record table equals the melt → normalize/hash
    → pivot it replaces, sentinels and NULL values included, on fixture
    records plus hand-made missing, null-token and whitespace-only fields.
    The one difference: a record with no field at all melts to no rows, so
    the pivot drops it, while the record table keeps it (its pairs are
    scored, on sentinels only, instead of vanishing from the join)."""
    from entity_resolution_pipeline_spark.operators.extract import extract_records

    records = extract_records(synth.pages_df(spark, 200))
    odd = spark.createDataFrame(
        [
            ("odd#1", "u1", None, None, None, None, None, None),
            ("odd#2", "u2", "  ", "NULL", "   ", "N/A", "  a\t b ", "x  y"),
            ("odd#3", "u3", "c", "Doe,  Jane (1900-1980)", " r ", "", None, "s"),
        ],
        records.schema,
    )
    records = records.unionByName(odd)

    def rows(df):
        assert df.columns == list(P.RECORD_TABLE_COLUMNS)
        return sorted(map(tuple, df.collect()))

    table = rows(P.record_table(records))
    assert ("odd#1", None, "NULL", "NULL", "NULL", "NULL", None, *[None] * 6) in table
    assert [r for r in table if r[0] != "odd#1"] == rows(
        P.record_field_hashes(P.melt_fields(records))
    )


def test_hashed_equals_wide_row_battery(prep):
    melted, uniq, rfh, vectors, pairs = prep
    old = FE.pair_features(
        FE.assemble_pairs(pairs, FE.record_repr(melted, vectors))
    ).toPandas().set_index(["left_id", "right_id"]).sort_index()
    new = (
        FE.pair_features_hashed(pairs, rfh, uniq, vectors)
        .toPandas()
        .set_index(["left_id", "right_id"])
        .sort_index()
    )
    assert len(old) == len(new) and sorted(old.columns) == sorted(new.columns)
    for c in old.columns:
        if c == "match":
            assert (old[c] == new[c]).all()
        else:
            assert np.allclose(
                old[c].to_numpy(float), new[c].to_numpy(float), atol=1e-6
            ), c


def test_fused_scoring_matches_unfused(prep):
    """pair_predictions_hashed (one fused Python stage) must reproduce
    score(pair_features_hashed(...)) bit-for-bit — same sigmoid clip, same
    folded scaler."""
    from entity_resolution_pipeline_spark.operators import classify as C

    melted, uniq, rfh, vectors, pairs = prep
    cfg = DEFAULT_CONFIG
    feats = FE.pair_features_hashed(pairs, rfh, uniq, vectors)
    cols = list(FE.FEATURES)
    model, _ = C.fit(feats, cols, cfg.classifier)

    unfused = (
        C.score(feats, model)
        .toPandas()
        .set_index(["left_id", "right_id"])
        .sort_index()
    )
    fused = (
        FE.pair_predictions_hashed(
            pairs.drop("match"), rfh, uniq, vectors, model, cfg.features
        )
        .toPandas()
        .set_index(["left_id", "right_id"])
        .sort_index()
    )
    assert len(unfused) == len(fused)
    assert (unfused["match"] == fused["match"]).all()
    assert np.allclose(
        unfused["probability"].to_numpy(), fused["probability"].to_numpy(), atol=1e-12
    )


def test_feature_config_has_no_path_switches():
    """One featurization path and one fixed battery: the old path switch is
    a read-only constant (False: nothing is staged or broadcast), neither
    it nor a staging root can be set, and neither feature section has a
    settable value."""
    import dataclasses

    from entity_resolution_pipeline_spark.config import (
        FeatureConfig,
        FeatureSelectionConfig,
    )

    cfg = DEFAULT_CONFIG.features
    assert cfg.broadcast_vectors is False
    for name in ("broadcast_vectors", "stage_root"):
        with pytest.raises(TypeError):
            dataclasses.replace(cfg, **{name: None})
    assert dataclasses.fields(FeatureConfig) == ()
    assert dataclasses.fields(FeatureSelectionConfig) == ()


def test_feature_names_and_selection(prep):
    """The battery is the 13 sorted columns the model trains on, and the
    featurized table carries exactly those after the pair key and label."""
    assert list(FE.FEATURES) == sorted(FE.FEATURES) and len(FE.FEATURES) == 13
    assert FE.selected_feature_names(
        DEFAULT_CONFIG.features, DEFAULT_CONFIG.feature_selection
    ) == list(FE.FEATURES)
    _, uniq, rfh, vectors, pairs = prep
    feats = FE.pair_features_hashed(pairs, rfh, uniq, vectors)
    assert feats.columns == ["left_id", "right_id", "match", *FE.FEATURES]


def test_scaler_roundtrip(spark):
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 10.0), (3.0, 10.0)], ["a", "b"]
    )
    params = FE.fit_scaler(df, ["a", "b"])
    assert params["a"][0] == pytest.approx(2.0)
    assert params["b"] == (10.0, 1.0)  # zero-variance → scale 1.0
    out = FE.apply_scaler(df, params).collect()
    vals = sorted(r["a"] for r in out)
    assert vals[1] == pytest.approx(0.0)
