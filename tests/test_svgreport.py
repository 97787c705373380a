"""Visual report layer: Spark-reduced plot aggregates must match exact
(numpy / classify.py) computations, and the stdlib SVG renderer must emit
well-formed, structurally-correct figures."""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

import numpy as np
import pytest

from entity_resolution_pipeline_spark.plans import svgreport as R


def _parse(svg: str) -> ET.Element:
    return ET.fromstring(svg)


@pytest.fixture(scope="module")
def scored(spark):
    """Deterministic scored-pair frame: probability correlated with label."""
    rng = np.random.Generator(np.random.PCG64(7))
    n = 4000
    y = (rng.random(n) < 0.3).astype(int)
    # bin-center probabilities so the bucketed ROC is EXACT vs classify.roc_auc
    nb = 512
    raw = np.clip(0.25 + 0.5 * y + 0.22 * rng.standard_normal(n), 0, 1)
    probs = (np.floor(raw * nb).clip(0, nb - 1) + 0.5) / nb
    f1 = y + 0.3 * rng.standard_normal(n)
    f2 = 0.05 * rng.standard_normal(n)
    rows = [
        (int(y[i]), float(probs[i]), float(f1[i]), float(f2[i])) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "label int, probability double, f1 double, f2 double")
    return df, y, probs, f1, f2


class TestAggregates:
    def test_histogram_matches_numpy(self, spark, scored):
        df, y, probs, f1, f2 = scored
        h = R.feature_class_histogram(df, "f1", "label", n_bins=20)
        lo, hi = f1.min(), f1.max()
        for cls, yv in (("0", 0), ("1", 1)):
            expect, _ = np.histogram(f1[y == yv], bins=20, range=(lo, hi))
            assert h["counts"][cls] == [float(v) for v in expect]
        assert h["means"]["1"] == pytest.approx(f1[y == 1].mean())
        assert h["edges"][0] == pytest.approx(lo)
        assert h["edges"][-1] == pytest.approx(hi)

    def test_histogram_fixed_range_clamps(self, spark):
        df = spark.createDataFrame(
            [(0, -5.0), (0, 0.5), (1, 99.0)], "label int, x double"
        )
        h = R.feature_class_histogram(df, "x", "label", n_bins=4, lo=0.0, hi=1.0)
        # out-of-range values clamp into the edge bins (first / last);
        # 0.5 falls in bin 2 ([0.5, 0.75))
        assert h["counts"]["0"] == [1.0, 0.0, 1.0, 0.0]
        assert h["counts"]["1"] == [0.0, 0.0, 0.0, 1.0]

    def test_roc_points_df_matches_driver_curve(self, spark, scored):
        """The distributed ROC table (classify.roc_points_df) matches a
        cumulative table built on the driver, bucket for bucket."""
        from entity_resolution_pipeline_spark.operators.classify import roc_points_df

        df, y, probs, _, _ = scored
        rows = roc_points_df(df, "label", "probability", n_bins=128).collect()
        P, N = int(y.sum()), int(len(y) - y.sum())
        # rebuild the cumulative table from the raw scores and compare
        import collections

        pos = collections.Counter()
        neg = collections.Counter()
        for yy, pp in zip(y, probs):
            b = min(int(pp * 128), 127)
            (pos if yy else neg)[b] += 1
        tp = fp = 0
        expect = {}
        for b in range(127, -1, -1):
            tp += pos[b]
            fp += neg[b]
            if pos[b] or neg[b]:
                expect[b] = (tp, fp)
        assert {r["bin"]: (r["tp"], r["fp"]) for r in rows} == expect
        for r in rows:
            assert r["tpr"] == pytest.approx(expect[r["bin"]][0] / P, abs=1e-6)
            assert r["fpr"] == pytest.approx(expect[r["bin"]][1] / N, abs=1e-6)


class TestRenderer:
    def test_hbar_labels_and_ordinal_ramp(self):
        svg = R.hbar_chart(
            [("raw", 100.0), ("kept", 40.0), ("final", 0.25)], "bars", "docs",
        )
        root = _parse(svg)
        # one plain bar per nonzero item, all in the single-measure blue
        bars = [e for e in root.iter() if e.tag.endswith("path")]
        assert [b.get("fill") for b in bars] == [R.SEQ_BLUE[3]] * 3
        # value labeled at each bar tip
        texts = [e.text for e in root.iter() if e.tag.endswith("text")]
        assert {"100", "40", "0.25"} <= set(texts)

    def test_histogram_chart_renders_means(self):
        svg = R.class_histogram_chart(
            [0.0, 0.5, 1.0],
            {"match": [1, 3], "non-match": [4, 2]},
            "dist", "f", means={"match": 0.7, "non-match": 0.3},
        )
        root = _parse(svg)
        dashed = [
            e for e in root.iter()
            if e.tag.endswith("line") and e.get("stroke-dasharray")
        ]
        assert len(dashed) == 2
        # mean rules wear the series hue (a data mark, not a gridline)
        assert {d.get("stroke") for d in dashed} == {R.SERIES[0], R.SERIES[1]}

    def test_confusion_matrix_text_tokens(self):
        svg = R.confusion_matrix_chart(900, 20, 10, 70)
        root = _parse(svg)
        _ = root
        assert "900" in svg and "TP" in svg
        # axis/anatomy text never wears a series hue
        texts = [e for e in root.iter() if e.tag.endswith("text")]
        for t in texts:
            assert t.get("fill") in (R.INK, R.INK_2, "#ffffff")

    def test_escaping(self):
        svg = R.hbar_chart([("a<b&c", 1.0)], "t<&>", "x")
        _parse(svg)  # would raise if unescaped


class TestEndToEnd:
    def test_write_visual_report(self, spark, scored, tmp_path):
        df = scored[0]
        clusters = spark.createDataFrame(
            [("c1", 3), ("c1", 3), ("c1", 3), ("c2", 2), ("c2", 2), ("c3", 1)],
            "cluster_id string, cluster_size int",
        )
        out = R.write_visual_report(
            str(tmp_path),
            clusters=clusters,
            classification_metrics={
                "precision": 0.9,
                "confusion_matrix": {
                    "true_negatives": 100, "false_positives": 5,
                    "false_negatives": 7, "true_positives": 88,
                },
            },
            feature_importance={"f1": {"weight": 2.0}, "f2": {"weight": -0.1}},
            score_dist=R.feature_class_histogram(
                df, "probability", "label", n_bins=20, lo=0.0, hi=1.0
            ),
        )
        for rel in out["figures"].values():
            p = os.path.join(tmp_path, rel)
            assert os.path.exists(p)
            ET.parse(p)  # every emitted figure is well-formed XML
        assert set(out["figures"]) == {
            "confusion_matrix", "feature_importance", "cluster_sizes",
            "score_distribution",
        }
        index = open(os.path.join(tmp_path, "index.html")).read()
        for rel in out["figures"].values():
            assert rel in index
        # the relief channel: every chart section with a backing table embeds
        # it (confusion matrix, feature importance, cluster sizes)
        assert index.count("<table>") == 3
        assert os.path.exists(os.path.join(tmp_path, "report_data.json"))
        assert out["data"]["clusters"]["n_clusters"] == 3
