"""Supervised match classification: numpy-parity logistic regression.

The labeled set is small (~78k pairs in the reference's prod run), so
training is deliberately driver-local numpy replicating the reference's
mini-batch GD byte-for-byte (classification.py:456-536: zeros init, balanced
class weights, L2 added as λ·w/len(batch), lr 0.01, tol 1e-4 on avg epoch
loss, sequential batches of 1000).  `pyspark.ml.LogisticRegression` would
reach the same accuracy class with different weights; weight-parity with the
reference algorithm is the point (SURVEY.md §2.9 L2).

Scoring is distributed: broadcast (w, b, scaler) → one mapInPandas pass over
the candidate-feature table (classification.py:756-838 re-expressed without
the process pool).

Determinism note: the reference permutes pairs in dict-insertion order —
which is ProcessPool-completion order, i.e. NOT reproducible run-to-run.  We
canonicalize: pairs sorted by (left_id, right_id) BEFORE the seeded
permutation (classification.py:408-421's np.random.seed(42) + permutation),
making the split stable across runs and parallelism levels — the property
the reference never had.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, StringType, StructField, StructType

from ..config import ClassifierConfig


@dataclass
class LRModel:
    weights: np.ndarray
    bias: float
    feature_names: list[str]
    decision_threshold: float
    scaler: dict[str, tuple[float, float]]


def sigmoid(z: np.ndarray) -> np.ndarray:
    """σ with ±100 clip (classification.py:971-981)."""
    return 1.0 / (1.0 + np.exp(-np.clip(z, -100, 100)))


def binary_cross_entropy(y_true, y_pred, sample_weights=None) -> float:
    """Weighted BCE, ε=1e-15 clip (classification.py:983-1009)."""
    eps = 1e-15
    y_pred = np.clip(y_pred, eps, 1 - eps)
    if sample_weights is None:
        sample_weights = np.ones_like(y_true, dtype=np.float64)
    return float(
        -np.mean(sample_weights * (y_true * np.log(y_pred) + (1 - y_true) * np.log(1 - y_pred)))
    )


def train_test_split(
    X: np.ndarray, y: np.ndarray, ids: list[str], cfg: ClassifierConfig
):
    """Seeded permutation + 70/30 split (classification.py:396-430) over
    canonically pre-sorted input."""
    np.random.seed(cfg.random_seed)
    indices = np.random.permutation(len(X))
    X = X[indices]
    y = y[indices]
    ids_arr = np.array(ids)[indices]
    split = int(len(X) * cfg.train_test_split)
    return (
        X[:split], y[:split], ids_arr[:split].tolist(),
        X[split:], y[split:], ids_arr[split:].tolist(),
    )


def train_lr(X: np.ndarray, y: np.ndarray, cfg: ClassifierConfig) -> tuple[np.ndarray, float]:
    """Mini-batch GD identical to reference classification.py:456-536."""
    n_features = X.shape[1]
    weights = np.zeros(n_features)
    bias = 0.0
    # balanced class weights: total / (2 · class count)
    class_counts = np.maximum(np.bincount(y.astype(int), minlength=2), 1)
    cw = len(y) / (2 * class_counts)

    prev_loss = float("inf")
    for _ in range(cfg.max_iterations):
        batch_losses = []
        for i in range(0, len(X), cfg.batch_size):
            bX = X[i : i + cfg.batch_size]
            by = y[i : i + cfg.batch_size]
            z = bX @ weights + bias
            preds = sigmoid(z)
            sw = cw[by.astype(int)]
            batch_losses.append(binary_cross_entropy(by, preds, sw))
            d_pred = (preds - by) * sw
            d_w = bX.T @ d_pred / len(by)
            d_b = float(np.mean(d_pred))
            d_w += (cfg.regularization_strength * weights) / len(by)  # L2
            weights -= cfg.learning_rate * d_w
            bias -= cfg.learning_rate * d_b
        avg_loss = float(np.mean(batch_losses))
        if abs(prev_loss - avg_loss) < cfg.convergence_tolerance:
            break
        prev_loss = avg_loss
    return weights, bias


def roc_auc(y_true: np.ndarray, scores: np.ndarray) -> float:
    """Rank-statistic AUC (Mann-Whitney with average ranks for ties)."""
    order = np.argsort(scores, kind="mergesort")
    ranks = np.empty(len(scores), dtype=np.float64)
    sorted_scores = scores[order]
    i = 0
    rank = 1
    while i < len(scores):
        j = i
        while j + 1 < len(scores) and sorted_scores[j + 1] == sorted_scores[i]:
            j += 1
        avg = (rank + rank + (j - i)) / 2.0
        ranks[order[i : j + 1]] = avg
        rank += j - i + 1
        i = j + 1
    pos = y_true == 1
    n_pos = int(pos.sum())
    n_neg = len(y_true) - n_pos
    if n_pos == 0 or n_neg == 0:
        return float("nan")
    return float((ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


def evaluate(y_true: np.ndarray, probs: np.ndarray, threshold: float) -> dict:
    """Confusion matrix + P/R/F1/accuracy/AUC (classification.py:556-574)."""
    preds = (probs >= threshold).astype(int)
    tp = int(((preds == 1) & (y_true == 1)).sum())
    fp = int(((preds == 1) & (y_true == 0)).sum())
    tn = int(((preds == 0) & (y_true == 0)).sum())
    fn = int(((preds == 0) & (y_true == 1)).sum())
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "accuracy": (tp + tn) / len(y_true) if len(y_true) else 0.0,
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "roc_auc": roc_auc(y_true, probs),
        "confusion_matrix": {
            "true_negatives": tn,
            "false_positives": fp,
            "false_negatives": fn,
            "true_positives": tp,
        },
    }


def feature_importance(model: LRModel) -> dict[str, dict[str, float]]:
    """Normalized |weights| (classification.py:1011-1042)."""
    abs_w = np.abs(model.weights)
    total = abs_w.sum() or 1.0
    return {
        name: {
            "weight": float(w),
            "abs_weight": float(a),
            "importance": float(a / total),
        }
        for name, w, a in sorted(
            zip(model.feature_names, model.weights, abs_w), key=lambda t: -t[2]
        )
    }


def tune_threshold(y_true: np.ndarray, probs: np.ndarray, cfg: ClassifierConfig) -> float:
    """F1-maximizing threshold sweep (reference classification.py:576-601),
    run on the TRAIN split (the reference tunes on test — not replicated).
    Ties go to the HIGHER threshold: same F1, stricter match bar."""
    grid = np.linspace(
        cfg.threshold_grid_start, cfg.threshold_grid_stop, cfg.threshold_grid_steps
    )
    best_t, best_m = None, -1.0
    for t in grid:
        m = evaluate(y_true, probs, float(t))["f1"]
        if m >= best_m:
            best_m, best_t = m, float(t)
    return best_t


def roc_points_df(
    scored: DataFrame,
    label_col: str = "label",
    prob_col: str = "probability",
    n_bins: int = 256,
) -> DataFrame:
    """Distributed ROC/PR table (the reference draws these curves from the
    fully-collected test CSV, reporting.py:1313-1478): probabilities are
    quantized to n_bins equal [0,1] buckets and counted per bucket in ONE
    map-side-combined aggregation — the only data that moves is <= n_bins
    rows.  Cumulative TP/FP at each bucket threshold is a window over that
    bounded bin table (single-partition sort of O(n_bins) rows, not of the
    data), and P/N totals are a 1-row broadcast.  One row per OCCUPIED
    bucket: (bin, threshold, tp, fp, tpr, fpr, precision), exact at bucket
    granularity.  Feeds plans/svgreport.py's curve figures at any scale."""
    from pyspark.sql import Window

    b = F.least(F.lit(n_bins - 1), F.floor(F.col(prob_col) * n_bins).cast("int"))
    per = scored.groupBy(b.alias("bin")).agg(
        F.sum(F.col(label_col).cast("long")).alias("pos"),
        F.count("*").alias("n"),
    )
    w = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "bin",
        F.sum("pos").over(w).alias("tp"),
        F.sum(F.col("n") - F.col("pos")).over(w).alias("fp"),
    )
    totals = per.agg(
        F.sum("pos").alias("P"), F.sum(F.col("n") - F.col("pos")).alias("N")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            F.round(F.col("bin") / n_bins, 6).alias("threshold"),
            "tp",
            "fp",
            F.round(F.col("tp") / F.greatest("P", F.lit(1)), 6).alias("tpr"),
            F.round(F.col("fp") / F.greatest("N", F.lit(1)), 6).alias("fpr"),
            F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        )
        .orderBy("bin")
    )


def fit(features_df: DataFrame, feature_cols: list[str], cfg: ClassifierConfig) -> tuple[LRModel, dict]:
    """Collect labeled features (small), canonical sort, split, scale, train,
    evaluate.  The scaler is fit on the FULL labeled set pre-split, matching
    the reference flow (feature_engineering._normalize_features runs before
    classification)."""
    from .features import apply_scaler, fit_scaler

    scaler = fit_scaler(features_df, feature_cols)
    scaled = apply_scaler(features_df, scaler)
    pdf = (
        scaled.select("left_id", "right_id", F.col("match").cast("int").alias("y"), *feature_cols)
        .orderBy("left_id", "right_id")
        .toPandas()
    )
    X = pdf[feature_cols].to_numpy(dtype=np.float64)
    y = pdf["y"].to_numpy(dtype=np.float64)
    ids = (pdf["left_id"] + "|" + pdf["right_id"]).tolist()
    Xtr, ytr, _, Xte, yte, _ = train_test_split(X, y, ids, cfg)
    weights, bias = train_lr(Xtr, ytr, cfg)
    threshold = tune_threshold(ytr, sigmoid(Xtr @ weights + bias), cfg)
    model = LRModel(
        weights=weights,
        bias=bias,
        feature_names=feature_cols,
        decision_threshold=threshold,
        scaler=scaler,
    )
    test_probs = sigmoid(Xte @ weights + bias)
    metrics = evaluate(yte, test_probs, threshold)
    metrics["decision_threshold"] = threshold
    metrics["feature_importance"] = feature_importance(model)
    metrics["n_train"] = int(len(ytr))
    metrics["n_test"] = int(len(yte))
    return model, metrics


_PRED_SCHEMA = StructType(
    [
        StructField("left_id", StringType(), False),
        StructField("right_id", StringType(), False),
        StructField("probability", DoubleType(), False),
        StructField("match", BooleanType(), False),
    ]
)


def score(features_df: DataFrame, model: LRModel) -> DataFrame:
    """Distributed scoring: raw (unscaled) feature table → PREDICTIONS.
    Scaling is folded into the dot product driver-side (w'·x + b' where
    w' = w/σ, b' = b − Σ w·μ/σ) so the executor-side work is one matmul per
    Arrow batch."""
    mu = np.array([model.scaler[c][0] for c in model.feature_names])
    sd = np.array([model.scaler[c][1] for c in model.feature_names])
    w_eff = model.weights / sd
    b_eff = float(model.bias - np.dot(model.weights, mu / sd))
    cols = list(model.feature_names)
    thr = model.decision_threshold

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = pdf[cols].to_numpy(dtype=np.float64)
            probs = sigmoid(X @ w_eff + b_eff)
            yield pd.DataFrame(
                {
                    "left_id": pdf["left_id"],
                    "right_id": pdf["right_id"],
                    "probability": probs,
                    "match": probs >= thr,
                }
            )

    return features_df.mapInPandas(run, schema=_PRED_SCHEMA)

