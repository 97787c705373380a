"""Reporting-lite: the numbers from the reference's 1,868-LoC reporting
stage (src/reporting.py:581-668, 1111-1222) without the matplotlib layer.

Produces a JSON-able metrics dict + a small markdown summary.  The
size-distribution is computed over CLUSTERS (the reference's
reporting.py:1149-1168 iterates unique sizes — a counting bug deliberately
not replicated, SURVEY.md §7 item 7).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cluster import cluster_statistics


def prediction_statistics(predictions: DataFrame) -> dict[str, Any]:
    """Match-rate stats over PREDICTIONS (reference classification.py:1123-1133)."""
    row = predictions.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("match").cast("long")).alias("n_matches"),
        F.avg("probability").alias("avg_probability"),
    ).collect()[0]
    n = int(row["n_pairs"])
    m = int(row["n_matches"] or 0)
    return {
        "pairs_scored": n,
        "predicted_matches": m,
        "match_rate": m / n if n else 0.0,
        "avg_probability": float(row["avg_probability"] or 0.0),
    }


def cluster_report(clusters: DataFrame, top_n: int = 10) -> dict[str, Any]:
    """Cluster count / size stats / bucket distribution / top-N largest
    (reference reporting.py:1148-1213, fixed bucket counting; the buckets
    are cluster.cluster_statistics')."""
    per_cluster = clusters.select("cluster_id", "cluster_size").dropDuplicates(
        ["cluster_id"]
    )
    agg = per_cluster.agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_entities"),
        F.avg("cluster_size").alias("avg_size"),
        F.max("cluster_size").alias("max_size"),
        F.min("cluster_size").alias("min_size"),
    ).collect()[0]
    dist = {
        r["size_bucket"]: r["num_clusters"]
        for r in cluster_statistics(clusters).collect()
    }
    top = [
        {"cluster_id": r["cluster_id"], "size": r["cluster_size"]}
        for r in per_cluster.orderBy(F.desc("cluster_size"), "cluster_id").limit(top_n).collect()
    ]
    return {
        "n_clusters": int(agg["n_clusters"]),
        "n_entities": int(agg["n_entities"] or 0),
        "avg_cluster_size": float(agg["avg_size"] or 0.0),
        "max_cluster_size": int(agg["max_size"] or 0),
        "min_cluster_size": int(agg["min_size"] or 0),
        "size_distribution": dist,
        "largest_clusters": top,
    }


def full_report(
    classification_metrics: dict[str, Any] | None,
    predictions: DataFrame | None,
    clusters: DataFrame | None,
) -> dict[str, Any]:
    report: dict[str, Any] = {}
    if classification_metrics:
        report["classification"] = classification_metrics
    if predictions is not None:
        report["predictions"] = prediction_statistics(predictions)
    if clusters is not None:
        report["clusters"] = cluster_report(clusters)
    return report


def to_markdown(report: dict[str, Any]) -> str:
    """Markdown summary in the shape of the reference's
    classification_metrics_summary.md."""
    lines = ["# Pipeline report", ""]
    cls = report.get("classification")
    if cls:
        lines += ["## Performance Metrics", "", "| metric | value |", "|---|---|"]
        for k in ("precision", "recall", "f1", "accuracy", "roc_auc", "decision_threshold"):
            if k in cls:
                lines.append(f"| {k} | {cls[k]:.4f} |")
        cm = cls.get("confusion_matrix")
        if cm:
            lines += [
                "",
                "## Confusion Matrix",
                "",
                f"- TN {cm['true_negatives']} / FP {cm['false_positives']} / "
                f"FN {cm['false_negatives']} / TP {cm['true_positives']}",
            ]
    preds = report.get("predictions")
    if preds:
        lines += [
            "",
            "## Predictions",
            "",
            f"- pairs scored: {preds['pairs_scored']}",
            f"- predicted matches: {preds['predicted_matches']} "
            f"({100 * preds['match_rate']:.2f}%)",
        ]
    clus = report.get("clusters")
    if clus:
        lines += [
            "",
            "## Clusters",
            "",
            f"- clusters: {clus['n_clusters']}; entities: {clus['n_entities']}",
            f"- size avg/max: {clus['avg_cluster_size']:.2f} / {clus['max_cluster_size']}",
            "",
            "| size bucket | clusters |",
            "|---|---|",
        ]
        for b in ("1", "2", "3-5", "6-10", "11-20", "21+"):
            if b in clus["size_distribution"]:
                lines.append(f"| {b} | {clus['size_distribution'][b]} |")
    return "\n".join(lines) + "\n"


def save_report(report: dict[str, Any], json_path: str, md_path: str | None = None) -> None:
    with open(json_path, "w") as f:
        json.dump(report, f, indent=2, default=float)
    if md_path:
        with open(md_path, "w") as f:
            f.write(to_markdown(report))
