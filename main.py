#!/usr/bin/env python
"""Stage-based CLI driver (reference parity: main.py --stage X [--resume]).

Mirrors the reference's entry points (main.py:27-66 argparse → Pipeline
dispatch, pipeline.py:66-120 stage sequence) on Spark: each stage reads its
inputs from the previous stage's table, writes its output table + a manifest
lineage row, and `--resume` skips stages whose manifest row is complete.

Stages (in order): extract → preprocess → embed → block → train → predict
→ cluster → report.  `--stage all` runs the full sequence.  `predict` runs
the fused battery+scoring path (one Python stage; the per-pair feature
table never materializes).  `--stage ingest` runs the incremental
Structured Streaming ingest instead of the batch stages (exactly-once per
input file; see streaming/ingest.py).

Usage:
  spark-submit --py-files erx.zip main.py --pages /data/pages --out /work \
      --labeled-pairs /data/labeled.csv --stage all [--resume]
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

STAGES = (
    "extract",
    "preprocess",
    "embed",
    "block",
    "train",
    "predict",
    "cluster",
    "report",
)


def build_spark(app: str, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app).config(
        "spark.sql.adaptive.enabled", "true"
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()


def run(args: argparse.Namespace, stop_spark: bool = True) -> None:
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
    from entity_resolution_pipeline_spark.operators import blocking as B
    from entity_resolution_pipeline_spark.operators import classify as C
    from entity_resolution_pipeline_spark.operators import cluster as G
    from entity_resolution_pipeline_spark.operators import embedding as E
    from entity_resolution_pipeline_spark.operators import extract as X
    from entity_resolution_pipeline_spark.operators import features as FE
    from entity_resolution_pipeline_spark.operators import preprocess as P
    from entity_resolution_pipeline_spark.plans import reporting as R
    from entity_resolution_pipeline_spark.sources import inputs as I
    from entity_resolution_pipeline_spark.sources import manifest as M

    cfg = DEFAULT_CONFIG
    spark = build_spark("erx-pipeline", cfg.shuffle_partitions)
    out = args.out

    if args.stage == "curate":
        # end-to-end snapshot curation (webtext battery over the manifest
        # protocol; see plans/curation.py).  Resumable per-substage; merges
        # the kept set into the persistent corpus table.
        from entity_resolution_pipeline_spark.plans.curation import (
            CurationConfig,
            run_curation,
        )

        ccfg = CurationConfig(
            blocked_domains=tuple(args.blocked_domains or ()),
            badwords=tuple(args.badwords or ()),
        )
        result = run_curation(
            spark, args.pages, out, cfg=ccfg, prior=args.prior, resume=args.resume
        )
        print(json.dumps(result.get("report", []), indent=1, default=int))
        if stop_spark:
            spark.stop()
        return

    if args.stage == "ingest":
        # incremental Structured Streaming ingest (exactly-once per input
        # file; rerun any time — only new files produce work).  Batch stages
        # then run over the accumulated tables.
        from entity_resolution_pipeline_spark.streaming import run_incremental

        run_incremental(spark, args.pages, out, cfg)
        if stop_spark:
            spark.stop()
        return

    wanted = STAGES if args.stage == "all" else (args.stage,)

    def should_run(stage: str) -> bool:
        if stage not in wanted and args.stage != "all":
            return False
        if args.resume and M.stage_complete(spark, out, stage):
            print(f"[resume] skipping complete stage: {stage}")
            return False
        return stage in wanted

    produced: dict = {}

    def write(df, stage, **kw):
        produced[stage] = M.write_stage_table(df, out, stage, **kw)
        return produced[stage]

    def table(stage: str):
        # same-run outputs are reused as returned by write_stage_table —
        # for bucketed stages that's the catalog-backed DataFrame, so
        # downstream joins on the bucket key skip their Exchange
        if stage in produced:
            return produced[stage]
        return M.read_stage_table(spark, out, stage)

    if should_run("extract"):
        pages = I.read_pages(spark, args.pages)
        write(X.extract_records(pages), "extract")

    if should_run("preprocess"):
        records = table("extract")
        melted = P.melt_fields(records).persist()
        write(melted, "preprocess")
        write(P.unique_strings(melted), "unique_strings")
        # bucketed on the predict-join key: pairs ⋈ rfh(left/right) then
        # reads the co-located table in the same run
        write(P.record_field_hashes(melted), "record_field_hashes",
              bucket_by=("record_id",), num_buckets=16)
        write(P.field_hash_mapping(melted), "field_hash_mapping")

    if should_run("embed"):
        melted = table("preprocess")
        write(E.embed_unique_strings(melted, cfg.embedding), "embed")

    if should_run("block"):
        records = table("extract")
        membership = B.block_membership(records, cfg.blocking)
        _, hot = B.prune_hot_blocks(membership, cfg.blocking)
        n_hot = hot.count()
        cands = B.candidate_pairs(membership, cfg.blocking)
        write(cands, "block", metrics={"hot_blocks_dropped": float(n_hot)},
              bucket_by=("left_id",), num_buckets=16)

    if should_run("train"):
        if not args.labeled_pairs:
            raise SystemExit("--labeled-pairs is required for the train stage")
        lp = I.read_labeled_pairs(spark, args.labeled_pairs).select(
            F.col("left").alias("left_id"), F.col("right").alias("right_id"), "match"
        )
        rfh = table("record_field_hashes")
        uniq = table("unique_strings")
        vectors = table("embed").select("hash", "embedding").dropDuplicates(["hash"])
        lpf = FE.pair_features_hashed(lp, rfh, uniq, vectors, cfg.features)
        cols = FE.selected_feature_names(cfg.features, cfg.feature_selection)
        model, metrics = C.fit(lpf, cols, cfg.classifier)
        with open(os.path.join(out, "model.pkl"), "wb") as f:
            pickle.dump(model, f)
        with open(os.path.join(out, "classification_metrics.json"), "w") as f:
            json.dump(metrics, f, indent=2, default=float)
        M.record_stage(spark, out, "train", rows=metrics["n_train"] + metrics["n_test"],
                       metrics={"f1": metrics["f1"], "precision": metrics["precision"]})
        print(json.dumps({k: metrics[k] for k in ("precision", "recall", "f1")}, indent=1))

    if should_run("predict"):
        with open(os.path.join(out, "model.pkl"), "rb") as f:
            model = pickle.load(f)
        preds = FE.pair_predictions_hashed(
            table("block"),
            table("record_field_hashes"),
            table("unique_strings"),
            table("embed").select("hash", "embedding").dropDuplicates(["hash"]),
            model,
            cfg.features,
        )
        write(preds, "predict")

    if should_run("cluster"):
        preds = table("predict")
        records = table("extract")
        clusters = G.cluster_predictions(preds, records.select("record_id"), cfg.clustering)
        write(clusters, "cluster")

    if should_run("report"):
        preds = table("predict")
        clusters = table("cluster")
        cls = None
        mpath = os.path.join(out, "classification_metrics.json")
        if os.path.exists(mpath):
            with open(mpath) as f:
                cls = json.load(f)
        report = R.full_report(cls, preds, clusters)
        R.save_report(
            report,
            os.path.join(out, "pipeline_report.json"),
            os.path.join(out, "pipeline_report.md"),
        )
        # analyst-facing figures (reference reporting.py:251-1810), rendered
        # from bounded Spark aggregates by the stdlib SVG layer
        from entity_resolution_pipeline_spark.plans import svgreport as V

        importance = None
        mfile = os.path.join(out, "model.pkl")
        if os.path.exists(mfile):
            with open(mfile, "rb") as f:
                importance = C.feature_importance(pickle.load(f))
        V.write_visual_report(
            os.path.join(out, "report_html"),
            clusters=clusters,
            classification_metrics=cls,
            feature_importance=importance,
            score_dist=V.feature_class_histogram(
                preds, "probability", "match", n_bins=40, lo=0.0, hi=1.0
            ),
        )
        M.record_stage(spark, out, "report", rows=0)
        print(json.dumps(report.get("clusters", {}), indent=1, default=float))

    if stop_spark:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", help="pages parquet path (url,warc_ts,html,text,lang)")
    ap.add_argument("--labeled-pairs", help="labeled pair CSV (left,right,match)")
    ap.add_argument("--out", required=True, help="output/working directory")
    ap.add_argument(
        "--stage", default="all", choices=STAGES + ("all", "ingest", "curate")
    )
    ap.add_argument("--resume", action="store_true", help="skip manifest-complete stages")
    ap.add_argument("--prior", help="curate: prior snapshot corpus table (parquet)")
    ap.add_argument("--blocked-domains", nargs="*", help="curate: URL blocklist entries")
    ap.add_argument("--badwords", nargs="*", help="curate: bad-word list")
    run(ap.parse_args())


if __name__ == "__main__":
    main()
