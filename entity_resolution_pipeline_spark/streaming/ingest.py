"""Incremental ER ingest as Structured Streaming.

Design (Spark-first; no analog in the strictly-batch reference):

* `read_pages_stream` — file-source `readStream` over the pages table
  (BASELINE.json:input_hint schema).  On a cluster the same code points at
  an Iceberg/Delta table or a landing bucket; file listing + the streaming
  checkpoint give exactly-once per input file.
* `extract_records_stream` — the batch extraction expressions applied to the
  stream (pure JVM column exprs, so they lift to streaming unchanged and
  keep the byte-identical-per-url invariant).
* `ingest_stats_stream` — watermarked tumbling-window ingest statistics
  (pages/hour per language) for monitoring late-arriving WARC timestamps.
* `run_incremental` — the incremental pipeline: per micro-batch
  (`foreachBatch`), extract → drop re-crawled record_ids → blocking keys →
  NEW candidate pairs (new×all block join).  Each batch's outputs land in
  `batch_id`-keyed partition dirs (idempotent overwrite ⇒ exactly-once under
  replay), with one manifest lineage row per batch.  Scoring + clustering
  stay batch jobs over the accumulated candidate backlog: pair scoring is
  embarrassingly parallel (run it on any cadence), while transitive
  clustering is a global fixpoint that cannot be windowed without breaking
  cluster identity — the same split the reference's train-once/predict-many
  design implies (src/pipeline.py:334-388).

Pair-emission invariant: a candidate pair is emitted exactly once, in the
arrival batch of its LATER record — (old,new) pairs come from the new×all
join; (new,new) pairs collapse via least/greatest canonicalization +
per-batch distinct; (old,old) pairs are never re-joined.  Hot-block caps
apply to the ACCUMULATED block size at emission time (a block that crosses
the cap stops emitting pairs from then on; dropped volume is counted in the
manifest metrics, never silent).

At corpus scale the accumulated membership side of the new×all join is an
Iceberg table bucketed by block_key, so the per-batch join co-locates
without a full shuffle of history; here it is a plain parquet dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.blocking import block_membership
from ..operators.extract import extract_records
from ..schemas import PAGES
from ..sources import manifest as MF


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a pages parquet directory (schema = PAGES;
    streaming sources require an explicit schema — inference is a batch-only
    convenience)."""
    reader = spark.readStream.schema(PAGES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def extract_records_stream(pages: DataFrame) -> DataFrame:
    """Streaming records = the batch extraction projection + the event-time
    column kept for downstream watermarking (one narrow stage, no join)."""
    from ..operators.extract import extract_records_with_ts

    return extract_records_with_ts(pages)


def ingest_stats_stream(
    pages: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window ingest counts per language with a late-data watermark.
    Append-mode-compatible (state for a window is dropped `watermark` after
    its end)."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "pages",
        )
    )


def _batch_processor(
    spark: SparkSession,
    out_dir: str,
    cfg: PipelineConfig,
    model=None,
    idf_weights: list | None = None,
):
    """foreachBatch body.  All writes are batch_id-keyed overwrites, so a
    replayed batch (crash between sink write and checkpoint commit)
    reproduces byte-identical outputs instead of duplicating them.

    With `model`, each batch additionally maintains the accumulated
    featurization tables (record_field_hashes / unique_strings / embeddings
    — new rows only; embeddings computed under the FROZEN train-time
    `idf_weights`, PipelineResult.idf_weights) and scores the batch's new
    candidate pairs with the fused battery+LR stage — incremental ER minus
    the global clustering fixpoint, which stays a batch job over the
    accumulated predictions."""
    rec_root = os.path.join(out_dir, "records")
    mem_root = os.path.join(out_dir, "membership")
    cand_root = os.path.join(out_dir, "candidates")
    rfh_root = os.path.join(out_dir, "record_field_hashes")
    us_root = os.path.join(out_dir, "unique_strings")
    emb_root = os.path.join(out_dir, "embeddings")
    pred_root = os.path.join(out_dir, "predictions")

    def process(pages_batch: DataFrame, batch_id: int) -> None:
        records = extract_records(pages_batch).dropDuplicates(["record_id"])
        if os.path.exists(rec_root):
            prior = (
                spark.read.option("basePath", rec_root)
                .parquet(rec_root)
                .where(F.col("ingest_batch") != batch_id)  # replay safety
                .select("record_id")
            )
            records = records.join(prior, "record_id", "left_anti")
        records = records.persist()
        n_new = records.count()
        records.write.mode("overwrite").parquet(
            os.path.join(rec_root, f"ingest_batch={batch_id}")
        )

        membership_new = block_membership(records, cfg.blocking)
        membership_new.write.mode("overwrite").parquet(
            os.path.join(mem_root, f"ingest_batch={batch_id}")
        )
        membership_all = (
            spark.read.option("basePath", mem_root).parquet(mem_root).drop("ingest_batch")
        )

        # hot-block cap on ACCUMULATED size (drop-and-count semantics)
        sizes = membership_all.groupBy("block_key").agg(F.count("*").alias("size"))
        hot = sizes.where(F.col("size") > cfg.blocking.max_block_size).persist()
        n_hot = hot.count()
        kept_all = membership_all.join(
            F.broadcast(hot.select("block_key")), "block_key", "left_anti"
        )
        kept_new = membership_new.join(
            F.broadcast(hot.select("block_key")), "block_key", "left_anti"
        )

        pairs = (
            kept_new.select("block_key", F.col("id").alias("nid"))
            .join(kept_all.select("block_key", F.col("id").alias("oid")), "block_key")
            .where(F.col("nid") != F.col("oid"))
            .select(
                F.least("nid", "oid").alias("left_id"),
                F.greatest("nid", "oid").alias("right_id"),
            )
            .dropDuplicates(["left_id", "right_id"])
        ).persist()
        n_pairs = pairs.count()
        pairs.write.mode("overwrite").parquet(
            os.path.join(cand_root, f"ingest_batch={batch_id}")
        )

        metrics = {
            "new_records": float(n_new),
            "new_candidate_pairs": float(n_pairs),
            "hot_blocks_capped": float(n_hot),
        }
        if model is not None:
            from ..operators import embedding as E
            from ..operators import preprocess as P
            from ..operators.features import pair_predictions_hashed

            melted = P.melt_fields(records)
            P.record_field_hashes(melted).write.mode("overwrite").parquet(
                os.path.join(rfh_root, f"ingest_batch={batch_id}")
            )
            melted.select("hash", F.col("value_norm").alias("value")).dropDuplicates(
                ["hash"]
            ).write.mode("overwrite").parquet(
                os.path.join(us_root, f"ingest_batch={batch_id}")
            )
            E.embed_unique_strings(melted, cfg.embedding, weights=idf_weights).select(
                "hash", "embedding"
            ).dropDuplicates(["hash"]).write.mode("overwrite").parquet(
                os.path.join(emb_root, f"ingest_batch={batch_id}")
            )
            # accumulated featurization tables (old pairs' sides may be old
            # records); cross-batch duplicate hashes collapse here — at
            # corpus scale these are Iceberg MERGE targets instead
            rfh_all = spark.read.option("basePath", rfh_root).parquet(rfh_root).drop(
                "ingest_batch"
            )
            us_all = (
                spark.read.option("basePath", us_root)
                .parquet(us_root)
                .drop("ingest_batch")
                .dropDuplicates(["hash"])
            )
            vec_all = (
                spark.read.option("basePath", emb_root)
                .parquet(emb_root)
                .drop("ingest_batch")
                .dropDuplicates(["hash"])
            )
            preds = pair_predictions_hashed(
                pairs, rfh_all, us_all, vec_all, model, cfg.features
            ).persist()
            n_scored = preds.count()
            n_match = preds.where("match").count()
            preds.write.mode("overwrite").parquet(
                os.path.join(pred_root, f"ingest_batch={batch_id}")
            )
            preds.unpersist()
            metrics["pairs_scored"] = float(n_scored)
            metrics["pairs_matched"] = float(n_match)

        MF.record_stage(
            spark,
            out_dir,
            f"stream_ingest_batch_{batch_id}",
            n_new,
            metrics=metrics,
        )
        records.unpersist()
        pairs.unpersist()
        hot.unpersist()

    return process


def run_incremental(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
    model=None,
    idf_weights: list | None = None,
):
    """Start (and by default drain) the incremental ingest stream.

    Available-now trigger: processes every file the checkpoint has not seen,
    in `max_files_per_trigger`-sized micro-batches, then stops — the
    streaming-native form of the manifest-resume batch loop (rerun any time;
    only new input files produce work).  Returns the StreamingQuery.

    Pass a trained `model` (+ its frozen `idf_weights`) to also score each
    batch's new candidate pairs incrementally (accumulated `predictions`
    table, see _batch_processor).
    """
    stream = read_pages_stream(spark, in_path, max_files_per_trigger)
    q = (
        stream.writeStream.foreachBatch(
            _batch_processor(spark, out_dir, cfg, model=model, idf_weights=idf_weights)
        )
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def read_accumulated(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    """Read the accumulated output of `run_incremental` ('records',
    'membership', or 'candidates') across all ingested batches."""
    root = os.path.join(out_dir, table)
    return spark.read.option("basePath", root).parquet(root).drop("ingest_batch")
