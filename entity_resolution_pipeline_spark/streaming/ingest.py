"""Incremental ER ingest as Structured Streaming.

Design (Spark-first; no analog in the strictly-batch reference):

* `read_pages_stream` — file-source `readStream` over the pages table
  (BASELINE.json:input_hint schema).  On a cluster the same code points at
  an Iceberg/Delta table or a landing bucket; file listing + the streaming
  checkpoint give exactly-once per input file.
* `run_incremental` — the incremental pipeline: per micro-batch
  (`foreachBatch`), the batch `extract_records` over the micro-batch's
  pages → drop re-crawled record_ids → blocking keys →
  NEW candidate pairs (new×all block join).  Each batch's outputs land in
  `batch_id`-keyed partition dirs (idempotent overwrite ⇒ exactly-once under
  replay), with one manifest lineage row per batch.  Given a trained model,
  each micro-batch also scores its new candidate pairs through the batch
  prefix (`plans.pipeline.prepare_records` over just the records those
  pairs name, under the model's frozen IDF weights) and the fused battery
  + LR stage.  Clustering stays a batch job over the accumulated
  predictions: transitive clustering is a global fixpoint that cannot be
  windowed without breaking cluster identity — the same split the
  reference's train-once/predict-many design implies
  (src/pipeline.py:334-388).

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
from ..operators.blocking import block_membership, prune_hot_blocks
from ..operators.extract import extract_records
from ..schemas import PAGES, PREDICTIONS
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

    With `model`, each batch also scores its new candidate pairs: it runs
    the batch prefix (plans.pipeline.prepare_records: the row-wise record
    table) over only the accumulated records those pairs name, then the
    fused battery+LR stage, which embeds under the FROZEN train-time
    `idf_weights` (PipelineResult.idf_weights), and frees that prefix once
    the predictions are written; the manifest counts come from one
    aggregate over the written partition.  No featurization table is kept
    across batches, and every frame a batch persists is unpersisted on
    every exit, a failed batch included.  This is incremental ER minus the
    global clustering fixpoint, which stays a batch job over the
    accumulated predictions."""
    rec_root = os.path.join(out_dir, "records")
    mem_root = os.path.join(out_dir, "membership")
    cand_root = os.path.join(out_dir, "candidates")
    pred_root = os.path.join(out_dir, "predictions")

    def process(pages_batch: DataFrame, batch_id: int) -> None:
        cached: list[DataFrame] = []

        def cache(df: DataFrame) -> DataFrame:
            cached.append(df.persist())
            return cached[-1]

        try:
            records = extract_records(pages_batch).dropDuplicates(["record_id"])
            if os.path.exists(rec_root):
                prior = (
                    spark.read.option("basePath", rec_root)
                    .parquet(rec_root)
                    .where(F.col("ingest_batch") != batch_id)  # replay safety
                    .select("record_id")
                )
                records = records.join(prior, "record_id", "left_anti")
            records = cache(records)
            n_new = records.count()
            records.write.mode("overwrite").parquet(
                os.path.join(rec_root, f"ingest_batch={batch_id}")
            )

            # read the batch's membership back from its partition: the anti-join
            # below would otherwise re-run the MinHash pass
            mem_path = os.path.join(mem_root, f"ingest_batch={batch_id}")
            block_membership(records, cfg.blocking).write.mode("overwrite").parquet(mem_path)
            membership_new = spark.read.parquet(mem_path)
            membership_all = read_accumulated(spark, out_dir, "membership")

            # hot-block cap on ACCUMULATED size, batch blocking's rule
            # (drop-and-count); `hot` is persisted for its count and both
            # anti-joins
            kept_all, hot = prune_hot_blocks(membership_all, cfg.blocking)
            hot = cache(hot)
            n_hot = hot.count()
            kept_new = membership_new.join(
                F.broadcast(hot.select("block_key")), "block_key", "left_anti"
            )

            pairs = cache(
                kept_new.select("block_key", F.col("id").alias("nid"))
                .join(kept_all.select("block_key", F.col("id").alias("oid")), "block_key")
                .where(F.col("nid") != F.col("oid"))
                .select(
                    F.least("nid", "oid").alias("left_id"),
                    F.greatest("nid", "oid").alias("right_id"),
                )
                .dropDuplicates(["left_id", "right_id"])
            )
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
                from ..plans import pipeline as PL

                # the batch prefix over the records the new pairs name (new
                # records and the old ones they pair with), under the FROZEN
                # train-time weights: vectors depend only on the string and
                # the weights, so these equal the batch path's
                ids = pairs.select(F.explode(F.array("left_id", "right_id")).alias("record_id"))
                records_all = read_accumulated(spark, out_dir, "records")
                touched = records_all.join(ids, "record_id", "left_semi")
                pred_path = os.path.join(pred_root, f"ingest_batch={batch_id}")
                prep = PL.prepare_records(touched, cfg, idf_weights=idf_weights)
                try:
                    PL.score_pairs(pairs, prep, model, cfg).write.mode("overwrite").parquet(
                        pred_path
                    )
                finally:
                    prep.release()
                # both counts in one aggregate over the written partition (the
                # declared schema skips a footer-reading job)
                counts = (
                    spark.read.schema(PREDICTIONS)
                    .parquet(pred_path)
                    .agg(F.count("*"), F.sum(F.col("match").cast("long")))
                    .first()
                )
                metrics["pairs_scored"] = float(counts[0])
                metrics["pairs_matched"] = float(counts[1] or 0)

            MF.record_stage(
                spark,
                out_dir,
                f"stream_ingest_batch_{batch_id}",
                n_new,
                metrics=metrics,
            )
        finally:
            # a failed batch leaves nothing cached in the caller's session
            for df in cached:
                df.unpersist()

    return process


def run_incremental(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int | None = None,
    model=None,
    idf_weights: list | None = None,
):
    """Drain the incremental ingest stream.

    Available-now trigger: processes every file the checkpoint has not seen,
    in `max_files_per_trigger`-sized micro-batches, then stops — the
    streaming-native form of the manifest-resume batch loop (rerun any time;
    only new input files produce work).  Returns the StreamingQuery.

    Pass a trained `model` (+ its frozen `idf_weights`) to also score each
    batch's new candidate pairs incrementally (accumulated `predictions`
    table, see _batch_processor).  With IDF on, `idf_weights` is required:
    weights computed per micro-batch would disagree with training and with
    every other batch.
    """
    if model is not None and cfg.embedding.use_idf and idf_weights is None:
        raise ValueError(
            "run_incremental: a model under cfg.embedding.use_idf needs its "
            "train-time idf_weights (PipelineResult.idf_weights)"
        )
    stream = read_pages_stream(spark, in_path, max_files_per_trigger)
    q = (
        stream.writeStream.foreachBatch(
            _batch_processor(spark, out_dir, cfg, model=model, idf_weights=idf_weights)
        )
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def read_accumulated(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    """Read the accumulated output of `run_incremental` ('records',
    'membership', 'candidates', or with a model 'predictions') across all
    ingested batches."""
    root = os.path.join(out_dir, table)
    return spark.read.option("basePath", root).parquet(root).drop("ingest_batch")
