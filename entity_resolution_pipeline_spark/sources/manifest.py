"""Per-stage lineage manifest + resume protocol.

Replaces the reference's pickle-checkpoint zoo (utils.py:47-86 +
per-stage resume sets, pattern I3 in SURVEY.md §2.10) with a tiny parquet
manifest table: one row per (stage, partition) write, carrying status, row
count, timestamp, and free-form numeric metrics (e.g. dropped hot blocks).

Resume semantics: a stage whose manifest shows status='complete' is skipped
and its output table re-read; an interrupted stage re-runs (stage outputs
are written atomically via overwrite, so a half-written run is simply
replaced).  This is the Spark-native equivalent of "load state + skip
processed keys" — the anti-join happens at stage granularity because stage
outputs are immutable tables, not mutable dicts.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import MANIFEST


def _manifest_path(base_dir: str) -> str:
    return os.path.join(base_dir, "_manifest")


def record_stage(
    spark: SparkSession,
    base_dir: str,
    stage: str,
    rows: int,
    metrics: dict[str, float] | None = None,
    status: str = "complete",
) -> None:
    """Append one lineage row for a finished stage write."""
    row = [
        (
            stage,
            -1,
            status,
            rows,
            dt.datetime.now(),
            {k: float(v) for k, v in (metrics or {}).items()},
        )
    ]
    spark.createDataFrame(row, MANIFEST).write.mode("append").parquet(
        _manifest_path(base_dir)
    )


def stage_complete(spark: SparkSession, base_dir: str, stage: str) -> bool:
    path = _manifest_path(base_dir)
    if not os.path.exists(path):
        return False
    mf = spark.read.parquet(path)
    return (
        mf.where((F.col("stage") == stage) & (F.col("status") == "complete")).limit(1).count()
        > 0
    )


def read_manifest(spark: SparkSession, base_dir: str) -> DataFrame:
    return spark.read.schema(MANIFEST).parquet(_manifest_path(base_dir))


def record_partitions(
    spark: SparkSession, base_dir: str, stage: str, df: DataFrame
) -> int:
    """Append one lineage row PER PARTITION of a stage output (north rule:
    per-partition lineage + metrics): (stage, partition_id, rows).  Returns
    the total row count (one pass computes both)."""
    import datetime as dt

    from pyspark.sql import functions as F

    per_part = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    now = dt.datetime.now()
    rows = [
        (stage, int(r["pid"]), "complete", int(r["rows"]), now, {})
        for r in per_part
    ]
    if rows:
        spark.createDataFrame(rows, MANIFEST).write.mode("append").parquet(
            _manifest_path(base_dir)
        )
    return sum(int(r["rows"]) for r in per_part)


def write_stage_table(
    df: DataFrame,
    base_dir: str,
    stage: str,
    metrics: dict[str, float] | None = None,
) -> DataFrame:
    """Write a stage output table + per-partition lineage rows + the stage
    summary row; return the re-read DataFrame (so downstream plans read from
    parquet, truncating lineage — the batch equivalent of checkpointing).

    The summary row (partition_id = -1, status = 'complete') is written LAST:
    resume treats the stage as complete only when it exists, so an
    interrupted write — even one that produced some partition rows — re-runs.
    """
    spark = df.sparkSession
    path = os.path.join(base_dir, stage)
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    total = record_partitions(spark, base_dir, f"{stage}/partitions", out)
    record_stage(spark, base_dir, stage, rows=total, metrics=metrics)
    return out


def read_stage_table(spark: SparkSession, base_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, stage))


def _recover_interrupted_swap(path: str) -> None:
    """Crash recovery for merge_stage_table's two-rename swap.  The renames
    are individually atomic but the PAIR is not: a driver death between
    rename(path → trash) and rename(tmp → path) leaves the table existing
    only as `<path>.old-<uuid>` — without recovery the next merge would take
    the fresh-table branch and silently drop every previously merged row.
    Restore the newest trash dir when the live path is missing; garbage-
    collect completed-swap leftovers (`.old-*` beside a live path) and
    orphaned tmp dirs (`.merge-*`).  Single-writer protocol, like the
    reference's batch upsert — concurrent mergers are out of contract."""
    import glob
    import shutil

    trash = sorted(glob.glob(glob.escape(path) + ".old-*"), key=os.path.getmtime)
    if trash and not os.path.exists(path):
        os.rename(trash.pop(), path)  # newest trash = the pre-crash table
    for d in trash:
        shutil.rmtree(d, ignore_errors=True)
    for d in glob.glob(glob.escape(path) + ".merge-*"):
        shutil.rmtree(d, ignore_errors=True)


def merge_stage_table(
    df: DataFrame,
    base_dir: str,
    stage: str,
    keys: tuple[str, ...],
    metrics: dict[str, float] | None = None,
) -> DataFrame:
    """MERGE INTO emulation over the parquet stage table (the reference's
    idempotent batch upsert, batch_parallel_indexing.py:265-322, S7):
    incoming rows REPLACE existing rows sharing their natural key; all other
    existing rows are kept.  Re-running the same merge is a no-op — the
    idempotency contract a resumed ingest needs.

    Protocol: merged table is written to a temp dir, then swapped into place
    with two directory renames (each atomic on a POSIX filesystem; a
    production catalog — Iceberg/Delta — replaces the swap with a metadata
    commit, and `MERGE INTO` maps 1:1 onto this anti-join ∪ union plan).
    The rename PAIR is not atomic, so every merge first runs
    `_recover_interrupted_swap`: a crash between the renames leaves the
    table in the trash dir, and recovery restores it before merging.  The
    manifest summary row is written LAST, after the swap, so an interrupted
    merge re-runs instead of resuming from a half-swapped table."""
    import shutil
    import uuid

    spark = df.sparkSession
    path = os.path.join(base_dir, stage)
    _recover_interrupted_swap(path)
    key_cols = list(keys)
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        kept = existing.join(
            df.select(*key_cols).dropDuplicates(key_cols), key_cols, "left_anti"
        )
        merged = kept.unionByName(df.select(*existing.columns))
    else:
        merged = df
    tmp = f"{path}.merge-{uuid.uuid4().hex}"
    merged.write.mode("overwrite").parquet(tmp)
    trash = f"{path}.old-{uuid.uuid4().hex}"
    if os.path.exists(path):
        os.rename(path, trash)
    os.rename(tmp, path)
    if os.path.exists(trash):
        shutil.rmtree(trash)
    # drop Spark's cached file listing for the swapped path — DataFrames
    # created before the swap are invalidated (read the CURRENT table via
    # the returned frame; a snapshot catalog would version this instead)
    spark.catalog.refreshByPath(path)
    out = spark.read.parquet(path)
    total = record_partitions(spark, base_dir, f"{stage}/partitions", out)
    record_stage(spark, base_dir, stage, rows=total, metrics=metrics)
    return out

