"""Lineage manifest + resume protocol tests (north rule: resumable from
checkpoint with per-partition lineage + metrics)."""

from __future__ import annotations

import pytest

from entity_resolution_pipeline_spark.sources import manifest as M


def test_write_read_stage_table(spark, tmp_path):
    base = str(tmp_path / "stages")
    df = spark.range(0, 100).selectExpr("id", "id * 2 AS doubled")
    out = M.write_stage_table(df, base, "stage_a", metrics={"dropped": 3.0})
    assert out.count() == 100
    assert M.stage_complete(spark, base, "stage_a")
    assert not M.stage_complete(spark, base, "stage_b")
    re_read = M.read_stage_table(spark, base, "stage_a")
    assert sorted(r["doubled"] for r in re_read.collect()) == sorted(
        2 * i for i in range(100)
    )


def test_manifest_rows_carry_metrics(spark, tmp_path):
    base = str(tmp_path / "stages")
    M.record_stage(spark, base, "blocking", rows=42, metrics={"hot_blocks": 2.0})
    mf = M.read_manifest(spark, base).collect()
    assert len(mf) == 1
    row = mf[0]
    assert row["stage"] == "blocking" and row["rows"] == 42
    assert row["metrics"]["hot_blocks"] == 2.0
    assert row["status"] == "complete"


def test_resume_skips_complete_stage(spark, tmp_path):
    """The resume contract: a completed stage is skipped and its output
    re-read; an incomplete stage re-runs."""
    base = str(tmp_path / "stages")
    runs = {"n": 0}

    def expensive_stage():
        runs["n"] += 1
        return spark.range(0, 10).selectExpr("id")

    def run_stage(name):
        if M.stage_complete(spark, base, name):
            return M.read_stage_table(spark, base, name)
        return M.write_stage_table(expensive_stage(), base, name)

    a1 = run_stage("s1")
    assert runs["n"] == 1 and a1.count() == 10
    a2 = run_stage("s1")  # resume: must NOT recompute
    assert runs["n"] == 1 and a2.count() == 10


def test_per_partition_lineage_rows(spark, tmp_path):
    base = str(tmp_path / "stages")
    df = spark.range(0, 1000, numPartitions=4).selectExpr("id")
    M.write_stage_table(df, base, "s_part")
    mf = M.read_manifest(spark, base)
    parts = mf.where("stage = 's_part/partitions'").collect()
    assert len(parts) >= 1
    assert sum(r["rows"] for r in parts) == 1000
    assert all(r["partition_id"] >= 0 for r in parts)
    summary = mf.where("stage = 's_part'").collect()
    assert len(summary) == 1 and summary[0]["rows"] == 1000


def test_interrupted_stage_reruns(spark, tmp_path):
    base = str(tmp_path / "stages")
    # simulate an interrupted write: table exists but no manifest row
    spark.range(0, 5).write.mode("overwrite").parquet(f"{base}/s2")
    assert not M.stage_complete(spark, base, "s2")


def test_merge_stage_table_upsert_and_idempotency(spark, tmp_path):
    """MERGE semantics (S7): key-matched rows replaced, others kept;
    re-running the same merge yields a byte-identical table."""
    base = str(tmp_path / "stages")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "val", "score"]
    )
    M.merge_stage_table(v1, base, "dim", keys=("id",))
    # upsert: id 2 updated, id 4 inserted, ids 1/3 untouched
    v2 = spark.createDataFrame([(2, "B", 21), (4, "d", 40)], ["id", "val", "score"])
    out = M.merge_stage_table(v2, base, "dim", keys=("id",))
    rows1 = sorted(map(tuple, out.collect()))  # materialize pre-swap
    got = {r[0]: (r[1], r[2]) for r in rows1}
    assert got == {1: ("a", 10), 2: ("B", 21), 3: ("c", 30), 4: ("d", 40)}
    # idempotency: same merge twice → identical table
    again = M.merge_stage_table(v2, base, "dim", keys=("id",))
    assert sorted(map(tuple, again.collect())) == rows1


def test_merge_recovers_from_mid_swap_crash(spark, tmp_path):
    """A driver death between the swap's two renames leaves the table only
    in `<path>.old-<uuid>`; the next merge must RESTORE it, not take the
    fresh-table branch and silently drop every previously merged row."""
    import os

    base = str(tmp_path / "stages")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "val", "score"]
    )
    M.merge_stage_table(v1, base, "dim", keys=("id",))
    path = os.path.join(base, "dim")
    # simulate the crash window: rename(path → trash) happened,
    # rename(tmp → path) did not; an orphaned tmp dir is also left behind
    os.rename(path, f"{path}.old-deadbeef")
    os.makedirs(f"{path}.merge-cafe")
    v2 = spark.createDataFrame([(2, "B", 21), (4, "d", 40)], ["id", "val", "score"])
    out = M.merge_stage_table(v2, base, "dim", keys=("id",))
    got = {r["id"]: (r["val"], r["score"]) for r in out.collect()}
    # ids 1/3 came back from the recovered trash dir
    assert got == {1: ("a", 10), 2: ("B", 21), 3: ("c", 30), 4: ("d", 40)}
    # leftovers garbage-collected
    assert not [d for d in os.listdir(base) if d.startswith("dim.")]
