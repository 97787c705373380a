"""CLI driver (main.py): full stage sequence with the fused predict path,
manifest resume, and the streaming ingest stage."""

from __future__ import annotations

import argparse
import os

import pytest

import functools

import main as _main


class cli:  # noqa: N801 - tiny shim: never stop the shared test session
    run_keep = staticmethod(functools.partial(_main.run, stop_spark=False))

from entity_resolution_pipeline_spark import synth
from entity_resolution_pipeline_spark.schemas import PAGES
from entity_resolution_pipeline_spark.sources import manifest as M


def _args(**kw) -> argparse.Namespace:
    base = dict(pages=None, labeled_pairs=None, out=None, stage="all",
                resume=False, limit=None)
    base.update(kw)
    return argparse.Namespace(**base)


@pytest.fixture()
def fixture_dirs(spark, tmp_path):
    tmp = str(tmp_path)
    pages_path = os.path.join(tmp, "pages")
    pdf = synth.pages_pdf(200)[["url", "warc_ts", "html", "text", "lang"]]
    spark.createDataFrame(pdf, PAGES).write.parquet(pages_path)
    gt = synth.ground_truth_pdf(200)
    lp_path = os.path.join(tmp, "labeled.csv")
    gt.rename(columns={}).to_csv(lp_path, index=False)
    out = os.path.join(tmp, "work")
    return pages_path, lp_path, out


def test_cli_all_stages_and_resume(spark, fixture_dirs, capsys):
    pages_path, lp_path, out = fixture_dirs
    cli.run_keep(_args(pages=pages_path, labeled_pairs=lp_path, out=out))
    # every stage table exists + manifest rows are complete
    for stage in ("extract", "preprocess", "embed", "block", "train",
                  "predict", "cluster", "report"):
        assert M.stage_complete(spark, out, stage), stage
    # predict is fused: no per-pair feature table is ever written
    assert not os.path.exists(os.path.join(out, "features"))
    preds = M.read_stage_table(spark, out, "predict")
    assert preds.where("match").count() > 0
    assert os.path.exists(os.path.join(out, "pipeline_report.json"))

    # resume: nothing re-runs
    cli.run_keep(_args(pages=pages_path, labeled_pairs=lp_path, out=out, resume=True))
    out_text = capsys.readouterr().out
    assert out_text.count("[resume] skipping complete stage") >= 7


def test_cli_frees_staged_matrices(spark, fixture_dirs, tmp_path, monkeypatch):
    """The train and predict stages each free the vector matrix they staged
    once their output is written: nothing is left under the staging root
    while the process lives on."""
    pages_path, lp_path, out = fixture_dirs
    stage_root = os.path.join(str(tmp_path), "stage")
    os.makedirs(stage_root)
    monkeypatch.setenv("ERX_STAGE_ROOT", stage_root)
    cli.run_keep(_args(pages=pages_path, labeled_pairs=lp_path, out=out))
    assert M.stage_complete(spark, out, "predict")
    left = [d for d in os.listdir(stage_root) if d.startswith("erx-vecmat-")]
    assert left == []


def test_cli_ingest_stage(spark, fixture_dirs):
    pages_path, lp_path, out = fixture_dirs
    cli.run_keep(_args(pages=pages_path, out=out, stage="ingest"))
    from entity_resolution_pipeline_spark.streaming.ingest import read_accumulated

    assert read_accumulated(spark, out, "records").count() == 200
    assert read_accumulated(spark, out, "candidates").count() > 0
