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


@pytest.fixture()
def built_prefixes(monkeypatch):
    """Every PipelineResult `PL.prepare_records` builds during the test."""
    from entity_resolution_pipeline_spark.plans import pipeline as PL

    built = []
    real = PL.prepare_records

    def counting(*a, **kw):
        built.append(real(*a, **kw))
        return built[-1]

    monkeypatch.setattr(PL, "prepare_records", counting)
    return built


def test_cli_all_stages_and_resume(spark, fixture_dirs, capsys):
    pages_path, lp_path, out = fixture_dirs
    assert _main.STAGES == ("extract", "block", "train", "predict", "cluster", "report")
    cli.run_keep(_args(pages=pages_path, labeled_pairs=lp_path, out=out))
    # every stage's manifest row is complete
    for stage in _main.STAGES:
        assert M.stage_complete(spark, out, stage), stage
    # only the stage outputs are written: no preprocess/embed tables and,
    # since predict is fused, no per-pair feature table
    assert sorted(os.listdir(out)) == sorted([
        "_manifest", "extract", "block", "model.pkl", "classification_metrics.json",
        "predict", "cluster", "pipeline_report.json", "pipeline_report.md", "report_html",
    ])
    preds = M.read_stage_table(spark, out, "predict")
    assert preds.where("match").count() > 0
    # the report stage draws the four figures its inputs support
    assert sorted(os.listdir(os.path.join(out, "report_html", "figures"))) == [
        "cluster_sizes.svg", "confusion_matrix.svg", "feature_importance.svg",
        "score_distribution.svg",
    ]

    # resume: nothing re-runs
    cli.run_keep(_args(pages=pages_path, labeled_pairs=lp_path, out=out, resume=True))
    out_text = capsys.readouterr().out
    for stage in _main.STAGES:
        assert f"[resume] skipping complete stage: {stage}\n" in out_text, stage
    assert out_text.count("[resume] skipping complete stage") == len(_main.STAGES)


def test_cli_builds_the_prefix_once(spark, fixture_dirs, built_prefixes):
    """`--stage all` trains and scores over one shared prefix: train and
    predict do not each rebuild the record table and the corpus IDF."""
    pages_path, lp_path, out = fixture_dirs
    cli.run_keep(_args(pages=pages_path, labeled_pairs=lp_path, out=out))
    assert len(built_prefixes) == 1
    # released after predict: neither prefix table is left cached
    assert not built_prefixes[0].records.is_cached
    assert not built_prefixes[0].record_field_hashes.is_cached


def test_cli_releases_the_prefix_when_a_stage_fails(
    spark, fixture_dirs, built_prefixes, monkeypatch
):
    """A train that raises still releases the shared prefix: the records
    and the record table are not left persisted in the caller's session."""
    from entity_resolution_pipeline_spark.plans import pipeline as PL

    pages_path, lp_path, out = fixture_dirs

    def failing_train(*a, **kw):
        raise RuntimeError("train failed")

    monkeypatch.setattr(PL, "train", failing_train)
    with pytest.raises(RuntimeError, match="train failed"):
        cli.run_keep(_args(pages=pages_path, labeled_pairs=lp_path, out=out))
    assert len(built_prefixes) == 1
    assert not built_prefixes[0].records.is_cached
    assert not built_prefixes[0].record_field_hashes.is_cached


def test_cli_ingest_stage(spark, fixture_dirs):
    pages_path, lp_path, out = fixture_dirs
    cli.run_keep(_args(pages=pages_path, out=out, stage="ingest"))
    from entity_resolution_pipeline_spark.streaming.ingest import read_accumulated

    assert read_accumulated(spark, out, "records").count() == 200
    assert read_accumulated(spark, out, "candidates").count() > 0


def test_cli_script_runs_from_another_directory(spark, fixture_dirs, tmp_path):
    """`python main.py` from outside the repo, with no PYTHONPATH: the
    block stage's MinHash UDF, the first Python UDF to run, imports the
    package in a local-mode worker."""
    import subprocess
    import sys

    pages_path, _, out = fixture_dirs
    cli.run_keep(_args(pages=pages_path, out=out, stage="extract"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--master local[2] --conf spark.ui.enabled=false pyspark-shell"
    )
    proc = subprocess.run(
        [sys.executable, _main.__file__, "--stage", "block", "--out", out],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert M.stage_complete(spark, out, "block")
    assert M.read_stage_table(spark, out, "block").count() > 0
