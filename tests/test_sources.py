"""Input-source tests (the reference S3 labeled-pair reader)."""

from __future__ import annotations

from entity_resolution_pipeline_spark.sources import inputs as I


def test_read_labeled_pairs(spark, tmp_path):
    p = tmp_path / "labeled.csv"
    p.write_text("left,right,match\na,b,true\na,c,False\nb,c,TRUE\n")
    rows = {(r["left"], r["right"]): r["match"] for r in I.read_labeled_pairs(spark, str(p)).collect()}
    assert rows == {("a", "b"): True, ("a", "c"): False, ("b", "c"): True}
