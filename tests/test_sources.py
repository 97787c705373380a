"""Input-source tests (reference S1/S3 readers + the catalog→pages adapter)."""

from __future__ import annotations

from entity_resolution_pipeline_spark.operators.extract import extract_records
from entity_resolution_pipeline_spark.sources import inputs as I


def test_read_labeled_pairs(spark, tmp_path):
    p = tmp_path / "labeled.csv"
    p.write_text("left,right,match\na,b,true\na,c,False\nb,c,TRUE\n")
    rows = {(r["left"], r["right"]): r["match"] for r in I.read_labeled_pairs(spark, str(p)).collect()}
    assert rows == {("a", "b"): True, ("a", "c"): False, ("b", "c"): True}


def test_read_catalog_csv_null_tokens_and_multiline(spark, tmp_path):
    p = tmp_path / "catalog.csv"
    p.write_text(
        'composite,person,roles,title,provision,subjects,personId\n'
        '"Contributor: Schubert, Franz, 1797-1828\nTitle: Winterreise",'
        '"Schubert, Franz, 1797-1828",Contributor,Winterreise,NULL,N/A,1#Agent700-1\n'
    )
    rows = I.read_catalog_csv(spark, str(p)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["provision"] is None and r["subjects"] is None
    assert "\n" in r["composite"]
    assert r["personId"] == "1#Agent700-1"


def test_catalog_to_pages_roundtrip(spark, tmp_path):
    p = tmp_path / "catalog.csv"
    p.write_text(
        'composite,person,roles,title,provision,subjects,personId\n'
        '"Contributor: Schubert, Franz, 1797-1828\nTitle: Winterreise\n'
        'Attribution: Contributor\nSubjects: Lieder--Songs\n'
        'Provision information: Wien, 1827",'
        '"Schubert, Franz, 1797-1828",Contributor,Winterreise,'
        '"Wien, 1827",Lieder--Songs,1#Agent700-1\n'
    )
    catalog = I.read_catalog_csv(spark, str(p))
    pages = I.catalog_records_to_pages(catalog)
    records = extract_records(pages).collect()
    assert len(records) == 1
    r = records[0]
    assert r["record_id"] == "1#Agent700-1"
    assert r["person"] == "Schubert, Franz, 1797-1828"
    assert r["title"] == "Winterreise"
    assert r["subjects"] == "Lieder--Songs"
    assert r["provision"] == "Wien, 1827"
    # the byte-identical invariant: composite == page text
    assert r["composite"].startswith("Contributor: Schubert")
