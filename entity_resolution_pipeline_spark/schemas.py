"""Explicit StructTypes for every table in the pipeline.

The reference's schema is fixed/declared (hardcoded field names,
src/batch_parallel_preprocessing.py:328-353); we declare explicit StructTypes
and never rely on inference (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Primary input per BASELINE.json:input_hint — Common-Crawl-style web pages.
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# Catalog record derived from a page (reference fixture shape:
# data/input/training_dataset.csv; columns preprocessing.py:328-353).
RECORDS = StructType(
    [
        StructField("record_id", StringType(), False),   # reference 'personId'
        StructField("url", StringType(), True),
        StructField("composite", StringType(), True),
        StructField("person", StringType(), True),
        StructField("roles", StringType(), True),
        StructField("title", StringType(), True),
        StructField("provision", StringType(), True),
        StructField("subjects", StringType(), True),
    ]
)

# Labeled ground-truth pairs (reference data/ground_truth/labeled_matches.csv,
# querying.py:277-290).
LABELED_PAIRS = StructType(
    [
        StructField("left", StringType(), False),
        StructField("right", StringType(), False),
        StructField("match", BooleanType(), False),
    ]
)

PREDICTIONS = StructType(
    [
        StructField("left_id", StringType(), False),
        StructField("right_id", StringType(), False),
        StructField("probability", DoubleType(), False),
        StructField("match", BooleanType(), False),
    ]
)

CLUSTERS = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("cluster_id", LongType(), False),
        StructField("cluster_size", LongType(), False),
    ]
)

# Per-partition lineage + metrics (north_rule: resumable from checkpoint with
# per-partition lineage + metrics).
MANIFEST = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("rows", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("metrics", MapType(StringType(), DoubleType()), True),
    ]
)
