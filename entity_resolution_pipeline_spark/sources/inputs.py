"""Input sources: pages tables and labeled-pair CSVs.

Mirrors the reference's readers:
* S3 ground-truth pair CSV (batch_parallel_querying.py:267-297): header,
  `left,right,match`, match parsed case-insensitively from 'true'.
* The Common-Crawl-style pages table (BASELINE.json:input_hint) from
  parquet/Iceberg paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import PAGES


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Pages table from parquet (Iceberg table paths read identically via
    `spark.read.format("iceberg")` when a catalog is configured)."""
    return spark.read.schema(PAGES).parquet(path)


def read_labeled_pairs(spark: SparkSession, path: str) -> DataFrame:
    """Ground-truth CSV `left,right,match` with header; match is the literal
    'true' case-insensitively (querying.py:289)."""
    raw = (
        spark.read.option("header", True)
        .schema(
            StructType(
                [
                    StructField("left", StringType(), False),
                    StructField("right", StringType(), False),
                    StructField("match", StringType(), True),
                ]
            )
        )
        .csv(path)
    )
    return raw.select(
        "left", "right", (F.lower(F.col("match")) == "true").alias("match")
    )

