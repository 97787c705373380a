"""records → (melted field values, record_field_hashes, unique_strings,
field_hash_mapping).

Re-expresses the reference's preprocessing stage (batch_parallel_preprocessing
.py:244-383: ProcessPoolExecutor per record, dict merges) as declarative
dataflow:

* melt     — stack the 6 field columns to (record_id, field, value) rows
* normalize+hash — ONE Arrow pandas UDF pass (parity path)
* unique_strings — groupBy(hash) with map-side combine (the reference's
  manual local-dict merge, preprocessing.py:279-295, is exactly Spark's
  partial+final hash aggregate — free)
* record_field_hashes — conditional-aggregation pivot back to wide

Reference semantics preserved:
* the 5 embed fields are whitespace-normalized before hashing
  (preprocessing.py:396-400); `roles` is hashed RAW (preprocessing.py:345-352)
* missing person/title/provision/subjects → literal "NULL" hash sentinel
  (preprocessing.py:342); missing composite/roles → absent (NULL here)
* `roles` never enters field_hash_mapping (preprocessing.py:344-352)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EMBED_FIELDS, NULL_VALUES

_NORMALIZED_FIELDS = EMBED_FIELDS          # composite, person, title, provision, subjects
_RAW_FIELDS = ("roles",)
_ALL = _NORMALIZED_FIELDS + _RAW_FIELDS
# fields whose missing value maps to the "NULL" hash sentinel in the wide table
_SENTINEL_FIELDS = ("person", "title", "provision", "subjects")


def melt_fields(records: DataFrame) -> DataFrame:
    """(record_id, field, value, value_norm, hash) — one row per non-null
    field value.  The normalize+hash battery runs as one Arrow UDF pass."""
    from ..functions.hashing import normalize_udf, string_hash_udf

    from ..config import python_stage_width

    n = len(_ALL)
    stack_args = ", ".join(f"'{f}', {f}" for f in _ALL)
    # coalesce (no shuffle) to half-width before the Arrow UDF pass — see
    # config.python_stage_width; the scan is cheap, the UDF stage is not
    melted = records.coalesce(python_stage_width(records.sparkSession)).select(
        "record_id", F.expr(f"stack({n}, {stack_args}) as (field, value)")
    ).where(F.col("value").isNotNull() & ~F.col("value").isin(*NULL_VALUES))
    melted = melted.withColumn(
        "value_norm",
        F.when(F.col("field").isin(*_RAW_FIELDS), F.col("value")).otherwise(
            normalize_udf("value")
        ),
    )
    return melted.withColumn("hash", string_hash_udf("value_norm"))


def unique_strings(melted: DataFrame) -> DataFrame:
    """Dedup dictionary + occurrence counts (reference unique_strings +
    string_counts, merged into one table)."""
    return melted.groupBy("hash").agg(
        F.first("value_norm").alias("value"), F.count("*").alias("count")
    )


def field_hash_mapping(melted: DataFrame) -> DataFrame:
    """(hash, field, count) over the 5 embed fields only."""
    return (
        melted.where(F.col("field").isin(*_NORMALIZED_FIELDS))
        .groupBy("hash", "field")
        .count()
    )


def record_field_hashes(melted: DataFrame) -> DataFrame:
    """Wide (record_id, <field hash> ×6); "NULL" sentinel for the 4
    sentinel fields, SQL NULL for absent composite/roles."""
    pivoted = melted.groupBy("record_id").agg(
        *[
            F.first(F.when(F.col("field") == f, F.col("hash")), ignorenulls=True).alias(f)
            for f in _ALL
        ]
    )
    return pivoted.select(
        "record_id",
        *[
            (F.coalesce(F.col(f), F.lit("NULL")) if f in _SENTINEL_FIELDS else F.col(f)).alias(f)
            for f in _ALL
        ],
    )

