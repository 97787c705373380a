"""records → the row-wise record table (record_field_hashes), plus the
melted field values, unique_strings and field_hash_mapping.

Re-expresses the reference's preprocessing stage (batch_parallel_preprocessing
.py:244-383: ProcessPoolExecutor per record, dict merges) as declarative
dataflow:

* record_table — ONE Arrow pass over the records: per record, the
  normalized value and hash of each of the 6 fields, and the year-stripped
  person name.  This is the table featurization joins pairs against
* melt — stack the 6 field columns to (record_id, field, value) rows, then
  normalize+hash in one Arrow pass (the CLI's stage table and the parity
  oracle `record_field_hashes(melted)`)
* unique_strings — groupBy(hash) with map-side combine (the reference's
  manual local-dict merge, preprocessing.py:279-295, is exactly Spark's
  partial+final hash aggregate — free)

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


# the row-wise record table: the 6 field hashes, the 5 normalized embed
# field values (NULL when the field is missing) and the year-stripped
# person name `pn`
RECORD_TABLE_COLUMNS: tuple[str, ...] = (
    ("record_id",) + _ALL + tuple(f"{f}_value" for f in _NORMALIZED_FIELDS) + ("pn",)
)


def record_table(records: DataFrame) -> DataFrame:
    """records → the row-wise record table, one row per record
    (RECORD_TABLE_COLUMNS), in one Arrow pass: the per-value rules of
    `melt_fields` and the sentinels of `record_field_hashes`, with no melt
    and no pivot."""
    import pandas as pd

    from ..config import python_stage_width
    from ..functions.birth_death import normalize_name
    from ..functions.hashing import compute_string_hash, normalize_string

    def _record_rows(batches):
        for pdf in batches:
            out = {"record_id": pdf["record_id"]}
            for f in _ALL:
                present = pdf[f].notna() & ~pdf[f].isin(NULL_VALUES)
                value = pd.Series(None, index=pdf.index, dtype=object)
                value[present] = pdf[f][present]
                if f in _NORMALIZED_FIELDS:
                    value[present] = value[present].map(normalize_string)
                    out[f"{f}_value"] = value
                h = pd.Series("NULL" if f in _SENTINEL_FIELDS else None, index=pdf.index,
                              dtype=object)
                h[present] = value[present].map(compute_string_hash)
                out[f] = h
            person = out["person_value"]
            pn = pd.Series(None, index=pdf.index, dtype=object)
            pn[person.notna()] = person[person.notna()].map(normalize_name)
            out["pn"] = pn
            yield pd.DataFrame(out)[list(RECORD_TABLE_COLUMNS)]

    schema = ", ".join(f"{c} string" for c in RECORD_TABLE_COLUMNS)
    return records.coalesce(python_stage_width(records.sparkSession)).select(
        "record_id", *_ALL
    ).mapInPandas(_record_rows, schema=schema)


def record_field_hashes(melted: DataFrame) -> DataFrame:
    """The record table's columns (RECORD_TABLE_COLUMNS) pivoted back from
    melted rows: a groupBy(record_id) shuffle that `record_table` does
    without.  The parity oracle of `record_table`; perfbench still builds
    its traced pass from it."""
    from ..functions.birth_death import normalize_name_udf

    pick = lambda f, c: F.first(  # noqa: E731
        F.when(F.col("field") == f, F.col(c)), ignorenulls=True
    )
    pivoted = melted.groupBy("record_id").agg(
        *[pick(f, "hash").alias(f) for f in _ALL],
        *[pick(f, "value_norm").alias(f"{f}_value") for f in _NORMALIZED_FIELDS],
    )
    return pivoted.select(
        "record_id",
        *[
            (F.coalesce(F.col(f), F.lit("NULL")) if f in _SENTINEL_FIELDS else F.col(f)).alias(f)
            for f in _ALL
        ],
        *[f"{f}_value" for f in _NORMALIZED_FIELDS],
        F.when(
            F.col("person_value").isNotNull(), normalize_name_udf("person_value")
        ).alias("pn"),
    )
