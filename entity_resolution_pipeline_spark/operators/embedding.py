"""Deterministic embedding stage over *distinct* strings.

Keeps the reference's one key optimization — embed each unique string once,
not once per record (embedding.py:106-119) — and replaces its OpenAI batch
client + rate limiter + Weaviate upsert (embedding.py:300-386,
indexing.py:467-504) with a local hashed-n-gram projection UDF and a plain
parquet table keyed (hash, field_type); idempotency = dropDuplicates on the
key (the reference's uuid5 trick, indexing.py:480).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EmbeddingConfig


def corpus_idf_weights(melted: DataFrame, cfg: EmbeddingConfig) -> list[float]:
    """Per-bucket IDF weights over the corpus's distinct embeddable strings.
    Train-time output: freeze and pass to `embed_unique_strings(weights=...)`
    to embed NEW data under the training-time featurization (incremental /
    streaming scoring must not let old strings' vectors drift as the corpus
    grows — IDF weights are learned parameters, like the LR weights)."""
    from ..functions.embed import bucket_frequencies_with_total, bucket_idf_weights

    distinct_strings = (
        melted.where(F.col("field").isin(*cfg.fields_to_embed))
        .select("hash", "value_norm")
        .dropDuplicates(["hash"])
    )
    # ONE job: the sentinel-fused agg returns the per-bucket document
    # frequencies AND the distinct-string total together, replacing the
    # former persist + count() + agg sequence (two sequential jobs and a
    # cache round-trip for a ≤dim-row result).
    dfc, n_docs = bucket_frequencies_with_total(
        distinct_strings, "value_norm", dim=cfg.dimensions, n=cfg.char_ngram
    )
    return bucket_idf_weights(dfc, n_docs, dim=cfg.dimensions).tolist()


def embed_unique_strings(
    melted: DataFrame,
    cfg: EmbeddingConfig = EmbeddingConfig(),
    weights: list[float] | None = None,
) -> DataFrame:
    """melted (record_id, field, value_norm, hash) → EMBEDDINGS table
    (hash, field_type, value, frequency, embedding).

    The embedding depends only on the string, so the UDF runs over distinct
    hashes (the small side), then joins back to per-(hash, field) frequencies
    — dedup-before-expensive-work, SURVEY.md §4 row 1.  With `weights`
    None and `cfg.use_idf` on, the weights are `corpus_idf_weights(melted)`.
    """
    from ..functions.embed import make_embed_udf

    from ..config import python_stage_width

    embeddable = melted.where(F.col("field").isin(*cfg.fields_to_embed))
    freq = embeddable.groupBy("hash", "field").agg(
        F.count("*").alias("frequency"), F.first("value_norm").alias("value")
    )
    # repartition-on-key BEFORE dropDuplicates: provides the hash
    # distribution the dedup needs (no extra exchange) while pinning the
    # downstream embed-UDF stage to half-width (config.python_stage_width)
    distinct_strings = (
        embeddable.select("hash", "value_norm")
        .repartition(python_stage_width(melted.sparkSession), "hash")
        .dropDuplicates(["hash"])
    )

    if weights is None and cfg.use_idf:
        weights = corpus_idf_weights(melted, cfg)

    embed_udf = make_embed_udf(dim=cfg.dimensions, n=cfg.char_ngram, weights=weights)
    vectors = distinct_strings.select(
        "hash", embed_udf("value_norm").alias("embedding")
    )
    return (
        freq.join(vectors, "hash")
        .select(
            "hash",
            F.col("field").alias("field_type"),
            "value",
            "frequency",
            "embedding",
        )
    )
