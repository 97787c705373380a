"""Deterministic local embeddings and their IDF weights.

Replaces the reference's OpenAI batch client + rate limiter + Weaviate
upsert (embedding.py:300-386, indexing.py:467-504) with a local hashed-n-gram
projection (functions/embed.py).  The pipeline embeds inside the fused
scoring kernel (features.py), once per distinct string per task, so no
vector table is built on a pass.  This module holds the one corpus-level
computation, the IDF weights, and `embed_unique_strings`, the (hash,
embedding) table of the CLI's embed stage — one row per distinct string,
keeping the reference's embed-each-unique-string-once optimization
(embedding.py:106-119).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EmbeddingConfig


def _embeddable_strings(table: DataFrame, cfg: EmbeddingConfig) -> DataFrame:
    """(hash, value), one row per distinct string of the embedded fields,
    from the row-wise record table (preprocess.record_table) or from melted
    rows, which perfbench still passes."""
    if "field" in table.columns:
        strings = table.where(F.col("field").isin(*cfg.fields_to_embed)).select(
            "hash", F.col("value_norm").alias("value")
        )
    else:
        strings = table.select(
            F.explode(
                F.array(*[
                    F.struct(F.col(f).alias("hash"), F.col(f"{f}_value").alias("value"))
                    for f in cfg.fields_to_embed
                ])
            ).alias("s")
        ).select("s.*").where(F.col("value").isNotNull())
    return strings.dropDuplicates(["hash"])


def corpus_idf_weights(table: DataFrame, cfg: EmbeddingConfig) -> list[float]:
    """Per-bucket IDF weights over the corpus's distinct embeddable strings:
    one mapInPandas pass counts each task's bucket document frequencies,
    the driver sums the per-task counts (integers, so the sum is exact in
    any order).  Train-time output: freeze it and pass it on to score new
    data under the training-time featurization (incremental scoring must
    not let old strings' vectors drift as the corpus grows — IDF weights
    are learned parameters, like the LR weights)."""
    from ..functions.embed import bucket_document_frequencies, bucket_idf_weights

    dim, n = cfg.dimensions, cfg.char_ngram

    def _doc_freqs(batches):
        counts, docs = np.zeros(dim, dtype=np.int64), 0
        for pdf in batches:
            counts += bucket_document_frequencies(pdf["value"].tolist(), dim, n)
            docs += len(pdf)
        yield pd.DataFrame({"docs": [docs], "counts": [counts]})

    rows = (
        _embeddable_strings(table, cfg)
        .mapInPandas(_doc_freqs, schema="docs long, counts array<long>")
        .collect()
    )
    n_docs = sum(r["docs"] for r in rows)
    counts = np.sum([r["counts"] for r in rows], axis=0) if rows else np.zeros(dim)
    nonzero = [(int(b), int(counts[b])) for b in np.flatnonzero(counts)]
    return bucket_idf_weights(nonzero, n_docs, dim=dim).tolist()


def embed_unique_strings(
    melted: DataFrame,
    cfg: EmbeddingConfig = EmbeddingConfig(),
    weights: list[float] | None = None,
) -> DataFrame:
    """melted (record_id, field, value_norm, hash) → vector table
    (hash, embedding), one row per distinct embeddable string.  With
    `weights` None and `cfg.use_idf` on, the weights are
    `corpus_idf_weights(melted)`."""
    from ..config import python_stage_width
    from ..functions.embed import make_embed_udf

    # repartition-on-key BEFORE dropDuplicates: provides the hash
    # distribution the dedup needs (no extra exchange) while pinning the
    # downstream embed-UDF stage to half-width (config.python_stage_width)
    distinct_strings = (
        melted.where(F.col("field").isin(*cfg.fields_to_embed))
        .select("hash", "value_norm")
        .repartition(python_stage_width(melted.sparkSession), "hash")
        .dropDuplicates(["hash"])
    )

    if weights is None and cfg.use_idf:
        weights = corpus_idf_weights(melted, cfg)

    embed_udf = make_embed_udf(dim=cfg.dimensions, n=cfg.char_ngram, weights=weights)
    return distinct_strings.select("hash", embed_udf("value_norm").alias("embedding"))
