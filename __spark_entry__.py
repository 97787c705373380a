"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship corpus-dedup pipeline on /root/testdata/sf0.001.
`queries()` — one entry per implemented operator family from SURVEY.md §2
plus the training-data-pipeline additions (dedup suite, ANN, text analysis).
`oracle_sql()` — DuckDB-equivalent ANSI SQL for every SQL-expressible query;
non-SQL-expressible ops (UDF cascades, LSH candidate generation, the trained
classifier) are rows-only by design and covered by unit/e2e tests instead.

Column-name + rounding discipline: every computed column is aliased
identically on both sides, and every float that crosses the engine boundary
is `round(x, 6)` (or exact-decimal summed) on both sides so the driver's
order-insensitive value-hash matches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --------------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: corpus near-dup detection + transitive clustering over the
    sf0.001 documents table — MinHash-LSH blocking → exact-Jaccard verify →
    large-star/small-star connected components → per-cluster rollup.
    This is the engine's mainline (the candidate-generation path the
    reference designed but never shipped, SURVEY.md §3 EP3), on the driver's
    own testdata."""
    from entity_resolution_pipeline_spark.operators import cluster as G
    from entity_resolution_pipeline_spark.operators import dedup as D

    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    edges = pairs.select(
        F.col("left_id").cast("string").alias("src"),
        F.col("right_id").cast("string").alias("dst"),
    )
    assignments = G.connected_components(edges)
    sizes = assignments.groupBy("root").agg(F.count("*").alias("cluster_size"))
    return (
        assignments.join(sizes, "root")
        .select(
            F.col("entity_id").alias("doc_id"),
            F.col("root").alias("cluster_key"),
            "cluster_size",
        )
        .orderBy("cluster_key", "doc_id")
    )


# ------------------------------------------------------------------- queries

_STOPWORDS_SQL = "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be']"

_FINGERPRINT_SQL = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"


def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 at document granularity: hash-groupBy dedup dictionary."""
    from entity_resolution_pipeline_spark.functions.text_analysis import exact_fingerprint_col

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        exact_fingerprint_col(F.col("text")).alias("fingerprint"), "doc_id"
    ).groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("dup_count")
    )


def q_distinct_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduped corpus: one row (min doc_id) per exact-duplicate group."""
    from entity_resolution_pipeline_spark.operators.dedup import distinct_documents

    return distinct_documents(_read(spark, sf_dir, "documents")).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: whitespace token counting per document."""
    from entity_resolution_pipeline_spark.functions.text_analysis import token_count_col

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count_col(F.col("text")).alias("n_tokens"))


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: quality-scoring battery (length / alpha / stopword /
    token-length ratios) as pure column expressions."""
    from entity_resolution_pipeline_spark.functions.text_analysis import quality_metrics_cols

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", *quality_metrics_cols(F.col("text")))


def q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (trigram profiles) → corpus distribution.
    Oracle-checked (r2): integer rank weights make the profile scoring
    order-independent, so the UDF's argmax is reproducible as a DuckDB
    trigram-join + sum + row_number — value-level parity, not rows-only."""
    from entity_resolution_pipeline_spark.functions.text_analysis import make_langid_udf

    docs = _read(spark, sf_dir, "documents")
    udf = make_langid_udf()
    return docs.select(udf("text").alias("lang_pred")).groupBy("lang_pred").agg(
        F.count("*").alias("n_docs")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-3-gram Jaccard set-similarity join (≥ 0.12)."""
    from entity_resolution_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), n=3, threshold=0.12
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates + exact-Jaccard verify (≥ 0.5, the
    threshold the 16-band × 4-row S-curve is centered on: (1/16)^(1/4) = 0.5).
    Oracle-checked (r2): the verify stage makes the CONTENT of the output
    exact Jaccard, and the shingle hash is a polynomial the oracle reproduces
    as plain integer SQL — so the oracle computes ALL exact-Jaccard-≥-τ pairs
    and any LSH recall miss would surface as a row mismatch.  (On this corpus
    every qualifying pair has J ≥ 0.93, where the 16×4 banding miss
    probability is ≈ 1e-10 per pair — and the seeded signatures make the run
    fully deterministic.)"""
    from entity_resolution_pipeline_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_read(spark, sf_dir, "documents"), threshold=0.5)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs (hamming ≤ 3).  Oracle-checked (r2):
    4×16-bit banding is COMPLETE for hamming ≤ 3 by pigeonhole, and the
    md5-based gram hash lets DuckDB rebuild the exact 64-bit signatures —
    the oracle recomputes signatures + all-pairs hamming and must match
    bit-for-bit."""
    from entity_resolution_pipeline_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_read(spark, sf_dir, "documents")).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.35), pure JVM exprs."""
    from entity_resolution_pipeline_spark.operators.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(_read(spark, sf_dir, "embeddings"), threshold=0.35)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 10 (J2/W1: the
    reference's Weaviate near_vector + limit re-expressed)."""
    from entity_resolution_pipeline_spark.operators.ann import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.where("vec_id < 10").collect()
    ]
    return brute_force_topk(emb, queries, k=5)


def q_field_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-partition-key field statistics (count / distinct / mean len)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W4: top-5 by value per event_type, deterministic tie-break."""
    from pyspark.sql import Window

    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        events.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("event_type", "event_id", F.round("value", 6).alias("value"), "rank")
    )


def q_agg_stats_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-class mean/median/min/max/stddev battery."""
    events = _read(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.round(F.stddev("value"), 6).alias("std_value"),
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/§2.6: resume-style anti-join — customers with no orders."""
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


def q_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J3 + A1: three-way equi-join + grouped aggregate.  Money is summed
    as DECIMAL so the result is exact and order-independent across engines."""
    lineitem = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)") *
           (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_items"))
    )


def q_cluster_size_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: cluster-size distribution buckets, over per-user event counts."""
    events = _read(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(F.count("*").alias("size"))
    bucket = (
        F.when(F.col("size") == 1, "1")
        .when(F.col("size") == 2, "2")
        .when(F.col("size") <= 5, "3-5")
        .when(F.col("size") <= 10, "6-10")
        .when(F.col("size") <= 20, "11-20")
        .otherwise("21+")
    )
    return per_user.groupBy(bucket.alias("size_bucket")).agg(
        F.count("*").alias("num_clusters"), F.sum("size").alias("num_entities")
    )


def q_connected_components_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: large-star/small-star CC on per-lang doc_id chains (worst-case
    topology); ground truth is SQL-computable because each lang's chain is
    one component rooted at its lexicographic-min id."""
    from pyspark.sql import Window

    from entity_resolution_pipeline_spark.operators.cluster import connected_components

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("doc_id")
    edges = (
        docs.withColumn("prev", F.lag("doc_id").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            F.col("prev").cast("string").alias("src"),
            F.col("doc_id").cast("string").alias("dst"),
        )
    )
    return connected_components(edges).select("entity_id", "root")


def q_harmonic_product_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7-F9: interaction-feature column math (harmonic / product / ratio)."""
    li = _read(spark, sf_dir, "lineitem").where("l_orderkey % 20 = 0")
    a = F.col("l_discount")
    b = F.col("l_tax")
    harmonic = F.when((a > 0) & (b > 0), 2 * a * b / (a + b)).otherwise(0.0)
    ratio = F.when(b > 0, 2 / (1 + F.exp(-a / b)) - 1).otherwise(0.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(harmonic, 6).alias("harmonic"),
        F.round(a * b, 6).alias("product"),
        F.round(ratio, 6).alias("ratio"),
    )


def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: levenshtein similarity 1 − dist/max_len over same-brand part-name
    pairs (JVM builtin levenshtein)."""
    part = _read(spark, sf_dir, "part").where("p_partkey < 150")
    l = part.alias("l")
    r = part.alias("r")
    sim = 1.0 - F.levenshtein(F.col("l.p_name"), F.col("r.p_name")) / F.greatest(
        F.length("l.p_name"), F.length("r.p_name")
    )
    return (
        l.join(r, F.col("l.p_brand") == F.col("r.p_brand"))
        .where(F.col("l.p_partkey") < F.col("r.p_partkey"))
        .select(
            F.col("l.p_partkey").alias("left_key"),
            F.col("r.p_partkey").alias("right_key"),
            F.round(sim, 6).alias("lev_sim"),
        )
    )


def q_jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: Jaro-Winkler over the same pair set (Arrow pandas UDF)."""
    from entity_resolution_pipeline_spark.functions.similarity import make_jaro_winkler_udf

    part = _read(spark, sf_dir, "part").where("p_partkey < 150")
    jw = make_jaro_winkler_udf()
    l = part.alias("l")
    r = part.alias("r")
    return (
        l.join(r, F.col("l.p_brand") == F.col("r.p_brand"))
        .where(F.col("l.p_partkey") < F.col("r.p_partkey"))
        .select(
            F.col("l.p_partkey").alias("left_key"),
            F.col("r.p_partkey").alias("right_key"),
            F.round(jw(F.col("l.p_name"), F.col("r.p_name")), 6).alias("jw_sim"),
        )
    )


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: whitespace normalization as JVM exprs (byte-identity oracle)."""
    from entity_resolution_pipeline_spark.functions.normalize import normalize_ws_col

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize_ws_col(F.col("text")).alias("text_norm"))


def q_session_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-class lead/lag: per-user inter-event gap in exact microseconds
    (sub-second-precision timestamps make floor-of-seconds engine-dependent)."""
    from pyspark.sql import Window

    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        events.select(
            "user_id",
            "event_id",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
            ).alias("gap_micros"),
        )
        .where(F.col("gap_micros").isNotNull())
    )


def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (batch form of the streaming rollup):
    per (hour, event_type) counts + decimal-exact value sums."""
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


# Deterministic person-string construction shared VERBATIM between the Spark
# query (F.expr) and the DuckDB oracle — doc_id-keyed templates covering all
# 15 reference cascade patterns plus the disambiguation quirks ("d. 1910" →
# (None, None), "(1900-)" → death=1900).
_BD_BY_SQL = "CAST(1500 + doc_id % 400 AS STRING)"
_BD_DY_SQL = "CAST(1530 + doc_id % 460 AS STRING)"
_BD_PERSON_SQL = f"""
CASE CAST(doc_id % 16 AS INT)
 WHEN 0 THEN 'Smith, John, ' || {_BD_BY_SQL} || '-' || {_BD_DY_SQL}
 WHEN 1 THEN 'Doe, Jane, approximately ' || {_BD_BY_SQL} || '-' || {_BD_DY_SQL}
 WHEN 2 THEN 'Lee, Ann, ' || {_BD_BY_SQL} || '- approximately ' || {_BD_DY_SQL}
 WHEN 3 THEN 'Mo, Li, approximately ' || {_BD_BY_SQL} || '-approximately ' || {_BD_DY_SQL}
 WHEN 4 THEN 'Brown, Amy, -' || {_BD_DY_SQL}
 WHEN 5 THEN 'Gray, Max, ' || {_BD_BY_SQL} || '-'
 WHEN 6 THEN 'Quinn, Eve, b. ' || {_BD_BY_SQL}
 WHEN 7 THEN 'Stone, Ada, born ' || {_BD_BY_SQL}
 WHEN 8 THEN 'Hall, Kim, d. ' || {_BD_DY_SQL}
 WHEN 9 THEN 'Frost, Ian, died ' || {_BD_DY_SQL}
 WHEN 10 THEN 'Wood, Sam (fl. ' || {_BD_BY_SQL} || ')'
 WHEN 11 THEN 'Reed, Joy, ca. ' || {_BD_BY_SQL}
 WHEN 12 THEN 'Page, Ivy (' || {_BD_BY_SQL} || '-' || {_BD_DY_SQL} || ')'
 WHEN 13 THEN 'Lake, Tom, fl. ' || {_BD_BY_SQL} || '-' || {_BD_DY_SQL}
 WHEN 14 THEN 'King, Leo'
 ELSE 'Nagy, Bela, circa ' || {_BD_BY_SQL} || '-' || {_BD_DY_SQL}
END
"""


def q_birth_death_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: ordered 15-pattern birth/death cascade.  Oracle-checked (r2):
    person strings are built deterministically from doc_id by a SQL
    expression both engines evaluate verbatim; the Spark side runs the real
    Arrow-UDF cascade (functions/birth_death.py) while the oracle replays
    the SAME priority cascade as generated regexp_matches/regexp_extract
    CASE SQL — first-match-wins semantics and the reference quirks included
    (reference src/birth_death_regexes.py:13-147)."""
    from entity_resolution_pipeline_spark.functions.birth_death import birth_death_udf

    docs = _read(spark, sf_dir, "documents")
    persons = docs.select("doc_id", F.expr(_BD_PERSON_SQL).alias("person"))
    return persons.select(
        "doc_id", birth_death_udf("person").alias("bd")
    ).select(
        "doc_id",
        F.col("bd.birth_year").cast("int").alias("birth_year"),
        F.col("bd.death_year").cast("int").alias("death_year"),
    )


def q_srp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate all-pairs top-3 neighbors via sign-random-projection LSH
    buckets + per-bucket exact rerank (the scale path of ann.py).
    Oracle-checked (r2) against exact brute-force top-3 in DuckDB: this
    corpus's nearest neighbors are LOW-cosine (median top-3 cosine ≈ 0.33),
    so the honest S-curve is shallow — 2 planes × 24 tables, which reaches
    recall 1.0 here (measured; any regression shows as a row mismatch).
    Note the cost honestly: at 2 planes each table has 4 buckets, so this
    config's bucket join is DENSER than brute force (~6n² pair rows) — it
    exists to value-check the bucketing machinery (salting, rerank,
    ranking, identical to the high-threshold configs) at correctness SF,
    not as the scale config; ann.srp_params_for picks the selective
    many-plane regime whenever the threshold supports it."""
    from entity_resolution_pipeline_spark.operators.ann import lsh_bucket_topk

    emb = _read(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(emb, k=3, dim=64, n_planes=2, n_tables=24)


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs top-3 neighbors via an IVF coarse quantizer (spherical
    k-means cells + n_probe probing, FAISS-IVF-Flat style).  Oracle-checked
    (r2) against exact brute-force top-3 in DuckDB: with n_probe ==
    n_centroids every query probes every cell, so the candidate set is the
    whole corpus and the output is STRUCTURALLY equal to exact top-k — the
    oracle therefore verifies the full IVF machinery (k-means training +
    cell assignment UDF, probe fan-out, exactly-once grid salting, exact
    rerank, rounding/tie-break) rather than a probabilistic recall.  Cell
    SELECTIVITY (n_probe < n_centroids, the scale win) is pinned separately:
    tests/test_recall.py::test_ivf_recall_floor (recall@3 ≥ 0.80 at
    n_probe=8) and the ivf_c16_p8_recall_at_3 metric in BENCH/BASELINE.md."""
    from entity_resolution_pipeline_spark.operators.ann import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivf_topk(emb, k=3, n_centroids=16, n_probe=16)


def q_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (winnowing, Schleimer et al.): near-dup
    candidates = documents sharing ≥ 25 fingerprints (k=16-grams keep the
    fingerprints selective on this small-vocabulary corpus).  Oracle-checked
    (r2): the k-gram hash is a polynomial DuckDB can recompute, and a
    window's selected fingerprint VALUE is simply its min hash (the
    rightmost tie-break picks a position, not a different value), so the
    distinct-fingerprint sets — and the shared-count join — are reproducible
    as window-min SQL."""
    from entity_resolution_pipeline_spark.config import python_stage_width
    from entity_resolution_pipeline_spark.functions.text_analysis import make_winnow_udf

    from pyspark import StorageLevel

    docs = _read(spark, sf_dir, "documents").repartition(python_stage_width(spark))
    w = make_winnow_udf(k=16, window=6)
    # persisted: the candidate self-join reads fingerprints on both sides
    # and a broadcast build side cannot share the exchange — without the
    # persist the winnow UDF runs twice over the corpus
    fps = (
        docs.select("doc_id", F.explode(w("text")).alias("fp"))
        .dropDuplicates()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    l = fps.alias("l")
    r = fps.alias("r")
    return (
        l.join(r, "fp")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("left_id"), F.col("r.doc_id").alias("right_id"))
        .agg(F.count("*").alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= 25)
    )


def _impute_candidates(spark: SparkSession, sf_dir: str, cfg):
    """Shared fixture for the three imputation-method queries: embeddings
    rows with vec_id % 10 == 0 are 'missing' targets, the rest are donors
    carrying their label as the donor value.  knn_candidates runs the real
    SRP-bucketed KNN join; 2 planes × 16 tables is the shallow S-curve this
    LOW-similarity regime needs (nearest donors sit at cosine 0.3-0.5) and
    measures recall 1.0 vs the exact-KNN DuckDB oracle."""
    from entity_resolution_pipeline_spark.operators.impute import knn_candidates

    emb = _read(spark, sf_dir, "embeddings")
    targets = emb.where("vec_id % 10 = 0").select(
        F.col("vec_id").alias("record_id"), F.col("embedding").alias("query_vec")
    )
    donors = emb.where("vec_id % 10 != 0").select(
        F.col("vec_id").alias("donor_id"),
        F.col("embedding").alias("query_vec"),
        F.col("embedding").alias("donor_vec"),
        F.col("label").cast("string").alias("donor_value"),
    )
    return knn_candidates(targets, donors, cfg, n_planes=2, n_tables=16)


def _impute_vec_stats(iv: DataFrame) -> DataFrame:
    """(record_id, n_donors, vec_mean, vec_norm) — scalar summaries of the
    imputed vector so the driver's column-hash comparison has flat floats."""
    return iv.select(
        "record_id",
        F.col("n_donors").cast("long").alias("n_donors"),
        F.round(
            F.aggregate("imputed_vec", F.lit(0.0), lambda a, x: a + x)
            / F.size("imputed_vec"),
            6,
        ).alias("vec_mean"),
        F.round(
            F.sqrt(F.aggregate("imputed_vec", F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("vec_norm"),
    )


def q_impute_hotdeck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hot-deck imputation, method=nearest (reference
    batch_parallel_imputation.py:494-501): each 'missing' record takes the
    value of its most-similar donor (cosine ≥ 0.30).  Oracle-checked (r2)
    against exact KNN in DuckDB — the SRP candidate join must recover the
    true argmax donor for every target."""
    from entity_resolution_pipeline_spark.config import ImputationConfig
    from entity_resolution_pipeline_spark.operators.impute import impute_vectors

    cfg = ImputationConfig(
        method="nearest", vector_similarity_threshold=0.30, max_candidates=10
    )
    cands = _impute_candidates(spark, sf_dir, cfg)
    return impute_vectors(cands, cfg).select(
        "record_id", F.col("n_donors").cast("long").alias("n_donors"), "imputed_value"
    )


def q_impute_knn_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Imputation method=average (reference imputation.py:493-541): the
    imputed vector is the element-wise mean of the top-10 donors' vectors.
    Oracle-checked via scalar summaries (mean/norm of the imputed vector)."""
    from entity_resolution_pipeline_spark.config import ImputationConfig
    from entity_resolution_pipeline_spark.operators.impute import impute_vectors

    cfg = ImputationConfig(
        method="average", vector_similarity_threshold=0.30, max_candidates=10
    )
    cands = _impute_candidates(spark, sf_dir, cfg)
    return _impute_vec_stats(impute_vectors(cands, cfg))


def q_impute_knn_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Imputation method=weighted_average: donor vectors weighted by cosine
    similarity.  Oracle-checked via scalar summaries."""
    from entity_resolution_pipeline_spark.config import ImputationConfig
    from entity_resolution_pipeline_spark.operators.impute import impute_vectors

    cfg = ImputationConfig(
        method="weighted_average", vector_similarity_threshold=0.30, max_candidates=10
    )
    cands = _impute_candidates(spark, sf_dir, cfg)
    return _impute_vec_stats(impute_vectors(cands, cfg))


def q_er_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-graph clustering end-to-end on driver data: exact-Jaccard
    near-dup edges → match graph → large-star/small-star connected
    components (+ singletons) → size-bucket stats (G1-G5).  Oracle-checked
    (r2): DuckDB recomputes the same edges and resolves components with a
    recursive CTE.  (The LR-scored ER flagship remains exercised by
    entry(), bench's er_dedup_pipeline, and tests/test_e2e.py — this query
    pins the graph machinery against an independent engine.)"""
    from entity_resolution_pipeline_spark.operators.cluster import (
        cluster_predictions,
        cluster_statistics,
    )
    from entity_resolution_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    preds = ngram_jaccard_pairs(docs, n=3, threshold=0.12).select(
        F.col("left_id").cast("string").alias("left_id"),
        F.col("right_id").cast("string").alias("right_id"),
        F.lit(True).alias("match"),
        F.lit(1.0).alias("probability"),
    )
    clusters = cluster_predictions(preds, docs.select(F.col("doc_id").cast("string")))
    return cluster_statistics(clusters)


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4's 'overall' row generalized: ROLLUP(n_name, o_year) subtotal
    lattice over the 3-way join — per (nation, year), per nation, grand
    total.  Exercises grouping sets; money in DECIMAL then cast."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .rollup("n_name", "o_year")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_supplier_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-class ranking: dense_rank of suppliers by revenue within nation,
    top 3 kept.  Ordering on the EXACT decimal sum (not the double cast) so
    rank ties break identically in Spark and the oracle."""
    from pyspark.sql import Window

    li = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")))
    per_supp = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(rev).alias("rev_d"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("rev_d"), F.asc("s_suppkey"))
    return (
        per_supp.withColumn("rnk", F.dense_rank().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "n_name",
            "s_suppkey",
            F.col("rev_d").cast("double").alias("revenue"),
            "rnk",
        )
    )


def q_repeat_customer_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set ops: INTERSECT of the 1995 and 1996 customer-key sets."""
    o = _read(spark, sf_dir, "orders").withColumn("y", F.year("o_orderdate"))
    c95 = o.where(F.col("y") == 1995).select("o_custkey")
    c96 = o.where(F.col("y") == 1996).select("o_custkey")
    return c95.intersect(c96)


def q_order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per status × priority (A7's confusion-matrix
    shape generalized).  Explicit value list keeps the schema static."""
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    o = _read(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .count()
        .na.fill(0, [p for p in prios])
    )
    renames = {p: f"p{p[0]}" for p in prios}  # p1..p5: oracle-safe names
    for old, new in renames.items():
        piv = piv.withColumnRenamed(old, new)
    return piv


def q_string_hash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 string-level dedup dictionary: md5 → occurrence count over raw
    document text (the unique_strings/string_counts tables,
    preprocessing.py:279-295)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("hash")).agg(F.count("*").alias("n"))


def q_media_features_by_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over driver data: documents → opaque binary media
    column (utf-8 bytes, kind = doc_id % 3) → Arrow mapInPandas feature
    extraction → per-kind stats.  Oracle-checked (r2): the extractor's
    n_bytes and md5 content_hash are recomputable in DuckDB from the same
    text, so the oracle verifies the binary column round-trips the Arrow
    boundary byte-exactly (row counts, byte totals, hash cardinality)."""
    from entity_resolution_pipeline_spark.operators import multimodal as M

    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("bytes"),
    )
    feats = M.extract_media_features(media, dim=16)
    return (
        feats.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("content_hash").alias("n_distinct"),
        )
    )


_SWEEP_GRID = [round(0.05 * i, 2) for i in range(1, 10)]  # 0.05 .. 0.45


def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: decision-threshold sweep — (threshold, n_predicted, tp,
    precision, recall, f1) per grid point, fully DISTRIBUTED (grid × scored
    pairs → one grouped agg; no driver loop).  Oracle-checked (r2): the
    scorer here is deterministic exact 3-gram Jaccard predicting the
    same-lang label, so DuckDB replays the identical sweep.  (The
    trained-classifier sweep — same operator shape over model probabilities —
    remains covered by tests/test_classify.py's tune_threshold tests.)"""
    from entity_resolution_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    cands = ngram_jaccard_pairs(docs, n=3, threshold=_SWEEP_GRID[0])
    langs = docs.select("doc_id", "lang")
    lab = (
        cands.join(langs.toDF("left_id", "l_lang"), "left_id")
        .join(langs.toDF("right_id", "r_lang"), "right_id")
        .select(
            "jaccard", (F.col("l_lang") == F.col("r_lang")).cast("long").alias("y")
        )
    )
    # total positives = Σ_lang C(n,2): computable from per-lang counts alone
    pos_total = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .agg((F.sum(F.col("n") * (F.col("n") - 1)) / 2).cast("long").alias("p"))
    )
    grid = spark.createDataFrame([(t,) for t in _SWEEP_GRID], ["threshold"])
    swept = (
        grid.crossJoin(lab)
        .where(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count("*").alias("n_predicted"), F.sum("y").alias("tp"))
    )
    prec = F.when(
        F.col("n_predicted") > 0, F.col("tp") / F.col("n_predicted")
    ).otherwise(F.lit(0.0))
    rec = F.col("tp") / F.col("p")
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
    return (
        grid.join(swept, "threshold", "left")
        .na.fill({"n_predicted": 0, "tp": 0})
        .crossJoin(F.broadcast(pos_total))
        .select(
            "threshold",
            "n_predicted",
            "tp",
            F.round(prec, 6).alias("precision"),
            F.round(rec, 6).alias("recall"),
            F.round(f1, 6).alias("f1"),
        )
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text mining: per-document top-3 TF-IDF terms (alpha-token split,
    ln(N/df), deterministic tie-break on term)."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != "")
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf")
    )


def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (linear interpolation) of document length
    per language — percentile(), not approx_percentile, so the oracle can
    match bit-for-bit."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99"),
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session flag →
    running sum → per-session aggregates.  The batch form of the streaming
    session-window pattern."""
    from pyspark.sql import Window

    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
            > 1800 * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def q_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: top-10 revenue among BUILDING-segment orders placed
    before / shipped after 1997-06-01 (3-way join, broadcastable dims)."""
    cutoff = "1997-06-01"
    customer = _read(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _read(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    lineitem = _read(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# RE2-safe BPE-ish pre-tokenizer: letter runs / digit runs / punctuation
# runs (the GPT-2 pre-tokenizer's shape without lookaheads, so Spark's Java
# regex and DuckDB's RE2 agree byte-for-byte on this ASCII corpus).
_BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish regex flavor (the training-data-pipeline
    counter that approximates a BPE pre-tokenizer's segmentation): per-doc
    token count + distinct-token count via regexp_extract_all — pure JVM,
    whole-stage codegen, oracle-checked."""
    docs = _read(spark, sf_dir, "documents")
    # F.lit pattern (not F.expr with a SQL string literal — Spark's non-ANSI
    # literal parsing would eat the \s escape and the class would match spaces)
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PATTERN), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe_tokens"),
    )


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus preparation: quality gate (token bounds + alpha
    ratio) + exact-dedup canonicalization in one declarative plan."""
    from entity_resolution_pipeline_spark.operators.dedup import clean_corpus

    return clean_corpus(_read(spark, sf_dir, "documents"))


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the events table's JSON `props`
    column (get_json_object pushdown-friendly path) and aggregate the
    extracted field per event type."""
    events = _read(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("double").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts, top-100 (n-gram construction via zip_with over
    adjacent token slices — no UDF)."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != "").alias(
            "t"
        )
    ).where(F.size("t") >= 2)
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(100)
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule battery (word-count bounds, mean word length, stopword
    presence, alphabetic-word ratio) — pure column expressions, zero
    shuffle.  Webtext-curation extension; no reference counterpart (the
    reference stops at record linkage)."""
    from entity_resolution_pipeline_spark.operators.webtext import gopher_quality

    return gopher_quality(_read(spark, sf_dir, "documents"))


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals: top word-2-gram character coverage and
    duplicated word-5-gram coverage per document.  Two map-side-combined
    (doc_id, gram) aggregations + one per-doc window."""
    from entity_resolution_pipeline_spark.operators.webtext import repetition_metrics

    return repetition_metrics(_read(spark, sf_dir, "documents"))


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped unigram LM filter: mean ln P(token) per document with P
    the corpus' own unigram distribution.  Explode → word count → broadcast
    vocab join → per-doc agg."""
    from entity_resolution_pipeline_spark.operators.webtext import unigram_logprob

    return unigram_logprob(_read(spark, sf_dir, "documents"))


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (the WET step of a Common-Crawl pipeline):
    wrap each document's text in a deterministic page template (script/
    style/comment noise, nav boilerplate, entities) and strip it back out
    with webtext.html_to_text — every pattern is Java-regex/RE2-identical,
    so the oracle replays the same construction + extraction in DuckDB and
    the STRINGS must match byte-for-byte."""
    from entity_resolution_pipeline_spark.operators.webtext import html_to_text

    docs = _read(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><title>Doc '),
            F.col("doc_id").cast("string"),
            F.lit(
                '</title><script type="text/javascript">var x = 1 < 2;'
                "</script><style>.nav{color:red}</style></head><body>"
                '<!-- header --><div class="nav">Home | About</div><p>'
            ),
            F.col("text"),
            F.lit("</p><ul><li>first</li><li>second &amp; third</li></ul></body></html>"),
        ).alias("html"),
    )
    return html_to_text(pages).select("doc_id", "extracted_text")


def q_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-then-verify corpus heavy hitters: freqItems (distributed
    Misra-Gries, one-sided guarantee — no false negatives above support)
    proposes candidates; an exact candidate-only count thresholds them.
    Output is exact, so the oracle is a plain GROUP BY ... HAVING."""
    from entity_resolution_pipeline_spark.operators.webtext import heavy_hitter_words

    return heavy_hitter_words(_read(spark, sf_dir, "documents"), support=0.002)


def q_incremental_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot NEAR-dup dedup: flag every 'new' document (doc_id % 7
    != 0) with a MinHash-verified Jaccard >= 0.5 neighbor in the 'existing
    corpus' slice (doc_id % 7 == 0).  Candidates come from the cross-table
    band join only (no new x new / corpus x corpus pairs).  Oracle
    validity: same banding-recall argument as fuzzy_dedup_corpus — the
    fixture's true near-dup pairs sit far above the 0.5 boundary, where
    the 16x4 S-curve detects them w.p. ~= 1, and the exact-Jaccard verify
    makes every emitted match exact."""
    from entity_resolution_pipeline_spark.operators.webtext import (
        incremental_fuzzy_dedup,
    )

    docs = _read(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 7 == 0)
    new = docs.where(F.col("doc_id") % 7 != 0)
    return incremental_fuzzy_dedup(new, corpus)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (DCLM/LLaMA recipe): score every doc
    with a fastText-shaped hashed-ngram linear classifier.  The model is
    deterministic (driver-trained numpy LR, fixed seed — quality_model.py),
    so the oracle regenerates the identical weights and inlines them as a
    VALUES table; scoring itself is pure JVM exprs + one broadcast join."""
    from entity_resolution_pipeline_spark.operators.webtext import (
        quality_classifier_scores,
    )

    return quality_classifier_scores(_read(spark, sf_dir, "documents"))


def _quality_classifier_sql() -> str:
    from entity_resolution_pipeline_spark.functions.quality_model import (
        N_BUCKETS,
        train_quality_classifier,
    )

    w, b = train_quality_classifier()
    values = ", ".join(f"({j}, {wj!r})" for j, wj in enumerate(w))
    return f"""
        WITH wt(bucket, w) AS (VALUES {values}),
        toks AS (SELECT doc_id,
                        CASE WHEN length(trim(coalesce(text, ''))) = 0
                             THEN []::VARCHAR[]
                             ELSE regexp_split_to_array(lower(trim(text)), '\\s+')
                        END AS t
                 FROM documents),
        uni AS (SELECT doc_id, unnest(t) AS g FROM toks WHERE len(t) >= 1),
        bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
               FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
               WHERE len(t) >= 2),
        grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        bucketed AS (SELECT doc_id,
                            ('0x' || substr(md5(g), 1, 8))::BIGINT % {N_BUCKETS} AS bucket
                     FROM grams)
        SELECT doc_id,
               count(*) AS n_grams,
               round(1.0 / (1.0 + exp(-({b!r} + sum(w) / count(*)))), 6)
                   AS quality_prob
        FROM bucketed JOIN wt USING (bucket)
        GROUP BY 1
    """


def q_quality_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC/PR table for the quality classifier against the
    Gopher rule battery as ground truth: how well does the learned
    quality_prob rank rule-passing documents?  The curve the reference
    draws by collecting the whole test CSV (reporting.py:1313-1478) is
    computed here as ONE bounded aggregation — probabilities quantized to
    64 buckets, cumulative TP/FP via a window over the 64-row bin table,
    totals broadcast — so the same plan serves 10^11 scored rows.  One
    row per occupied bucket: (bin, threshold, tp, fp, tpr, fpr,
    precision), feeding svgreport's ROC/PR figures."""
    from entity_resolution_pipeline_spark.operators.classify import roc_points_df
    from entity_resolution_pipeline_spark.operators.webtext import (
        _gopher_exprs,
        quality_classifier_scores,
    )

    from entity_resolution_pipeline_spark.config import ensure_min_width

    # width guard at the CALLER (the operator itself is contractually a
    # zero-Exchange stateless projection for streaming composability):
    # the gram fold is a heavy row-local expression and this fixture scans
    # as a single split
    docs = ensure_min_width(_read(spark, sf_dir, "documents"))
    # Gopher label fused into the scoring projection (keep=): both are
    # row-local metrics over the same corpus, so one scan computes score
    # AND label — no second tokenize pass, no scores-vs-labels self-join
    # (values identical: the former inner join on doc_id was 1:1 over the
    # scored rows).
    passes = _gopher_exprs("text")["passes"].cast("int").alias("passes")
    scored = quality_classifier_scores(docs, keep=(passes,)).select(
        "doc_id", "quality_prob", "passes"
    )
    return roc_points_df(scored, label_col="passes", prob_col="quality_prob", n_bins=64)


def _quality_roc_sql() -> str:
    """Composes the regenerated quality-classifier scoring CTE with the
    Gopher `passes` conjunction, then replays the binned cumulative ROC
    arithmetic with window functions."""
    return f"""
        WITH scores AS ({_quality_classifier_sql()}),
        s AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
        t AS (SELECT doc_id,
                     CASE WHEN length(s) = 0 THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(s, '\\s+') END AS t
              FROM s),
        m AS (SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS n_words,
                     CAST(coalesce(list_sum(list_transform(t, w -> length(w))), 0)
                          AS BIGINT) AS sum_len,
                     CAST(len(list_filter(t, w -> list_contains({_STOPWORDS_SQL}, w)))
                          AS BIGINT) AS n_stop,
                     CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                          AS BIGINT) AS n_alpha
              FROM t),
        labels AS (SELECT doc_id,
                          CAST(n_words BETWEEN 50 AND 100000
                               AND sum_len / greatest(n_words, 1)
                                   BETWEEN 3.0::DOUBLE AND 10.0::DOUBLE
                               AND n_stop >= 2
                               AND n_alpha / greatest(n_words, 1) >= 0.8::DOUBLE
                               AS INT) AS passes
                   FROM m),
        j AS (SELECT least(63, CAST(floor(quality_prob * 64) AS INT)) AS bin,
                     passes AS y
              FROM scores JOIN labels USING (doc_id)),
        per AS (SELECT bin, sum(y) AS pos, count(*) AS n FROM j GROUP BY 1),
        cum AS (SELECT bin,
                       sum(pos) OVER (ORDER BY bin DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS tp,
                       sum(n - pos) OVER (ORDER BY bin DESC
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS fp
                FROM per),
        tot AS (SELECT sum(pos) AS P, sum(n - pos) AS N FROM per)
        SELECT CAST(bin AS BIGINT) AS bin,
               round(bin / 64.0, 6) AS threshold,
               CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
               round(tp / greatest(P, 1), 6) AS tpr,
               round(fp / greatest(N, 1), 6) AS fpr,
               round(tp / (tp + fp), 6) AS precision
        FROM cum, tot
        ORDER BY bin
    """


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated snapshot-vs-corpus dedup: the 'existing corpus' is the
    deterministic doc_id % 7 == 0 slice, the 'new snapshot' is the rest.
    The corpus is compressed to a broadcast Bloom filter (built map-side,
    no corpus shuffle) and only bloom-positive snapshot rows reach the
    exact verify join; output is exact, so the oracle is a plain NOT IN."""
    docs = _read(spark, sf_dir, "documents")
    from entity_resolution_pipeline_spark.operators.dedup import incremental_dedup

    corpus = docs.where(F.col("doc_id") % 7 == 0)
    new = docs.where(F.col("doc_id") % 7 != 0)
    return incremental_dedup(new, corpus)


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped interpolated bigram LM filter: mean ln P(w_i|w_{i-1})
    per document under a Jelinek-Mercer bigram model trained on the corpus
    itself (lam=0.9).  Position-aligned pair explode → bigram/context/
    unigram counts → broadcast LM join → per-doc agg; docs with < 2 tokens
    carry no bigram and are excluded."""
    from entity_resolution_pipeline_spark.operators.webtext import bigram_logprob

    return bigram_logprob(_read(spark, sf_dir, "documents"))


def q_fuzzy_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash fuzzy dedup (Dolma/RedPajama recipe): LSH pairs at
    J >= 0.5 → connected components → keep min-id per cluster.  Oracle
    validity: at these banding parameters every J >= 0.5 pair is found
    (same argument as the minhash_lsh_pairs oracle), and CC over identical
    edge sets yields identical VARCHAR-min roots."""
    from entity_resolution_pipeline_spark.operators.webtext import fuzzy_dedup

    return fuzzy_dedup(_read(spark, sf_dir, "documents"), threshold=0.5)


def q_fuzzy_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_dedup with the Dolma/RedPajama 'keep best, not first' policy:
    the cluster representative is the member with the largest n_chars
    (min-id on ties) instead of the min id — per-cluster max agg + equality
    filter + min-id agg, no window."""
    from entity_resolution_pipeline_spark.operators.webtext import fuzzy_dedup

    return fuzzy_dedup(
        _read(spark, sf_dir, "documents"), threshold=0.5, keep_col="n_chars"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 §C / Llama recipe): corpus docs
    sharing word 4-grams with a deterministic held-out 'benchmark' slice
    (doc_id % 97 == 0 — 6 docs at this sf).  n=4 / τ=0.03 are fixture-tuned
    (the synthetic word-soup shares no 8-gram spans; real eval sets share
    long spans and use n=8..13): 8 overlapping docs, 1 over threshold."""
    from entity_resolution_pipeline_spark.operators.webtext import decontaminate

    docs = _read(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        n=4,
        ratio_threshold=0.03,
    )


def q_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: downsample src0 to 25%, src1 to 50%,
    drop src2, keep everything else — decisions from a per-id md5 uniform,
    so the kept SET (pinned by the id_checksum column) is identical in any
    engine at any parallelism.  Zero shuffle before the audit agg."""
    from entity_resolution_pipeline_spark.operators.webtext import stratified_sample

    kept = stratified_sample(
        _read(spark, sf_dir, "documents"),
        {"src0": 0.25, "src1": 0.5, "src2": 0.0},
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("id_checksum"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget packing (500 tokens/chunk) per source in doc_id
    order — per-chunk doc counts and token sums.  One window shuffle on the
    group key."""
    from entity_resolution_pipeline_spark.operators.webtext import pack_sequences

    return pack_sequences(_read(spark, sf_dir, "documents"), budget_tokens=500)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction audit per source: match counts for the
    email/ipv4/phone patterns and how many documents redaction changed —
    pure JVM regex, one grouped agg.  The synthetic corpus is PII-free, so
    this oracle pins the zero-count plumbing and group shape;
    tests/test_webtext.py runs the SAME oracle SQL against PII-positive
    crafted data for value-level parity where it matters."""
    from entity_resolution_pipeline_spark.operators.webtext import (
        pii_metrics,
        redact_pii,
    )

    docs = _read(spark, sf_dir, "documents")
    m = pii_metrics(
        redact_pii(docs, out_col="red"), keep=("source", "text", "red")
    )
    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("has_pii").cast("long").alias("docs_with_pii"),
        F.sum("n_email").alias("n_emails"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum("n_phone").alias("n_phones"),
        F.sum((F.col("red") != F.col("text")).cast("int"))
        .cast("long")
        .alias("docs_changed"),
    )


def q_url_latest_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot URL dedup (Common-Crawl curation): canonicalize noisy
    capture URLs (case, default port, www, tracking params, fragments,
    trailing slash) and keep the LATEST capture per canonical key — one
    map-side-combined hash agg with a deterministic max_by, no window.
    Captures are synthesized from documents with SQL-expressible noise
    (doc_id % branches) so the DuckDB oracle rebuilds the identical input."""
    from entity_resolution_pipeline_spark.operators.webtext import latest_capture

    docs = _read(spark, sf_dir, "documents")
    three = F.col("doc_id") % 3
    raw = docs.select(
        F.col("doc_id"),
        F.col("doc_id").alias("fetch_seq"),
        F.concat(
            F.lit("HTTPS://WWW.CraWl.Example.ORG:443/doc/"),
            (F.col("doc_id") % 101).cast("string"),
            F.when(F.col("doc_id") % 5 == 0, "/").otherwise(""),
            F.when(three == 0, "?utm_source=feed")
            .when(three == 1, "?utm_campaign=x&page=2")
            .otherwise(""),
            F.when(F.col("doc_id") % 4 == 0, "#sec").otherwise(""),
        ).alias("url"),
    )
    out = latest_capture(
        raw, url_col="url", ts_col="fetch_seq", keep_cols=("doc_id",)
    )
    return out.select(
        "canonical_url",
        "n_captures",
        F.col("latest_ts").alias("latest_seq"),
        F.col("url").alias("kept_url"),
        F.col("doc_id").alias("kept_doc_id"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet line-level boilerplate removal: lines occurring in
    more than max_df=20 places corpus-wide are dropped from every document,
    survivors reassembled in order.  Input documents are given a 3-line
    shape in both engines (per-source header + 40-char payload prefix +
    global footer); at sf>=0.01 the header (df=25/source) and footer
    (df=corpus) are removed, payload survives.  Frequency agg keys on
    md5(line) (16-byte uniform shuffle), removal set is the corpus' heavy
    hitters (AQE-broadcast), reassembly is one doc-keyed shuffle."""
    from entity_resolution_pipeline_spark.operators.webtext import dedup_lines

    docs = _read(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("site: "), F.col("source")),
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40),
            F.lit("(c) example corp - all rights reserved"),
        ).alias("text"),
    )
    return dedup_lines(lined, max_df=20)


def q_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split by unigram-LM score percentile
    (Wenzek et al. 2020 §3.3).  Cut points from one 1-row exact-percentile
    aggregate broadcast back — the scoring plan plus a scalar agg, never a
    global sort."""
    from entity_resolution_pipeline_spark.operators.webtext import (
        lm_quality_buckets,
    )

    return lm_quality_buckets(_read(spark, sf_dir, "documents"))


def q_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2021): every 8-token span whose
    exact text occurs >=2 times corpus-wide is excised from every document.
    Gram rows carry only (id, pos, 16-hex-char hash); one map-side-combined
    count + one LEFT SEMI join; excision is per-row JVM lambdas."""
    from entity_resolution_pipeline_spark.operators.webtext import (
        remove_dup_spans,
    )

    return remove_dup_spans(
        _read(spark, sf_dir, "documents"), k=8, min_count=2
    )


def _capture_urls(docs: DataFrame) -> DataFrame:
    """Deterministic capture URLs over 5 hosts (doc_id % 5) with SQL-
    expressible noise (scheme case is already lowered by host_of; one host
    carries www + a port) so the DuckDB oracle rebuilds the identical
    input."""
    five = F.col("doc_id") % 5
    host = (
        F.when(five == 0, "ads.tracker.example.com")
        .when(five == 1, "tracker.example.com")
        .when(five == 2, "news.example.org")
        .when(five == 3, "www.blog.example.net:8080")
        .otherwise("cdn.media.example.io")
    )
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string")
        ).alias("url"),
    )


def q_domain_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style URL blocklist over synthesized capture URLs: host extraction
    (userinfo/port/www stripped) + parent-domain suffix matching — blocking
    tracker.example.com must also catch ads.tracker.example.com.  Pure JVM
    row exprs + one tiny hash agg."""
    from entity_resolution_pipeline_spark.operators.webtext import (
        blocklist_filter,
    )

    raw = _capture_urls(_read(spark, sf_dir, "documents"))
    flagged = blocklist_filter(
        raw, blocked=["tracker.example.com", "media.example.io"]
    )
    return flagged.groupBy("host", "blocked").agg(
        F.count("*").alias("n_docs")
    )


# Funnel input shaping (SQL-expressible so the oracle rebuilds it): every
# page gets the site footer (11 tokens — its 4 internal 8-grams cover all
# 11, so span-dedup excises exactly the footer from every survivor), and
# doc_id % 13 == 1 pages are replaced by a fixed 56-token mirrored page
# (full-page duplicates: every 8-gram corpus-frequent -> wiped to '' by
# span-dedup, then collapsed to ONE representative by exact dedup).
_FUNNEL_PAGE = (
    "this page is a mirrored copy of the original article kept here for "
    "offline reading and research use the mirror refreshes once a week and "
    "keeps the layout of the source intact so readers can cite the exact "
    "wording of the first publication without visiting the live site today"
)
_FUNNEL_FOOTER = "all rights reserved contact the site help desk for more info"


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline as ONE plan — per-stage survival
    funnel (RefinedWeb Fig. 2 shape): raw → Gopher gate → bad-word filter
    ('dup', 5% doc-frequency here) → exact-substring span excision → exact
    dedup of cleaned text.  Input pages carry a universal footer and an
    8%-rate mirrored-page duplicate so every stage removes something; each
    stage's doc+token counts are value-checked against the DuckDB replay of
    the identical chain."""
    from entity_resolution_pipeline_spark.operators.webtext import (
        curation_funnel,
    )

    docs = _read(spark, sf_dir, "documents")
    prepped = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 13 == 1, F.lit(_FUNNEL_PAGE)).otherwise(
                F.coalesce(F.col("text"), F.lit(""))
            ),
            F.lit(" " + _FUNNEL_FOOTER),
        ).alias("text"),
    )
    return curation_funnel(prepped, badwords=("dup",), k=8, min_count=2)


# Snapshot-curation fixture (SQL-expressible so the oracle rebuilds the
# identical input).  Captures: doc_id % 17 == 3 rows are a SECOND capture of
# the previous row's URL (latest wins).  Hosts: k % 10 == 4 pages live on a
# blocked subdomain.  Cross-snapshot exact duplicates: doc_id % 350 in (0,1)
# rows share one page text per pair ('issue <pair key>'), landing one member
# in the prior snapshot (k % 7 == 0 — every multiple of 350 is) and one in
# the new snapshot.  Mirrored _FUNNEL_PAGE rows (%13==1) are wiped by span
# excision; the universal footer is excised from every page.
_SNAPSHOT_PAGE = (
    "this archive page preserves a complete copy of the weekly bulletin for "
    "long term reference and the editors keep every issue of the bulletin "
    "online so that readers can search the full record of past announcements "
    "and verify the exact wording of any notice that appeared in print "
    "during the year"
)
_CURATE_HTML_PRE = (
    '<html><head><title>Article</title><script type="text/javascript">'
    "var x = 1 < 2;</script><style>.nav{color:red}</style></head><body>"
    '<!-- header --><div class="nav">Home | About</div><p>'
)
_CURATE_HTML_POST = (
    "</p><ul><li>first</li><li>second &amp; third</li></ul></body></html>"
)
_CURATE_RATES = (("head", 1.0), ("middle", 0.5), ("tail", 0.2))
_CURATE_BUDGET = 400


def _curate_pages(docs: DataFrame) -> DataFrame:
    """(k, url, warc_ts, html) capture rows for the snapshot-curation
    fixture — every branch is a doc_id modulus, so the DuckDB oracle
    rebuilds the byte-identical input."""
    k = (
        F.col("doc_id")
        - F.when(F.col("doc_id") % 17 == 3, F.lit(1)).otherwise(F.lit(0))
    ).alias("k")
    body = F.concat(
        F.when(
            (F.col("doc_id") % 350).isin(0, 1) & (F.col("doc_id") >= 350),
            F.concat(
                F.lit(_SNAPSHOT_PAGE + " issue "),
                (F.col("doc_id") - F.col("doc_id") % 350).cast("string"),
            ),
        )
        .when(F.col("doc_id") % 13 == 1, F.lit(_FUNNEL_PAGE))
        .otherwise(F.coalesce(F.col("text"), F.lit(""))),
        F.lit(" " + _FUNNEL_FOOTER),
    )
    kk = F.col("k")
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(kk % 10 == 4, F.lit("ads.SPAM.example.net")).otherwise(
            F.lit("WWW.News.Example.ORG:443")
        ),
        F.lit("/article/"),
        kk.cast("string"),
        F.when(kk % 3 == 0, F.lit("?utm_source=feed"))
        .when(kk % 3 == 1, F.lit("?gclid=abc&ref=1"))
        .otherwise(F.lit("")),
        F.when(kk % 4 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    return docs.select(k, F.col("doc_id"), "text").select(
        "k",
        url.alias("url"),
        F.timestamp_seconds(F.col("doc_id")).alias("warc_ts"),
        F.concat(F.lit(_CURATE_HTML_PRE), body, F.lit(_CURATE_HTML_POST)).alias(
            "html"
        ),
    )


def _curate_cfg():
    from entity_resolution_pipeline_spark.plans.curation import CurationConfig

    return CurationConfig(
        blocked_domains=("spam.example.net",),
        badwords=("dup",),
        bucket_rates=_CURATE_RATES,
        pack_budget_tokens=_CURATE_BUDGET,
    )


def q_snapshot_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed snapshot-curation pipeline END TO END as one plan
    (plans/curation.py — the `main.py --stage curate` chain run in memory):
    WET extraction → latest capture per canonical URL → URL blocklist →
    Gopher gate → badwords → PII redaction → exact-substring span excision →
    exact + fuzzy dedup against the PRIOR snapshot (k % 7 == 0 slice, itself
    run through the same cleaning chain) → CCNet quality buckets →
    deterministic mixture sampling → token-budget packing.  Output: the
    10-row survival funnel, each stage pinned by (doc count, token sum,
    kept-set md5 checksum) — the DuckDB oracle replays the ENTIRE chain."""
    from entity_resolution_pipeline_spark.plans.curation import (
        curate_snapshot_overlapped,
        snapshot_funnel,
    )

    cfg = _curate_cfg()
    pages = _curate_pages(_read(spark, sf_dir, "documents"))
    new_pages = pages.where(F.col("k") % 7 != 0).drop("k")
    prior_pages = pages.where(F.col("k") % 7 == 0).drop("k")
    # The prior snapshot only feeds the dedup stages (funnel=False inside:
    # no flag columns, no latest pin) and is data-independent of the new
    # side until exact_vs_prior — curate_snapshot_overlapped builds it in a
    # background thread so its pins overlap the new side's (identical
    # frames; only job submission order changes).
    frames = curate_snapshot_overlapped(new_pages, prior_pages, cfg)
    return snapshot_funnel(frames)


def q_badword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 bad-word page filter at token granularity (the list here is
    mid-frequency corpus vocabulary so the split is non-trivial at every
    SF).  Shuffle-free: tokenize + array filter per row, all JVM."""
    from entity_resolution_pipeline_spark.operators.webtext import (
        badwords_filter,
    )

    return badwords_filter(
        _read(spark, sf_dir, "documents"),
        words=["slow", "merge", "vector", "spill"],
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table: deterministic
    sign-projection shards, within-shard cosine ≥ 0.30 duplicate groups via
    connected components, keep the member LEAST similar to the shard
    centroid.  τ=0.30 because the synthetic embeddings are near-orthogonal
    (max pairwise cosine ≈ 0.51); production text embeddings use ≥ 0.9.
    Oracle regenerates the identical ±1 plane matrix as a VALUES table and
    replays CC with the recursive-CTE walk."""
    from entity_resolution_pipeline_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        _read(spark, sf_dir, "embeddings"), threshold=0.30, n_planes=4, dim=64
    )


def q_semantic_dedup_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SemDeDup (the r5 cross-bucket-recall remedy): 2
    independent 4-plane SRP tables, per-bucket threshold-edge extraction,
    distributed connected-components union, keep the member least similar
    to the COMPONENT centroid.  Oracle regenerates both plane matrices,
    unions same-bucket pairs across tables, replays CC with the
    recursive-CTE walk, and scores members against per-component average
    vectors (singletons pinned at cent_cos = 1.0, as the operator emits)."""
    from entity_resolution_pipeline_spark.operators.dedup import (
        semantic_dedup_multitable,
    )

    return semantic_dedup_multitable(
        _read(spark, sf_dir, "embeddings"),
        threshold=0.30,
        n_planes=4,
        n_tables=2,
        dim=64,
    )


def q_cluster_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community Newman modularity decomposition of the connected-
    component partition over the jaccard-weighted near-dup graph (G4's
    quality metric as a first-class agg: Q = Σ_c [L_c/m − (d_c/2m)²]).
    Pure hash aggs, no windows.  tests/test_cluster.py also pins the
    decomposition against networkx's modularity."""
    from entity_resolution_pipeline_spark.operators.cluster import (
        connected_components,
        modularity,
    )
    from entity_resolution_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(docs, n=3, threshold=0.12).select(
        F.col("left_id").cast("string").alias("src"),
        F.col("right_id").cast("string").alias("dst"),
        F.col("jaccard").alias("weight"),
    )
    assign = connected_components(edges.select("src", "dst")).select(
        "entity_id", F.col("root").alias("community")
    )
    return modularity(edges, assign, weight_col="weight")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Returned SORTED BY NAME (see the tail of this function): the external
    # correctness driver samples a fixed-size window of registry entries, so
    # any hand-picked ordering would let the builder choose which queries get
    # independently verified.  Alphabetical order is deterministic, not
    # tamper-proof — names are author-chosen, so window membership is still
    # influenceable via naming; the sort removes the ORDERING lever only,
    # and the real guarantee is the full-sweep artifact below.  The queries
    # the window misses on any given run
    # are all covered by the committed full-sweep artifact
    # (CORRECTNESS_FULL_r*.json, every query vs DuckDB via
    # tools/check_correctness.py), regenerated each round after the final
    # source change.
    registry = {
        # --- ER core (north rule) ---
        "exact_dedup_groups": q_exact_dedup_groups,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_pairs": q_simhash_pairs,
        "embedding_neardup": q_embedding_neardup,
        "connected_components_chain": q_connected_components_chain,
        "er_cluster_stats": q_er_cluster_stats,
        "harmonic_product_features": q_harmonic_product_features,
        "levenshtein_pairs": q_levenshtein_pairs,
        "jaro_winkler_pairs": q_jaro_winkler_pairs,
        "normalize_text": q_normalize_text,
        "birth_death_extract": q_birth_death_extract,
        "string_hash_counts": q_string_hash_counts,
        "threshold_sweep": q_threshold_sweep,
        "impute_hotdeck": q_impute_hotdeck,
        "winnow_candidates": q_winnow_candidates,
        # --- ANN / embeddings ---
        "ann_topk": q_ann_topk,
        "srp_ann_topk": q_srp_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "semantic_dedup": q_semantic_dedup,
        # --- webtext curation flagships ---
        "gopher_quality": q_gopher_quality,
        "repetition_metrics": q_repetition_metrics,
        "unigram_logprob": q_unigram_logprob,
        "bigram_logprob": q_bigram_logprob,
        "lm_quality_buckets": q_lm_quality_buckets,
        "quality_classifier": q_quality_classifier,
        "quality_roc": q_quality_roc,
        "html_extract": q_html_extract,
        "clean_corpus": q_clean_corpus,
        "pii_scan": q_pii_scan,
        "badword_filter": q_badword_filter,
        "domain_block_stats": q_domain_block_stats,
        "decontaminate": q_decontaminate,
        "line_dedup": q_line_dedup,
        "remove_dup_spans": q_remove_dup_spans,
        "url_latest_capture": q_url_latest_capture,
        "heavy_hitter_words": q_heavy_hitter_words,
        "domain_mixture_sample": q_domain_mixture_sample,
        "pack_sequences": q_pack_sequences,
        "bpe_token_counts": q_bpe_token_counts,
        "tfidf_top_terms": q_tfidf_top_terms,
        "sessionization": q_sessionization,
        # --- incremental / cross-snapshot dedup ---
        "incremental_dedup": q_incremental_dedup,
        "incremental_fuzzy_dedup": q_incremental_fuzzy_dedup,
        "fuzzy_dedup_corpus": q_fuzzy_dedup_corpus,
        "fuzzy_dedup_keep_best": q_fuzzy_dedup_keep_best,
        # --- composed pipelines + graph quality ---
        "curation_funnel": q_curation_funnel,
        "snapshot_curation": q_snapshot_curation,
        "cluster_modularity": q_cluster_modularity,
        "media_features_by_kind": q_media_features_by_kind,
        # --- TPC-H-style aggregations / joins ---
        "distinct_documents": q_distinct_documents,
        "token_counts": q_token_counts,
        "quality_scores": q_quality_scores,
        "lang_id_counts": q_lang_id_counts,
        "field_stats": q_field_stats,
        "topk_per_group": q_topk_per_group,
        "agg_stats_by_class": q_agg_stats_by_class,
        "anti_join": q_anti_join,
        "revenue_per_nation": q_revenue_per_nation,
        "cluster_size_buckets": q_cluster_size_buckets,
        "session_deltas": q_session_deltas,
        "hourly_rollup": q_hourly_rollup,
        "impute_knn_average": q_impute_knn_average,
        "impute_knn_weighted": q_impute_knn_weighted,
        "revenue_rollup": q_revenue_rollup,
        "supplier_rank_in_nation": q_supplier_rank_in_nation,
        "repeat_customer_intersect": q_repeat_customer_intersect,
        "order_priority_pivot": q_order_priority_pivot,
        "doc_length_quantiles": q_doc_length_quantiles,
        "top_unshipped_orders": q_top_unshipped_orders,
        "bigram_counts": q_bigram_counts,
        "json_props_stats": q_json_props_stats,
        "semantic_dedup_multitable": q_semantic_dedup_multitable,
    }
    return dict(sorted(registry.items()))


# ----------------------------------------------------- oracle SQL generators
#
# The r2 oracles below REGENERATE algorithm parameters (hash polynomials,
# regex cascades, language profiles) from the same Python constants the
# operators use, so the Spark implementation and its DuckDB check can never
# silently drift apart.


def _stopwords_sql() -> str:
    """DuckDB list literal of the SAME stopword tuple gopher_quality uses —
    regenerated from the source constant so the two engines can't drift."""
    from entity_resolution_pipeline_spark.functions.text_analysis import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


_STOPWORDS_SQL = _stopwords_sql()


def _pii_scan_sql(table: str = "documents") -> str:
    """DuckDB equivalent of q_pii_scan, REGENERATED from the same
    PII_PATTERNS dict (patterns are RE2/Java-identical by construction:
    no lookaround, no backreferences).  Parameterized on the table name so
    tests can run it against PII-positive crafted data."""
    from entity_resolution_pipeline_spark.operators.webtext import PII_PATTERNS

    red = "text"
    for pat, repl in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    counts = ",\n                   ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{kind}"
        for kind, (pat, _) in PII_PATTERNS.items()
    )
    total = " + ".join(f"n_{k}" for k in PII_PATTERNS)
    return f"""
            WITH m AS (SELECT source, text,
                   {counts},
                   {red} AS red
                   FROM {table})
            SELECT source, count(*) AS n_docs,
                   CAST(sum(CASE WHEN {total} > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS docs_with_pii,
                   CAST(sum(n_email) AS BIGINT) AS n_emails,
                   CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
                   CAST(sum(n_phone) AS BIGINT) AS n_phones,
                   CAST(sum(CASE WHEN red != text THEN 1 ELSE 0 END) AS BIGINT)
                       AS docs_changed
            FROM m GROUP BY 1
        """


def _fuzzy_cc_cte() -> str:
    """Shared WITH RECURSIVE prefix for the fuzzy-dedup oracles: exact
    5-byte-shingle Jaccard pairs at 0.5 (the LSH config's exact ground
    truth at this threshold) + transitive closure -> comp(id, root)."""
    return f"""
            WITH RECURSIVE
            s AS (SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents),
            sh AS (SELECT DISTINCT doc_id, {_poly_terms_sql(5)} AS h
                   FROM s, unnest(generate_series(1, length(s)-4)) t(i)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            common AS (SELECT a.doc_id l, b.doc_id r, count(*) c
                       FROM sh a JOIN sh b USING (h)
                       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            pairs AS (SELECT CAST(l AS VARCHAR) a, CAST(r AS VARCHAR) b
                      FROM common JOIN sizes sa ON sa.doc_id = l
                                  JOIN sizes sb ON sb.doc_id = r
                      WHERE c / (sa.sz + sb.sz - c) >= 0.5),
            edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
            walk(id, reach) AS (
              SELECT a, a FROM (SELECT DISTINCT a FROM edges)
              UNION
              SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach),
            comp AS (SELECT id, min(reach) AS root FROM walk GROUP BY id)
    """


def _poly_terms_sql(k: int) -> str:
    """DuckDB expression for the polynomial rolling hash of the k-char
    window starting at position i of column `s` — the same hash
    minhash.shingle_set / text_analysis._poly_hashes compute (byte == char
    on this ASCII corpus)."""
    from entity_resolution_pipeline_spark.functions.minhash import _MERSENNE_P, _pows

    pw = _pows(k)
    terms = " + ".join(
        f"ord(substr(s,i+{j},1))::BIGINT*{int(pw[j])}" for j in range(k)
    )
    return f"({terms}) % {_MERSENNE_P}"


def _bd_cascade_sql(which: str) -> str:
    """DuckDB CASE cascade replaying functions/birth_death.py's first-match-
    wins 15-pattern extraction (incl. the reference's keyword-disambiguation
    quirks) over a `person` column.  `which` is 'birth' or 'death'."""
    import re as _re

    from entity_resolution_pipeline_spark.functions.birth_death import _PATTERN_SPECS

    def clean(tok: str) -> str:
        return f"NULLIF(TRY_CAST(regexp_extract({tok}, '[0-9]+') AS INT), 0)"

    branches = []
    for p in _PATTERN_SPECS:
        pat = p.replace("'", "''")
        ng = _re.compile(p).groups
        g1 = f"regexp_extract(person, '{pat}', 1)"
        disamb_birth = (
            f"CASE WHEN contains(lower(person),'born') OR contains(lower(person),'b.') THEN {clean(g1)} "
            f"WHEN contains(lower(person),'died') OR contains(lower(person),'d.') OR contains(person,'-') THEN NULL "
            f"WHEN contains(lower(person),'fl.') OR contains(lower(person),'floruit') THEN {clean(g1)} "
            f"ELSE NULL END"
        )
        disamb_death = (
            f"CASE WHEN contains(lower(person),'born') OR contains(lower(person),'b.') THEN NULL "
            f"WHEN contains(lower(person),'died') OR contains(lower(person),'d.') OR contains(person,'-') THEN {clean(g1)} "
            f"ELSE NULL END"
        )
        if ng >= 2:
            g2 = f"regexp_extract(person, '{pat}', 2)"
            res_b = f"CASE WHEN {g1} <> '' AND {g2} <> '' THEN {clean(g1)} ELSE {disamb_birth} END"
            res_d = f"CASE WHEN {g1} <> '' AND {g2} <> '' THEN {clean(g2)} ELSE {disamb_death} END"
        else:
            res_b, res_d = disamb_birth, disamb_death
        res = res_b if which == "birth" else res_d
        branches.append(f"WHEN regexp_matches(person, '{pat}') THEN {res}")
    return "CASE " + " ".join(branches) + " ELSE NULL END"


def _langid_profile_values_sql() -> str:
    """(trigram, lang, weight) VALUES rows generated from the SAME profiles
    and integer rank weights make_langid_udf uses."""
    from entity_resolution_pipeline_spark.functions.text_analysis import _LANG_PROFILES

    rows = []
    for lang in sorted(_LANG_PROFILES):
        prof = _LANG_PROFILES[lang]
        for i, t in enumerate(prof):
            rows.append(f"('{t}', '{lang}', {len(prof) - i})")
    return ", ".join(rows)


_IMPUTE_KNN_SQL = """
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id % 10 = 0),
d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings WHERE vec_id % 10 <> 0),
scored AS (SELECT t.vec_id AS record_id, d.vec_id AS donor_id, d.label, d.v AS dv,
                  list_cosine_similarity(t.v, d.v) AS cosine FROM t, d),
cand AS (SELECT * FROM (
           SELECT record_id, donor_id, label, dv, cosine,
                  row_number() OVER (PARTITION BY record_id
                                     ORDER BY cosine DESC, donor_id) AS rn
           FROM scored WHERE cosine >= 0.30) WHERE rn <= 10)
"""


def _impute_agg_sql(weight_expr: str) -> str:
    return (
        _IMPUTE_KNN_SQL
        + f""",
pos AS (SELECT record_id, cosine, generate_subscripts(dv, 1) AS i, unnest(dv) AS x FROM cand),
perpos AS (SELECT record_id, i, sum(x * ({weight_expr})) / sum({weight_expr}) AS v
           FROM pos GROUP BY 1, 2),
agg AS (SELECT record_id, round(avg(v), 6) AS vec_mean,
               round(sqrt(sum(v * v)), 6) AS vec_norm
        FROM perpos GROUP BY 1),
nd AS (SELECT record_id, count(*) AS n_donors FROM cand GROUP BY 1)
SELECT record_id, CAST(n_donors AS BIGINT) AS n_donors, vec_mean, vec_norm
FROM agg JOIN nd USING (record_id)
"""
    )


def _curate_slice_sql(p: str, pred: str) -> str:
    """CTE block replaying plans/curation.py's latest→blocklist→gopher→
    badwords→redact→span-excision chain over one snapshot slice of the
    shared `ext` capture table (prefix `p` namespaces the CTEs).  Every
    piece is the proven per-operator oracle: latest_capture (arg_max),
    host_of (regexp chain), gopher/badwords (curation_funnel), redact_pii
    (PII_PATTERNS replay), remove_dup_spans (gram-hash count + semi-join
    coverage)."""
    from entity_resolution_pipeline_spark.operators.webtext import PII_PATTERNS

    red = "text"
    for pat, repl in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    toks = (
        "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
        "ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END"
    )
    return f"""
    {p}lat AS (SELECT curl AS doc_id, count(*) AS n_captures,
                      arg_max(text, seq) AS text, arg_max(url, seq) AS url
               FROM ext WHERE {pred} GROUP BY 1),
    {p}hst AS (SELECT *, regexp_replace(regexp_replace(regexp_replace(
                   regexp_extract(lower(url), '^[a-z][a-z0-9+.\\-]*://([^/?#]+)', 1),
                   '^[^@]*@', '', 'g'), ':\\d+$', '', 'g'), '^www\\.', '', 'g')
                   AS host
               FROM {p}lat),
    {p}blk AS (SELECT doc_id, url, text FROM {p}hst
               WHERE NOT (host = 'spam.example.net'
                          OR host LIKE '%.spam.example.net')),
    {p}m AS (SELECT doc_id, url, text, toks, len(toks) AS n,
                    coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
                        AS sum_len,
                    len(list_filter(toks, w -> list_contains({_STOPWORDS_SQL}, w)))
                        AS n_stop,
                    len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
                        AS n_alpha,
                    len(list_filter(toks, x -> x IN ('dup'))) AS n_bad
             FROM (SELECT doc_id, url, text, {toks} AS toks FROM {p}blk)),
    {p}gop AS (SELECT doc_id, url, text, n, n_bad FROM {p}m
               WHERE n BETWEEN 50 AND 100000
                 AND sum_len / greatest(n, 1)
                     BETWEEN 3.0::DOUBLE AND 10.0::DOUBLE
                 AND n_stop >= 2
                 AND n_alpha / greatest(n, 1) >= 0.8::DOUBLE),
    {p}qual AS (SELECT doc_id, url, {red} AS text
                FROM {p}gop WHERE n_bad = 0),
    {p}b3 AS (SELECT doc_id, toks, len(toks) AS n
              FROM (SELECT doc_id, {toks} AS toks FROM {p}qual)),
    {p}g AS (SELECT doc_id, CAST(pos AS INT) AS pos,
                    substr(md5(array_to_string(toks[pos : pos + 7], ' ')), 1, 16)
                        AS h
             FROM (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS pos
                   FROM {p}b3 WHERE n >= 8)),
    {p}d AS (SELECT h FROM {p}g GROUP BY h HAVING count(*) >= 2),
    {p}cov AS (SELECT DISTINCT g.doc_id, g.pos + o.o AS pp
               FROM {p}g g JOIN {p}d USING (h), range(0, 8) o(o)),
    {p}px AS (SELECT doc_id, unnest(toks) AS tok,
                     generate_subscripts(toks, 1) AS pp
              FROM {p}b3),
    {p}clean AS (SELECT px.doc_id, q.url, count(*) AS n_kept,
                        string_agg(px.tok, ' ' ORDER BY px.pp) AS clean_text
                 FROM {p}px px
                 LEFT JOIN {p}cov cov
                   ON cov.doc_id = px.doc_id AND cov.pp = px.pp
                 JOIN {p}qual q ON q.doc_id = px.doc_id
                 WHERE cov.doc_id IS NULL
                 GROUP BY 1, 2)"""


def _snapshot_curation_sql() -> str:
    """Full-chain DuckDB replay of q_snapshot_curation: page synthesis,
    WET extraction, the cleaning chain on BOTH snapshot slices, exact +
    fuzzy cross-snapshot dedup, quality buckets, mixture sampling and
    packing — emitting the same 10 pinned funnel rows."""
    h32 = "('0x' || substr(md5({c}), 1, 8))::BIGINT"
    ntok = (
        "CASE WHEN length(trim({c})) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim({c}), '\\s+')) END"
    )
    rate_case = " ".join(
        f"WHEN '{b}' THEN {r!r}::DOUBLE" for b, r in _CURATE_RATES
    )
    fp = "md5(lower(trim(regexp_replace({c}, '\\s+', ' ', 'g'))))"

    def funnel(i, name, frame, tok_expr, id_expr):
        return f"""
            SELECT {i} AS stage, '{name}' AS stage_name,
                   count(*) AS n_docs,
                   CAST(coalesce(sum({tok_expr}), 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(sum({h32.format(c=id_expr)}), 0) AS BIGINT)
                       AS id_checksum
            FROM {frame}"""

    body_sql = f"""
          CASE WHEN doc_id % 350 IN (0, 1) AND doc_id >= 350
               THEN '{_SNAPSHOT_PAGE} issue ' ||
                    CAST(doc_id - doc_id % 350 AS VARCHAR)
               WHEN doc_id % 13 = 1 THEN '{_FUNNEL_PAGE}'
               ELSE coalesce(text, '') END || ' {_FUNNEL_FOOTER}'"""
    url_sql = """
          'HTTPS://' || CASE WHEN k % 10 = 4 THEN 'ads.SPAM.example.net'
                             ELSE 'WWW.News.Example.ORG:443' END
          || '/article/' || CAST(k AS VARCHAR)
          || CASE k % 3 WHEN 0 THEN '?utm_source=feed'
                        WHEN 1 THEN '?gclid=abc&ref=1' ELSE '' END
          || CASE WHEN k % 4 = 0 THEN '#top' ELSE '' END"""
    pre = _CURATE_HTML_PRE.replace("'", "''")
    post = _CURATE_HTML_POST.replace("'", "''")
    return f"""
    WITH base AS (SELECT doc_id,
                    doc_id - CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END AS k,
                    {body_sql} AS body
                  FROM documents),
    pages AS (SELECT doc_id AS seq, k, {url_sql} AS url,
                     '{pre}' || body || '{post}' AS html
              FROM base),
    s1 AS (SELECT seq, k, url,
             regexp_replace(regexp_replace(regexp_replace(coalesce(html, ''),
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g') AS s FROM pages),
    s2 AS (SELECT seq, k, url,
             regexp_replace(regexp_replace(s,
               '(?i)<(br|/p|/div|/li|/tr|/h[1-6])[^>]*>', chr(10), 'g'),
               '(?s)<[^>]*>', ' ', 'g') AS s FROM s1),
    s3 AS (SELECT seq, k, url,
             replace(replace(replace(replace(replace(replace(s,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS s FROM s2),
    s4 AS (SELECT seq, k, url,
             regexp_replace(regexp_replace(regexp_replace(s,
               '[ \t]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'),
               '\n{{3,}}', chr(10) || chr(10), 'g') AS s FROM s3),
    ext AS (SELECT seq, k, url,
                   trim(s, ' ' || chr(10) || chr(9)) AS text,
                   regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(
                       replace(replace(replace(lower(url),
                         ':443/', '/'), ':80/', '/'), '://www.', '://'),
                       '#.*', ''),
                     '[?&](utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
                     '^([^?]*)&', '\\1?'), '(.)/$', '\\1') AS curl
            FROM s4),
    {_curate_slice_sql("p_", "k % 7 = 0")},
    {_curate_slice_sql("n_", "k % 7 != 0")},
    pfp AS (SELECT DISTINCT {fp.format(c="clean_text")} AS f FROM p_clean),
    nex AS (SELECT c.* FROM n_clean c
            WHERE {fp.format(c="c.clean_text")} NOT IN (SELECT f FROM pfp)),
    nss AS (SELECT doc_id, ' ' || lower(clean_text) || ' ' AS s FROM nex),
    pss AS (SELECT doc_id, ' ' || lower(clean_text) || ' ' AS s FROM p_clean),
    nsh AS (SELECT DISTINCT doc_id, {_poly_terms_sql(5)} AS h
            FROM nss, unnest(generate_series(1, length(s)-4)) t(i)),
    psh AS (SELECT DISTINCT doc_id, {_poly_terms_sql(5)} AS h
            FROM pss, unnest(generate_series(1, length(s)-4)) t(i)),
    nsz AS (SELECT doc_id, count(*) AS sz FROM nsh GROUP BY 1),
    psz AS (SELECT doc_id, count(*) AS sz FROM psh GROUP BY 1),
    xc AS (SELECT a.doc_id AS l, b.doc_id AS r, count(*) AS c
           FROM nsh a JOIN psh b USING (h) GROUP BY 1, 2),
    xm AS (SELECT DISTINCT l FROM xc
           JOIN nsz ON nsz.doc_id = l JOIN psz ON psz.doc_id = r
           WHERE c / (nsz.sz + psz.sz - c) >= 0.5),
    nfz AS (SELECT * FROM nex WHERE doc_id NOT IN (SELECT l FROM xm)),
    nw AS (SELECT doc_id,
                  unnest(regexp_split_to_array(clean_text, '\\s+')) AS w
           FROM nfz),
    nf AS (SELECT w, count(*) AS c FROM nw GROUP BY 1),
    ntot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM nf),
    np AS (SELECT w, ln(c / tot) AS lp FROM nf CROSS JOIN ntot),
    nsc AS (SELECT doc_id, round(avg(lp), 6) AS avg_logprob
            FROM nw JOIN np USING (w) GROUP BY 1),
    nth AS (SELECT quantile_cont(avg_logprob,
              [{(1 / 3)!r}::DOUBLE, {(2 / 3)!r}::DOUBLE]) AS th FROM nsc),
    nbk AS (SELECT doc_id,
                   CASE WHEN avg_logprob < th[1] THEN 'tail'
                        WHEN avg_logprob < th[2] THEN 'middle'
                        ELSE 'head' END AS bucket
            FROM nsc CROSS JOIN nth),
    nsamp AS (SELECT f.doc_id, f.n_kept, b.bucket
              FROM nfz f JOIN nbk b USING (doc_id)
              WHERE {h32.format(c="f.doc_id")} / 4294967296.0
                    < CASE b.bucket {rate_case} ELSE 1.0::DOUBLE END),
    nchunk AS (SELECT bucket, doc_id, n_kept,
                      CAST(floor((sum(n_kept) OVER (
                             PARTITION BY bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_kept) / {float(_CURATE_BUDGET)!r}) AS BIGINT)
                          AS chunk_id
               FROM nsamp),
    npack AS (SELECT bucket, chunk_id, count(*) AS n_docs,
                     CAST(sum(n_kept) AS BIGINT) AS chunk_tokens
              FROM nchunk GROUP BY 1, 2)
    {funnel(0, "extracted", "(SELECT url, text FROM ext WHERE k % 7 != 0)",
            ntok.format(c="text"), "url")}
    UNION ALL {funnel(1, "latest", "n_lat", ntok.format(c="text"), "doc_id")}
    UNION ALL {funnel(2, "blocklist", "n_blk", ntok.format(c="text"), "doc_id")}
    UNION ALL {funnel(3, "gopher", "n_gop", ntok.format(c="text"), "doc_id")}
    UNION ALL {funnel(4, "quality", "n_qual", ntok.format(c="text"), "doc_id")}
    UNION ALL {funnel(5, "span_dedup", "n_clean", "n_kept", "doc_id")}
    UNION ALL {funnel(6, "exact_vs_prior", "nex", "n_kept", "doc_id")}
    UNION ALL {funnel(7, "fuzzy_vs_prior", "nfz", "n_kept", "doc_id")}
    UNION ALL {funnel(8, "sampled", "nsamp", "n_kept", "doc_id")}
    UNION ALL
    SELECT 9 AS stage, 'packed' AS stage_name, count(*) AS n_docs,
           CAST(coalesce(sum(chunk_tokens), 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(sum((chunk_id + 1) * n_docs), 0) AS BIGINT)
               AS id_checksum
    FROM npack
    """


def _semantic_dedup_sql(
    threshold: float = 0.30, n_planes: int = 4, dim: int = 64
) -> str:
    """Full value-level SemDeDup replay: the ±1 plane matrix is regenerated
    by the SAME rademacher_planes call the operator uses (engine-portable
    parameters, the _quality_classifier_sql pattern), buckets/centroids/
    pairs recomputed in SQL, components via the recursive-CTE walk, and the
    keep-least-central representative via row_number.

    Residual parity risk (accepted, ADVICE r3): the engine's expr path
    computes the plane dot as 2·Σ_{S}v[i] − Σv[i] while this oracle uses
    list_inner_product — both round to 6 dp before the sign test, so a
    bucket can differ between engine and oracle only when a plane dot lies
    within fp-noise (~1e-13 for O(1) operands) of an exact multiple of
    1e-6.  The one place the value-level oracle is probabilistic rather
    than exact; never observed on the fixtures."""
    from entity_resolution_pipeline_spark.operators.dedup import rademacher_planes

    planes = rademacher_planes(dim, n_planes)
    vals = ", ".join(
        "({}, [{}]::DOUBLE[])".format(j, ", ".join(repr(s) for s in p))
        for j, p in enumerate(planes)
    )
    return f"""
    WITH RECURSIVE planes(j, s) AS (VALUES {vals}),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    bits AS (SELECT vec_id, j,
                    CASE WHEN round(list_inner_product(v, s), 6) >= 0
                         THEN '1' ELSE '0' END AS b
             FROM emb, planes),
    bk AS (SELECT vec_id, string_agg(b, '' ORDER BY j) AS bucket
           FROM bits GROUP BY 1),
    bv AS (SELECT bk.vec_id, bucket, v FROM bk JOIN emb USING (vec_id)),
    cent AS (SELECT bucket, i, avg(v[i]) AS m
             FROM bv, unnest(generate_series(1, len(v))) t(i)
             GROUP BY 1, 2),
    cvecs AS (SELECT bucket, list(m ORDER BY i) AS cvec FROM cent GROUP BY 1),
    scored AS (SELECT vec_id, bucket, v,
                      round(list_cosine_similarity(v, cvec), 6) AS cent_cos
               FROM bv JOIN cvecs USING (bucket)),
    prs AS (SELECT a.vec_id AS l, b.vec_id AS r
            FROM scored a JOIN scored b USING (bucket)
            WHERE a.vec_id < b.vec_id
              AND round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}),
    edges AS (SELECT CAST(l AS VARCHAR) a, CAST(r AS VARCHAR) b FROM prs
              UNION SELECT CAST(r AS VARCHAR), CAST(l AS VARCHAR) FROM prs),
    walk(id, reach) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach),
    comp AS (SELECT id, min(reach) AS root FROM walk GROUP BY id),
    g AS (SELECT s.vec_id, s.bucket, s.cent_cos,
                 coalesce(c.root, CAST(s.vec_id AS VARCHAR)) AS root
          FROM scored s LEFT JOIN comp c ON c.id = CAST(s.vec_id AS VARCHAR)),
    reps AS (SELECT root, vec_id AS rep FROM (
               SELECT root, vec_id,
                      row_number() OVER (PARTITION BY root
                                         ORDER BY cent_cos, vec_id) AS rn
               FROM g) WHERE rn = 1)
    SELECT g.vec_id, g.bucket, g.root, g.cent_cos,
           CAST(CASE WHEN g.vec_id = reps.rep THEN 1 ELSE 0 END AS INT) AS kept
    FROM g JOIN reps USING (root)
    """


def _semantic_dedup_multitable_sql(
    threshold: float = 0.30, n_planes: int = 4, n_tables: int = 2, dim: int = 64
) -> str:
    """Value-level replay of semantic_dedup_multitable: BOTH plane matrices
    regenerated from the operator's own rademacher_planes seeds, same-bucket
    pairs unioned across tables, components via the recursive-CTE walk,
    per-COMPONENT centroids (not per-bucket — the multitable difference),
    singletons at literal cent_cos 1.0, keep-least-central by
    (cent_cos, vec_id).  Same residual fp-boundary caveat as
    _semantic_dedup_sql."""
    from entity_resolution_pipeline_spark.operators.dedup import rademacher_planes

    vals = ", ".join(
        "({}, {}, [{}]::DOUBLE[])".format(t, j, ", ".join(repr(s) for s in p))
        for t in range(n_tables)
        for j, p in enumerate(rademacher_planes(dim, n_planes, f"semdedup:t{t}"))
    )
    return f"""
    WITH RECURSIVE planes(tb, j, s) AS (VALUES {vals}),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
    bits AS (SELECT vec_id, tb, j,
                    CASE WHEN round(list_inner_product(v, s), 6) >= 0
                         THEN '1' ELSE '0' END AS b
             FROM emb, planes),
    bk AS (SELECT vec_id, tb,
                  't' || tb || ':' || string_agg(b, '' ORDER BY j) AS bucket
           FROM bits GROUP BY 1, 2),
    bv AS (SELECT bk.vec_id, bucket, v FROM bk JOIN emb USING (vec_id)),
    prs AS (SELECT DISTINCT a.vec_id AS l, b.vec_id AS r
            FROM bv a JOIN bv b USING (bucket)
            WHERE a.vec_id < b.vec_id
              AND round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}),
    edges AS (SELECT CAST(l AS VARCHAR) a, CAST(r AS VARCHAR) b FROM prs
              UNION SELECT CAST(r AS VARCHAR), CAST(l AS VARCHAR) FROM prs),
    walk(id, reach) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach),
    comp AS (SELECT id, min(reach) AS root FROM walk GROUP BY id),
    g AS (SELECT e.vec_id, e.v,
                 coalesce(c.root, CAST(e.vec_id AS VARCHAR)) AS root
          FROM emb e LEFT JOIN comp c ON c.id = CAST(e.vec_id AS VARCHAR)),
    sizes AS (SELECT root, count(*) AS n FROM g GROUP BY 1),
    cent AS (SELECT root, i, avg(v[i]) AS m
             FROM g, unnest(generate_series(1, len(v))) t(i)
             GROUP BY 1, 2),
    cvecs AS (SELECT root, list(m ORDER BY i) AS cvec FROM cent GROUP BY 1),
    scored AS (SELECT g.vec_id, g.root,
                      CASE WHEN sizes.n = 1 THEN 1.0
                           ELSE round(list_cosine_similarity(g.v, cvec), 6)
                      END AS cent_cos
               FROM g JOIN cvecs USING (root) JOIN sizes USING (root)),
    reps AS (SELECT root, vec_id AS rep FROM (
               SELECT root, vec_id,
                      row_number() OVER (PARTITION BY root
                                         ORDER BY cent_cos, vec_id) AS rn
               FROM scored) WHERE rn = 1)
    SELECT scored.vec_id, scored.root, scored.cent_cos,
           CAST(CASE WHEN scored.vec_id = reps.rep THEN 1 ELSE 0 END AS INT)
               AS kept
    FROM scored JOIN reps USING (root)
    """


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dedup_groups": f"""
            SELECT {_FINGERPRINT_SQL} AS fingerprint,
                   min(doc_id) AS canonical_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "distinct_documents": f"""
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM documents d
            JOIN (SELECT min(doc_id) AS doc_id FROM documents
                  GROUP BY {_FINGERPRINT_SQL}) k USING (doc_id)
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
            FROM documents
        """,
        "quality_scores": rf"""
            WITH base AS (
              SELECT doc_id, text, trim(text) AS t,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
              FROM documents)
            SELECT doc_id,
                   length(text) AS n_chars,
                   n_tokens,
                   round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                         / greatest(length(text), 1), 6) AS alpha_ratio,
                   round(len(list_filter(regexp_split_to_array(t, '\s+'),
                                         x -> list_contains({_STOPWORDS_SQL}, lower(x))))
                         / greatest(n_tokens, 1), 6) AS stopword_ratio,
                   round((length(t) - n_tokens + 1) / greatest(n_tokens, 1), 6) AS mean_token_len
            FROM base
        """,
        "ngram_jaccard_pairs": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents),
            pos AS (
              SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
            sh AS (
              SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
              FROM pos WHERE i + 2 <= len(t)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            common AS (
              SELECT a.doc_id AS l, b.doc_id AS r, count(*) AS c
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT l AS left_id, r AS right_id,
                   round(c / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = l
            JOIN sizes sb ON sb.doc_id = r
            WHERE c / (sa.sz + sb.sz - c) >= 0.12
        """,
        "embedding_neardup": """
            SELECT a.vec_id AS left_id, b.vec_id AS right_id,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
            scored AS (
              SELECT qid, nid,
                     round(list_cosine_similarity(qv, cv), 6) AS cosine
              FROM q, c WHERE qid != nid)
            SELECT qid AS query_id, nid AS neighbor_id, cosine, rank FROM (
              SELECT qid, nid, cosine,
                     row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "field_stats": """
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT text) AS n_distinct_texts,
                   round(avg(n_chars), 6) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "topk_per_group": """
            SELECT event_type, event_id, round(value, 6) AS value, rank FROM (
              SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id) AS rank
              FROM events) WHERE rank <= 5
        """,
        "agg_stats_by_class": """
            SELECT event_type, count(*) AS n,
                   round(avg(value), 6) AS mean_value,
                   round(quantile_cont(value, 0.5), 6) AS median_value,
                   round(min(value), 6) AS min_value,
                   round(max(value), 6) AS max_value,
                   round(stddev_samp(value), 6) AS std_value
            FROM events GROUP BY event_type
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "revenue_per_nation": """
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                            (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                        AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "cluster_size_buckets": """
            WITH per_user AS (SELECT user_id, count(*) AS size FROM events GROUP BY 1)
            SELECT CASE WHEN size = 1 THEN '1' WHEN size = 2 THEN '2'
                        WHEN size <= 5 THEN '3-5' WHEN size <= 10 THEN '6-10'
                        WHEN size <= 20 THEN '11-20' ELSE '21+' END AS size_bucket,
                   count(*) AS num_clusters, CAST(sum(size) AS BIGINT) AS num_entities
            FROM per_user GROUP BY 1
        """,
        "connected_components_chain": """
            WITH multi AS (SELECT lang FROM documents GROUP BY lang HAVING count(*) >= 2)
            SELECT CAST(doc_id AS VARCHAR) AS entity_id,
                   (SELECT min(CAST(d2.doc_id AS VARCHAR)) FROM documents d2
                    WHERE d2.lang = d.lang) AS root
            FROM documents d WHERE lang IN (SELECT lang FROM multi)
        """,
        "harmonic_product_features": """
            SELECT l_orderkey, l_linenumber,
                   round(CASE WHEN l_discount > 0 AND l_tax > 0
                              THEN 2 * l_discount * l_tax / (l_discount + l_tax)
                              ELSE 0.0 END, 6) AS harmonic,
                   round(l_discount * l_tax, 6) AS product,
                   round(CASE WHEN l_tax > 0
                              THEN 2 / (1 + exp(-l_discount / l_tax)) - 1
                              ELSE 0.0 END, 6) AS ratio
            FROM lineitem WHERE l_orderkey % 20 = 0
        """,
        "levenshtein_pairs": """
            SELECT a.p_partkey AS left_key, b.p_partkey AS right_key,
                   round(1.0 - levenshtein(a.p_name, b.p_name)
                         / greatest(length(a.p_name), length(b.p_name)), 6) AS lev_sim
            FROM part a JOIN part b ON a.p_brand = b.p_brand
            WHERE a.p_partkey < 150 AND b.p_partkey < 150
              AND a.p_partkey < b.p_partkey
        """,
        "jaro_winkler_pairs": """
            SELECT a.p_partkey AS left_key, b.p_partkey AS right_key,
                   round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw_sim
            FROM part a JOIN part b ON a.p_brand = b.p_brand
            WHERE a.p_partkey < 150 AND b.p_partkey < 150
              AND a.p_partkey < b.p_partkey
        """,
        "normalize_text": r"""
            SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS text_norm
            FROM documents
        """,
        "session_deltas": """
            SELECT user_id, event_id, gap_micros FROM (
              SELECT user_id, event_id,
                     epoch_us(ts) - epoch_us(lag(ts) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_micros
              FROM events) WHERE gap_micros IS NOT NULL
        """,
        "hourly_rollup": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "revenue_rollup": """
            SELECT n_name, o_year,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                            (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                        AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM (SELECT n_name, year(o_orderdate) AS o_year,
                         l_extendedprice, l_discount
                  FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey)
            GROUP BY ROLLUP (n_name, o_year)
        """,
        "supplier_rank_in_nation": """
            WITH per_supp AS (
              SELECT n_name, s_suppkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                         (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev_d
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              GROUP BY 1, 2)
            SELECT n_name, s_suppkey, CAST(rev_d AS DOUBLE) AS revenue, rnk FROM (
              SELECT n_name, s_suppkey, rev_d,
                     dense_rank() OVER (PARTITION BY n_name
                                        ORDER BY rev_d DESC, s_suppkey) AS rnk
              FROM per_supp) WHERE rnk <= 3
        """,
        "repeat_customer_intersect": """
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
            INTERSECT
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        """,
        "order_priority_pivot": """
            SELECT o_orderstatus,
                   sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS p1,
                   sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS p2,
                   sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS p3,
                   sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS p4,
                   sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS p5
            FROM orders GROUP BY o_orderstatus
        """,
        "string_hash_counts": """
            SELECT md5(text) AS hash, count(*) AS n FROM documents GROUP BY 1
        """,
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                        x -> x <> '')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
            n AS (SELECT count(*) AS n FROM documents),
            scored AS (
              SELECT doc_id, term, round(tf * ln(n.n / dfreq.df), 6) AS tfidf
              FROM tf JOIN dfreq USING (term) CROSS JOIN n),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, term ASC) AS rk
              FROM scored)
            SELECT doc_id, term, tfidf FROM ranked WHERE rk <= 3
        """,
        "doc_length_quantiles": """
            SELECT lang, count(*) AS n_docs,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50,
                   round(quantile_cont(n_chars, 0.9), 6) AS p90,
                   round(quantile_cont(n_chars, 0.99), 6) AS p99
            FROM documents GROUP BY lang
        """,
        "sessionization": """
            WITH flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, ts,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS session_idx
              FROM flagged)
            SELECT user_id, session_idx,
                   count(*) AS n_events,
                   min(ts) AS session_start,
                   max(ts) AS session_end
            FROM sess GROUP BY 1, 2
        """,
        "top_unshipped_orders": """
            SELECT l.l_orderkey, o.o_orderdate,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1997-06-01'
              AND l.l_shipdate > TIMESTAMP '1997-06-01'
            GROUP BY 1, 2
            ORDER BY revenue DESC, l.l_orderkey ASC
            LIMIT 10
        """,
        "clean_corpus": rf"""
            WITH scored AS (
              SELECT doc_id, {_FINGERPRINT_SQL} AS fp,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
                     round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           / greatest(length(text), 1), 6) AS alpha_ratio,
                     text, trim(text) AS t
              FROM documents),
            passed AS (
              SELECT doc_id, fp, n_tokens, alpha_ratio,
                     round(len(list_filter(regexp_split_to_array(t, '\s+'),
                                           x -> list_contains({_STOPWORDS_SQL}, lower(x))))
                           / greatest(n_tokens, 1), 6) AS stopword_ratio
              FROM scored
              WHERE n_tokens BETWEEN 10 AND 1000 AND alpha_ratio >= 0.5),
            keep AS (SELECT min(doc_id) AS doc_id FROM passed GROUP BY fp)
            SELECT p.doc_id, p.n_tokens, p.alpha_ratio, p.stopword_ratio
            FROM passed p JOIN keep USING (doc_id)
        """,
        "json_props_stats": """
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS DOUBLE) AS sum_k,
                   round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS avg_k,
                   min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type
        """,
        "bigram_counts": """
            WITH toks AS (
              SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS t
              FROM documents),
            bg AS (
              SELECT unnest(list_transform(range(1, len(t)),
                                           i -> t[i] || ' ' || t[i + 1])) AS bigram
              FROM toks WHERE len(t) >= 2)
            SELECT bigram, count(*) AS n FROM bg
            GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 100
        """,
        "bpe_token_counts": f"""
            SELECT doc_id,
                   len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS n_bpe_tokens,
                   len(list_distinct(regexp_extract_all(lower(text), '{_BPE_PATTERN}')))
                       AS n_distinct_bpe_tokens
            FROM documents
        """,
        # ---------------- r2: formerly rows-only, now value-level oracles
        "lang_id_counts": f"""
            WITH prof(tri, lang, w) AS (VALUES {_langid_profile_values_sql()}),
            s AS (SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents),
            tg AS (SELECT doc_id, substr(s, i, 3) AS tri
                   FROM s, unnest(generate_series(1, length(s)-2)) t(i)),
            scores AS (SELECT doc_id, lang, sum(w) AS score
                       FROM tg JOIN prof USING (tri) GROUP BY 1, 2),
            best AS (SELECT doc_id, lang FROM (
                       SELECT doc_id, lang,
                              row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY score DESC, lang ASC) rn
                       FROM scores) WHERE rn = 1),
            pred AS (SELECT d.doc_id, coalesce(b.lang, 'und') AS lang_pred
                     FROM documents d LEFT JOIN best b USING (doc_id))
            SELECT lang_pred, count(*) AS n_docs FROM pred GROUP BY 1
        """,
        "minhash_lsh_pairs": f"""
            WITH s AS (SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents),
            sh AS (SELECT DISTINCT doc_id, {_poly_terms_sql(5)} AS h
                   FROM s, unnest(generate_series(1, length(s)-4)) t(i)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            common AS (SELECT a.doc_id l, b.doc_id r, count(*) c
                       FROM sh a JOIN sh b USING (h)
                       WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT l AS left_id, r AS right_id,
                   round(c / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM common JOIN sizes sa ON sa.doc_id = l
                        JOIN sizes sb ON sb.doc_id = r
            WHERE c / (sa.sz + sb.sz - c) >= 0.5
        """,
        "simhash_pairs": r"""
            WITH s AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
                       FROM documents),
            grams AS (SELECT doc_id, substr(s, i, 3) AS g
                      FROM s, unnest(generate_series(1, greatest(length(s)-2, 1))) t(i)),
            gh AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 16))::UBIGINT AS h FROM grams),
            bits AS (SELECT doc_id, b,
                            sum(CASE WHEN (h >> b) & 1::UBIGINT = 1::UBIGINT
                                     THEN 1 ELSE -1 END) AS vote
                     FROM gh, unnest(generate_series(0, 63)) t(b) GROUP BY 1, 2),
            sig AS (SELECT doc_id,
                           CAST(sum(CASE WHEN vote > 0
                                         THEN CASE WHEN b = 63 THEN -9223372036854775808::HUGEINT
                                                   ELSE (1::BIGINT << b)::HUGEINT END
                                         ELSE 0::HUGEINT END) AS BIGINT) AS sig
                    FROM bits GROUP BY 1)
            SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                   CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sig, b.sig)) <= 3
        """,
        "birth_death_extract": f"""
            WITH p AS (SELECT doc_id, {_BD_PERSON_SQL} AS person FROM documents)
            SELECT doc_id,
                   {_bd_cascade_sql("birth")} AS birth_year,
                   {_bd_cascade_sql("death")} AS death_year
            FROM p
        """,
        "srp_ann_topk": """
            WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
            scored AS (SELECT a.vec_id query_id, b.vec_id neighbor_id,
                              round(list_cosine_similarity(a.v, b.v), 6) cosine
                       FROM c a, c b WHERE a.vec_id != b.vec_id)
            SELECT query_id, neighbor_id, cosine, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id) AS rank
              FROM scored) WHERE rank <= 3
        """,
        # n_probe == n_centroids ⇒ IVF candidate set is the whole corpus ⇒
        # output structurally equals exact top-3 (same brute-force oracle as
        # srp_ann_topk; equality checks the machinery, not a recall gamble)
        "ivf_ann_topk": """
            WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
            scored AS (SELECT a.vec_id query_id, b.vec_id neighbor_id,
                              round(list_cosine_similarity(a.v, b.v), 6) cosine
                       FROM c a, c b WHERE a.vec_id != b.vec_id)
            SELECT query_id, neighbor_id, cosine, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id) AS rank
              FROM scored) WHERE rank <= 3
        """,
        "winnow_candidates": f"""
            WITH s AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
                       FROM documents),
            kh AS (SELECT doc_id, i, {_poly_terms_sql(16)} AS h,
                          count(*) OVER (PARTITION BY doc_id) AS nh
                   FROM s, unnest(generate_series(1, length(s)-15)) t(i)),
            wmin AS (SELECT doc_id, i, nh,
                            min(h) OVER (PARTITION BY doc_id ORDER BY i
                                         ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS mn
                     FROM kh),
            fps AS (SELECT DISTINCT doc_id, mn AS fp FROM wmin WHERE i <= nh - 5)
            SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                   count(*) AS shared_fingerprints
            FROM fps a JOIN fps b USING (fp) WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 25
        """,
        "impute_hotdeck": _IMPUTE_KNN_SQL + """
            SELECT record_id, CAST(1 AS BIGINT) AS n_donors,
                   CAST(label AS STRING) AS imputed_value
            FROM cand WHERE rn = 1
        """,
        "impute_knn_average": _impute_agg_sql("1.0"),
        "impute_knn_weighted": _impute_agg_sql("cosine"),
        "er_cluster_stats": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents),
            pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
            sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
                   FROM pos WHERE i + 2 <= len(t)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            common AS (SELECT a.doc_id AS l, b.doc_id AS r, count(*) AS c
                       FROM sh a JOIN sh b USING (shingle)
                       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            pairs AS (SELECT CAST(l AS VARCHAR) a, CAST(r AS VARCHAR) b FROM common
                      JOIN sizes sa ON sa.doc_id = l JOIN sizes sb ON sb.doc_id = r
                      WHERE c / (sa.sz + sb.sz - c) >= 0.12),
            edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
            walk(id, reach) AS (
              SELECT a, a FROM (SELECT DISTINCT a FROM edges)
              UNION
              SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach),
            comp AS (SELECT id, min(reach) AS root FROM walk GROUP BY id),
            allnodes AS (SELECT CAST(doc_id AS VARCHAR) AS id FROM documents),
            assign AS (SELECT n.id, coalesce(c.root, n.id) AS root
                       FROM allnodes n LEFT JOIN comp c USING (id)),
            csize AS (SELECT root, count(*) AS size FROM assign GROUP BY root)
            SELECT CASE WHEN size = 1 THEN '1' WHEN size = 2 THEN '2'
                        WHEN size <= 5 THEN '3-5' WHEN size <= 10 THEN '6-10'
                        WHEN size <= 20 THEN '11-20' ELSE '21+' END AS size_bucket,
                   count(*) AS num_clusters, CAST(sum(size) AS BIGINT) AS num_entities
            FROM csize GROUP BY 1
        """,
        "media_features_by_kind": """
            SELECT kind, count(*) AS n,
                   CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
                   count(DISTINCT md5(text)) AS n_distinct
            FROM (SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                              WHEN 1 THEN 'audio' ELSE 'video' END AS kind, text
                  FROM documents)
            GROUP BY kind
        """,
        "threshold_sweep": f"""
            WITH toks AS (
              SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
              FROM documents),
            pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
            sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
                   FROM pos WHERE i + 2 <= len(t)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            common AS (SELECT a.doc_id AS l, b.doc_id AS r, count(*) AS c
                       FROM sh a JOIN sh b USING (shingle)
                       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            cands AS (SELECT l, r, round(c / (sa.sz + sb.sz - c), 6) AS jaccard
                      FROM common JOIN sizes sa ON sa.doc_id = l
                                  JOIN sizes sb ON sb.doc_id = r
                      WHERE c / (sa.sz + sb.sz - c) >= {_SWEEP_GRID[0]}),
            lab AS (SELECT jaccard,
                           CASE WHEN dl.lang = dr.lang THEN 1 ELSE 0 END AS y
                    FROM cands JOIN documents dl ON dl.doc_id = l
                               JOIN documents dr ON dr.doc_id = r),
            pos_total AS (SELECT CAST(sum(n * (n - 1)) / 2 AS BIGINT) AS p
                          FROM (SELECT count(*) AS n FROM documents GROUP BY lang)),
            grid(threshold) AS (SELECT unnest([{", ".join(f"{t}::DOUBLE" for t in _SWEEP_GRID)}])),
            swept AS (SELECT threshold,
                             count(*) AS n_predicted,
                             CAST(sum(y) AS BIGINT) AS tp
                      FROM grid JOIN lab ON jaccard >= threshold GROUP BY 1)
            SELECT g.threshold,
                   coalesce(s.n_predicted, 0) AS n_predicted,
                   coalesce(s.tp, 0) AS tp,
                   round(CASE WHEN coalesce(s.n_predicted, 0) > 0
                              THEN coalesce(s.tp, 0) / s.n_predicted
                              ELSE 0.0 END, 6) AS precision,
                   round(coalesce(s.tp, 0) / p.p, 6) AS recall,
                   round(CASE WHEN (CASE WHEN coalesce(s.n_predicted, 0) > 0
                                         THEN coalesce(s.tp, 0) / s.n_predicted
                                         ELSE 0.0 END)
                              + coalesce(s.tp, 0) / p.p > 0
                              THEN 2 * (CASE WHEN coalesce(s.n_predicted, 0) > 0
                                             THEN coalesce(s.tp, 0) / s.n_predicted
                                             ELSE 0.0 END) * (coalesce(s.tp, 0) / p.p)
                                   / ((CASE WHEN coalesce(s.n_predicted, 0) > 0
                                            THEN coalesce(s.tp, 0) / s.n_predicted
                                            ELSE 0.0 END) + coalesce(s.tp, 0) / p.p)
                              ELSE 0.0 END, 6) AS f1
            FROM grid g LEFT JOIN swept s ON s.threshold = g.threshold
            CROSS JOIN pos_total p
        """,
        "gopher_quality": f"""
            WITH s AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
            t AS (SELECT doc_id,
                         CASE WHEN length(s) = 0 THEN CAST([] AS VARCHAR[])
                              ELSE regexp_split_to_array(s, '\\s+') END AS t
                  FROM s),
            m AS (SELECT doc_id,
                         CAST(len(t) AS BIGINT) AS n_words,
                         CAST(coalesce(list_sum(list_transform(t, w -> length(w))), 0)
                              AS BIGINT) AS sum_len,
                         CAST(len(list_filter(t, w -> list_contains({_STOPWORDS_SQL}, w)))
                              AS BIGINT) AS n_stop,
                         CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                              AS BIGINT) AS n_alpha
                  FROM t)
            SELECT doc_id, n_words,
                   round(sum_len / greatest(n_words, 1), 6) AS mean_word_len,
                   n_stop AS stopword_count,
                   round(n_alpha / greatest(n_words, 1), 6) AS alpha_word_ratio,
                   CAST(n_words BETWEEN 50 AND 100000 AS INT) AS ok_words,
                   CAST(sum_len / greatest(n_words, 1) BETWEEN 3.0::DOUBLE AND 10.0::DOUBLE
                        AS INT) AS ok_mean_len,
                   CAST(n_stop >= 2 AS INT) AS ok_stopwords,
                   CAST(n_alpha / greatest(n_words, 1) >= 0.8::DOUBLE AS INT) AS ok_alpha,
                   CAST(n_words BETWEEN 50 AND 100000
                        AND sum_len / greatest(n_words, 1) BETWEEN 3.0::DOUBLE AND 10.0::DOUBLE
                        AND n_stop >= 2
                        AND n_alpha / greatest(n_words, 1) >= 0.8::DOUBLE AS INT) AS passes
            FROM m
        """,
        "repetition_metrics": """
            WITH s AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
            t AS (SELECT doc_id, length(s) AS len_s,
                         regexp_split_to_array(s, '\\s+') AS t
                  FROM s WHERE length(s) > 0),
            g2 AS (SELECT doc_id, len_s,
                          array_to_string(list_slice(t, i, i + 1), ' ') AS g
                   FROM t, unnest(generate_series(1, len(t) - 1)) u(i)),
            c2 AS (SELECT doc_id, len_s, g, count(*) AS c FROM g2 GROUP BY 1, 2, 3),
            top AS (SELECT doc_id,
                           least(1.0::DOUBLE, c * length(g) / greatest(len_s, 1)) AS top_raw
                    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                                       ORDER BY c DESC, g ASC) AS rn
                          FROM c2) WHERE rn = 1),
            g5 AS (SELECT doc_id, len_s,
                          array_to_string(list_slice(t, i, i + 4), ' ') AS g
                   FROM t, unnest(generate_series(1, len(t) - 4)) u(i)),
            c5 AS (SELECT doc_id, len_s, g, count(*) AS c FROM g5 GROUP BY 1, 2, 3),
            dup AS (SELECT doc_id,
                           least(1.0::DOUBLE,
                                 sum(c * length(g)) / greatest(min(len_s), 1)) AS dup_raw
                    FROM c5 WHERE c >= 2 GROUP BY 1)
            SELECT d.doc_id,
                   round(coalesce(top_raw, 0.0::DOUBLE), 6) AS top_2gram_frac,
                   round(coalesce(dup_raw, 0.0::DOUBLE), 6) AS dup_5gram_frac
            FROM documents d LEFT JOIN top USING (doc_id) LEFT JOIN dup USING (doc_id)
        """,
        "unigram_logprob": """
            WITH w AS (SELECT doc_id,
                              unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
                       FROM documents WHERE length(trim(text)) > 0),
            f AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM f),
            p AS (SELECT w, ln(c / tot) AS lp FROM f CROSS JOIN tot)
            SELECT doc_id, count(*) AS n_tokens, round(avg(lp), 6) AS avg_logprob
            FROM w JOIN p USING (w) GROUP BY 1
        """,
        "quality_classifier": _quality_classifier_sql(),
        "quality_roc": _quality_roc_sql(),
        # same page template, same ordered strip steps, same entity chain —
        # byte-identical extracted_text is the assertion
        "html_extract": r"""
            WITH pages AS (SELECT doc_id,
                '<html><head><title>Doc ' || doc_id ||
                '</title><script type="text/javascript">var x = 1 < 2;' ||
                '</script><style>.nav{color:red}</style></head><body>' ||
                '<!-- header --><div class="nav">Home | About</div><p>' ||
                text ||
                '</p><ul><li>first</li><li>second &amp; third</li></ul></body></html>'
                AS html FROM documents),
            s1 AS (SELECT doc_id,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(coalesce(html, ''),
                           '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                         '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                       '(?s)<!--.*?-->', ' ', 'g') AS s FROM pages),
            s2 AS (SELECT doc_id,
                     regexp_replace(
                       regexp_replace(s, '(?i)<(br|/p|/div|/li|/tr|/h[1-6])[^>]*>',
                                      chr(10), 'g'),
                       '(?s)<[^>]*>', ' ', 'g') AS s FROM s1),
            s3 AS (SELECT doc_id,
                     replace(replace(replace(replace(replace(replace(s,
                       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                       '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS s
                   FROM s2),
            s4 AS (SELECT doc_id,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(s, '[ \t]+', ' ', 'g'),
                         ' ?\n ?', chr(10), 'g'),
                       '\n{3,}', chr(10) || chr(10), 'g') AS s FROM s3)
            SELECT doc_id, trim(s, ' ' || chr(10) || chr(9)) AS extracted_text
            FROM s4
        """,
        # exact heavy-hitter semantics (the sketch only prunes the count's
        # input): every word with frequency strictly above support * total
        "heavy_hitter_words": r"""
            WITH toks AS (SELECT CASE WHEN length(trim(coalesce(text, ''))) = 0
                                      THEN []::VARCHAR[]
                                      ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                                 END AS t
                          FROM documents),
            words AS (SELECT unnest(t) AS w FROM toks),
            tot AS (SELECT CAST(sum(len(t)) AS BIGINT) AS tot FROM toks)
            SELECT w, count(*) AS cnt,
                   round(count(*) / any_value(tot), 6) AS frac
            FROM words CROSS JOIN tot
            GROUP BY w
            HAVING count(*) > 0.002 * any_value(tot)
        """,
        # exact 5-byte-shingle Jaccard between the slices (same ground truth
        # as the fuzzy_dedup oracles), restricted to new x corpus pairs
        "incremental_fuzzy_dedup": f"""
            WITH s AS (SELECT doc_id, ' ' || lower(text) || ' ' AS s
                       FROM documents),
            sh AS (SELECT DISTINCT doc_id, {_poly_terms_sql(5)} AS h
                   FROM s, unnest(generate_series(1, length(s)-4)) t(i)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            common AS (SELECT a.doc_id l, b.doc_id r, count(*) c
                       FROM sh a JOIN sh b USING (h)
                       WHERE a.doc_id % 7 != 0 AND b.doc_id % 7 = 0
                       GROUP BY 1, 2),
            matches AS (SELECT l, count(*) AS n
                        FROM common JOIN sizes sa ON sa.doc_id = l
                                    JOIN sizes sb ON sb.doc_id = r
                        WHERE c / (sa.sz + sb.sz - c) >= 0.5
                        GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(m.n, 0) AS n_corpus_matches,
                   CAST(m.n IS NULL AS INT) AS kept
            FROM documents d LEFT JOIN matches m ON m.l = d.doc_id
            WHERE d.doc_id % 7 != 0
        """,
        # exact semantics of the bloom-gated plan: kept=1 iff the snapshot
        # row's fingerprint is absent from the corpus slice
        "incremental_dedup": f"""
            WITH fp AS (SELECT doc_id, {_FINGERPRINT_SQL} AS fingerprint
                        FROM documents),
            corpus AS (SELECT fingerprint FROM fp WHERE doc_id % 7 = 0),
            new AS (SELECT * FROM fp WHERE doc_id % 7 != 0)
            SELECT n.doc_id, n.fingerprint,
                   CAST(c.fingerprint IS NULL AS INT) AS kept
            FROM new n
            LEFT JOIN (SELECT DISTINCT fingerprint FROM corpus) c
                   ON n.fingerprint = c.fingerprint
        """,
        # Jelinek-Mercer interpolated bigram LM, lam=0.9, trained on the
        # corpus itself — identical count tables and probability expression
        # as the Spark plan.  The interpolation constants are generated from
        # the SAME Python floats the Spark side uses (F.lit(lam),
        # F.lit(1.0 - lam) — note repr(1.0 - 0.9) = 0.09999999999999998, not
        # 0.1), so the doubles agree to the last ulp, not just to 6dp.
        "bigram_logprob": rf"""
            WITH toks AS (SELECT doc_id,
                                 CASE WHEN length(trim(coalesce(text, ''))) = 0
                                      THEN []::VARCHAR[]
                                      ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                                 END AS t
                          FROM documents),
            pairs AS (SELECT doc_id, t[i] AS v, t[i+1] AS w
                      FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
                      WHERE len(t) >= 2),
            cb AS (SELECT v, w, count(*) AS cb FROM pairs GROUP BY 1, 2),
            cv AS (SELECT v, sum(cb) AS cv FROM cb GROUP BY 1),
            words AS (SELECT unnest(t) AS w FROM toks),
            cu AS (SELECT w, count(*) AS cu FROM words GROUP BY 1),
            tot AS (SELECT CAST(sum(len(t)) AS BIGINT) AS tot FROM toks),
            lm AS (SELECT cb.v, cb.w,
                          ln({0.9!r} * cb / cv + {1.0 - 0.9!r} * cu / tot) AS lp
                   FROM cb JOIN cv USING (v) JOIN cu USING (w) CROSS JOIN tot)
            SELECT doc_id,
                   count(*) AS n_bigrams,
                   round(avg(lp), 6) AS avg_logprob,
                   round(exp(-avg(lp)), 6) AS perplexity
            FROM pairs JOIN lm USING (v, w)
            GROUP BY 1
        """,
        "fuzzy_dedup_corpus": f"""
            {_fuzzy_cc_cte()}
            SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
                   coalesce(c.root, CAST(d.doc_id AS VARCHAR)) AS cluster_root,
                   CAST(coalesce(c.root, CAST(d.doc_id AS VARCHAR))
                        = CAST(d.doc_id AS VARCHAR) AS INT) AS kept
            FROM documents d LEFT JOIN comp c ON c.id = CAST(d.doc_id AS VARCHAR)
        """,
        # same CC closure; representative = max n_chars, min VARCHAR id on
        # ties (exact integer comparison — no float-equality trap)
        "fuzzy_dedup_keep_best": f"""
            {_fuzzy_cc_cte()},
            mem AS (SELECT CAST(d.doc_id AS VARCHAR) AS id,
                           coalesce(c.root, CAST(d.doc_id AS VARCHAR)) AS cluster_root,
                           d.n_chars
                    FROM documents d
                    LEFT JOIN comp c ON c.id = CAST(d.doc_id AS VARCHAR)),
            mx AS (SELECT cluster_root, max(n_chars) AS mx FROM mem GROUP BY 1),
            rep AS (SELECT m.cluster_root, min(m.id) AS rep
                    FROM mem m JOIN mx USING (cluster_root)
                    WHERE m.n_chars = mx.mx GROUP BY 1)
            SELECT m.id AS doc_id, m.cluster_root,
                   CAST(m.id = r.rep AS INT) AS kept
            FROM mem m JOIN rep r USING (cluster_root)
        """,
        "pii_scan": _pii_scan_sql(),
        "decontaminate": r"""
            WITH toks AS (SELECT doc_id,
                                 regexp_split_to_array(lower(trim(text)), '\s+') AS t
                          FROM documents),
            pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
            grams AS (SELECT DISTINCT doc_id,
                             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g
                      FROM pos WHERE i + 3 <= len(t)),
            cg AS (SELECT * FROM grams WHERE doc_id % 97 != 0),
            bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY 1),
            hits AS (SELECT doc_id, count(*) AS n_overlap
                     FROM cg JOIN bg USING (g) GROUP BY 1)
            SELECT doc_id, n_overlap, n_grams,
                   round(n_overlap / n_grams, 6) AS overlap_ratio,
                   CAST(n_overlap / n_grams >= 0.03::DOUBLE AS INT) AS contaminated
            FROM sizes JOIN hits USING (doc_id)
        """,
        "domain_mixture_sample": """
            SELECT source, count(*) AS n_kept,
                   CAST(sum(doc_id) AS BIGINT) AS id_checksum
            FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  / 4294967296.0
                  < CASE source WHEN 'src0' THEN 0.25::DOUBLE
                                WHEN 'src1' THEN 0.5::DOUBLE
                                WHEN 'src2' THEN 0.0::DOUBLE
                                ELSE 1.0::DOUBLE END
            GROUP BY 1
        """,
        "pack_sequences": r"""
            WITH t AS (SELECT source, doc_id,
                              CASE WHEN length(trim(text)) = 0 THEN 0
                                   ELSE len(regexp_split_to_array(trim(text), '\s+'))
                              END AS n_tokens
                       FROM documents),
            c AS (SELECT source, doc_id, n_tokens,
                         CAST(floor((sum(n_tokens) OVER (
                                PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              - n_tokens) / 500.0) AS BIGINT) AS chunk_id
                  FROM t)
            SELECT source, chunk_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
            FROM c GROUP BY 1, 2
        """,
        # same capture synthesis + canonicalization chain as the Spark side
        # (DuckDB regexp_replace needs the explicit 'g' flag where Spark is
        # always-global; backrefs are \1 here vs $1 there)
        "url_latest_capture": r"""
            WITH raw AS (
              SELECT doc_id, doc_id AS fetch_seq,
                     'HTTPS://WWW.CraWl.Example.ORG:443/doc/'
                     || CAST(doc_id % 101 AS VARCHAR)
                     || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
                     || CASE doc_id % 3
                          WHEN 0 THEN '?utm_source=feed'
                          WHEN 1 THEN '?utm_campaign=x&page=2'
                          ELSE '' END
                     || CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END
                     AS url
              FROM documents),
            canon AS (
              SELECT doc_id, fetch_seq, url,
                     regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(
                         replace(replace(replace(lower(url),
                           ':443/', '/'), ':80/', '/'), '://www.', '://'),
                         '#.*', ''),
                       '[?&](utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
                       '^([^?]*)&', '\1?'), '(.)/$', '\1') AS canonical_url
              FROM raw)
            SELECT canonical_url,
                   count(*) AS n_captures,
                   max(fetch_seq) AS latest_seq,
                   arg_max(url, fetch_seq) AS kept_url,
                   arg_max(doc_id, fetch_seq) AS kept_doc_id
            FROM canon GROUP BY 1
        """,
        # fragment strip precedes port/www strips on the Spark side too —
        # order only matters for the '#' patterns, which never overlap the
        # others in this synthesis
        "line_dedup": r"""
            WITH lined AS (
              SELECT doc_id,
                     'site: ' || source || chr(10)
                     || substr(coalesce(text, ''), 1, 40) || chr(10)
                     || '(c) example corp - all rights reserved' AS text
              FROM documents),
            ex AS (
              SELECT l.doc_id, t.i AS pos,
                     list_extract(string_split(l.text, chr(10)), t.i) AS line
              FROM lined l,
                   unnest(generate_series(
                     1, len(string_split(l.text, chr(10))))) t(i)),
            boiler AS (
              SELECT line FROM ex GROUP BY line HAVING count(*) > 20)
            SELECT doc_id, count(*) AS n_lines_kept,
                   string_agg(line, chr(10) ORDER BY pos) AS clean_text
            FROM ex WHERE line NOT IN (SELECT line FROM boiler)
            GROUP BY doc_id
        """,
        # quantile_cont == Spark's exact `percentile` (same linear
        # interpolation); cut literals are the SAME Python floats the
        # operator defaults to, cast ::DOUBLE (bare decimals are DECIMAL
        # in DuckDB)
        "lm_quality_buckets": f"""
            WITH w AS (SELECT doc_id,
                              unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
                       FROM documents WHERE length(trim(text)) > 0),
            f AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM f),
            p AS (SELECT w, ln(c / tot) AS lp FROM f CROSS JOIN tot),
            sc AS (SELECT doc_id, count(*) AS n_tokens,
                          round(avg(lp), 6) AS avg_logprob
                   FROM w JOIN p USING (w) GROUP BY 1),
            th AS (SELECT quantile_cont(avg_logprob,
                     [{(1 / 3)!r}::DOUBLE, {(2 / 3)!r}::DOUBLE]) AS th
                   FROM sc)
            SELECT doc_id, n_tokens, avg_logprob,
                   CASE WHEN avg_logprob < th[1] THEN 'tail'
                        WHEN avg_logprob < th[2] THEN 'middle'
                        ELSE 'head' END AS bucket
            FROM sc CROSS JOIN th
        """,
        # same 16-hex-char md5 span key as the operator; range() is
        # end-exclusive so range(1, n-k+2) == starts 1..n-k+1; DuckDB list
        # slicing toks[a:b] is 1-based inclusive like Spark's slice(a, k)
        "remove_dup_spans": """
            WITH t AS (SELECT doc_id,
                         CASE WHEN length(trim(coalesce(text,''))) = 0
                              THEN []::VARCHAR[]
                              ELSE regexp_split_to_array(lower(trim(text)), '\\s+')
                         END AS toks
                       FROM documents),
            b AS (SELECT doc_id, toks, len(toks) AS n FROM t),
            g0 AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS pos
                   FROM b WHERE n >= 8),
            g AS (SELECT doc_id, CAST(pos AS INT) AS pos,
                         substr(md5(array_to_string(toks[pos : pos + 7], ' ')), 1, 16) AS h
                  FROM g0),
            d AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
            cov AS (SELECT DISTINCT g.doc_id, g.pos + o.o AS p
                    FROM g JOIN d USING (h), range(0, 8) o(o)),
            px AS (SELECT doc_id, unnest(toks) AS tok,
                          generate_subscripts(toks, 1) AS p FROM b),
            keep AS (SELECT px.doc_id, px.p, px.tok
                     FROM px LEFT JOIN cov
                       ON cov.doc_id = px.doc_id AND cov.p = px.p
                     WHERE cov.doc_id IS NULL),
            agg AS (SELECT doc_id, count(*) AS n_kept,
                           string_agg(tok, ' ' ORDER BY p) AS clean_text
                    FROM keep GROUP BY doc_id)
            SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
                   CAST(b.n - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
                   coalesce(agg.clean_text, '') AS clean_text
            FROM b LEFT JOIN agg USING (doc_id)
        """,
        # host extraction replays the operator's exact regexp chain (Java
        # and RE2 agree: no lookaround/backrefs); suffix match is equality
        # OR LIKE '%.<entry>'
        "domain_block_stats": """
            WITH raw AS (SELECT doc_id,
                     'https://' ||
                     CASE doc_id % 5
                          WHEN 0 THEN 'ads.tracker.example.com'
                          WHEN 1 THEN 'tracker.example.com'
                          WHEN 2 THEN 'news.example.org'
                          WHEN 3 THEN 'www.blog.example.net:8080'
                          ELSE 'cdn.media.example.io' END ||
                     '/p/' || CAST(doc_id AS VARCHAR) AS url
                   FROM documents),
            h AS (SELECT doc_id,
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_extract(lower(url),
                            '^[a-z][a-z0-9+.\\-]*://([^/?#]+)', 1),
                          '^[^@]*@', ''),
                        ':[0-9]+$', ''),
                      '^www\\.', '') AS host
                  FROM raw),
            f AS (SELECT host,
                    CASE WHEN host = 'tracker.example.com'
                           OR host LIKE '%.tracker.example.com'
                           OR host = 'media.example.io'
                           OR host LIKE '%.media.example.io'
                         THEN 1 ELSE 0 END AS blocked
                  FROM h)
            SELECT host, blocked, count(*) AS n_docs
            FROM f GROUP BY 1, 2
        """,
        # replay of the composed funnel: gopher flags exactly as in the
        # gopher_quality oracle, badword 'dup', then the remove_dup_spans
        # machinery restricted to the survivor set (corpus-frequency dedup
        # runs AFTER the filters, as in the operator)
        "curation_funnel": f"""
            WITH t0 AS (SELECT doc_id,
                          lower(trim(
                            (CASE WHEN doc_id % 13 = 1 THEN '{_FUNNEL_PAGE}'
                                  ELSE coalesce(text, '') END)
                            || ' {_FUNNEL_FOOTER}')) AS s
                        FROM documents),
            b AS (SELECT doc_id,
                         CASE WHEN length(s) = 0 THEN CAST([] AS VARCHAR[])
                              ELSE regexp_split_to_array(s, '\\s+') END AS toks
                  FROM t0),
            m AS (SELECT doc_id, toks, len(toks) AS n,
                         coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS sum_len,
                         len(list_filter(toks, w -> list_contains({_STOPWORDS_SQL}, w))) AS n_stop,
                         len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
                         len(list_filter(toks, x -> x IN ('dup'))) AS n_bad
                  FROM b),
            surv1 AS (SELECT doc_id FROM m
                      WHERE n BETWEEN 50 AND 100000
                        AND sum_len / greatest(n, 1) BETWEEN 3.0::DOUBLE AND 10.0::DOUBLE
                        AND n_stop >= 2
                        AND n_alpha / greatest(n, 1) >= 0.8::DOUBLE),
            surv2 AS (SELECT m.doc_id FROM m JOIN surv1 USING (doc_id)
                      WHERE n_bad = 0),
            b2 AS (SELECT m.doc_id, m.toks, m.n FROM m JOIN surv2 USING (doc_id)),
            g0 AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS pos
                   FROM b2 WHERE n >= 8),
            g AS (SELECT doc_id, CAST(pos AS INT) AS pos,
                         substr(md5(array_to_string(toks[pos : pos + 7], ' ')), 1, 16) AS h
                  FROM g0),
            d AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
            cov AS (SELECT DISTINCT g.doc_id, g.pos + o.o AS p
                    FROM g JOIN d USING (h), range(0, 8) o(o)),
            px AS (SELECT doc_id, unnest(toks) AS tok,
                          generate_subscripts(toks, 1) AS p FROM b2),
            keep AS (SELECT px.doc_id, px.p, px.tok
                     FROM px LEFT JOIN cov
                       ON cov.doc_id = px.doc_id AND cov.p = px.p
                     WHERE cov.doc_id IS NULL),
            agg AS (SELECT doc_id, count(*) AS n_kept,
                           string_agg(tok, ' ' ORDER BY p) AS clean_text
                    FROM keep GROUP BY doc_id),
            cleaned AS (SELECT b2.doc_id, coalesce(agg.n_kept, 0) AS ct,
                               coalesce(agg.clean_text, '') AS clean_text
                        FROM b2 LEFT JOIN agg USING (doc_id)),
            reps AS (SELECT clean_text, min(ct) AS ct FROM cleaned GROUP BY 1)
            SELECT 0 AS stage, 'raw' AS stage_name,
                   count(*) AS n_docs, CAST(coalesce(sum(n), 0) AS BIGINT) AS n_tokens
            FROM m
            UNION ALL
            SELECT 1, 'gopher', count(*), CAST(coalesce(sum(n), 0) AS BIGINT)
            FROM m JOIN surv1 USING (doc_id)
            UNION ALL
            SELECT 2, 'badwords', count(*), CAST(coalesce(sum(n), 0) AS BIGINT)
            FROM m JOIN surv2 USING (doc_id)
            UNION ALL
            SELECT 3, 'span_dedup', count(*), CAST(coalesce(sum(ct), 0) AS BIGINT)
            FROM cleaned
            UNION ALL
            SELECT 4, 'exact_dedup', count(*), CAST(coalesce(sum(ct), 0) AS BIGINT)
            FROM reps
        """,
        "snapshot_curation": _snapshot_curation_sql(),
        "badword_filter": """
            WITH t AS (SELECT doc_id,
                         CASE WHEN length(trim(coalesce(text,''))) = 0
                              THEN []::VARCHAR[]
                              ELSE regexp_split_to_array(lower(trim(text)), '\\s+')
                         END AS toks
                       FROM documents),
            c AS (SELECT doc_id,
                         len(list_filter(toks,
                             x -> x IN ('slow', 'merge', 'vector', 'spill')))
                           AS n_bad
                  FROM t)
            SELECT doc_id, CAST(n_bad AS BIGINT) AS n_bad,
                   CASE WHEN n_bad = 0 THEN 1 ELSE 0 END AS kept
            FROM c
        """,
        "semantic_dedup": _semantic_dedup_sql(),
        "semantic_dedup_multitable": _semantic_dedup_multitable_sql(),
        "cluster_modularity": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents),
            pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
            sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
                   FROM pos WHERE i + 2 <= len(t)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            common AS (SELECT a.doc_id AS l, b.doc_id AS r, count(*) AS c
                       FROM sh a JOIN sh b USING (shingle)
                       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            we AS (SELECT CAST(l AS VARCHAR) AS src, CAST(r AS VARCHAR) AS dst,
                          round(c / (sa.sz + sb.sz - c), 6) AS w
                   FROM common
                   JOIN sizes sa ON sa.doc_id = l JOIN sizes sb ON sb.doc_id = r
                   WHERE c / (sa.sz + sb.sz - c) >= 0.12),
            edges AS (SELECT src AS a, dst AS b FROM we
                      UNION SELECT dst, src FROM we),
            walk(id, reach) AS (
              SELECT a, a FROM (SELECT DISTINCT a FROM edges)
              UNION
              SELECT wk.id, e.b FROM walk wk JOIN edges e ON e.a = wk.reach),
            comp AS (SELECT id, min(reach) AS root FROM walk GROUP BY id),
            mm AS (SELECT sum(w) AS m FROM we),
            tagged AS (SELECT we.src, we.dst, we.w,
                              cu.root AS cu, cv.root AS cv
                       FROM we JOIN comp cu ON cu.id = we.src
                               JOIN comp cv ON cv.id = we.dst),
            deg AS (SELECT c, sum(w) AS degree_w FROM (
                      SELECT cu AS c, w FROM tagged
                      UNION ALL SELECT cv AS c, w FROM tagged)
                    GROUP BY c),
            intra AS (SELECT cu AS c, sum(w) AS intra_w FROM tagged
                      WHERE cu = cv GROUP BY cu),
            nn AS (SELECT root AS c, count(*) AS n_nodes FROM comp GROUP BY root)
            SELECT nn.c AS community, nn.n_nodes,
                   coalesce(intra.intra_w, 0.0) AS intra_w,
                   coalesce(deg.degree_w, 0.0) AS degree_w,
                   round(coalesce(intra.intra_w, 0.0) / mm.m
                         - pow(coalesce(deg.degree_w, 0.0) / (2 * mm.m), 2),
                         6) AS contribution
            FROM nn LEFT JOIN intra ON intra.c = nn.c
                    LEFT JOIN deg ON deg.c = nn.c, mm
        """,
    }
