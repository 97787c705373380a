#!/usr/bin/env python
"""Benchmark runner.

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

`--scaling` additionally runs the candidate-pair scoring pipeline at two
parallelism levels (local[N] and local[4N], N = cpus/4) on identical input
and reports pairs-scored/sec at both plus the scaling efficiency — the
sandbox proxy for the north rule's N vs 4N executor criterion (no real
cluster available; see BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCALE_N = int(os.environ.get("SPARK_GRAFT_SCALE_N", "40000"))

# one BLAS thread per python worker: N workers × M BLAS threads oversubscribes
# the box and anti-scales at high core counts (Spark supplies the parallelism)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline queries: the scale-stressing subset of __spark_entry__.queries().
HEADLINE = [
    "exact_dedup_groups",
    "quality_scores",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "embedding_neardup",
    "ann_topk",
    "connected_components_chain",
    "revenue_per_nation",
    "topk_per_group",
    "hourly_rollup",
    # r2 additions — headline set GREW here (totals are not comparable to
    # r1's 12-query total; per-query times remain comparable):
    "fuzzy_dedup_corpus",
    "unigram_logprob",
    "repetition_metrics",
    "er_dedup_pipeline",
    # late-r2 additions (set grew 15 → 17):
    "url_latest_capture",
    "line_dedup",
    # late-r2 additions (set grew 17 → 19):
    "lm_quality_buckets",
    "remove_dup_spans",
    # composition flagship (19 → 20): the whole curation pipeline as one plan
    "curation_funnel",
    # r2 continuation (20 → 23): bigram LM, model-based quality filter,
    # bloom-gated snapshot dedup
    "bigram_logprob",
    "quality_classifier",
    "incremental_dedup",
    # r2 continuation (23 → 25): HTML→text extraction, cross-snapshot
    # near-dup flagging
    "html_extract",
    "incremental_fuzzy_dedup",
    # r3 composition flagship (25 → 26): the END-TO-END snapshot-curation
    # chain (extraction → latest-capture → quality gates → span excision →
    # cross-snapshot exact+fuzzy dedup → buckets → sample → pack) as ONE
    # plan — the job a training-data team runs per crawl snapshot
    "snapshot_curation",
    # r3 (26 → 27): SemDeDup — sign-projection shards, within-shard cosine
    # groups via CC, keep-least-central representative
    "semantic_dedup",
    # r4 (27 → 28): distributed ROC/PR table (quality classifier scored
    # against Gopher labels, binned cumulative curve — O(bins) sort)
    "quality_roc",
    # r5 (28 → 29): multi-table SemDeDup — R independent SRP plane seeds,
    # per-bucket edge extraction, distributed CC union, keep-least-central
    # per component (the cross-bucket-recall remedy)
    "semantic_dedup_multitable",
]


def make_spark(cpus: int, app: str):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        # single-JVM local mode: driver heap IS executor heap.  24g covers
        # the sf0.1/160k workloads; the 240k+ scaling runs need more
        # (79M+ persisted candidate rows + scoring sort buffers).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # the per-record side tables (record_field_hashes, unique_strings)
        # are tens of MB at bench scale — let AQE turn their joins into
        # broadcast hash joins instead of shuffling the 100×-larger pair table
        .config("spark.sql.autoBroadcastJoinThreshold", "128m")
        # a crashed Arrow worker otherwise reports only "exited
        # unexpectedly"; the faulthandler dump costs nothing when healthy
        .config("spark.python.worker.faulthandler.enabled", "true")
        # the generated-class cache defaults to 100 entries; a 28-query
        # session compiles far more plan shapes than that, so by the time
        # the steady sweep re-runs query 1 its classes have been evicted
        # and janino recompiles from scratch (measured: steady
        # er_dedup_pipeline 9.0 s under eviction vs 5.8 s cached).  A
        # compiled class is a few KB — 5000 entries is noise against the
        # heap and is what a long-lived production session wants anyway.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    evdir = os.environ.get("SPARK_GRAFT_EVLOG")
    if evdir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{evdir}")
            .config("spark.eventLog.compress", "false")
        )
    if os.path.isdir("/dev/shm") and os.environ.get("SPARK_GRAFT_SHM", "1") == "1":
        # shuffle/spill on tmpfs: on this single box every core shares one
        # disk, so shuffle I/O serializes core scaling; a real cluster gives
        # each executor its own local disks.  SPARK_GRAFT_SHM=0 for runs
        # whose shuffle volume would not fit in RAM-backed tmpfs (tmpfs
        # pages count against the same physical memory as the JVM heap —
        # a 320k-record scaling run OOM-killed the JVM this way).
        b = b.config("spark.local.dir", "/dev/shm/spark-bench")
    return b.getOrCreate()


_MODEL_CACHE: dict[int, object] = {}


def _trained_model(spark):
    """Train once per session on the 2,000-record labeled fixture; training
    is the reference's offline step and is excluded from corpus-path timing."""
    key = id(spark)
    if key not in _MODEL_CACHE:
        from entity_resolution_pipeline_spark import synth
        from entity_resolution_pipeline_spark.plans import pipeline as PL
        from entity_resolution_pipeline_spark.schemas import LABELED_PAIRS

        tp = synth.pages_df(spark, 2000, partitions=max(CPUS, 8))
        gt = spark.createDataFrame(synth.ground_truth_pdf(2000), LABELED_PAIRS)
        _MODEL_CACHE[key] = PL.run_labeled(tp, gt).model
    return _MODEL_CACHE[key]


def run_er_pipeline(spark, n_records: int = 8000, cpus: int | None = None) -> dict:
    """Flagship ER corpus path on synthetic pages: blocking → candidate
    pairs → feature scoring → transitive clustering.  Returns the full-path
    wall-clock AND the scoring-job wall (featurize + classify over the
    materialized candidate pairs) — pairs-scored/sec over the scoring job is
    the north-rule throughput metric, measured apart from the per-corpus
    fixed work (prepare collects, blocking, clustering rounds) that
    amortizes at real corpus sizes."""
    from entity_resolution_pipeline_spark import synth
    from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG
    from entity_resolution_pipeline_spark.operators import blocking as B
    from entity_resolution_pipeline_spark.operators import cluster as G
    from entity_resolution_pipeline_spark.plans import pipeline as PL

    cfg = DEFAULT_CONFIG
    model = _trained_model(spark)
    pages = synth.pages_df(spark, n_records, partitions=max(cpus or CPUS, 8)).cache()
    pages.count()
    t0 = time.time()
    prep = PL.prepare(pages, cfg)
    membership = B.block_membership(prep.records, cfg.blocking)
    candidates = B.candidate_pairs(membership, cfg.blocking).persist()
    candidates.count()
    # candidate_pairs persists the membership it was handed (consumed 4×
    # inside); once candidates are materialized those blocks are dead weight
    membership.unpersist()
    t_score = time.time()
    predictions = PL.score_pairs(candidates, prep, model, cfg).persist()
    n_pred = predictions.count()
    score_wall = time.time() - t_score
    clusters = G.cluster_predictions(
        predictions, prep.records.select("record_id"), cfg.clustering
    )
    clusters.select("cluster_id").distinct().count()
    wall = time.time() - t0
    pages.unpersist()
    candidates.unpersist()
    predictions.unpersist()
    # vector-matrix shard dirs live on tmpfs (RAM): reclaim between runs or
    # a multi-run bench session OOMs the JVM
    from entity_resolution_pipeline_spark.operators import features as FE

    FE.cleanup_stage_dirs()
    return {
        "sec": wall,
        "scoring_sec": score_wall,
        "pairs_scored": n_pred,
        # metric naming (stable from r2 on): pairs_per_sec = FULL-pipeline
        # wall throughput (the r1 meaning); scoring_pairs_per_sec = the
        # scoring-window-only number (featurize+classify over materialized
        # candidates).  r1's BENCH briefly reported the scoring-window value
        # under the full-wall name — flagged and fixed per ADVICE r1.
        "pairs_per_sec": n_pred / wall,
        "scoring_pairs_per_sec": n_pred / score_wall,
    }


def bench_queries(spark) -> tuple[dict, dict, dict]:
    import __spark_entry__ as E

    qs = E.queries()
    times: dict[str, float] = {}
    extra: dict[str, dict] = {}
    # one-time engine warmup, excluded from per-query timings (JIT/codegen
    # compile + Python-worker spawn are per-JVM costs, not per-query costs):
    # a tiny scan and a no-op Arrow UDF round-trip
    from pyspark.sql.functions import col, pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _warm(s: pd.Series) -> pd.Series:
        # touch the libraries every real UDF uses so each spawned worker
        # pays its import cost here, not inside the first timed query
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        return s

    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    # one warm task per core: Python stages run at up to CPUS partitions,
    # so an 8-partition warmup left most workers to spawn (fork + numpy
    # import, ~0.5 s each) inside whichever UDF query ran them first.
    # MUST consume the UDF column: select(udf).count() lets Catalyst prune
    # the deterministic UDF project entirely (measured: zero workers spawn),
    # silently un-warming the pool — aggregate the output so the stage runs
    from pyspark.sql.functions import sum as _fsum

    spark.range(0, 100000, numPartitions=CPUS).select(
        _warm(col("id")).alias("w")
    ).agg(_fsum("w")).collect()
    import gc

    steady: dict[str, float] = {}

    def _release() -> None:
        # queries own their internal persists only for the duration of one
        # invocation; drop cached blocks so a long bench session doesn't
        # accumulate eviction pressure (ADVICE r1).  clearCache() frees
        # catalog-cached plans only — localCheckpoint blocks (the CC rounds,
        # the assignment pins) free when ContextCleaner sees the Python-side
        # refs die, so the CALLER must drop its DataFrame ref (df = None)
        # before this runs — gc here then frees the blocks NOW instead of
        # whenever CPython gets around to it (measured: a later heavy query
        # paid 3x under retained blocks)
        spark.catalog.clearCache()
        gc.collect()

    # two full sweeps.  Sweep 1 (cold — the headline `queries` / `value`,
    # byte-identical protocol to every prior round) includes this process's
    # first janino/JIT compile of each query's plan shapes — measured at
    # ~5 s for the salted-blocking join alone, i.e. most of a heavy query's
    # sf0.1 time is compile, not execution.  Sweep 2 (steady —
    # `queries_steady` / `value_steady`) re-runs the identical invocations
    # with the codegen cache warm: the regime a production job lives in,
    # where a one-off plan compile amortizes over hours of executor work.
    # Sweeps are SEQUENTIAL, not interleaved per query — an interleaved
    # steady pass was measured to inflate later cold timings ~5% (heap /
    # code-cache pressure), which would break cross-round comparability of
    # the cold numbers.  Both are reported; neither replaces the other.
    for sweep, out in (("cold", times), ("steady", steady)):
        for name in HEADLINE:
            if name == "er_dedup_pipeline":
                r = run_er_pipeline(spark)
                out[name] = round(r["sec"], 3)
                if sweep == "cold":
                    extra[name] = r  # same detail shape as prior rounds
                else:
                    extra[name]["steady"] = {
                        k: r[k] for k in ("sec", "scoring_sec", "pairs_per_sec")
                    }
                print(
                    f"[{sweep}] {name}: {out[name]}s", file=sys.stderr, flush=True
                )
                continue
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            n = df.count()
            out[name] = round(time.time() - t0, 3)
            if sweep == "cold":
                extra[name] = {"rows": n}
            df = None
            _release()
            # progress to stderr so a long (e.g. 10x-fixture) run is
            # observable without polluting the stdout JSON protocol
            print(f"[{sweep}] {name}: {out[name]}s", file=sys.stderr, flush=True)
    return times, extra, steady


SCALE_REPEATS = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))


def recall_run(sf_dir: str = "/root/testdata/sf0.01") -> dict:
    """Measured recall@3 of the approximate ANN paths vs the exact top-3
    baseline (DuckDB), at the correctness SF.  The SRP config is the one
    q_srp_ann_topk ships (oracle-pinned recall 1.0); the IVF row documents
    SELECTIVE probing (n_probe=8 < 16 cells) — q_ivf_ann_topk itself ships
    probe-all (n_probe=16), which is structurally exact and oracle-checked."""
    import duckdb

    exact_sql = f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
               FROM read_parquet('{sf_dir}/embeddings.parquet')),
    scored AS (SELECT a.vec_id q, b.vec_id n,
                      round(list_cosine_similarity(a.v, b.v), 6) cos
               FROM c a, c b WHERE a.vec_id != b.vec_id)
    SELECT q, n FROM (SELECT *, row_number() OVER (PARTITION BY q
                      ORDER BY cos DESC, n) rk FROM scored) WHERE rk <= 3
    """
    exact = {(int(a), int(b)) for a, b in duckdb.connect().execute(exact_sql).fetchall()}
    spark = make_spark(CPUS, "bench-recall")
    spark.sparkContext.setLogLevel("ERROR")
    from entity_resolution_pipeline_spark.operators import ann

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def rec(df):
        got = {
            (int(r["query_id"]), int(r["neighbor_id"]))
            for r in df.select("query_id", "neighbor_id").collect()
        }
        return round(len(got & exact) / len(exact), 4)

    out = {
        "srp_p2t24_recall_at_3": rec(
            ann.lsh_bucket_topk(emb, k=3, dim=64, n_planes=2, n_tables=24)
        ),
        "ivf_c16_p8_recall_at_3": rec(
            ann.ivf_topk(emb, k=3, n_centroids=16, n_probe=8)
        ),
        "n_queries": len({q for q, _ in exact}),
    }
    spark.stop()
    return out


def scaling_run(n_records: int = SCALE_N, repeats: int = SCALE_REPEATS) -> dict:
    """Same corpus-path job at local[N] and local[4N] on identical input;
    report pairs-scored/sec at both and efficiency = thr_4N / (4 · thr_N).
    Sandbox proxy for the north rule's N vs 4N executor criterion.

    Two efficiencies are reported: over the SCORING job (featurize +
    classify of the materialized candidate pairs — the work the north rule's
    pairs-scored/sec names, nearly pure parallel compute) and over the full
    pipeline wall (which at bench scale still carries per-corpus fixed costs
    — driver-side vector-matrix staging, per-job scheduling, CC rounds —
    that amortize at real corpus sizes).  Median of `repeats` runs per
    level: the sandbox box shows bimodal contention (noisy-neighbor kernel
    storms) at high core counts."""
    out = {}
    level_runs: dict[str, list[dict]] = {}
    n_small = max(CPUS // 4, 1)
    for label, cpus in (("N", n_small), ("4N", CPUS)):
        spark = make_spark(cpus, f"bench-scaling-{label}")
        spark.sparkContext.setLogLevel("ERROR")
        _MODEL_CACHE.clear()
        # warm the JVM/Arrow paths (and train the model) outside the timing
        run_er_pipeline(spark, n_records=2000, cpus=cpus)
        runs = [
            run_er_pipeline(spark, n_records=n_records, cpus=cpus)
            for _ in range(repeats)
        ]
        level_runs[label] = runs
        runs = sorted(runs, key=lambda r: r["scoring_sec"])
        best, med = runs[0], runs[len(runs) // 2]
        out[label] = {
            "cpus": cpus,
            **{k: round(v, 3) for k, v in best.items()},
            "median": {k: round(v, 3) for k, v in med.items()},
            "all_scoring_sec": [round(r["scoring_sec"], 2) for r in runs],
        }
        spark.stop()
    # best-of-k per level: the box shows sporadic noisy-neighbor kernel
    # storms (identical runs spread up to 2x at 32 cores); best-of-k at BOTH
    # levels estimates uncontended capability.  Median-based efficiency is
    # reported alongside.  Each efficiency selects best/median BY ITS OWN
    # metric (a best-scoring run is not necessarily the best-wall run —
    # cross-selecting would bias the pipeline number by contention in the
    # non-scoring phases), and divides by the ACTUAL core ratio rather than
    # an assumed 4 (SPARK_GRAFT_CPUS need not be divisible by 4).
    ratio = out["4N"]["cpus"] / out["N"]["cpus"]
    for key, metric in (
        ("scaling_efficiency_scoring", "scoring_pairs_per_sec"),
        ("scaling_efficiency_pipeline", "pairs_per_sec"),
    ):
        vals = {
            lbl: sorted(r[metric] for r in level_runs[lbl]) for lbl in ("N", "4N")
        }
        out[key] = round(vals["4N"][-1] / (ratio * vals["N"][-1]), 4)
        out[key + "_median"] = round(
            vals["4N"][len(vals["4N"]) // 2]
            / (ratio * vals["N"][len(vals["N"]) // 2]),
            4,
        )
    return out


WEBTEXT_SCALE_REPLICAS = int(os.environ.get("SPARK_GRAFT_WEBTEXT_REPLICAS", "60"))
WEBTEXT_CLF_MULT = int(os.environ.get("SPARK_GRAFT_WEBTEXT_CLF_MULT", "4"))


def webtext_scaling_run(repeats: int = SCALE_REPEATS) -> dict:
    """N vs 4N parallelism over the webtext dedup flagship: exact-substring
    span dedup (remove_dup_spans) on a replicated sf0.1 documents corpus
    (REPLICAS x 5k = 300k docs by default).  Replica i>0 prefixes EVERY
    token with 'r<i>~', so no k-gram ever matches across replicas: each
    replica reproduces the base corpus's internal duplicate structure and
    total work scales linearly in REPLICAS.  (A plain copy would make ~all
    tokens corpus-duplicated and the job degenerates into worst-case
    whole-document excision — measured: efficiency collapses to 0.41
    because per-row reconstruction of fully-covered docs dominates.)
    Work is forced by a scalar (sum tokens, sum removed) agg; throughput =
    input tokens/sec.  Same best-of-k + median protocol and ACTUAL-core-
    ratio efficiency as scaling_run.

    Also measures the box's STREAMING CEILING at each level: a
    tokenize-and-count-only pass over the same persisted corpus — the
    speed-of-light for any plan that must materialize every token.  On a
    single box, 4x threads share ONE memory subsystem, so the pure
    string-streaming component stops scaling once bandwidth saturates
    (~8 cores here); on a real cluster, 4x NODES bring 4x memory channels
    and the ceiling artifact disappears.  `streaming_ceiling_efficiency`
    quantifies that hardware cap so the job's efficiency can be read
    against it rather than against an unreachable 1.0."""
    import time

    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark.operators.webtext import (
        remove_dup_spans,
    )

    out = {}
    level_runs: dict[str, list[float]] = {}
    n_small = max(CPUS // 4, 1)
    tokens_total = None
    for label, cpus in (("N", n_small), ("4N", CPUS)):
        spark = make_spark(cpus, f"bench-webtext-scaling-{label}")
        spark.sparkContext.setLogLevel("ERROR")
        base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        toks = F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+")

        def _replica(i: int) -> DataFrame:
            txt = (
                F.col("text")
                if i == 0
                else F.concat_ws(
                    " ",
                    F.transform(toks, lambda t: F.concat(F.lit(f"r{i}~"), t)),
                )
            )
            return base.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                txt.alias("text"),
            )

        reps = [_replica(i) for i in range(WEBTEXT_SCALE_REPLICAS)]
        corpus = reps[0]
        for r in reps[1:]:
            corpus = corpus.unionAll(r)
        corpus = corpus.repartition(max(cpus, 8)).persist()
        n_docs, tokens_total = corpus.select(
            F.count("*"),
            F.sum(F.size(F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+"))),
        ).first()
        # warm JVM/codegen outside the timing
        remove_dup_spans(base.limit(500)).agg(F.sum("n_removed")).first()
        ceil_walls = []
        for _ in range(repeats):
            t0 = time.time()
            corpus.select(
                F.sum(
                    F.size(F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+"))
                )
            ).first()
            ceil_walls.append(time.time() - t0)
        walls = []
        for _ in range(repeats):
            t0 = time.time()
            row = (
                remove_dup_spans(corpus)
                .agg(
                    F.sum("n_tokens").alias("t"),
                    F.sum("n_removed").alias("r"),
                )
                .first()
            )
            walls.append(time.time() - t0)
        # model-based quality filter: the shuffle-free expression path — the
        # closest thing to a pure "read the corpus once" job, so its N->4N
        # ratio reads the compute-bound (not shuffle-bound) scaling of the
        # box.  The per-row job is so fast that the spans corpus finishes in
        # seconds at 4N (fixed task-launch/planning overheads dominate), so
        # the classifier times a CLF_MULT-x replicated view (row-identical
        # copies are fine: scoring is per-row, no cross-doc semantics).
        from entity_resolution_pipeline_spark.operators.webtext import (
            quality_classifier_scores,
        )

        clf_corpus = (
            corpus.withColumn(
                "__r", F.explode(F.array_repeat(F.lit(1), WEBTEXT_CLF_MULT))
            ).drop("__r")
            if WEBTEXT_CLF_MULT > 1
            else corpus
        )
        clf_tokens = tokens_total * WEBTEXT_CLF_MULT
        quality_classifier_scores(base.limit(500)).agg(F.sum("n_grams")).first()
        clf_walls = []
        for _ in range(repeats):
            t0 = time.time()
            quality_classifier_scores(clf_corpus).agg(
                F.sum("n_grams"), F.sum("quality_prob")
            ).first()
            clf_walls.append(time.time() - t0)
        corpus.unpersist()
        spark.stop()
        level_runs[label] = sorted(walls)
        out[label] = {
            "cpus": cpus,
            "docs": int(n_docs),
            "tokens": int(tokens_total),
            "tokens_removed": int(row["r"]),
            "walls_sec": [round(w, 2) for w in walls],
            "best_tokens_per_sec": round(tokens_total / min(walls)),
            "median_tokens_per_sec": round(
                tokens_total / sorted(walls)[len(walls) // 2]
            ),
            "ceiling_walls_sec": [round(w, 2) for w in ceil_walls],
            "ceiling_best_tokens_per_sec": round(tokens_total / min(ceil_walls)),
            "classifier_walls_sec": [round(w, 2) for w in clf_walls],
            "classifier_tokens": int(clf_tokens),
            "classifier_best_tokens_per_sec": round(clf_tokens / min(clf_walls)),
            "classifier_median_tokens_per_sec": round(
                clf_tokens / sorted(clf_walls)[len(clf_walls) // 2]
            ),
        }
    ratio = out["4N"]["cpus"] / out["N"]["cpus"]
    out["scaling_efficiency"] = round(
        out["4N"]["best_tokens_per_sec"]
        / (ratio * out["N"]["best_tokens_per_sec"]),
        4,
    )
    out["scaling_efficiency_median"] = round(
        out["4N"]["median_tokens_per_sec"]
        / (ratio * out["N"]["median_tokens_per_sec"]),
        4,
    )
    out["classifier_scaling_efficiency"] = round(
        out["4N"]["classifier_best_tokens_per_sec"]
        / (ratio * out["N"]["classifier_best_tokens_per_sec"]),
        4,
    )
    out["classifier_scaling_efficiency_median"] = round(
        out["4N"]["classifier_median_tokens_per_sec"]
        / (ratio * out["N"]["classifier_median_tokens_per_sec"]),
        4,
    )
    out["streaming_ceiling_efficiency"] = round(
        out["4N"]["ceiling_best_tokens_per_sec"]
        / (ratio * out["N"]["ceiling_best_tokens_per_sec"]),
        4,
    )
    return out


SEMDEDUP_SCALE_N = int(os.environ.get("SPARK_GRAFT_SEMDEDUP_N", "100000"))
SEMDEDUP_CLUSTERS = int(os.environ.get("SPARK_GRAFT_SEMDEDUP_K", "1000"))
SEMDEDUP_PLANES = int(os.environ.get("SPARK_GRAFT_SEMDEDUP_PLANES", "8"))
SEMDEDUP_DIM = int(os.environ.get("SPARK_GRAFT_SEMDEDUP_DIM", "64"))
SEMDEDUP_PRECISION = os.environ.get("SPARK_GRAFT_SEMDEDUP_PRECISION", "float64")


def semdedup_scaling_run(repeats: int = SCALE_REPEATS) -> dict:
    """N vs 4N parallelism over the SemDeDup flagship: semantic_dedup on a
    deterministic synthetic embedding corpus with REAL duplicate structure
    (SEMDEDUP_SCALE_N vectors, SEMDEDUP_DIM dims: vector i = unit
    centroid[i mod K] + Gaussian noise with norm held ≈0.24 across dims
    (sigma = 0.03·sqrt(64/dim)), all PCG64-seeded by id — intra-cluster
    cosines land ≈0.94 at any dim, cross-cluster near 0, so threshold 0.9
    forms ~K duplicate groups; dim 64 reproduces the r3 corpus
    bit-identically).  SEMDEDUP_PLANES sets shards = 2^planes; run with
    shards ≫ cores (e.g. planes=10 → 1024) so per-bucket hash imbalance
    averages out and the within-bucket matmul + union-find carry the work.
    SEMDEDUP_DIM=512/1536 reproduce production embedding widths (1536 is
    the reference's own config.yml width) where the kernel is
    compute-dominant rather than corpus-movement-bound.  Corpus is written
    to tmpfs parquet ONCE and re-read per run so generation cost never
    pollutes the timing; `clearCache()` between repeats is defensive
    hygiene (the single-stage operator holds no persists).  Work is forced
    by a scalar (count, sum kept) agg; throughput = vectors/sec; same
    best-of-k + median + actual-core-ratio protocol as scaling_run."""
    import math
    import shutil
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from entity_resolution_pipeline_spark.operators.dedup import semantic_dedup

    n_total, k_clusters, dim = SEMDEDUP_SCALE_N, SEMDEDUP_CLUSTERS, SEMDEDUP_DIM
    sigma = 0.03 * math.sqrt(64.0 / dim)
    work = tempfile.mkdtemp(
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        prefix="erx-semdedup-",
    )
    out: dict = {}
    try:
        gen_spark = make_spark(CPUS, "bench-semdedup-gen")
        gen_spark.sparkContext.setLogLevel("ERROR")
        centers = np.random.Generator(np.random.PCG64(1_000_000_007)).standard_normal(
            (k_clusters, dim)
        )
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        bc = gen_spark.sparkContext.broadcast(centers)
        schema = StructType(
            [
                StructField("vec_id", LongType(), False),
                StructField("embedding", ArrayType(DoubleType(), False), False),
            ]
        )

        def gen(batches):
            C = bc.value
            for b in batches:
                ids = b["id"].to_numpy(dtype=np.int64)
                if not len(ids):
                    continue
                noise = np.stack(
                    [
                        np.random.Generator(np.random.PCG64(int(i))).standard_normal(dim)
                        for i in ids
                    ]
                )
                V = C[ids % k_clusters] + sigma * noise
                yield pd.DataFrame(
                    {"vec_id": ids, "embedding": [row.tolist() for row in V]}
                )

        src = os.path.join(work, "vectors")
        gen_spark.range(0, n_total, numPartitions=max(CPUS, 8)).mapInPandas(
            gen, schema=schema
        ).write.parquet(src)
        gen_spark.stop()

        level_runs: dict[str, list[float]] = {}
        n_small = max(CPUS // 4, 1)
        kept_total = None
        for label, cpus in (("N", n_small), ("4N", CPUS)):
            spark = make_spark(cpus, f"bench-semdedup-scaling-{label}")
            spark.sparkContext.setLogLevel("ERROR")
            corpus = spark.read.parquet(src)
            # warm with TWO full-corpus passes, not a limit() sliver: C2
            # JIT compilation and G1 heap growth are triggered by the real
            # allocation pattern and are much larger transients at 32
            # concurrent tasks than at 8 — measured 14/20/7/4.3 s across
            # four identical runs at 4N vs a flat 6 s at N.  Timing from a
            # cold JVM would charge the 4N level for JVM warmup a real
            # long-lived cluster pays once, inverting the scaling verdict.
            for _ in range(2):
                semantic_dedup(
                    corpus, threshold=0.9, n_planes=SEMDEDUP_PLANES, dim=dim,
                    precision=SEMDEDUP_PRECISION,
                ).agg(F.sum("kept")).first()
                spark.catalog.clearCache()
            walls = []
            for _ in range(repeats):
                t0 = time.time()
                row = (
                    semantic_dedup(corpus, threshold=0.9, n_planes=SEMDEDUP_PLANES, dim=dim, precision=SEMDEDUP_PRECISION)
                    .agg(F.count("*").alias("n"), F.sum("kept").alias("k"))
                    .first()
                )
                walls.append(time.time() - t0)
                kept_total = int(row["k"])
                assert int(row["n"]) == n_total
                spark.catalog.clearCache()
            spark.stop()
            level_runs[label] = sorted(walls)
            out[label] = {
                "cpus": cpus,
                "vectors": n_total,
                "kept": kept_total,
                "walls_sec": [round(w, 2) for w in walls],
                "best_vectors_per_sec": round(n_total / min(walls)),
                "median_vectors_per_sec": round(
                    n_total / sorted(walls)[len(walls) // 2]
                ),
            }
        ratio = out["4N"]["cpus"] / out["N"]["cpus"]
        out["dim"] = dim
        out["n_planes"] = SEMDEDUP_PLANES
        out["scaling_efficiency"] = round(
            out["4N"]["best_vectors_per_sec"]
            / (ratio * out["N"]["best_vectors_per_sec"]),
            4,
        )
        out["scaling_efficiency_median"] = round(
            out["4N"]["median_vectors_per_sec"]
            / (ratio * out["N"]["median_vectors_per_sec"]),
            4,
        )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


_ENV_STATE: dict = {}


def _envelope_init(n_bucket: int, dim: int, precision: str, blk: int) -> None:
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(os.getpid()))
    dtype = np.float32 if precision == "float32" else np.float64
    V = rng.standard_normal((n_bucket, dim)).astype(dtype)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    _ENV_STATE["Vn"] = Vn
    _ENV_STATE["S"] = np.empty((min(blk, n_bucket), n_bucket), dtype=dtype)
    _ENV_STATE["blk"] = blk


def _envelope_bucket(_: int) -> float:
    """One SemDeDup bucket's hot loop: blocked Vn @ Vn.T + candidate scan
    (exactly dedup._core's dominant work, no Spark/Arrow/union-find)."""
    import numpy as np

    Vn, S_buf, blk = _ENV_STATE["Vn"], _ENV_STATE["S"], _ENV_STATE["blk"]
    n = len(Vn)
    hits = 0
    for a in range(0, n, blk):
        b = min(a + blk, n)
        S = S_buf[: b - a]
        np.matmul(Vn[a:b], Vn.T, out=S)
        hits += int(np.count_nonzero(S >= 0.9 - 1e-6))
    return float(hits)


def _envelope_bw(_: int) -> float:
    import numpy as np

    a = np.ones(50_000_000)  # 400 MB
    t0 = time.time()
    s = 0.0
    for _ in range(3):
        s += float(a.sum())
    return 3 * a.nbytes / (time.time() - t0)


def _envelope_l1(_: int) -> float:
    import numpy as np

    A = np.random.Generator(np.random.PCG64(7)).standard_normal((64, 64))
    t0 = time.time()
    for _ in range(2000):
        A @ A
    return 2000 * 2 * 64**3 / (time.time() - t0)


def semdedup_envelope_run(repeats: int = SCALE_REPEATS) -> dict:
    """Hardware envelope for the SemDeDup N-vs-4N comparison: the SAME
    per-bucket blocked-dgemm hot loop (dedup._core's matmul + candidate
    scan, identical block size, dtype and bucket shape as the
    --semdedup-scaling config) run as RAW MULTIPROCESSING — no Spark, no
    shuffle, no Arrow, no Python-worker handoff — at N and 4N
    single-threaded workers over a fixed pool of buckets, plus a DRAM
    read-bandwidth sweep and an L1-resident 64×64 gemm control at the
    same two worker counts.  Purpose: bound what ANY framework can show
    on this box.  The dgemm envelope efficiency is the ceiling for the
    group stage (it shares one memory bus across all workers); the L1
    control shows how much of the shortfall is bandwidth vs core
    scaling; `vs_envelope` in the combined record = measured Spark
    efficiency ÷ dgemm envelope efficiency (≥1 ⇒ the operator is at the
    machine's limit, not Spark's).  Same best-of-k + median protocol."""
    from multiprocessing import Pool

    n_bucket = max(SEMDEDUP_SCALE_N // (1 << SEMDEDUP_PLANES), 16)
    # fixed total work, bounded so the N leg stays ~tens of seconds
    n_buckets = min(1 << SEMDEDUP_PLANES, 8 * CPUS)
    blk = 1024
    flop_per_bucket = 2.0 * n_bucket * n_bucket * SEMDEDUP_DIM
    out: dict = {
        "bucket_rows": n_bucket,
        "buckets": n_buckets,
        "dim": SEMDEDUP_DIM,
        "precision": SEMDEDUP_PRECISION,
    }
    n_small = max(CPUS // 4, 1)
    levels = (("N", n_small), ("4N", CPUS))
    recs = {label: {"workers": nproc, "dgemm_walls_sec": [], "dram": [], "l1": []}
            for label, nproc in levels}
    # INTERLEAVED repeats: the host's attainable bandwidth/turbo varies on
    # minute timescales (hypervisor neighbors), so N-then-4N blocks would
    # charge one level with whatever the host was doing during its block;
    # alternating levels per repeat samples both under comparable
    # conditions, and best-of-k then discards the throttled samples.
    for _ in range(repeats):
        for label, nproc in levels:
            rec = recs[label]
            with Pool(
                nproc,
                initializer=_envelope_init,
                initargs=(n_bucket, SEMDEDUP_DIM, SEMDEDUP_PRECISION, blk),
            ) as p:
                p.map(_envelope_bucket, range(nproc))  # warmup: page-in + BLAS init
                t0 = time.time()
                p.map(_envelope_bucket, range(n_buckets))
                rec["dgemm_walls_sec"].append(round(time.time() - t0, 2))
            with Pool(nproc) as p:
                rec["dram"].append(round(sum(p.map(_envelope_bw, range(nproc))) / 1e9, 1))
            with Pool(nproc) as p:
                rec["l1"].append(round(sum(p.map(_envelope_l1, range(nproc))) / 1e9, 1))
    for label, nproc in levels:
        rec = recs[label]
        walls = rec["dgemm_walls_sec"]
        rec["dgemm_gflops_best"] = round(
            n_buckets * flop_per_bucket / min(walls) / 1e9, 1
        )
        rec["dgemm_gflops_median"] = round(
            n_buckets * flop_per_bucket / sorted(walls)[len(walls) // 2] / 1e9, 1
        )
        rec["dram_read_gb_s"] = max(rec.pop("dram"))
        rec["l1_gemm_gflops"] = max(rec.pop("l1"))
        out[label] = rec
    ratio = out["4N"]["workers"] / out["N"]["workers"]
    for key, metric in (
        ("envelope_efficiency_dgemm", "dgemm_gflops_best"),
        ("envelope_efficiency_dgemm_median", "dgemm_gflops_median"),
        ("envelope_efficiency_dram", "dram_read_gb_s"),
        ("envelope_efficiency_l1", "l1_gemm_gflops"),
    ):
        out[key] = round(out["4N"][metric] / (ratio * out["N"][metric]), 4)
    return out


SEMDEDUP_RECALL_N = int(os.environ.get("SPARK_GRAFT_SEMDEDUP_RECALL_N", "50000"))
SEMDEDUP_RECALL_DIM = int(os.environ.get("SPARK_GRAFT_SEMDEDUP_RECALL_DIM", "64"))


def semdedup_recall_run() -> dict:
    """Pair-level cross-bucket recall of semantic_dedup vs the brute-force
    cosine ground truth (r4 verdict ask #4: the sign-projection sharding
    misses near-dup pairs straddling bucket boundaries — documented but
    unmeasured until now).

    Fixture: SEMDEDUP_RECALL_N deterministic unit vectors (PCG64 by id),
    half of them planted twins — vector n_base+i = base_i + Gaussian noise
    with norm ≈0.25, so twin cosines land ≈0.97 and background cosines
    concentrate near 0 at dim 64.  Ground truth = EVERY pair with exact
    cosine >= threshold, found by blocked numpy brute force over the full
    n² triangle (no reliance on the planting: accidental background pairs
    would be counted too).

    For each n_planes in {auto, auto+2, auto+4} the ACTUAL operator runs
    and a true pair counts as recalled iff both members share a `root` —
    which, because roots are bucket-confined members and every true pair
    in one bucket forms an edge, is exactly "the pair landed in one
    bucket".  So measured recall = same-bucket probability of a true pair,
    and the SRP theory curve (1 - theta/pi)^p is reported alongside.  The
    decay with p is the quantified tradeoff: auto sizing targets constant
    bucket ROWS, so at production corpus sizes (auto ≈ log2(n/4096) planes)
    single-table recall keeps falling — the scale remedy is
    `semantic_dedup_multitable` (R independent plane seeds + distributed
    CC union), whose recall 1-(1-r)^R is measured here in the same sweep.
    """
    import math
    import shutil
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_multitable,
    )

    n_total, dim, threshold = SEMDEDUP_RECALL_N, SEMDEDUP_RECALL_DIM, 0.9
    n_base = n_total // 2
    work = tempfile.mkdtemp(
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        prefix="erx-semrecall-",
    )
    try:
        # deterministic corpus, built once in numpy (50k x 64 = 25 MB)
        V = np.stack(
            [
                np.random.Generator(np.random.PCG64(int(i))).standard_normal(dim)
                for i in range(n_base)
            ]
        )
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        noise = np.stack(
            [
                np.random.Generator(np.random.PCG64(10**9 + int(i))).standard_normal(dim)
                for i in range(n_base)
            ]
        )
        noise *= 0.25 / np.linalg.norm(noise, axis=1, keepdims=True)
        twins = V + noise
        twins /= np.linalg.norm(twins, axis=1, keepdims=True)
        allv = np.concatenate([V, twins]).astype(np.float64)

        # exact ground truth: blocked brute force over the full triangle
        true_pairs: set[tuple[int, int]] = set()
        blk = 2048
        for a in range(0, n_total, blk):
            S = allv[a: a + blk] @ allv.T
            ii, jj = np.nonzero(S >= threshold)
            for i, j in zip(ii + a, jj):
                if i < j:
                    true_pairs.add((int(i), int(j)))
        n_true = len(true_pairs)

        spark = make_spark(CPUS, "bench-semdedup-recall")
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("vec_id", LongType(), False),
                StructField("embedding", ArrayType(DoubleType(), False), False),
            ]
        )
        spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in enumerate(allv)], schema
        ).write.parquet(os.path.join(work, "emb"))
        corpus = spark.read.parquet(os.path.join(work, "emb"))
        auto = max(4, math.ceil(math.log2(max(n_total, 1) / 4096)))
        out: dict = {
            "vectors": n_total,
            "dim": dim,
            "threshold": threshold,
            "n_true_pairs": n_true,
            "auto_planes": auto,
            "per_planes": {},
        }

        def pair_recall(res_df) -> float:
            root = dict(
                (int(r["vec_id"]), r["root"])
                for r in res_df.select("vec_id", "root").collect()
            )
            hit = sum(1 for i, j in true_pairs if root[i] == root[j])
            return hit / max(n_true, 1)

        for p in (auto, auto + 2, auto + 4):
            t0 = time.time()
            rec = pair_recall(
                semantic_dedup(corpus, threshold=threshold, n_planes=p, dim=dim)
            )
            # SRP theory at the MEDIAN true-pair cosine
            cos_med = 0.97
            theory = (1.0 - math.acos(cos_med) / math.pi) ** p
            out["per_planes"][str(p)] = {
                "recall": round(rec, 4),
                "theory_at_cos0.97": round(theory, 4),
                "sec": round(time.time() - t0, 1),
            }
            print(f"planes={p}: recall={rec:.4f} theory≈{theory:.4f}", flush=True)
        # multi-table remedy at the auto+4 (worst single-table) plane count
        out["multitable"] = {}
        for tables in (2, 4):
            t0 = time.time()
            rec = pair_recall(
                semantic_dedup_multitable(
                    corpus,
                    threshold=threshold,
                    n_planes=auto + 4,
                    n_tables=tables,
                    dim=dim,
                )
            )
            r1 = out["per_planes"][str(auto + 4)]["recall"]
            out["multitable"][str(tables)] = {
                "n_planes": auto + 4,
                "recall": round(rec, 4),
                "theory_from_single": round(1 - (1 - r1) ** tables, 4),
                "sec": round(time.time() - t0, 1),
            }
            print(f"tables={tables}: recall={rec:.4f}", flush=True)
        spark.stop()
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


CURATION_REPLICAS = int(os.environ.get("SPARK_GRAFT_CURATION_REPLICAS", "8"))


def curation_scaling_run(repeats: int = SCALE_REPEATS) -> dict:
    """N vs 4N parallelism over the heaviest headline query: the COMPOSED
    snapshot-curation chain (q_snapshot_curation's exact plan — prior-
    snapshot cleaning + 12-substage new-snapshot chain + funnel) on the
    sf documents replicated CURATION_REPLICAS× (replica i>0 gets doc_ids
    offset by 10M·i and every token prefixed `r{i}~`, the webtext-scaling
    trick: cross-replica text never collides in span/fuzzy dedup, and the
    page-synthesis moduli in _curate_pages keep firing at the same rates).
    The corpus is generated ONCE to tmpfs parquet and re-read by both
    levels, so generation never pollutes the timing; one full-chain
    warmup per level absorbs JIT/heap transients (see semdedup note).
    Wall = the END-TO-END chain: build prior_clean, run the chain, collect
    the 10-row funnel.  Per-substage split comes from the eager _pin
    timings of the best repeat (localCheckpoint materializes each
    substage, so each pin wall IS that substage's incremental cost);
    'funnel' is the residual (non-pinned stages + the funnel unions).
    Throughput = input tokens/sec; same best-of-k + median protocol as
    scaling_run."""
    import gc
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from __spark_entry__ import _curate_cfg, _curate_pages
    from entity_resolution_pipeline_spark.plans.curation import (
        build_clean_snapshot,
        curate_snapshot_frames,
        snapshot_funnel,
    )

    cfg = _curate_cfg()
    work = tempfile.mkdtemp(
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        prefix="erx-curatescale-",
    )
    out: dict = {}
    try:
        gen_spark = make_spark(CPUS, "bench-curation-gen")
        gen_spark.sparkContext.setLogLevel("ERROR")
        base = gen_spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        toks = F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+")
        reps = []
        for i in range(CURATION_REPLICAS):
            txt = (
                F.col("text")
                if i == 0
                else F.concat_ws(
                    " ",
                    F.transform(toks, lambda t: F.concat(F.lit(f"r{i}~"), t)),
                )
            )
            reps.append(
                base.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                    txt.alias("text"),
                )
            )
        docs = reps[0]
        for r in reps[1:]:
            docs = docs.unionAll(r)
        src = os.path.join(work, "docs")
        docs.repartition(max(CPUS, 8)).write.parquet(src)
        n_docs, tokens_total = (
            gen_spark.read.parquet(src)
            .select(
                F.count("*"),
                F.sum(
                    F.size(F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+"))
                ),
            )
            .first()
        )
        gen_spark.stop()

        n_small = max(CPUS // 4, 1)
        funnel_checks: dict[str, list] = {}
        for label, cpus in (("N", n_small), ("4N", CPUS)):
            spark = make_spark(cpus, f"bench-curation-scaling-{label}")
            spark.sparkContext.setLogLevel("ERROR")
            pages = _curate_pages(spark.read.parquet(src))
            new_pages = pages.where(F.col("k") % 7 != 0).drop("k")
            prior_pages = pages.where(F.col("k") % 7 == 0).drop("k")

            def run_chain(timings=None):
                # funnel=False mirrors q_snapshot_curation's prior side:
                # no flag columns, no latest pin (curation.py docstring)
                prior_clean = build_clean_snapshot(
                    prior_pages, cfg, timings=timings, funnel=False
                )["clean"].select("doc_id", "clean_text")
                frames = curate_snapshot_frames(
                    new_pages, prior_clean, cfg, timings=timings
                )
                return snapshot_funnel(frames).collect()

            run_chain()  # full-chain warmup (JIT/heap, outside timings)
            gc.collect()
            walls, splits = [], []
            for _ in range(repeats):
                timings: dict[str, float] = {}
                t0 = time.time()
                rows = run_chain(timings)
                wall = time.time() - t0
                walls.append(wall)
                timings["funnel"] = wall - sum(timings.values())
                splits.append({k: round(v, 2) for k, v in timings.items()})
                funnel_checks[label] = sorted(
                    (r["stage"], r["n_docs"], r["n_tokens"]) for r in rows
                )
                spark.catalog.clearCache()
                gc.collect()
            spark.stop()
            best = walls.index(min(walls))
            out[label] = {
                "cpus": cpus,
                "docs": int(n_docs),
                "tokens": int(tokens_total),
                "walls_sec": [round(w, 2) for w in walls],
                "best_tokens_per_sec": round(tokens_total / min(walls)),
                "median_tokens_per_sec": round(
                    tokens_total / sorted(walls)[len(walls) // 2]
                ),
                "substage_sec_best_run": splits[best],
            }
        # both levels must produce the identical funnel (parallelism-
        # deterministic chain) — a scaling number over divergent outputs
        # would be meaningless
        assert funnel_checks["N"] == funnel_checks["4N"], "funnel diverged"
        ratio = out["4N"]["cpus"] / out["N"]["cpus"]
        out["replicas"] = CURATION_REPLICAS
        out["scaling_efficiency"] = round(
            out["4N"]["best_tokens_per_sec"]
            / (ratio * out["N"]["best_tokens_per_sec"]),
            4,
        )
        out["scaling_efficiency_median"] = round(
            out["4N"]["median_tokens_per_sec"]
            / (ratio * out["N"]["median_tokens_per_sec"]),
            4,
        )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


STREAM_REPLICAS = int(os.environ.get("SPARK_GRAFT_STREAM_REPLICAS", "100"))


def streaming_dedup_run(repeats: int = SCALE_REPEATS) -> dict:
    """Measured throughput (docs/sec) of the bloom-gated incremental exact
    dedup under Structured Streaming (availableNow file source) vs the SAME
    call as a batch job — the r2 verdict asked for a NUMBER on the streaming
    path, not just the bit-parity test (tests/test_bloom.py pins equality).

    Input: sf documents replicated STREAM_REPLICAS× (replica 0 verbatim =
    true cross-snapshot dups, replicas i>0 suffixed ' r<i>' = novel), so the
    dup rate is 1/REPLICAS — the realistic shape where the bloom-negative
    branch (no join at all) carries ~all rows.  Corpus side = the base
    documents; its bloom is built once outside the timing (per-snapshot
    amortized work).  Both paths sink to `noop` so only the dedup plan is
    timed; the streaming wall includes Spark's micro-batch planning +
    checkpointing overhead — the honest end-to-end number."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark.operators.dedup import (
        build_corpus_bloom,
        flag_against_corpus,
    )

    spark = make_spark(CPUS, "bench-streaming-dedup")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        prefix="erx-streambench-",
    )
    try:
        base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        reps = [
            base.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                (
                    F.col("text")
                    if i == 0
                    else F.concat_ws(" ", F.col("text"), F.lit(f"r{i}"))
                ).alias("text"),
            )
            for i in range(STREAM_REPLICAS)
        ]
        new_docs = reps[0]
        for r in reps[1:]:
            new_docs = new_docs.unionAll(r)
        src = os.path.join(work, "new_docs")
        new_docs.repartition(max(CPUS, 8)).write.parquet(src)
        batch_in = spark.read.parquet(src)
        n_docs = batch_in.count()
        corpus = base
        bloom = build_corpus_bloom(corpus, m_bits=1 << 23)

        # warm codegen/Arrow outside the timings
        flag_against_corpus(
            batch_in.limit(1000), corpus, bloom, m_bits=1 << 23
        ).write.format("noop").mode("overwrite").save()

        # dup count measured once OUTSIDE the timings; both timed paths sink
        # to noop so the comparison is the same plan, same sink
        n_kept = (
            flag_against_corpus(batch_in, corpus, bloom, m_bits=1 << 23)
            .agg(F.sum("kept"))
            .first()[0]
        )
        batch_walls, stream_walls = [], []
        for _ in range(repeats):
            t0 = time.time()
            flag_against_corpus(
                batch_in, corpus, bloom, m_bits=1 << 23
            ).write.format("noop").mode("overwrite").save()
            batch_walls.append(time.time() - t0)
        for i in range(repeats):
            ckpt = os.path.join(work, f"ckpt{i}")
            stream_in = spark.readStream.schema(batch_in.schema).parquet(src)
            t0 = time.time()
            q = (
                flag_against_corpus(stream_in, corpus, bloom, m_bits=1 << 23)
                .writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            stream_walls.append(time.time() - t0)
        return {
            "docs": int(n_docs),
            "dups_flagged": int(n_docs - n_kept),
            "batch_walls_sec": [round(w, 2) for w in batch_walls],
            "stream_walls_sec": [round(w, 2) for w in stream_walls],
            "batch_best_docs_per_sec": round(n_docs / min(batch_walls)),
            "batch_median_docs_per_sec": round(
                n_docs / sorted(batch_walls)[len(batch_walls) // 2]
            ),
            "stream_best_docs_per_sec": round(n_docs / min(stream_walls)),
            "stream_median_docs_per_sec": round(
                n_docs / sorted(stream_walls)[len(stream_walls) // 2]
            ),
            "stream_vs_batch_best": round(min(batch_walls) / min(stream_walls), 4),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def main() -> None:
    args = set(sys.argv[1:])
    if "--streaming" in args:
        print(json.dumps({"streaming_dedup": streaming_dedup_run()}))
        return
    if "--scaling" in args:
        result = scaling_run()
        print(json.dumps({"scaling": result}))
        return
    if "--webtext-scaling" in args:
        print(json.dumps({"webtext_scaling": webtext_scaling_run()}))
        return
    if "--semdedup-scaling" in args:
        print(json.dumps({"semdedup_scaling": semdedup_scaling_run()}))
        return
    if "--semdedup-envelope" in args:
        print(json.dumps({"semdedup_envelope": semdedup_envelope_run()}))
        return
    if "--semdedup-recall" in args:
        print(json.dumps({"semdedup_recall": semdedup_recall_run()}))
        return
    if "--curation-scaling" in args:
        print(json.dumps({"curation_scaling": curation_scaling_run()}))
        return
    if "--recall" in args:
        print(json.dumps({"recall": recall_run()}))
        return
    spark = make_spark(CPUS, "bench")
    spark.sparkContext.setLogLevel("ERROR")
    times, extra, steady = bench_queries(spark)
    total = round(sum(times.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full record — steady-state sweep (second identical invocation,
    # codegen cache warm: the regime a 100 TB capacity estimate should
    # extrapolate from), per-query detail, and the host-noise calibration
    # ratio vs the committed quiet-window record (see BENCH/BASELINE.md
    # §noise-band) — goes to BENCH/last_run_full.json and a PRECEDING
    # stdout line.  The FINAL stdout line is the compact unadorned
    # cold-protocol record {metric,value,unit,queries,sf}: the external
    # driver captures only the tail of stdout, and the canonical
    # machine-readable number must be the measured value with no
    # calibration context attached (r4's enriched single line outgrew the
    # driver's window and its embedded record invited substituting the
    # cached best for the fresh measurement).
    full = {
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": times,
        "value_steady": round(sum(steady.values()), 3),
        "queries_steady": steady,
        "sf": sf_val,
        "detail": extra,
    }
    rec_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH",
        "headline_quiet_record.json",
    )
    try:
        with open(rec_path) as f:
            rec = json.load(f)
        rsteady = rec.get("queries_steady") or {}
        ratios = sorted(
            steady[q] / rsteady[q]
            for q in steady
            if rsteady.get(q, 0) >= 0.2 and steady[q] > 0
        )
        if ratios:
            full["median_steady_ratio_vs_quiet_record"] = round(
                ratios[len(ratios) // 2], 3
            )
    except (OSError, ValueError, TypeError, KeyError, ZeroDivisionError):
        pass
    try:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_run_full.json"
        )
        with open(out_path, "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass
    print(json.dumps(full))
    print(
        json.dumps(
            {
                "metric": "headline_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
