"""Transitive clustering: iterative large-star/small-star connected
components.

Replaces the reference's driver-local `nx.connected_components`
(classification.py:877-878) with the alternating min-id join algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'14) —
O(log n) rounds, each round two shuffles, no driver materialization: the
only CC formulation that survives 10^12-document scale.

Determinism: node ids are strings; min() is lexicographic — total order, so
component roots are deterministic at any parallelism (SURVEY.md §7 risk 4).
Each iteration localCheckpoints to truncate lineage (otherwise the plan
doubles every round and the driver OOMs planning iteration ~20).

The edge threshold mirrors classification.py:871-876 (config.yml:211).
Every record keeps its cluster: there is no minimum cluster size, and
unmatched records come back as singletons.  `modularity` and
`cluster_statistics` report on a partition; they do not change it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ClusteringConfig

MAX_ITERATIONS = 50  # safety bound on star rounds (O(log n) converge)
# Edge count at or below which `_local_finish` takes over from the star
# rounds: 4M string-pair edges ≈ a few hundred MB in one Arrow group, the
# per-task budget the semantic-dedup bucket kernel is sized for.
LOCAL_FINISH_MAX_EDGES = 4_000_000


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set, canonical (src < dst), self-loops dropped."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ⁺(u))."""
    nbrs = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct edges large→small; connect u and all smaller neighbors to the
    minimum."""
    directed = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    moved = directed.join(mins, "u").select(F.col("v").alias("src"), F.col("m").alias("dst"))
    self_edges = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return moved.unionAll(self_edges)


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _local_finish(edges: DataFrame) -> DataFrame:
    """Single-task CC finisher: the whole (budget-bounded) edge set in one
    Arrow group, labels = per-component lexicographic-min id.

    Kernel is vectorized Shiloach-Vishkin-style min-label propagation with
    pointer doubling (`lbl = lbl[lbl]`): O(log n) numpy passes, no per-edge
    Python.  np.unique's sort makes integer-code order == lexicographic id
    order, so the integer min IS the string min — identical roots to the
    converged star iteration at any parallelism.
    """
    import pandas as pd  # noqa: F401  (worker-side)

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) == 0:
            return pd.DataFrame({"entity_id": [], "root": []}, dtype=object)
        ids, codes = np.unique(
            np.concatenate(
                [pdf["src"].to_numpy(dtype=object), pdf["dst"].to_numpy(dtype=object)]
            ),
            return_inverse=True,
        )
        a, b = codes[: len(pdf)], codes[len(pdf):]
        lbl = np.arange(ids.shape[0], dtype=np.int64)
        while True:
            new = lbl.copy()
            np.minimum.at(new, a, lbl[b])
            np.minimum.at(new, b, lbl[a])
            while True:
                hop = new[new]
                if np.array_equal(hop, new):
                    break
                new = hop
            if np.array_equal(new, lbl):
                break
            lbl = new
        return pd.DataFrame({"entity_id": ids, "root": ids[lbl]})

    return (
        edges.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _k, pdf: kernel(pdf), schema="entity_id string, root string"
        )
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) → assignments(entity_id, root).

    Alternates large-star/small-star until the canonical edge set is stable;
    on convergence every edge points node → component-min, which IS the
    assignment table.

    Size-gated finisher: both star transforms preserve the non-isolated node
    set (a local-min node re-emerges as its neighbors' min; every other node
    re-emerges as src), so at ANY round the surviving edge set spans all
    original nodes and a single-task union-find over it yields the exact
    final assignment.  The per-round convergence checksum already counts
    edges, so when that count ≤ LOCAL_FINISH_MAX_EDGES we hand off to
    `_local_finish` at zero extra actions — replacing the tail O(log n)
    star rounds (each 2 shuffles of a vanishing edge set) with one kernel.
    At 10^12-edge scale the star rounds still do the heavy contraction; the
    finisher only fires once the remainder fits one task's budget.
    """
    # lazy checkpoint: the checksum action right below materializes it, so
    # the canon pass runs ONE job instead of two (eager checkpoint + agg)
    current = _canon(edges).localCheckpoint(eager=False)
    prev_sig = _checksum(current)
    budget = LOCAL_FINISH_MAX_EDGES
    if 0 < prev_sig[0] <= budget:
        return _local_finish(current)
    for _ in range(MAX_ITERATIONS):
        # no _canon between the stars: small_star's groupBy(min) is
        # duplicate-insensitive, so the mid-round dedup exchange only traded
        # shuffle bytes for an extra stage (measured net -37% per round
        # without it on the chain worst case).  One ACTION per round: the
        # convergence checksum materializes the lazy localCheckpoint.
        ls = _large_star(current)
        ss = _canon(_small_star(ls))
        current = ss.localCheckpoint(eager=False)
        sig = _checksum(current)
        if sig == prev_sig:
            break
        if 0 < sig[0] <= budget:
            return _local_finish(current)
        prev_sig = sig
    # Converged edge set is a star per component; in canonical (src < dst)
    # form the root is always `src`.  Read the assignment orientation-robustly
    # anyway: every node's root = min(self, min over neighbors) — exact for a
    # star, and safe if convergence stopped at MAX_ITERATIONS.
    nbrs = current.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        current.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    return nbrs.groupBy("u").agg(F.min("v").alias("mn")).select(
        F.col("u").alias("entity_id"), F.least("u", "mn").alias("root")
    )


def cluster_predictions(
    predictions: DataFrame,
    all_entities: DataFrame,
    cfg: ClusteringConfig = ClusteringConfig(),
) -> DataFrame:
    """PREDICTIONS → CLUSTERS (entity_id, cluster_id, cluster_size).

    Match graph: edges = predicted matches with probability ≥ min_edge_weight
    (classification.py:850-876).  `all_entities(record_id)` names every
    record; unmatched records come back as singleton clusters, so each
    record lands in exactly one cluster.  cluster_id = xxhash64(root) —
    stable across runs; at 10^12 nodes prefer the root string itself as
    the key (kept as `cluster_key`).

    Storage note: the result carries a lazy localCheckpoint of the
    assignment table (it is consumed twice internally).  Checkpoint blocks
    are unreplicated executor storage pinned until the returned
    DataFrame's Python reference is garbage-collected, and lineage
    recovery on executor loss is forfeited for them.  Long-lived drivers
    that call this in a loop should drop the reference (`df = None`) and
    `gc.collect()` between iterations — retained blocks measurably slow
    later jobs (see bench.py's _release).
    """
    edges = (
        predictions.where(F.col("match") & (F.col("probability") >= cfg.min_edge_weight))
        .select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    )
    assignments = connected_components(edges)
    singles = (
        all_entities.select(F.col(all_entities.columns[0]).alias("entity_id"))
        .join(assignments.select("entity_id"), "entity_id", "left_anti")
        .select("entity_id", F.col("entity_id").alias("root"))
    )
    assignments = assignments.unionByName(singles)
    # the assignment table is consumed twice below (sizes agg + join) and
    # carries the singletons' anti-join; without a pin each consumer
    # re-runs the CC tail (finisher kernel / min-agg shuffle) per action.
    # Lazy localCheckpoint: first consumer materializes (zero extra
    # actions), the rest rescan one-row-per-node blocks.
    assignments = assignments.localCheckpoint(eager=False)
    sizes = assignments.groupBy("root").agg(F.count("*").alias("cluster_size"))
    out = (
        assignments.join(sizes, "root")
        .select(
            "entity_id",
            F.xxhash64("root").alias("cluster_id"),
            "cluster_size",
            F.col("root").alias("cluster_key"),
        )
    )
    return out


def cluster_statistics(clusters: DataFrame) -> DataFrame:
    """Size-distribution buckets 1 / 2 / 3-5 / 6-10 / 11-20 / 21+ computed
    over clusters (NOT over unique sizes — the reference's
    reporting.py:1149-1168 miscounts there; deliberately not replicated,
    SURVEY.md §7 item 7)."""
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.first("cluster_size").alias("size")
    )
    bucket = (
        F.when(F.col("size") == 1, "1")
        .when(F.col("size") == 2, "2")
        .when(F.col("size") <= 5, "3-5")
        .when(F.col("size") <= 10, "6-10")
        .when(F.col("size") <= 20, "11-20")
        .otherwise("21+")
    )
    return (
        per_cluster.groupBy(bucket.alias("size_bucket"))
        .agg(F.count("*").alias("num_clusters"), F.sum("size").alias("num_entities"))
        .orderBy("size_bucket")
    )


def modularity(
    edges: DataFrame, assignments: DataFrame, weight_col: str | None = None
) -> DataFrame:
    """Per-community Newman modularity decomposition of a partition:
    one row per community (community, n_nodes, intra_w, degree_w,
    contribution) with Q = Σ contribution = Σ_c [L_c/m − (d_c/2m)²].
    Pure hash aggs — edge list shuffles on community only; no windows.
    assignments: (entity_id, community) — e.g. connected_components
    output with root renamed to community.
    Nodes absent from assignments keep their own id (singleton
    convention).  Self-loops COUNT, with the networkx convention (r4,
    ADVICE r3): a self-loop of weight w adds w to m, w to its community's
    intra_w, and 2w to its community's degree_w.  An empty (or
    zero-weight) edge set yields contribution 0.0 for every community
    rather than a null/divide-by-zero."""
    w = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    ).alias("w")
    e = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            w,
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    a = assignments.select(
        F.col("entity_id").alias("node"), F.col("community").alias("c")
    )
    # LEFT joins: an endpoint missing from assignments falls back to its own
    # id (the singleton convention in the docstring) instead of silently
    # dropping the edge from deg/intra while it still counts in m
    eu = e.join(
        a.withColumnRenamed("node", "src").withColumnRenamed("c", "cu"),
        "src",
        "left",
    ).withColumn("cu", F.coalesce("cu", "src"))
    ev = eu.join(
        a.withColumnRenamed("node", "dst").withColumnRenamed("c", "cv"),
        "dst",
        "left",
    ).withColumn("cv", F.coalesce("cv", "dst"))
    m_row = e.agg(F.sum("w").alias("m")).withColumn("__k", F.lit(1))
    # degree per community: each edge adds w to both endpoints' communities
    deg = (
        ev.select(F.col("cu").alias("c"), "w")
        .unionAll(ev.select(F.col("cv").alias("c"), "w"))
        .groupBy("c")
        .agg(F.sum("w").alias("degree_w"))
    )
    intra = (
        ev.where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.sum("w").alias("intra_w"))
    )
    # node universe = assigned nodes ∪ edge endpoints (unassigned endpoints
    # become their own singleton community, matching the edge fallback)
    ends = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    extra = ends.join(a, "node", "left_anti").select(
        "node", F.col("node").alias("c")
    )
    nodes = a.unionByName(extra).groupBy("c").agg(F.count("*").alias("n_nodes"))
    out = (
        nodes.join(intra, "c", "left")
        .join(deg, "c", "left")
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(m_row), "__k")
        .select(
            F.col("c").alias("community"),
            "n_nodes",
            F.coalesce("intra_w", F.lit(0.0)).alias("intra_w"),
            F.coalesce("degree_w", F.lit(0.0)).alias("degree_w"),
            F.when(
                F.coalesce("m", F.lit(0.0)) > 0,
                F.round(
                    F.coalesce("intra_w", F.lit(0.0)) / F.col("m")
                    - F.pow(
                        F.coalesce("degree_w", F.lit(0.0)) / (2.0 * F.col("m")),
                        2,
                    ),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("contribution"),
        )
    )
    return out
