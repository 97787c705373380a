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
unmatched records come back as singletons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ClusteringConfig


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


def connected_components(
    edges: DataFrame, cfg: ClusteringConfig = ClusteringConfig()
) -> DataFrame:
    """edges(src, dst) → assignments(entity_id, root).

    Alternates large-star/small-star until the canonical edge set is stable;
    on convergence every edge points node → component-min, which IS the
    assignment table.

    Size-gated finisher: both star transforms preserve the non-isolated node
    set (a local-min node re-emerges as its neighbors' min; every other node
    re-emerges as src), so at ANY round the surviving edge set spans all
    original nodes and a single-task union-find over it yields the exact
    final assignment.  The per-round convergence checksum already counts
    edges, so when that count ≤ cfg.local_finish_max_edges we hand off to
    `_local_finish` at zero extra actions — replacing the tail O(log n)
    star rounds (each 2 shuffles of a vanishing edge set) with one kernel.
    At 10^12-edge scale the star rounds still do the heavy contraction; the
    finisher only fires once the remainder fits one task's budget.
    """
    # lazy checkpoint: the checksum action right below materializes it, so
    # the canon pass runs ONE job instead of two (eager checkpoint + agg)
    current = _canon(edges).localCheckpoint(eager=False)
    prev_sig = _checksum(current)
    budget = cfg.local_finish_max_edges
    if budget and 0 < prev_sig[0] <= budget:
        return _local_finish(current)
    for _ in range(cfg.max_iterations):
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
        if budget and 0 < sig[0] <= budget:
            return _local_finish(current)
        prev_sig = sig
    # Converged edge set is a star per component; in canonical (src < dst)
    # form the root is always `src`.  Read the assignment orientation-robustly
    # anyway: every node's root = min(self, min over neighbors) — exact for a
    # star, and safe if convergence stopped at max_iterations.
    nbrs = current.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        current.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    return nbrs.groupBy("u").agg(F.min("v").alias("mn")).select(
        F.col("u").alias("entity_id"), F.least("u", "mn").alias("root")
    )


def cluster_predictions(
    predictions: DataFrame,
    all_entities: DataFrame | None = None,
    cfg: ClusteringConfig = ClusteringConfig(),
) -> DataFrame:
    """PREDICTIONS → CLUSTERS (entity_id, cluster_id, cluster_size).

    Match graph: edges = predicted matches with probability ≥ min_edge_weight
    (classification.py:850-876).  `all_entities(record_id)` adds singleton
    clusters for unmatched records.  cluster_id = xxhash64(root) — stable
    across runs; at 10^12 nodes prefer the root string itself as the key
    (kept as `cluster_key`).

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
    assignments = connected_components(edges, cfg)
    if all_entities is not None:
        singles = (
            all_entities.select(F.col(all_entities.columns[0]).alias("entity_id"))
            .join(assignments.select("entity_id"), "entity_id", "left_anti")
            .select("entity_id", F.col("entity_id").alias("root"))
        )
        assignments = assignments.unionByName(singles)
    # the assignment table is consumed twice below (sizes agg + join) and —
    # with all_entities — carries an anti-join; without a pin each consumer
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


# ------------------------------------------------------------------- louvain

def _louvain_py(
    edges: list, resolution: float = 1.0
) -> dict:
    """Exact deterministic Louvain (Blondel et al. 2008) on ONE connected
    component: local-moving passes in sorted node order + graph aggregation,
    repeated until modularity stops improving.  Replaces python-louvain's
    `best_partition` (the reference's import,
    batch_parallel_classification.py:880-896) with a DETERMINISTIC variant:
    nodes are visited in sorted order and ties break toward the smaller
    community label — python-louvain shuffles node order per pass, so its
    partitions are not reproducible run-to-run, which violates this
    engine's reproducibility contract.

    edges: [(u, v, w)], strings, each undirected edge once.  Self-loops
    (u == v) are legal — the over-cap coarsening path feeds quotient
    graphs whose intra-supernode weight rides a self-loop; adj keeps a
    self-loop ONCE at full weight (the same convention the aggregation
    step below produces), contributing w to m and 2w to the node degree.
    Returns {node: community_label} where the label is the min member.

    A final node-level refinement pass (local moving over ORIGINAL nodes,
    initialized from the hierarchical result) runs after the level loop —
    classic Louvain only guarantees no SUPERNODE move can improve Q, while
    refinement extends that guarantee to single original nodes
    (test_cluster pins it exhaustively) and never lowers Q."""
    adj: dict = {}
    m = 0.0
    # canonical edge order: Spark hands the group's rows in arbitrary order,
    # and dict insertion order feeds the fp summation order inside the gain
    # loop — sorting first makes the whole run bit-identical regardless of
    # row arrival (ulp-level sum differences could otherwise flip a greedy
    # tie and change the partition between runs)
    for u, v, w in sorted(edges):
        w = float(w)
        if u == v:
            adj.setdefault(u, {})[u] = adj.get(u, {}).get(u, 0.0) + w
        else:
            adj.setdefault(u, {})[v] = adj.get(u, {}).get(v, 0.0) + w
            adj.setdefault(v, {})[u] = adj.get(v, {}).get(u, 0.0) + w
        m += w
    if m <= 0.0:
        return {n: n for n in adj}
    adj0 = adj  # original graph kept for the refinement pass

    def _local_move(adj: dict, com: dict) -> bool:
        """Sorted-order local moving until stable; mutates com in place.
        Community keys are arbitrary labels; tot is derived from com."""
        nodes = sorted(adj)
        k = {n: sum(adj[n].values()) + adj[n].get(n, 0.0) for n in nodes}
        tot: dict = {}
        for n in nodes:
            tot[com[n]] = tot.get(com[n], 0.0) + k[n]
        improved_any = False
        moved = True
        while moved:
            moved = False
            for n in nodes:
                cn = com[n]
                links: dict = {}
                for nb, w in adj[n].items():
                    if nb == n:
                        continue
                    links[com[nb]] = links.get(com[nb], 0.0) + w
                tot[cn] -= k[n]
                base = (
                    links.get(cn, 0.0) - resolution * tot[cn] * k[n] / (2.0 * m)
                )
                best_c, best_gain = cn, 0.0
                for c in sorted(links):
                    if c == cn:
                        continue
                    gain = (
                        links[c] - resolution * tot[c] * k[n] / (2.0 * m) - base
                    )
                    if gain > best_gain + 1e-12:
                        best_c, best_gain = c, gain
                com[n] = best_c
                tot[best_c] = tot.get(best_c, 0.0) + k[n]
                if best_c != cn:
                    moved = True
                    improved_any = True
        return improved_any

    # node2orig: current-level supernode -> set of original nodes
    node2orig = {n: {n} for n in adj}

    while True:
        nodes = sorted(adj)
        com = {n: n for n in nodes}
        if not _local_move(adj, com):
            break
        # aggregate: communities become supernodes (label = min member node)
        members: dict = {}
        for n in nodes:
            members.setdefault(com[n], set()).add(n)
        label = {c: min(mem) for c, mem in members.items()}
        # Weight bookkeeping: a normal edge appears in adj twice (u→v and
        # v→u) at FULL weight each; a self-loop appears once.  The
        # aggregated graph must keep those conventions: intra-community
        # edges collapse into the supernode's self-loop at total weight
        # (w/2 per direction), existing self-loops transfer at full weight,
        # and cross-community directions each keep full weight (symmetric).
        new_adj: dict = {}
        for n in nodes:
            cu = label[com[n]]
            for nb, w in adj[n].items():
                if nb == n:
                    new_adj.setdefault(cu, {})[cu] = (
                        new_adj.get(cu, {}).get(cu, 0.0) + w
                    )
                    continue
                cv = label[com[nb]]
                if cu == cv:
                    new_adj.setdefault(cu, {})[cu] = (
                        new_adj.get(cu, {}).get(cu, 0.0) + w / 2.0
                    )
                else:
                    new_adj.setdefault(cu, {})[cv] = (
                        new_adj.get(cu, {}).get(cv, 0.0) + w
                    )
        new_node2orig: dict = {}
        for c, mem in members.items():
            lab = label[c]
            s = set()
            for n in mem:
                s |= node2orig[n]
            new_node2orig[lab] = s
        node2orig = new_node2orig
        adj = new_adj
        if len(adj) == len(nodes):
            break
    # refinement: node-level local moving on the ORIGINAL graph seeded with
    # the hierarchical partition — guarantees single-node local optimality
    com0: dict = {}
    for supernode, origs in node2orig.items():
        lab = min(origs)
        for o in origs:
            com0[o] = lab
    _local_move(adj0, com0)
    # relabel: community label = min member (refinement may move the
    # previous label-holder out of its community)
    members0: dict = {}
    for n, c in com0.items():
        members0.setdefault(c, set()).add(n)
    out = {}
    for c, mem in members0.items():
        lab = min(mem)
        for o in mem:
            out[o] = lab
    return out


def _coarsen_labels(
    big: DataFrame, resolution: float, rounds: int
) -> DataFrame:
    """Synchronous distributed modularity local-moving over the edges of
    OVERSIZED components — the coarsening half of the over-cap Louvain
    path.  big: (src, dst, w, component), no self-loops, each undirected
    edge once.  Returns (node, label) where each label group is a
    supernode for the quotient graph (label = min member, string order).

    Each round the ACTIVE half of the nodes (hash-parity coloring:
    xxhash64(u) % 2 == round % 2 — the color-class trick of distributed
    Louvain, Que et al. 2015) evaluates the standard Louvain gain of
    joining a neighboring community c: links(u,c) − γ·tot(c)·k(u)/(2m)
    vs the gain of staying, computed from the CURRENT labels (synchronous
    — all active nodes decide against the same snapshot, pure DataFrame
    aggs).  Alternating parity is what makes synchronous moving safe:
    most mutual-adoption swaps (the classic sync-LPA oscillation) cannot
    happen because adjacent nodes usually move in different rounds, and
    the residual same-parity swap self-resolves — after a swap each
    node's next active round sees the other's community as a strict-gain
    merge target, so swaps decay into merges rather than oscillating.  A
    plain monotone only-adopt-smaller-labels rule was measured to
    over-merge instead (a clique's min node has no smaller clique-mate,
    so its only admissible target is the bridge neighbor — gluing
    communities across bridges that the quotient kernel can never split).
    Ties break toward the smaller label; gains compare after 9-dp
    rounding so partition-order ulp noise cannot flip a decision (the
    engine's parallelism-determinism contract; residual risk = a gain
    genuinely within 5e-10 of a tie, same class as the semantic_dedup
    sign guard).
    """
    from pyspark.sql import Window

    both = big.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), "w", "component"
    ).unionAll(
        big.select(
            F.col("dst").alias("u"), F.col("src").alias("v"), "w", "component"
        )
    )
    # materialized once: every round's links agg + the final quotient build
    # re-read this table instead of re-executing the CC join lineage
    both = both.localCheckpoint(eager=True)
    m = big.groupBy("component").agg(F.sum("w").alias("m"))
    deg = (
        both.groupBy("u", "component")
        .agg(F.sum("w").alias("k"))
        .join(m, "component")
        .select("u", "k", "m")
        .localCheckpoint(eager=True)
    )
    labels = deg.select("u", F.col("u").alias("label"))
    idle = 0
    for rnd in range(max(rounds, 0)):
        lab_v = labels.select(F.col("u").alias("v"), F.col("label").alias("lab_v"))
        links = both.join(lab_v, "v").groupBy("u", "lab_v").agg(
            F.sum("w").alias("l")
        )
        tot = (
            labels.join(deg.select("u", "k"), "u")
            .groupBy("label")
            .agg(F.sum("k").alias("tot"))
        )
        cur = labels.select("u", F.col("label").alias("cur"))
        base = (
            deg.join(cur, "u")
            .join(
                tot.select(F.col("label").alias("cur"), F.col("tot").alias("tc")),
                "cur",
            )
            .join(
                links.select(
                    "u", F.col("lab_v").alias("cur"), F.col("l").alias("lc")
                ),
                ["u", "cur"],
                "left",
            )
            .select(
                "u",
                "k",
                "m",
                "cur",
                (
                    F.coalesce("lc", F.lit(0.0))
                    - resolution
                    * (F.col("tc") - F.col("k"))
                    * F.col("k")
                    / (2.0 * F.col("m"))
                ).alias("base"),
            )
        )
        gain = (
            F.col("l")
            - resolution * F.col("tot") * F.col("k") / (2.0 * F.col("m"))
            - F.col("base")
        )
        cand = (
            links.join(base, "u")
            .where(F.col("lab_v") != F.col("cur"))
            .where(F.pmod(F.xxhash64("u"), F.lit(2)) == F.lit(rnd % 2))
            .join(tot.select(F.col("label").alias("lab_v"), "tot"), "lab_v")
            .withColumn("g", F.round(gain, 9))
            .where(F.col("g") > 0)
        )
        rk = Window.partitionBy("u").orderBy(F.desc("g"), F.asc("lab_v"))
        moves = (
            cand.withColumn("rk", F.row_number().over(rk))
            .where(F.col("rk") == 1)
            .select("u", F.col("lab_v").alias("new_label"))
        )
        if moves.isEmpty():
            idle += 1
            if idle >= 2:
                break  # both parity classes idle back-to-back — converged
            continue
        idle = 0
        labels = (
            labels.join(moves, "u", "left")
            .select("u", F.coalesce("new_label", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
    roots = labels.groupBy("label").agg(F.min("u").alias("root"))
    return labels.join(roots, "label").select(
        "u", F.col("root").alias("label")
    )


def louvain_communities(
    edges: DataFrame,
    weight_col: str | None = None,
    resolution: float = 1.0,
    cfg: ClusteringConfig = ClusteringConfig(),
    max_component_edges: int = 2_000_000,
    coarsen_rounds: int = 8,
) -> DataFrame:
    """edges(src, dst[, weight]) → assignments(entity_id, community).

    The reference's third clustering algorithm (python-louvain
    `best_partition` over the weighted match graph,
    batch_parallel_classification.py:880-896) as a scale-safe Spark plan.
    Louvain communities can never span disconnected components, so the
    distributed part is the proven large-star/small-star connected
    components; each component's subgraph then gets EXACT deterministic
    Louvain inside one Arrow batch (_louvain_py) — the same
    confined-decomposition shape as semantic_dedup's bucket-local CC.

    A component whose edge count exceeds max_component_edges would OOM
    its executor in the exact kernel, so it takes the OVER-CAP path
    (r4, replacing the old one-community-per-component collapse): up to
    `coarsen_rounds` synchronous distributed local-moving rounds
    (_coarsen_labels — LPA-shaped, modularity gains, deterministic
    monotone tie-breaks) coarsen it, then the exact kernel runs on the
    QUOTIENT graph (supernode = coarsen label, intra-weight as self-loop)
    and the result maps back through the labels.  The caller still gets a
    RuntimeWarning naming the components — coarsened communities skip the
    original-node refinement pass, so single-node local optimality holds
    at supernode granularity only.  If the quotient STILL exceeds the cap
    (or coarsen_rounds=0 disables coarsening) that component falls back
    to one-community-per-component — the CC answer — with its own
    warning, rather than OOMing.

    Community label = min member id (string order, the CC root
    convention).  Deterministic at any parallelism: component assignment
    is deterministic, per-component Louvain is deterministic, coarsening
    rounds compare 9-dp-rounded gains with ordered tie-breaks, and
    groupBy routing affects none of them."""
    import pandas as pd

    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    ).alias("w")
    e = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            w,
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    comp = connected_components(e.select("src", "dst"), cfg)
    # materialized once (CC already ran its actions; this pins the join) so
    # the over-cap pre-scan agg and the main plan share one edge table
    # instead of executing the join lineage twice (ADVICE r3)
    tagged = e.join(
        comp.withColumnRenamed("entity_id", "src").withColumnRenamed(
            "root", "component"
        ),
        "src",
    ).localCheckpoint(eager=True)

    def _run(key, pdf):
        part = _louvain_py(
            list(zip(pdf["src"], pdf["dst"], pdf["w"])), resolution=resolution
        )
        return pd.DataFrame(
            {"entity_id": list(part), "community": [part[n] for n in part]}
        )

    schema = "entity_id string, community string"

    # over-cap detection runs DRIVER-side (one tiny agg over the pinned
    # edge table, collects only the offending component ids) so the warning
    # is visible to the caller, not buried in an executor's Python worker —
    # and because routing the oversized components to the coarsen path is a
    # driver decision
    oversized = {
        r["component"]
        for r in tagged.groupBy("component")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > max_component_edges)
        .collect()
    }
    if not oversized:
        return tagged.groupBy("component").applyInPandas(_run, schema=schema)

    import warnings

    big_ids = sorted(oversized)
    warnings.warn(
        f"louvain_communities: {len(oversized)} component(s) exceed "
        f"max_component_edges={max_component_edges} (e.g. {big_ids[:5]}); "
        f"coarsening with {coarsen_rounds} distributed local-moving "
        "round(s) before the exact kernel — communities there are locally "
        "optimal at supernode granularity only; re-block or raise the cap "
        "for exact treatment",
        RuntimeWarning,
        stacklevel=2,
    )
    small = tagged.where(~F.col("component").isin(big_ids))
    big = tagged.where(F.col("component").isin(big_ids))
    part_small = small.groupBy("component").applyInPandas(_run, schema=schema)

    labels = _coarsen_labels(big, resolution, coarsen_rounds)
    quotient = (
        big.join(
            labels.select(F.col("u").alias("src"), F.col("label").alias("lu")),
            "src",
        )
        .join(
            labels.select(F.col("u").alias("dst"), F.col("label").alias("lv")),
            "dst",
        )
        .groupBy(
            "component",
            F.least("lu", "lv").alias("src"),
            F.greatest("lu", "lv").alias("dst"),
        )
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    still_over = {
        r["component"]
        for r in quotient.groupBy("component")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > max_component_edges)
        .collect()
    }
    parts = [part_small]
    ok = quotient.where(~F.col("component").isin(sorted(still_over)))
    part_q = ok.groupBy("component").applyInPandas(_run, schema=schema)
    # map supernode communities back to original nodes
    parts.append(
        labels.join(
            part_q.withColumnRenamed("entity_id", "label"), "label"
        ).select(F.col("u").alias("entity_id"), "community")
    )
    if still_over:
        warnings.warn(
            f"louvain_communities: {len(still_over)} component(s) still "
            f"exceed the cap after coarsening (e.g. {sorted(still_over)[:5]}); "
            "falling back to one community per component there",
            RuntimeWarning,
            stacklevel=2,
        )
        fb = big.where(F.col("component").isin(sorted(still_over)))
        nodes_fb = (
            fb.select(F.col("src").alias("entity_id"), "component")
            .unionAll(fb.select(F.col("dst").alias("entity_id"), "component"))
            .distinct()
            .select("entity_id", F.col("component").alias("community"))
        )
        parts.append(nodes_fb)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def modularity(
    edges: DataFrame, assignments: DataFrame, weight_col: str | None = None
) -> DataFrame:
    """Per-community Newman modularity decomposition of a partition:
    one row per community (community, n_nodes, intra_w, degree_w,
    contribution) with Q = Σ contribution = Σ_c [L_c/m − (d_c/2m)²].
    Pure hash aggs — edge list shuffles on community only; no windows.
    assignments: (entity_id, community) — e.g. connected_components
    (renamed root) or louvain_communities output.
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
