"""Connected-components (large-star/small-star) correctness.

The reference clusters with driver-local networkx (classification.py:877-878);
these tests pin our distributed replacement to the same semantics: exact
partition into components, deterministic lexicographic-min roots, and
robustness to chains (worst case for iterative min-propagation).
"""

from __future__ import annotations

from entity_resolution_pipeline_spark.operators import cluster as G
from entity_resolution_pipeline_spark.operators.cluster import (
    cluster_predictions,
    cluster_statistics,
    connected_components,
)


def _components(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = connected_components(df).collect()
    comps: dict[str, set[str]] = {}
    for r in rows:
        comps.setdefault(r["root"], set()).add(r["entity_id"])
    return comps


def test_two_components_and_roots(spark):
    comps = _components(
        spark, [("b", "a"), ("b", "c"), ("c", "d"), ("e", "f"), ("h", "g"), ("g", "f")]
    )
    assert comps == {"a": {"a", "b", "c", "d"}, "e": {"e", "f", "g", "h"}}
    # disjoint cliques keep their min-id roots
    comps = _components(spark, [("q", "p"), ("q", "r"), ("p", "r"), ("y", "x")])
    assert comps == {"p": {"p", "q", "r"}, "x": {"x", "y"}}
    # one bridge edge joins two triangles into one component
    tri = [("a", "b"), ("b", "c"), ("a", "c"), ("d", "e"), ("e", "f"), ("d", "f")]
    comps = _components(spark, tri + [("c", "d")])
    assert comps == {"a": {"a", "b", "c", "d", "e", "f"}}


def test_long_chain_single_component(spark):
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(60)]
    comps = _components(spark, edges)
    assert list(comps) == ["n000"]
    assert len(comps["n000"]) == 61


def test_duplicate_and_reversed_edges(spark):
    comps = _components(spark, [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c")])
    assert comps == {"a": {"a", "b", "c"}}


def test_self_loop_only_drops_out(spark):
    comps = _components(spark, [("a", "a"), ("b", "c")])
    # 'a' has no non-loop edge → not in any component (callers add singletons)
    assert comps == {"b": {"b", "c"}}


def test_local_finish_parity_with_star_iteration(spark, monkeypatch):
    """The size-gated single-task finisher must produce byte-identical
    assignments to the pure large-star/small-star iteration (budget=0):
    same node universe, same lexicographic-min roots."""
    import random

    rng = random.Random(11)
    edges = [
        (f"n{rng.randrange(400):03d}", f"n{rng.randrange(400):03d}")
        for _ in range(350)
    ]
    edges += [(f"c{i:03d}", f"c{i+1:03d}") for i in range(120)]  # chain worst case
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = sorted(
        (r["entity_id"], r["root"]) for r in connected_components(df).collect()
    )
    monkeypatch.setattr(G, "LOCAL_FINISH_MAX_EDGES", 0)
    star = sorted(
        (r["entity_id"], r["root"]) for r in connected_components(df).collect()
    )
    assert fast == star
    assert len(fast) > 0


def test_local_finish_mid_iteration_cutover(spark, monkeypatch):
    """A budget below the initial edge count forces star rounds first, then
    the finisher takes over once the set shrinks — result still exact."""
    import random

    rng = random.Random(3)
    # dense random graph on 50 nodes: ~380 canonical edges collapse to ~49
    # star edges after one round, crossing the 100-edge budget mid-iteration
    edges = [
        (f"m{rng.randrange(50):02d}", f"m{rng.randrange(50):02d}")
        for _ in range(400)
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    monkeypatch.setattr(G, "LOCAL_FINISH_MAX_EDGES", 100)
    got = {r["entity_id"]: r["root"] for r in connected_components(df).collect()}
    monkeypatch.setattr(G, "LOCAL_FINISH_MAX_EDGES", 0)
    exact = {r["entity_id"]: r["root"] for r in connected_components(df).collect()}
    assert got == exact and len(got) > 0


def test_cluster_predictions_singletons_and_threshold(spark):
    preds = spark.createDataFrame(
        [
            ("r1", "r2", 0.99, True),
            ("r2", "r3", 0.97, True),
            ("r4", "r5", 0.45, True),   # below min_edge_weight=0.5 → no edge
            ("r6", "r7", 0.99, False),  # not a match → no edge
        ],
        ["left_id", "right_id", "probability", "match"],
    )
    entities = spark.createDataFrame([(f"r{i}",) for i in range(1, 8)], ["record_id"])
    out = cluster_predictions(preds, entities).collect()
    by_entity = {r["entity_id"]: r for r in out}
    assert len(by_entity) == 7
    big = {e for e, r in by_entity.items() if r["cluster_size"] == 3}
    assert big == {"r1", "r2", "r3"}
    assert by_entity["r1"]["cluster_id"] == by_entity["r3"]["cluster_id"]
    singles = {e for e, r in by_entity.items() if r["cluster_size"] == 1}
    assert singles == {"r4", "r5", "r6", "r7"}


def test_cluster_statistics_buckets(spark):
    preds = spark.createDataFrame(
        [("a1", "a2", 0.99, True), ("b1", "b2", 0.99, True), ("b2", "b3", 0.99, True)],
        ["left_id", "right_id", "probability", "match"],
    )
    entities = spark.createDataFrame([("a1",), ("a2",), ("b1",), ("b2",), ("b3",), ("c1",)], ["record_id"])
    clusters = cluster_predictions(preds, entities)
    stats = {r["size_bucket"]: (r["num_clusters"], r["num_entities"]) for r in cluster_statistics(clusters).collect()}
    assert stats == {"1": (1, 1), "2": (1, 2), "3-5": (1, 3)}


def test_modularity_self_loops_match_networkx(spark):
    """ADVICE r3: self-loops count — w into m and intra, 2w into degree —
    matching networkx's convention exactly."""
    import networkx as nx
    from networkx.algorithms.community import modularity as nxmod

    from entity_resolution_pipeline_spark.operators.cluster import modularity

    edges = [
        ("a", "b", 2.0),
        ("b", "c", 1.0),
        ("a", "a", 3.0),  # self-loop inside community 1
        ("d", "d", 1.5),  # self-loop as its own community
        ("c", "d", 0.5),
    ]
    assign = [("a", "x"), ("b", "x"), ("c", "y"), ("d", "y")]
    df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    adf = spark.createDataFrame(assign, ["entity_id", "community"])
    rows = modularity(df, adf, weight_col="weight").collect()
    H = nx.Graph()
    for u, v, w in edges:
        H.add_edge(u, v, weight=w)
    q_nx = nxmod(H, [{"a", "b"}, {"c", "d"}], weight="weight")
    q_ours = sum(r["contribution"] for r in rows)
    assert abs(q_ours - q_nx) < 1e-5


def test_modularity_empty_graph_defined(spark):
    """ADVICE r3: empty edge set → contribution 0.0, not null/div-by-zero."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from entity_resolution_pipeline_spark.operators.cluster import modularity

    schema = StructType(
        [
            StructField("src", StringType()),
            StructField("dst", StringType()),
            StructField("weight", DoubleType()),
        ]
    )
    df = spark.createDataFrame([], schema)
    adf = spark.createDataFrame(
        [("a", "x"), ("b", "x")], ["entity_id", "community"]
    )
    rows = modularity(df, adf, weight_col="weight").collect()
    assert len(rows) == 1
    assert rows[0]["community"] == "x"
    assert rows[0]["contribution"] == 0.0


def _barbell():
    """Two 5-cliques (n00-n04, n10-n14) joined by the bridge n04-n10."""
    import itertools

    e = []
    for base in (0, 10):
        for a, b in itertools.combinations(range(base, base + 5), 2):
            e.append((f"n{a:02d}", f"n{b:02d}", 1.0))
    e.append(("n04", "n10", 1.0))
    return e


def test_modularity_matches_networkx(spark):
    """Q of the barbell's two-clique partition equals networkx's, and each
    community row counts its own nodes."""
    import networkx as nx
    from networkx.algorithms.community import modularity as nxmod

    from entity_resolution_pipeline_spark.operators.cluster import modularity

    edges = _barbell()
    df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    comms = {
        "n00": {f"n{i:02d}" for i in range(5)},
        "n10": {f"n{i:02d}" for i in range(10, 15)},
    }
    assign = spark.createDataFrame(
        [(n, c) for c, mem in comms.items() for n in sorted(mem)],
        ["entity_id", "community"],
    )
    rows = modularity(df, assign, weight_col="weight").collect()
    H = nx.Graph()
    for u, v, w in edges:
        H.add_edge(u, v, weight=w)
    q_nx = nxmod(H, list(comms.values()), weight="weight")
    q_ours = sum(r["contribution"] for r in rows)
    assert abs(q_ours - q_nx) < 1e-5
    by_c = {r["community"]: r for r in rows}
    assert set(by_c) == set(comms)
    assert all(r["n_nodes"] == len(comms[c]) for c, r in by_c.items())
