"""Connected-components (large-star/small-star) correctness.

The reference clusters with driver-local networkx (classification.py:877-878);
these tests pin our distributed replacement to the same semantics: exact
partition into components, deterministic lexicographic-min roots, and
robustness to chains (worst case for iterative min-propagation).
"""

from __future__ import annotations

import pytest

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


def test_local_finish_parity_with_star_iteration(spark):
    """The size-gated single-task finisher must produce byte-identical
    assignments to the pure large-star/small-star iteration (budget=0):
    same node universe, same lexicographic-min roots."""
    import random

    from entity_resolution_pipeline_spark.config import ClusteringConfig

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
    star = sorted(
        (r["entity_id"], r["root"])
        for r in connected_components(
            df, ClusteringConfig(local_finish_max_edges=0)
        ).collect()
    )
    assert fast == star
    assert len(fast) > 0


def test_local_finish_mid_iteration_cutover(spark):
    """A budget below the initial edge count forces star rounds first, then
    the finisher takes over once the set shrinks — result still exact."""
    from entity_resolution_pipeline_spark.config import ClusteringConfig

    import random

    rng = random.Random(3)
    # dense random graph on 50 nodes: ~380 canonical edges collapse to ~49
    # star edges after one round, crossing the 100-edge budget mid-iteration
    edges = [
        (f"m{rng.randrange(50):02d}", f"m{rng.randrange(50):02d}")
        for _ in range(400)
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["entity_id"]: r["root"]
        for r in connected_components(
            df, ClusteringConfig(local_finish_max_edges=100)
        ).collect()
    }
    exact = {
        r["entity_id"]: r["root"]
        for r in connected_components(
            df, ClusteringConfig(local_finish_max_edges=0)
        ).collect()
    }
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


# ------------------------------------------------------------------- louvain

class TestLouvain:
    @staticmethod
    def _barbell():
        import itertools

        e = []
        for base in (0, 10):
            for a, b in itertools.combinations(range(base, base + 5), 2):
                e.append((f"n{a:02d}", f"n{b:02d}", 1.0))
        e.append(("n04", "n10", 1.0))
        return e

    def test_splits_bridged_cliques(self, spark):
        from entity_resolution_pipeline_spark.operators.cluster import (
            connected_components,
            louvain_communities,
        )

        df = spark.createDataFrame(self._barbell(), ["src", "dst", "weight"])
        cc = connected_components(df.select("src", "dst")).collect()
        assert len({r["root"] for r in cc}) == 1  # CC: one blob
        part = {
            r["entity_id"]: r["community"]
            for r in louvain_communities(df, weight_col="weight").collect()
        }
        comms = {}
        for n, c in part.items():
            comms.setdefault(c, set()).add(n)
        assert sorted(comms.values(), key=min) == [
            {f"n{i:02d}" for i in range(5)},
            {f"n{i:02d}" for i in range(10, 15)},
        ]
        # label convention: min member
        for c, mem in comms.items():
            assert c == min(mem)

    def test_matches_networkx_quality(self, spark):
        """Partition modularity ≥ networkx best-of-5 − small slack, per
        component, on a seeded random multi-component graph."""
        import random

        import networkx as nx
        from networkx.algorithms.community import (
            louvain_communities as nxlouvain,
            modularity as nxmod,
        )

        from entity_resolution_pipeline_spark.operators.cluster import (
            louvain_communities,
        )

        rng = random.Random(4)
        G = nx.gnm_random_graph(40, 80, seed=4)
        edges = [
            (f"a{u:02d}", f"a{v:02d}", rng.choice([0.5, 1.0, 2.0]))
            for u, v in G.edges()
        ] + self._barbell()  # second, disconnected component
        df = spark.createDataFrame(edges, ["src", "dst", "weight"])
        part = {
            r["entity_id"]: r["community"]
            for r in louvain_communities(df, weight_col="weight").collect()
        }
        comms = {}
        for n, c in part.items():
            comms.setdefault(c, set()).add(n)
        H = nx.Graph()
        for u, v, w in edges:
            H.add_edge(u, v, weight=w)
        ours = nxmod(H, list(comms.values()), weight="weight")
        best = max(
            nxmod(H, nxlouvain(H, weight="weight", seed=s), weight="weight")
            for s in range(5)
        )
        assert ours >= best - 0.03

    def test_local_optimality(self, spark):
        """No single-node move can improve modularity — the defining
        property of a converged Louvain pass, checked exhaustively."""
        import random

        import networkx as nx
        from networkx.algorithms.community import modularity as nxmod

        from entity_resolution_pipeline_spark.operators.cluster import (
            louvain_communities,
        )

        rng = random.Random(7)
        G = nx.gnm_random_graph(25, 50, seed=7)
        edges = [
            (f"a{u:02d}", f"a{v:02d}", rng.choice([0.5, 1.0, 2.0]))
            for u, v in G.edges()
        ]
        df = spark.createDataFrame(edges, ["src", "dst", "weight"])
        part = {
            r["entity_id"]: r["community"]
            for r in louvain_communities(df, weight_col="weight").collect()
        }
        H = nx.Graph()
        for u, v, w in edges:
            H.add_edge(u, v, weight=w)
        comms = {}
        for n, c in part.items():
            comms.setdefault(c, set()).add(n)
        q0 = nxmod(H, list(comms.values()), weight="weight")
        targets = set(part.values())
        for n in part:
            for tgt in targets:
                if tgt == part[n]:
                    continue
                trial = {c: set(mem) for c, mem in comms.items()}
                trial[part[n]].discard(n)
                trial[tgt].add(n)
                groups = [g for g in trial.values() if g]
                assert nxmod(H, groups, weight="weight") <= q0 + 1e-9, (n, tgt)

    def test_determinism_and_parallelism(self, spark):
        from entity_resolution_pipeline_spark.operators.cluster import (
            louvain_communities,
        )

        df = spark.createDataFrame(self._barbell(), ["src", "dst", "weight"])
        a = sorted(map(tuple, louvain_communities(df, weight_col="weight").collect()))
        b = sorted(
            map(
                tuple,
                louvain_communities(
                    df.repartition(7), weight_col="weight"
                ).collect(),
            )
        )
        assert a == b

    def test_component_cap_coarsen_path(self, spark):
        """r4: an over-cap component is coarsened (distributed local-moving
        rounds) and the exact kernel runs on the quotient — the barbell
        still resolves to its two cliques instead of collapsing to the CC
        answer, with a driver-visible warning."""
        from entity_resolution_pipeline_spark.operators.cluster import (
            louvain_communities,
        )

        df = spark.createDataFrame(self._barbell(), ["src", "dst", "weight"])
        # cap=5: the 21-edge barbell is over cap; its coarsened quotient
        # (3 supernodes, 4 edges — the bridge keeps one singleton supernode)
        # fits under it, so the exact kernel runs on the quotient
        with pytest.warns(RuntimeWarning, match="max_component_edges"):
            part = {
                r["entity_id"]: r["community"]
                for r in louvain_communities(
                    df, weight_col="weight", max_component_edges=5
                ).collect()
            }
        comms = {}
        for n, c in part.items():
            comms.setdefault(c, set()).add(n)
        assert sorted(comms.values(), key=min) == [
            {f"n{i:02d}" for i in range(5)},
            {f"n{i:02d}" for i in range(10, 15)},
        ]
        for c, mem in comms.items():
            assert c == min(mem)

    def test_component_cap_cc_fallback_when_coarsening_disabled(self, spark):
        from entity_resolution_pipeline_spark.operators.cluster import (
            louvain_communities,
        )

        df = spark.createDataFrame(self._barbell(), ["src", "dst", "weight"])
        with pytest.warns(RuntimeWarning, match="one community per component"):
            part = {
                r["entity_id"]: r["community"]
                for r in louvain_communities(
                    df,
                    weight_col="weight",
                    max_component_edges=3,
                    coarsen_rounds=0,
                ).collect()
            }
        # coarsen_rounds=0: quotient == original, still over cap → CC answer
        assert set(part.values()) == {"n00"}
        assert len(part) == 10

    def test_over_cap_beats_cc_fallback_modularity(self, spark):
        """The done-criterion of VERDICT r3 ask #3: on a generated over-cap
        graph, the coarsen-then-exact partition's modularity strictly
        exceeds the CC fallback's, and matches the uncapped exact run."""
        import warnings as _w

        import networkx as nx
        from networkx.algorithms.community import modularity as nxmod

        from entity_resolution_pipeline_spark.operators.cluster import (
            louvain_communities,
        )

        # ring of 8 cliques (6 nodes each) bridged in a cycle — one CC,
        # 128 edges, clear community structure
        edges = []
        import itertools

        for k in range(8):
            base = 10 * k
            for a, b in itertools.combinations(range(base, base + 6), 2):
                edges.append((f"m{a:03d}", f"m{b:03d}", 1.0))
            nxt = 10 * ((k + 1) % 8)
            edges.append((f"m{base + 5:03d}", f"m{nxt:03d}", 1.0))
        df = spark.createDataFrame(edges, ["src", "dst", "weight"])
        H = nx.Graph()
        for u, v, w in edges:
            H.add_edge(u, v, weight=w)

        def q(partition_rows):
            comms = {}
            for r in partition_rows:
                comms.setdefault(r["community"], set()).add(r["entity_id"])
            return nxmod(H, list(comms.values()), weight="weight")

        exact = louvain_communities(df, weight_col="weight").collect()
        with _w.catch_warnings():
            _w.simplefilter("ignore", RuntimeWarning)
            coarsened = louvain_communities(
                df, weight_col="weight", max_component_edges=50
            ).collect()
            fallback = louvain_communities(
                df,
                weight_col="weight",
                max_component_edges=50,
                coarsen_rounds=0,
            ).collect()
        assert q(coarsened) > q(fallback) + 0.1
        assert abs(q(coarsened) - q(exact)) < 1e-9

    def test_over_cap_parallelism_determinism(self, spark):
        import warnings as _w

        from entity_resolution_pipeline_spark.operators.cluster import (
            louvain_communities,
        )

        df = spark.createDataFrame(self._barbell(), ["src", "dst", "weight"])
        with _w.catch_warnings():
            _w.simplefilter("ignore", RuntimeWarning)
            a = sorted(
                map(
                    tuple,
                    louvain_communities(
                        df, weight_col="weight", max_component_edges=5
                    ).collect(),
                )
            )
            b = sorted(
                map(
                    tuple,
                    louvain_communities(
                        df.repartition(7),
                        weight_col="weight",
                        max_component_edges=5,
                    ).collect(),
                )
            )
        assert a == b


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


def test_modularity_matches_networkx(spark):
    import networkx as nx
    from networkx.algorithms.community import modularity as nxmod

    from entity_resolution_pipeline_spark.operators.cluster import (
        louvain_communities,
        modularity,
    )

    edges = TestLouvain._barbell()
    df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    assign = louvain_communities(df, weight_col="weight")
    rows = modularity(df, assign, weight_col="weight").collect()
    H = nx.Graph()
    for u, v, w in edges:
        H.add_edge(u, v, weight=w)
    comms = {}
    for r in assign.collect():
        comms.setdefault(r["community"], set()).add(r["entity_id"])
    q_nx = nxmod(H, list(comms.values()), weight="weight")
    q_ours = sum(r["contribution"] for r in rows)
    assert abs(q_ours - q_nx) < 1e-5
    by_c = {r["community"]: r for r in rows}
    assert set(by_c) == set(comms)
    assert all(r["n_nodes"] == len(comms[c]) for c, r in by_c.items())


def test_louvain_py_row_order_invariance():
    """Pure-python: the partition must be bit-identical under any edge-list
    permutation (Arrow hands group rows in arbitrary order)."""
    import random

    import networkx as nx

    from entity_resolution_pipeline_spark.operators.cluster import _louvain_py

    rng = random.Random(13)
    G = nx.gnm_random_graph(30, 60, seed=13)
    edges = [
        (f"a{u:02d}", f"a{v:02d}", rng.choice([0.5, 1.0, 2.0]))
        for u, v in G.edges()
    ]
    ref = _louvain_py(list(edges))
    for s in range(10):
        shuf = list(edges)
        random.Random(s).shuffle(shuf)
        assert _louvain_py(shuf) == ref
    # partition sanity: labels are min members, every node covered
    comms = {}
    for n, c in ref.items():
        comms.setdefault(c, set()).add(n)
    assert all(c == min(mem) for c, mem in comms.items())
    assert sorted(ref) == sorted({f"a{u:02d}" for u, _ in G.edges()} | {f"a{v:02d}" for _, v in G.edges()})
