"""Random walks / neighbor sampling / louvain / k-truss / ego graph /
MST tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cugraph_spark import Graph
from cugraph_spark.operators.community import (
    coarsen_graph,
    ego_graph,
    k_truss,
    louvain,
    modularity,
)
from cugraph_spark.operators.sampling import (
    node2vec_walks,
    random_walks,
    uniform_neighbor_sample,
)
from cugraph_spark.operators.tree import minimum_spanning_tree
from .conftest import edges_df, make_edges, sym_tuples
from .oracles import modularity_ref, mst_ref


def two_cliques():
    """Two K5s bridged by one edge — canonical community structure."""
    e = []
    for base in (0, 10):
        for a in range(5):
            for b in range(a + 1, 5):
                e.append((base + a, base + b, 1.0))
    e.append((4, 10, 1.0))
    return e


def test_random_walks_valid_and_deterministic(spark):
    edges = make_edges("tiny_social")
    G = Graph(edges_df(spark, edges), directed=False)
    starts = spark.createDataFrame([(0,), (5,), (12,)], "v long")
    w1 = random_walks(G, starts, max_depth=4, seed=7).collect()
    w2 = random_walks(G, starts, max_depth=4, seed=7).collect()
    assert sorted(map(tuple, w1)) == sorted(map(tuple, w2))
    # each consecutive step must traverse a real edge
    adj = {(a, b) for a, b, _ in sym_tuples(edges)}
    by_walk = {}
    for r in w1:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    assert len(by_walk) == 3
    for steps in by_walk.values():
        assert steps[0] in (0, 5, 12)
        for s in range(1, max(steps) + 1):
            assert (steps[s - 1], steps[s]) in adj


def test_node2vec_walks_valid(spark):
    edges = make_edges("tiny_social")
    G = Graph(edges_df(spark, edges), directed=False)
    starts = spark.createDataFrame([(0,), (7,)], "v long")
    rows = node2vec_walks(G, starts, max_depth=3, p=2.0, q=0.5, seed=11).collect()
    adj = {(a, b) for a, b, _ in sym_tuples(edges)}
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    for steps in by_walk.values():
        for s in range(1, max(steps) + 1):
            assert (steps[s - 1], steps[s]) in adj
        # exactly one vertex per step
    assert all(len(v) == max(v) + 1 for v in by_walk.values())


def test_uniform_neighbor_sample(spark):
    edges = make_edges("hub")
    G = Graph(edges_df(spark, edges), directed=True)
    starts = spark.createDataFrame([(1,), (2,)], "v long")
    s = uniform_neighbor_sample(G, starts, fanout=[2, 1], seed=3)
    rows = s.collect()
    eset = {(a, b) for a, b, _ in edges}
    for r in rows:
        assert (r["src"], r["dst"]) in eset
    hop0 = [r for r in rows if r["hop"] == 0]
    per_src = {}
    for r in hop0:
        per_src[r["src"]] = per_src.get(r["src"], 0) + 1
    assert all(c <= 2 for c in per_src.values())
    assert set(per_src) <= {1, 2}


def test_louvain_two_cliques(spark):
    G = Graph(edges_df(spark, two_cliques()), directed=False)
    labels, q = louvain(G)
    got = {r["vertex"]: r["labels"] for r in labels.collect()}
    c1 = {got[v] for v in range(5)}
    c2 = {got[v] for v in range(10, 15)}
    assert len(c1) == 1 and len(c2) == 1 and c1 != c2
    ref_q = modularity_ref(
        sym_tuples(two_cliques()), got
    )
    assert abs(q - ref_q) < 1e-9
    assert q > 0.3


def test_modularity_matches_oracle(spark):
    edges = make_edges("tiny_social")
    G = Graph(edges_df(spark, edges), directed=False)
    labels = G.vertices().withColumn("labels", F.col("vertex") % 3)
    got = modularity(G, labels)
    lab = {r["vertex"]: r["vertex"] % 3 for r in G.vertices().collect()}
    assert abs(got - modularity_ref(sym_tuples(edges), lab)) < 1e-9


def test_coarsen_graph(spark):
    G = Graph(edges_df(spark, two_cliques()), directed=False)
    labels = G.vertices().withColumn(
        "labels", F.when(F.col("vertex") < 10, 0).otherwise(1)
    )
    c = coarsen_graph(G, labels)
    got = {(r["src"], r["dst"]): r["weight"] for r in c.collect()}
    # two self-edges (intra-clique weight, both directions = 2*10) and
    # the bridge in both directions
    assert got[(0, 0)] == 20.0 and got[(1, 1)] == 20.0
    assert got[(0, 1)] == 1.0 and got[(1, 0)] == 1.0


def test_k_truss(spark):
    edges = make_edges("triangle_mesh")  # K4 + path 3-4-5
    G = Graph(edges_df(spark, edges), directed=False)
    kept = sorted((r["src"], r["dst"]) for r in k_truss(G, 4).collect())
    assert kept == [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    # k=5 kills everything (K4 edges support only 2 triangles)
    assert k_truss(G, 5).count() == 0


def test_ego_graph(spark):
    edges = make_edges("triangle_mesh")
    G = Graph(edges_df(spark, edges), directed=False)
    seeds = spark.createDataFrame([(4,)], "v long")
    ego = ego_graph(G, seeds, radius=1)
    got = sorted((r["src"], r["dst"]) for r in ego.collect())
    # ball(4,1) = {3,4,5}; induced symmetric edges: 3-4, 4-5
    assert got == [(3, 4), (4, 3), (4, 5), (5, 4)]


@pytest.mark.parametrize("kind", ["weighted", "line", "disjoint"])
def test_mst_matches_kruskal(spark, kind):
    edges = make_edges(kind)
    G = Graph(edges_df(spark, edges), directed=False)
    got = sorted((r["src"], r["dst"], r["weight"]) for r in minimum_spanning_tree(G).collect())
    ref = sorted(mst_ref(edges))
    # Borůvka and Kruskal agree on total weight and, with unique
    # (weight,src,dst) ordering, on the exact edge set
    assert abs(sum(w for *_, w in got) - sum(w for *_, w in ref)) < 1e-9
    assert len(got) == len(ref)


def test_mst_long_merge_chain(spark):
    """A path with strictly decreasing weights makes round 1 pick every
    edge, producing ONE merge chain as long as the path — the hash-min
    component merge needs pointer jumping (plain propagation would blow
    the round budget and, before the convergence guard, silently
    returned inconsistent labels)."""
    n = 90
    edges = [(i, i + 1, float(n - i)) for i in range(n)]
    G = Graph(edges_df(spark, edges), directed=False)
    got = sorted((r["src"], r["dst"], r["weight"]) for r in minimum_spanning_tree(G).collect())
    ref = sorted(mst_ref(edges))
    assert got == ref  # a path IS its own MST: exact edge set


def test_mst_merge_fails_closed_on_small_round_budget(spark):
    """A round budget too small for the component merge raises instead
    of returning a forest built on half-merged components: round 1 on a
    10-vertex path picks every edge, and one merge superstep cannot
    label that chain as one component."""
    from cugraph_spark.operators.pagerank import FailedToConvergeError

    edges = [(i, i + 1, 1.0) for i in range(9)]
    G = Graph(edges_df(spark, edges), directed=False)
    with pytest.raises(FailedToConvergeError, match="MST component merge"):
        minimum_spanning_tree(G, max_rounds=1).collect()
