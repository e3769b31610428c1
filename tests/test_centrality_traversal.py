"""HITS / Katz / eigenvector / degree centrality + BFS / SSSP / k-hop +
core_number / k_core + jaccard-family vs numpy oracles."""

from __future__ import annotations

import numpy as np
import pytest

from cugraph_spark import (
    Graph,
    bfs,
    core_number,
    degree_centrality,
    eigenvector_centrality,
    hits,
    jaccard,
    k_core,
    k_hop_neighbors,
    katz_centrality,
    overlap,
    sorensen,
    sssp,
)
from .conftest import edges_df, make_edges, sym_tuples
from .oracles import (
    bfs_ref,
    core_number_ref,
    eigenvector_ref,
    hits_ref,
    jaccard_ref,
    katz_ref,
    sssp_ref,
)


def test_hits_matches_oracle(spark):
    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)
    res = {r["vertex"]: (r["hubs"], r["authorities"]) for r in hits(G, max_iter=50, tol=1e-6).collect()}
    h_ref, a_ref = hits_ref(edges, max_iter=50, tol=1e-6)
    for v, (h, a) in res.items():
        assert abs(h - h_ref[v]) < 1e-4
        assert abs(a - a_ref[v]) < 1e-4


def test_katz_matches_oracle(spark):
    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)
    res = {r["vertex"]: r["katz_centrality"]
           for r in katz_centrality(G, alpha=0.05, max_iter=50).collect()}
    ref = katz_ref(edges, alpha=0.05, max_iter=50)
    for v, c in res.items():
        assert abs(c - ref[v]) < 1e-5


def test_eigenvector_matches_oracle(spark):
    edges = make_edges("tiny_social")
    G = Graph(edges_df(spark, edges), directed=False)
    res = {r["vertex"]: r["eigenvector_centrality"]
           for r in eigenvector_centrality(G, max_iter=80, tol=1e-8).collect()}
    ref = eigenvector_ref(sym_tuples(edges), max_iter=80, tol=1e-8)
    for v, c in res.items():
        assert abs(c - ref[v]) < 1e-4


@pytest.mark.parametrize("kind,directed", [("directed_asym", True), ("tiny_social", False)])
def test_fixed_iteration_centralities(spark, kind, directed):
    """``tol=0`` runs exactly ``max_iter`` supersteps of HITS, Katz and
    eigenvector centrality: it matches the oracles at the same budget,
    and it equals bit for bit the convergence-checked loop at a tol no
    run reaches. Authorities are the normalized Aᵀ of the returned
    hubs, which the HITS oracle computes one superstep later."""
    k = 7
    edges = make_edges(kind)
    G = Graph(edges_df(spark, edges), directed=directed)
    ref_edges = edges if directed else sym_tuples(edges)
    cases = [
        (hits, ("hubs", "authorities"),
         (hits_ref(ref_edges, max_iter=k, tol=0.0)[0],
          hits_ref(ref_edges, max_iter=k + 1, tol=0.0)[1])),
        (katz_centrality, ("katz_centrality",), (katz_ref(ref_edges, max_iter=k, tol=0.0),)),
        (eigenvector_centrality, ("eigenvector_centrality",),
         (eigenvector_ref(ref_edges, max_iter=k, tol=0.0),)),
    ]
    for op, cols, refs in cases:
        def run(tol):
            rows = op(G, max_iter=k, tol=tol).collect()
            return {r["vertex"]: tuple(r[c] for c in cols) for r in rows}

        fixed = run(0.0)
        assert fixed == run(1e-300), op.__name__  # exact float equality
        assert len(fixed) == len(refs[0])
        for v, vals in fixed.items():
            for val, ref in zip(vals, refs):
                assert val == pytest.approx(ref[v], rel=1e-9, abs=1e-12), (op.__name__, v)


def test_degree_centrality(spark):
    edges = [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0)]
    G = Graph(edges_df(spark, edges), directed=False)
    res = {r["vertex"]: r["degree_centrality"] for r in degree_centrality(G).collect()}
    assert res == {0: 1.0, 1: 1.0, 2: 1.0}


@pytest.mark.parametrize("kind,source", [("line", 0), ("tiny_social", 3), ("disjoint", 101)])
def test_bfs_matches_oracle(spark, kind, source):
    edges = make_edges(kind)
    G = Graph(edges_df(spark, edges), directed=True)
    res = {r["vertex"]: (r["distance"], r["predecessor"]) for r in bfs(G, source).collect()}
    dist, pred = bfs_ref(edges, source, directed=True)
    for v, (d, p) in res.items():
        assert d == dist[v], f"vertex {v}"
        assert p == pred[v], f"vertex {v}"


def test_sssp_matches_oracle(spark):
    edges = make_edges("weighted")
    G = Graph(edges_df(spark, edges), directed=True)
    res = {r["vertex"]: r["distance"] for r in sssp(G, 0).collect()}
    ref = sssp_ref(edges, 0)
    for v, d in res.items():
        if ref[v] is None:
            assert d is None
        else:
            assert d is not None and abs(d - ref[v]) < 1e-9


def test_k_hop_neighbors(spark):
    edges = make_edges("line")  # 0→1→...→9
    G = Graph(edges_df(spark, edges), directed=True)
    start = spark.createDataFrame([(0,)], "v long")
    got = sorted(r["nbr"] for r in k_hop_neighbors(G, start, 3).collect())
    assert got == [0, 1, 2, 3]


@pytest.mark.parametrize("kind", ["triangle_mesh", "tiny_social"])
def test_core_number_matches_oracle(spark, kind):
    edges = make_edges(kind)
    G = Graph(edges_df(spark, edges), directed=False)
    got = {r["vertex"]: r["core_number"] for r in core_number(G).collect()}
    ref = core_number_ref(edges)
    assert got == {v: int(ref[v]) for v in sorted(got)}


def test_k_core_subgraph(spark):
    edges = make_edges("triangle_mesh")  # K4 (core 3) + path (core 1)
    G = Graph(edges_df(spark, edges), directed=False)
    sub = k_core(G, 3)
    verts = sorted(r["vertex"] for r in sub.vertices().collect())
    assert verts == [0, 1, 2, 3]
    degs = {r["vertex"]: r["degree"] for r in sub.degree().collect()}
    assert all(d >= 3 for d in degs.values())


def test_jaccard_family_matches_oracle(spark):
    edges = make_edges("triangle_mesh")
    G = Graph(edges_df(spark, edges), directed=False)
    ref = jaccard_ref(sym_tuples(edges))
    jac = {(r["first"], r["second"]): r["jaccard_coeff"] for r in jaccard(G).collect()}
    ovl = {(r["first"], r["second"]): r["overlap_coeff"] for r in overlap(G).collect()}
    sor = {(r["first"], r["second"]): r["sorensen_coeff"] for r in sorensen(G).collect()}
    assert set(jac) == set(ref)
    for (a, b), (isect, da, db) in ref.items():
        assert abs(jac[(a, b)] - isect / (da + db - isect)) < 1e-12
        assert abs(ovl[(a, b)] - isect / min(da, db)) < 1e-12
        assert abs(sor[(a, b)] - 2 * isect / (da + db)) < 1e-12


def test_jaccard_explicit_pairs(spark):
    edges = make_edges("triangle_mesh")
    G = Graph(edges_df(spark, edges), directed=False)
    pairs = spark.createDataFrame([(0, 1), (4, 0)], "u long, v long")
    got = {(r["first"], r["second"]): r["jaccard_coeff"] for r in jaccard(G, pairs).collect()}
    ref = jaccard_ref(sym_tuples(edges))
    isect, da, db = ref[(0, 1)]
    assert abs(got[(0, 1)] - isect / (da + db - isect)) < 1e-12
    # output keys keep the CALLER's orientation: (4,0) stays (4,0)
    i2, d4a, d4b = ref[(0, 4)]  # 0 and 4 share neighbor 3
    assert abs(got[(4, 0)] - i2 / (d4a + d4b - i2)) < 1e-12
    assert set(got) == {(0, 1), (4, 0)}


def test_jaccard_pairs_isolated_endpoint_and_multiplicity(spark):
    """Requested pairs whose endpoint has no edges must come back with
    coefficient 0.0 (not vanish), and duplicate input rows must each
    produce an output row."""
    edges = make_edges("triangle_mesh")
    G = Graph(edges_df(spark, edges), directed=False)
    # 99 is not a vertex of the graph; (1,3) requested twice
    pairs = spark.createDataFrame(
        [(1, 99), (1, 3), (1, 3)], "u long, v long"
    )
    rows = jaccard(G, pairs).collect()
    assert len(rows) == 3
    got = {}
    for r in rows:
        got.setdefault((r["first"], r["second"]), []).append(r["jaccard_coeff"])
    assert got[(1, 99)] == [0.0]
    assert len(got[(1, 3)]) == 2
    ref = jaccard_ref(sym_tuples(edges))
    isect, da, db = ref[(1, 3)]
    want = isect / (da + db - isect)
    assert all(abs(v - want) < 1e-12 for v in got[(1, 3)])
    # weighted path: same contract (weights are all 1.0 in the fixture,
    # so the weighted coefficient of an isolated pair is also 0.0)
    wrows = jaccard(G, pairs, use_weight=True).collect()
    assert len(wrows) == 3
    wmap = {(r["first"], r["second"]): r["jaccard_coeff"] for r in wrows}
    assert wmap[(1, 99)] == 0.0


def test_sampled_betweenness_error_bound(spark):
    """Accuracy contract for the sampled estimator (Brandes & Pich
    2007; Hoeffding 1963, which also covers sampling WITHOUT
    replacement — the seeded-hash top-k subset used here): each
    per-source normalized dependency lies in [0, V/(V-1)], so with k
    uniform sources

        max_v |est(v) − exact(v)| ≤ sqrt(ln(2V/δ)/(2k)) · V/(V−1)

    with probability ≥ 1−δ. Checked at δ=0.01 over two graphs ×
    several fixed seeds (deterministic given the seed), plus the k=V
    degenerate case, which must equal exact Brandes bit-for-bit."""
    import math

    from cugraph_spark.operators.betweenness import betweenness_centrality

    for kind in ("tiny_social", "disjoint"):
        edges = make_edges(kind)
        G = Graph(edges_df(spark, edges), directed=False)
        exact = {
            r["vertex"]: r["betweenness_centrality"]
            for r in betweenness_centrality(G).collect()
        }
        V = len(exact)
        full = {
            r["vertex"]: r["betweenness_centrality"]
            for r in betweenness_centrality(G, k=V).collect()
        }
        assert full == exact, kind
        for k, seed in ((V // 2, 1), (V // 2, 7), (V // 4, 3)):
            est = {
                r["vertex"]: r["betweenness_centrality"]
                for r in betweenness_centrality(G, k=k, seed=seed).collect()
            }
            bound = math.sqrt(math.log(2 * V / 0.01) / (2 * k)) * V / (V - 1)
            worst = max(abs(est[v] - exact[v]) for v in exact)
            assert worst <= bound, (kind, k, seed, worst, bound)


def test_betweenness_matches_oracle_directed(spark):
    from cugraph_spark.operators.betweenness import betweenness_centrality
    from .oracles import betweenness_ref
    from .conftest import edges_df, make_edges

    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)
    got = {r["vertex"]: r["betweenness_centrality"]
           for r in betweenness_centrality(G).collect()}
    ref = betweenness_ref(edges, directed=True)
    for v, b in got.items():
        assert abs(b - ref[v]) < 1e-9, f"vertex {v}"


def test_betweenness_matches_oracle_undirected(spark):
    from cugraph_spark.operators.betweenness import betweenness_centrality
    from .oracles import betweenness_ref
    from .conftest import edges_df, make_edges

    edges = make_edges("triangle_mesh")
    G = Graph(edges_df(spark, edges), directed=False)
    got = {r["vertex"]: r["betweenness_centrality"]
           for r in betweenness_centrality(G, normalized=False).collect()}
    ref = betweenness_ref(edges, directed=False, normalized=False)
    for v, b in got.items():
        assert abs(b - ref[v]) < 1e-9, f"vertex {v}"


def test_betweenness_sampled_sources(spark):
    from cugraph_spark.operators.betweenness import betweenness_centrality
    from .oracles import betweenness_ref
    from .conftest import edges_df, make_edges

    from pyspark.sql import functions as F

    edges = make_edges("line")
    G = Graph(edges_df(spark, edges), directed=True)
    got = {r["vertex"]: r["betweenness_centrality"]
           for r in betweenness_centrality(G, k=3, seed=42, normalized=False).collect()}
    # expected sources = the k smallest by the same seeded hash rule
    srcs = [
        r["vertex"]
        for r in G.vertices()
        .orderBy(F.xxhash64(F.col("vertex"), F.lit(42)), F.col("vertex"))
        .limit(3)
        .collect()
    ]
    ref = betweenness_ref(edges, directed=True, normalized=False, sources=srcs)
    for v, b in got.items():
        assert abs(b - ref[v]) < 1e-9, f"vertex {v}"


def test_betweenness_duplicate_and_empty_sources(spark):
    from cugraph_spark.operators.betweenness import betweenness_centrality
    from .conftest import edges_df, make_edges

    edges = make_edges("line")
    G = Graph(edges_df(spark, edges), directed=True)
    dup = spark.createDataFrame([(0,), (0,), (1,)], "v long")
    uniq = spark.createDataFrame([(0,), (1,)], "v long")
    got_dup = {r["vertex"]: r["betweenness_centrality"]
               for r in betweenness_centrality(G, sources=dup, normalized=False).collect()}
    got_uniq = {r["vertex"]: r["betweenness_centrality"]
                for r in betweenness_centrality(G, sources=uniq, normalized=False).collect()}
    # duplicate source rows must not deflate the V/n_sources estimator
    assert got_dup == got_uniq
    # empty source set: all-zero result, not ZeroDivisionError
    empty = spark.createDataFrame([], "v long")
    got_empty = {r["vertex"]: r["betweenness_centrality"]
                 for r in betweenness_centrality(G, sources=empty).collect()}
    assert set(got_empty.values()) == {0.0}


def test_edge_betweenness_matches_oracle_directed(spark):
    from cugraph_spark.operators.betweenness import edge_betweenness_centrality
    from .oracles import edge_betweenness_ref
    from .conftest import edges_df, make_edges

    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)
    got = {(r["src"], r["dst"]): r["betweenness_centrality"]
           for r in edge_betweenness_centrality(G).collect()}
    ref = edge_betweenness_ref(edges, directed=True)
    for e, b in got.items():
        assert abs(b - ref.get(e, 0.0)) < 1e-9, f"edge {e}"
    assert set(ref) <= set(got)  # every DAG edge with weight is reported


def test_edge_betweenness_matches_oracle_undirected(spark):
    from cugraph_spark.operators.betweenness import edge_betweenness_centrality
    from .oracles import edge_betweenness_ref
    from .conftest import edges_df, make_edges

    edges = make_edges("triangle_mesh")
    G = Graph(edges_df(spark, edges), directed=False)
    got = {(r["src"], r["dst"]): r["betweenness_centrality"]
           for r in edge_betweenness_centrality(G, normalized=False).collect()}
    ref = edge_betweenness_ref(edges, directed=False, normalized=False)
    for e, b in got.items():
        assert abs(b - ref.get(e, 0.0)) < 1e-9, f"edge {e}"


def test_weighted_jaccard_hand_graph(spark):
    """use_weight=True semantics (similarity_impl.cuh:130-168) on a hand
    graph: a-c w=2, b-c w=3, a-d w=1, b-d w=5, a-b w=4."""
    from cugraph_spark.operators.similarity import jaccard, overlap, sorensen

    rows = [(0, 2, 2.0), (1, 2, 3.0), (0, 3, 1.0), (1, 3, 5.0), (0, 1, 4.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    G = Graph(e, directed=False, weighted=True)
    jw = {(r["first"], r["second"]): r["jaccard_coeff"]
          for r in jaccard(G, use_weight=True).collect()}
    # pair (0,1): common nbrs {2,3}; min-sum=2+1=3; max-sum=3+5=8;
    # wd_0=2+1+4=7, wd_1=3+5+4=12; intersect sums: ia=3, ib=8;
    # union = 8 + (7-3) + (12-8) = 16 (the direct 0-1 edge weight sits
    # in BOTH unique remainders, per similarity_impl.cuh:159-162)
    assert abs(jw[(0, 1)] - 3.0 / 16.0) < 1e-12
    ow = {(r["first"], r["second"]): r["overlap_coeff"]
          for r in overlap(G, use_weight=True).collect()}
    assert abs(ow[(0, 1)] - 3.0 / 7.0) < 1e-12
    sw = {(r["first"], r["second"]): r["sorensen_coeff"]
          for r in sorensen(G, use_weight=True).collect()}
    assert abs(sw[(0, 1)] - 2.0 * 3.0 / 19.0) < 1e-12
