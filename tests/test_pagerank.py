"""PageRank vs the in-repo numpy reference oracle (transliterated from
cpp/tests/link_analysis/pagerank_test.cpp:44-132). Baseline params per
BASELINE.json: alpha=0.85, tol=1e-6, max_iter=500."""

import numpy as np
import pytest

from cugraph_spark import FailedToConvergeError, Graph, pagerank

from .conftest import edges_df, make_edges, sym_tuples
from .oracles import pagerank_ref

ALPHA, TOL, MAX_ITER = 0.85, 1e-6, 500


def _run(spark, edges, n=None, directed=True, mode="dataframe", **kw):
    G = Graph(edges_df(spark, edges), directed=directed)
    df = pagerank(G, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER, mode=mode, **kw)
    return {r.vertex: r.pagerank for r in df.collect()}


def _check(got, expect_arr, atol=1e-6):
    for v, val in got.items():
        assert val == pytest.approx(expect_arr[v], abs=atol), f"vertex {v}"


@pytest.mark.parametrize("mode", ["dataframe", "csr"])
def test_pagerank_directed_with_dangling(spark, mode):
    edges = make_edges("directed_asym")
    got = _run(spark, edges, mode=mode)
    expect, conv, _ = pagerank_ref(edges, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER)
    assert conv
    _check(got, expect)


@pytest.mark.parametrize("mode", ["dataframe", "csr"])
def test_pagerank_undirected_weighted(spark, mode):
    edges = make_edges("weighted")
    got = _run(spark, edges, directed=False, mode=mode)
    expect, conv, _ = pagerank_ref(sym_tuples(edges), alpha=ALPHA, tol=TOL, max_iter=MAX_ITER)
    assert conv
    _check(got, expect)


def test_pagerank_hub_skew(spark):
    edges = make_edges("hub")
    got = _run(spark, edges)
    expect, conv, _ = pagerank_ref(edges, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER)
    assert conv
    _check(got, expect)
    # the hub holds most of the mass
    assert got[0] == max(got.values())


def test_pagerank_personalization(spark):
    edges = make_edges("directed_asym")
    n = max(max(a for a, _, _ in edges), max(b for _, b, _ in edges)) + 1
    pvec = np.zeros(n)
    pvec[1] = 1.0
    pvec[4] = 3.0
    pers_rows = [(1, 1.0), (4, 3.0)]
    G = Graph(edges_df(spark, edges), directed=True)
    pers = spark.createDataFrame(pers_rows, "vertex long, values double")
    df = pagerank(G, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER, personalization=pers)
    got = {r.vertex: r.pagerank for r in df.collect()}
    expect, conv, _ = pagerank_ref(edges, n=n, alpha=ALPHA, tol=TOL,
                                   max_iter=MAX_ITER, personalization=pvec)
    assert conv
    _check(got, expect)


def test_pagerank_nstart(spark):
    edges = make_edges("tiny_social")
    n = 34
    ns = np.arange(1, n + 1, dtype=float)
    G = Graph(edges_df(spark, edges), directed=True)
    nstart = spark.createDataFrame(
        [(int(v), float(ns[v])) for v in range(n)], "vertex long, values double")
    df = pagerank(G, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER, nstart=nstart)
    got = {r.vertex: r.pagerank for r in df.collect()}
    expect, conv, _ = pagerank_ref(edges, n=n, alpha=ALPHA, tol=TOL,
                                   max_iter=MAX_ITER, nstart=ns)
    assert conv
    _check(got, expect)


def test_pagerank_precomputed_out_weights(spark):
    edges = make_edges("weighted")
    G = Graph(edges_df(spark, edges), directed=True)
    ows = G.out_weight_sums()
    df = pagerank(G, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER,
                  precomputed_vertex_out_weight=ows)
    got = {r.vertex: r.pagerank for r in df.collect()}
    expect, _, _ = pagerank_ref(edges, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER)
    _check(got, expect)


def test_pagerank_nonconvergence_raises(spark):
    edges = make_edges("tiny_social")
    G = Graph(edges_df(spark, edges), directed=True)
    with pytest.raises(FailedToConvergeError):
        pagerank(G, alpha=ALPHA, tol=1e-12, max_iter=2)
    df, conv = pagerank(G, alpha=ALPHA, tol=1e-12, max_iter=2,
                        fail_on_nonconvergence=False)
    assert conv is False
    assert df.count() == 34


def test_pagerank_fixed_iterations_matches_oracle(spark):
    """tol=0 → exactly max_iter supersteps (oracle-parity mode)."""
    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)
    df, conv = pagerank(G, alpha=ALPHA, tol=0.0, max_iter=7,
                        fail_on_nonconvergence=False)
    got = {r.vertex: r.pagerank for r in df.collect()}
    expect, _, _ = pagerank_ref(edges, alpha=ALPHA, tol=0.0, max_iter=7)
    _check(got, expect, atol=1e-12)


def test_pagerank_chained_bit_identical(spark):
    """The zero-action chained loop (auto at tol=0) must equal the
    one-action-per-superstep scalar loop BIT-exactly: both compute the
    dangling mass with the same partial-aggregation tree, chained just
    carries it as a broadcast column instead of a driver literal."""
    for fixture in ("directed_asym", "weighted", "tiny_social"):
        edges = make_edges(fixture)
        G = Graph(edges_df(spark, edges), directed=True)
        chained, _ = pagerank(G, alpha=ALPHA, tol=0.0, max_iter=6,
                              fail_on_nonconvergence=False, chained=True)
        scalar, _ = pagerank(G, alpha=ALPHA, tol=0.0, max_iter=6,
                             fail_on_nonconvergence=False, chained=False)
        got = {r.vertex: r.pagerank for r in chained.collect()}
        ref = {r.vertex: r.pagerank for r in scalar.collect()}
        assert got == ref, fixture  # exact float equality, not approx

    # personalization branch: dang_mass multiplies pnorm instead of 1/V
    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)
    import pandas as pd

    pers = spark.createDataFrame(
        pd.DataFrame({"vertex": [0, 2], "values": [3.0, 1.0]})
    )
    chained, _ = pagerank(G, alpha=ALPHA, tol=0.0, max_iter=6,
                          personalization=pers,
                          fail_on_nonconvergence=False, chained=True)
    scalar, _ = pagerank(G, alpha=ALPHA, tol=0.0, max_iter=6,
                         personalization=pers,
                         fail_on_nonconvergence=False, chained=False)
    got = {r.vertex: r.pagerank for r in chained.collect()}
    ref = {r.vertex: r.pagerank for r in scalar.collect()}
    assert got == ref


def test_pagerank_chained_rejects_convergence_mode(spark):
    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)
    with pytest.raises(ValueError, match="chained"):
        pagerank(G, alpha=ALPHA, tol=1e-6, max_iter=5, chained=True)


def test_pagerank_sums_to_one(spark):
    edges = make_edges("disjoint")
    got = _run(spark, edges, directed=False)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_csr_chained_bit_identical(spark, tmp_path):
    """mode='csr' now composes with the zero-action chained loop
    (tol=0.0 auto-chains): one pack job, every superstep lazy inside
    the terminal action; ranks must equal the unchained csr loop and
    the dataframe plan to float tolerance — on the dense-id blocks the
    operator packs itself AND on dictionary blocks (packed externally
    without id_bounds, reused through block_dir)."""
    from cugraph_spark.plans.csr_blocks import pack_edges

    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)
    c, _ = pagerank(G, alpha=ALPHA, tol=0.0, max_iter=6,
                    mode="dataframe", chained=False,
                    fail_on_nonconvergence=False)
    gc = {r.vertex: r.pagerank for r in c.collect()}
    dict_dir = str(tmp_path / "dict_blocks")
    pack_edges(G.edges, dict_dir, 8, weight="weight")
    for kw in ({}, {"block_dir": dict_dir, "num_partitions": 8}):
        a, _ = pagerank(G, alpha=ALPHA, tol=0.0, max_iter=6, mode="csr",
                        fail_on_nonconvergence=False, **kw)  # auto-chained
        b, _ = pagerank(G, alpha=ALPHA, tol=0.0, max_iter=6, mode="csr",
                        chained=False, fail_on_nonconvergence=False, **kw)
        ga = {r.vertex: r.pagerank for r in a.collect()}
        gb = {r.vertex: r.pagerank for r in b.collect()}
        assert ga == gb, kw  # same kernel, same order → bit-identical
        for v in gc:
            assert ga[v] == pytest.approx(gc[v], abs=1e-12), kw


def test_pagerank_csr_missing_block_raises(spark, tmp_path):
    """The block store's per-pid spmv task must RAISE when the manifest
    lists a pid whose block files are absent (torn deployment /
    non-shared block_dir) — never return an empty (silent-zero)
    partial (ADVICE r4)."""
    import os

    import pandas as pd

    from cugraph_spark.operators.pagerank import _csr_spmv
    from cugraph_spark.plans.csr_blocks import CsrBlocks

    G = Graph(edges_df(spark, make_edges("directed_asym")), directed=True)
    P = 64  # more pids than vertices: some pids hold no edges
    with CsrBlocks(G, P, str(tmp_path / "blocks"), weighted=True) as blocks:
        fn = blocks.task(_csr_spmv, "dst long, contrib double", value="rank_div")
        listed = next(iter(blocks.manifest))
        os.remove(os.path.join(blocks.block_dir, f"{listed}.su.npy"))
        pdf = pd.DataFrame({"pid": [listed], "vertex": [1], "rank_div": [1.0]})
        with pytest.raises(RuntimeError, match="missing"):
            fn(pdf)
        # a pid ABSENT from the manifest is a legitimate hash gap
        gap = next(p for p in range(P) if p not in blocks.manifest)
        pdf2 = pd.DataFrame({"pid": [gap], "vertex": [1], "rank_div": [1.0]})
        assert len(fn(pdf2)) == 0
