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


# "dataframe" is the default mode, which takes the driver-local plan on
# these small graphs; "distributed" is the same mode forced onto the
# distributed plan; "csr" is mode="csr"
PLANS = ["dataframe", "distributed"]


def _mode(request, plan):
    if plan == "distributed":
        request.getfixturevalue("distributed_tail")
    return "csr" if plan == "csr" else "dataframe"


def _check(got, expect_arr, atol=1e-6):
    for v, val in got.items():
        assert val == pytest.approx(expect_arr[v], abs=atol), f"vertex {v}"


def _check_plan(got, steps, expect_arr, n_iter):
    """Each plan runs the oracle's superstep count and lands within
    5e-13 of its ranks, so any two plans agree to 1e-12 with the same
    number of supersteps."""
    assert len(steps) == n_iter
    _check(got, expect_arr, atol=5e-13)


@pytest.mark.parametrize("plan", PLANS + ["csr"])
def test_pagerank_directed_with_dangling(spark, request, plan):
    edges = make_edges("directed_asym")
    ss: list = []
    got = _run(spark, edges, mode=_mode(request, plan), superstep_seconds=ss)
    expect, conv, n_iter = pagerank_ref(edges, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER)
    assert conv
    _check_plan(got, ss, expect, n_iter)


@pytest.mark.parametrize("plan", PLANS + ["csr"])
def test_pagerank_undirected_weighted(spark, request, plan):
    edges = make_edges("weighted")
    ss: list = []
    got = _run(spark, edges, directed=False, mode=_mode(request, plan), superstep_seconds=ss)
    expect, conv, n_iter = pagerank_ref(sym_tuples(edges), alpha=ALPHA, tol=TOL, max_iter=MAX_ITER)
    assert conv
    _check_plan(got, ss, expect, n_iter)


@pytest.mark.parametrize("plan", PLANS)
def test_pagerank_hub_skew(spark, request, plan):
    edges = make_edges("hub")
    ss: list = []
    got = _run(spark, edges, mode=_mode(request, plan), superstep_seconds=ss)
    expect, conv, n_iter = pagerank_ref(edges, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER)
    assert conv
    _check_plan(got, ss, expect, n_iter)
    # the hub holds most of the mass
    assert got[0] == max(got.values())


@pytest.mark.parametrize("plan", PLANS)
def test_pagerank_personalization(spark, request, plan):
    _mode(request, plan)
    edges = make_edges("directed_asym")
    n = max(max(a for a, _, _ in edges), max(b for _, b, _ in edges)) + 1
    pvec = np.zeros(n)
    pvec[1] = 1.0
    pvec[4] = 3.0
    pers_rows = [(1, 1.0), (4, 3.0)]
    G = Graph(edges_df(spark, edges), directed=True)
    pers = spark.createDataFrame(pers_rows, "vertex long, values double")
    ss: list = []
    df = pagerank(G, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER, personalization=pers,
                  superstep_seconds=ss)
    got = {r.vertex: r.pagerank for r in df.collect()}
    expect, conv, n_iter = pagerank_ref(edges, n=n, alpha=ALPHA, tol=TOL,
                                        max_iter=MAX_ITER, personalization=pvec)
    assert conv
    _check_plan(got, ss, expect, n_iter)


@pytest.mark.parametrize("plan", PLANS)
def test_pagerank_nstart(spark, request, plan):
    _mode(request, plan)
    edges = make_edges("tiny_social")
    n = 34
    ns = np.arange(1, n + 1, dtype=float)
    G = Graph(edges_df(spark, edges), directed=True)
    nstart = spark.createDataFrame(
        [(int(v), float(ns[v])) for v in range(n)], "vertex long, values double")
    ss: list = []
    df = pagerank(G, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER, nstart=nstart,
                  superstep_seconds=ss)
    got = {r.vertex: r.pagerank for r in df.collect()}
    expect, conv, n_iter = pagerank_ref(edges, n=n, alpha=ALPHA, tol=TOL,
                                        max_iter=MAX_ITER, nstart=ns)
    assert conv
    _check_plan(got, ss, expect, n_iter)


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


# a tol no run reaches: the convergence-checked loop then runs all
# max_iter supersteps, like tol=0 (an L1 of exactly 0.0 would stop it
# at a fixpoint, where the ranks cannot change any more)
UNREACHED_TOL = 1e-300


def _fixed_and_checked(G, max_iter=6, **kw):
    """Ranks of the zero-action loop (``tol=0``) and of the
    one-action-per-superstep loop at ``UNREACHED_TOL``."""
    out = []
    for tol in (0.0, UNREACHED_TOL):
        steps: list = []
        df, _ = pagerank(G, alpha=ALPHA, tol=tol, max_iter=max_iter,
                         superstep_seconds=steps, fail_on_nonconvergence=False, **kw)
        assert len(steps) == max_iter, tol
        out.append({r.vertex: r.pagerank for r in df.collect()})
    return out


def test_pagerank_chained_bit_identical(spark, distributed_tail):
    """The zero-action loop (tol=0) must equal the one-action-per-
    superstep loop BIT-exactly: both compute the dangling mass with the
    same partial-aggregation tree; the first carries it as a broadcast
    column, the second as a driver literal."""
    import pandas as pd

    for fixture in ("directed_asym", "weighted", "tiny_social"):
        G = Graph(edges_df(spark, make_edges(fixture)), directed=True)
        fixed, checked = _fixed_and_checked(G)
        assert fixed == checked, fixture  # exact float equality, not approx

    # personalization branch: dang_mass multiplies pnorm instead of 1/V
    G = Graph(edges_df(spark, make_edges("directed_asym")), directed=True)
    pers = spark.createDataFrame(
        pd.DataFrame({"vertex": [0, 2], "values": [3.0, 1.0]})
    )
    fixed, checked = _fixed_and_checked(G, personalization=pers)
    assert fixed == checked


def test_pagerank_sums_to_one(spark):
    edges = make_edges("disjoint")
    got = _run(spark, edges, directed=False)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_csr_chained_bit_identical(spark, tmp_path, distributed_tail):
    """mode='csr' runs the zero-action loop at tol=0 (one pack job,
    every superstep lazy inside the terminal action); ranks must equal
    the one-action csr loop bit for bit and the dataframe plan to
    float tolerance — on the dense-id blocks the operator packs itself
    AND on dictionary blocks (packed externally without id_bounds,
    reused through block_dir), with and without personalization."""
    import pandas as pd

    from cugraph_spark.plans.csr_blocks import pack_edges

    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)
    pers = spark.createDataFrame(
        pd.DataFrame({"vertex": [0, 2], "values": [3.0, 1.0]})
    )
    dict_dir = str(tmp_path / "dict_blocks")
    pack_edges(G.edges, dict_dir, 8, weight="weight")
    for pkw in ({}, {"personalization": pers}):
        _, want = _fixed_and_checked(G, mode="dataframe", **pkw)
        for kw in ({}, {"block_dir": dict_dir, "num_partitions": 8}):
            fixed, checked = _fixed_and_checked(G, mode="csr", **kw, **pkw)
            assert fixed == checked, kw  # same kernel, same order → bit-identical
            for v in want:
                assert fixed[v] == pytest.approx(want[v], abs=1e-12), kw


def test_pagerank_csr_missing_block_raises(spark, tmp_path):
    """The block store's per-pid spmv task must RAISE when the manifest
    lists a pid whose block files are absent (torn deployment /
    non-shared block_dir) — never return an empty (silent-zero)
    partial (ADVICE r4)."""
    import os

    import pandas as pd

    from cugraph_spark.plans.csr_blocks import CsrBlocks, sum_kernel

    G = Graph(edges_df(spark, make_edges("directed_asym")), directed=True)
    P = 64  # more pids than vertices: some pids hold no edges
    with CsrBlocks(G, P, str(tmp_path / "blocks"), weighted=True) as blocks:
        fn = blocks.task(sum_kernel, "dst long, contrib double", value="rank_div")
        listed = next(iter(blocks.manifest))
        os.remove(os.path.join(blocks.block_dir, f"{listed}.su.npy"))
        pdf = pd.DataFrame({"pid": [listed], "vertex": [1], "rank_div": [1.0]})
        with pytest.raises(RuntimeError, match="missing"):
            fn(pdf)
        # a pid ABSENT from the manifest is a legitimate hash gap
        gap = next(p for p in range(P) if p not in blocks.manifest)
        pdf2 = pd.DataFrame({"pid": [gap], "vertex": [1], "rank_div": [1.0]})
        assert len(fn(pdf2)) == 0
