"""PageRank vs the in-repo numpy reference oracle (transliterated from
cpp/tests/link_analysis/pagerank_test.cpp:44-132). Baseline params per
BASELINE.json: alpha=0.85, tol=1e-6, max_iter=500."""

import os

import numpy as np
import pytest

from cugraph_spark import FailedToConvergeError, Graph, pagerank

from .conftest import check_gap_and_missing, edges_df, make_edges, sym_tuples
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


@pytest.mark.parametrize("plan", PLANS + ["csr"])
def test_pagerank_hub_skew(spark, request, plan):
    edges = make_edges("hub")
    ss: list = []
    got = _run(spark, edges, mode=_mode(request, plan), superstep_seconds=ss)
    expect, conv, n_iter = pagerank_ref(edges, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER)
    assert conv
    _check_plan(got, ss, expect, n_iter)
    # the hub holds most of the mass
    assert got[0] == max(got.values())


@pytest.mark.parametrize("plan", PLANS + ["csr"])
def test_pagerank_personalization(spark, request, plan):
    mode = _mode(request, plan)
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
                  superstep_seconds=ss, mode=mode)
    got = {r.vertex: r.pagerank for r in df.collect()}
    expect, conv, n_iter = pagerank_ref(edges, n=n, alpha=ALPHA, tol=TOL,
                                        max_iter=MAX_ITER, personalization=pvec)
    assert conv
    _check_plan(got, ss, expect, n_iter)


@pytest.mark.parametrize("plan", PLANS + ["csr"])
def test_pagerank_nstart(spark, request, plan):
    mode = _mode(request, plan)
    edges = make_edges("tiny_social")
    n = 34
    ns = np.arange(1, n + 1, dtype=float)
    G = Graph(edges_df(spark, edges), directed=True)
    nstart = spark.createDataFrame(
        [(int(v), float(ns[v])) for v in range(n)], "vertex long, values double")
    ss: list = []
    df = pagerank(G, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER, nstart=nstart,
                  superstep_seconds=ss, mode=mode)
    got = {r.vertex: r.pagerank for r in df.collect()}
    expect, conv, n_iter = pagerank_ref(edges, n=n, alpha=ALPHA, tol=TOL,
                                        max_iter=MAX_ITER, nstart=ns)
    assert conv
    _check_plan(got, ss, expect, n_iter)


def test_pagerank_side_inputs_checked_by_one_aggregate(spark, distributed_tail):
    """Each per-vertex side input is checked for duplicate rows and
    normalized by ONE aggregate (``_side_input``): on the Catalyst plan,
    personalization and nstart together add at most 11 Spark jobs to a
    fixed-iteration call, where a separate duplicate check and sum per
    frame added 15 (measured on local[4])."""
    sc = spark.sparkContext
    pers = spark.createDataFrame([(1, 1.0), (4, 3.0), (999, 2.0)], "vertex long, values double")
    nstart = spark.createDataFrame([(v, float(v + 1)) for v in range(21)],
                                   "vertex long, values double")
    jobs = {}
    for name, kw in (("plain", {}), ("side", {"personalization": pers, "nstart": nstart})):
        G = Graph(edges_df(spark, make_edges("directed_asym")), directed=True)
        sc.setJobGroup(f"side_input_jobs_{name}", "job count")
        try:
            pagerank(G, tol=0.0, max_iter=3, **kw)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"side_input_jobs_{name}"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs["side"] - jobs["plain"] <= 11, jobs


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
    """mode='csr' runs one loop whatever the tol: every superstep is one
    job that returns its L1 and dangling partials, so a fixed-iteration
    run (tol=0) must equal the convergence-checked loop at a tol no run
    reaches bit for bit, and the dataframe plan to float tolerance — on
    the dense-id blocks the operator packs itself AND on dictionary
    blocks (packed externally without id_bounds, reused through
    block_dir), with and without personalization."""
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


def _pack(G, block_dir, P, dense):
    from cugraph_spark.plans.csr_blocks import pack_edges

    _, lo, hi = G.vertex_stats()
    pack_edges(G.edges, block_dir, P, weight="weight",
               id_bounds=(lo, hi) if dense else None)


def _plan_ranks(G, **kw):
    ss: list = []
    df = pagerank(G, alpha=ALPHA, tol=TOL, max_iter=MAX_ITER, superstep_seconds=ss, **kw)
    return {r.vertex: r.pagerank for r in df.collect()}, len(ss)


def _side(spark, G, name):
    vals = spark.createDataFrame([(v, float(1 + v % 3)) for v in range(0, 30, 2)],
                                 "vertex long, values double")
    return {"plain": {}, "personalization": {"personalization": vals},
            "nstart": {"nstart": vals},
            "ows": {"precomputed_vertex_out_weight": G.out_weight_sums()}}[name]


@pytest.mark.parametrize("fixture,directed,P,ids,side", [
    ("directed_asym", True, 8, "dense", "plain"),
    ("directed_asym", True, 8, "dict", "plain"),
    ("weighted", False, 8, "dense", "plain"),
    ("weighted", False, 8, "dict", "plain"),
    ("directed_asym", True, 64, "dense", "plain"),
    ("directed_asym", True, 8, "dict", "personalization"),
    ("directed_asym", True, 8, "dense", "nstart"),
    ("weighted", False, 8, "dense", "ows"),
])
def test_pagerank_csr_equals_dataframe(spark, tmp_path, distributed_tail, fixture,
                                       directed, P, ids, side):
    """The pull plan equals the distributed dataframe plan within 1e-12
    with the same superstep count: on dense and dict blocks, on a
    directed graph (in-edges from the T/ sub-store) and an undirected
    one (its blocks read as their own transpose), with P above V (pids
    without vertices), and with personalization, nstart and
    precomputed out-weights."""
    G = Graph(edges_df(spark, make_edges(fixture)), directed=directed)
    bdir = str(tmp_path / "blocks")
    _pack(G, bdir, P, ids == "dense")
    kw = _side(spark, G, side)
    want, n_want = _plan_ranks(G, num_partitions=P, **kw)
    got, n_got = _plan_ranks(G, mode="csr", block_dir=bdir, num_partitions=P, **kw)
    assert n_got == n_want
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v
    assert not [d for d in os.listdir(bdir) if d.startswith("state-")]  # removed on exit
    assert os.path.isdir(os.path.join(bdir, "T")) == directed


def test_pagerank_csr_packs_transpose_once(spark, tmp_path, monkeypatch):
    """An undirected graph's stored blocks serve the pull plan as they
    are; a directed graph packs its transposed set once, into the
    caller's block_dir, and reuses it on the next call."""
    from cugraph_spark.plans import csr_blocks

    graphs = {}
    for directed in (False, True):
        G = Graph(edges_df(spark, make_edges("weighted")), directed=directed)
        graphs[directed] = (G, str(tmp_path / f"blocks_{directed}"))
        _pack(G, graphs[directed][1], 4, dense=True)
    packs: list = []
    real = csr_blocks.pack_edges
    monkeypatch.setattr(csr_blocks, "pack_edges",
                        lambda *a, **k: packs.append(a[1]) or real(*a, **k))
    for directed, want in ((False, [0, 0]), (True, [1, 0])):
        G, bdir = graphs[directed]
        counts = []
        for _ in range(2):
            before = len(packs)
            pagerank(G, mode="csr", block_dir=bdir, num_partitions=4).collect()
            counts.append(len(packs) - before)
        assert counts == want, directed
    assert packs == [os.path.join(graphs[True][1], "T")]


def test_pagerank_csr_one_job_per_superstep(spark, tmp_path):
    """The pull supersteps of a call run in ONE Spark job (a barrier
    job), so the call's jobs are that one plus a fixed setup and
    finalize count, whatever the superstep count."""
    G = Graph(edges_df(spark, make_edges("weighted")), directed=False)
    bdir = str(tmp_path / "blocks")
    _pack(G, bdir, 4, dense=True)
    G.edges.persist()
    sc = spark.sparkContext
    jobs = {}
    try:
        G.edge_rows()  # warm, like the edges: the reuse check counts them once per graph
        for n in (3, 9):
            sc.setJobGroup(f"pull_jobs_{n}", "job count")
            ss: list = []
            pagerank(G, tol=0.0, max_iter=n, mode="csr", block_dir=bdir,
                     num_partitions=4, superstep_seconds=ss)
            jobs[n] = len(sc.statusTracker().getJobIdsForGroup(f"pull_jobs_{n}"))
            assert len(ss) == n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        G.edges.unpersist()
    assert jobs[9] == jobs[3], jobs
    assert jobs[3] <= 1 + 8, jobs


def test_pagerank_csr_missing_block_raises(spark, tmp_path):
    """The pull superstep's per-pid task must RAISE when the manifest
    lists a pid whose block files are absent (torn deployment /
    non-shared block_dir) or when a state slice is gone — never return
    a silent-zero contribution (ADVICE r4) — while a pid with no
    vertices (a hash gap) returns nothing. WCC and BFS run the same
    check in ``test_csr_kernels.py::test_csr_update_gap_and_missing_raise``."""
    check_gap_and_missing(spark, tmp_path, "pagerank")
