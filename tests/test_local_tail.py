"""Local-tail equivalence + Spark-exact xxhash64 + louvain/leiden
checkpoint-resume.

The driver-local tails (``plans/local_tail.py``) must be BIT-IDENTICAL
to the distributed loops — same hash stream, same tie-breaks, same
expression trees. Each operator is run twice on the same graph, under the ``tail_plan``
fixture: the module cutover ``LOCAL_TAIL_EDGES`` at 0 (forced
distributed) vs a huge value (forced local), with a spy on the local
kernels proving which plan ran; the sorted row sets are compared
exactly.

PageRank is the exception: its rank sums depend on summation order, so
its local plan must match the distributed plan to 1e-12 with the same
superstep count and output schema.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from cugraph_spark.graph import Graph
from cugraph_spark.operators.community import ecg, leiden, louvain
from cugraph_spark.operators.cores import core_number
from cugraph_spark.operators.mis import maximal_independent_set, vertex_coloring
from cugraph_spark.operators.pagerank import FailedToConvergeError, pagerank
from cugraph_spark.operators.wcc import weakly_connected_components
from cugraph_spark.plans import local_tail
from cugraph_spark.plans.checkpoint import CheckpointManager
from cugraph_spark.plans.xxh64 import pmod2, xxhash64

from .conftest import edges_df, make_edges, sym_tuples

def _graph(spark, kind="weighted"):
    e = spark.createDataFrame(make_edges(kind), "src long, dst long, weight double")
    return Graph(e, directed=False, weighted=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_xxhash64_matches_spark(spark):
    rng = np.random.default_rng(11)
    vals = np.concatenate(
        [rng.integers(-(2**62), 2**62, 300),
         np.array([0, 1, -1, 2**31, -(2**31), 42])]
    ).astype(np.int64)
    df = spark.createDataFrame([(int(v),) for v in vals], "v long")
    got = np.array([r[0] for r in df.select(F.xxhash64("v")).collect()])
    assert np.array_equal(got, xxhash64(vals))
    # the (vertex, round-int-lit, seed-int-lit) chain every Luby/move
    # loop draws from
    got2 = np.array(
        [r[0] for r in df.select(
            F.xxhash64(F.col("v"), F.lit(3), F.lit(42))).collect()]
    )
    assert np.array_equal(got2, xxhash64(vals, ("int", 3), ("int", 42)))
    got3 = np.array(
        [r[0] for r in df.select(
            F.pmod(F.xxhash64(F.col("v"), F.lit(5), F.lit(7)), F.lit(2))
        ).collect()]
    )
    assert np.array_equal(got3, pmod2(xxhash64(vals, ("int", 5), ("int", 7))))


def _local_and_distributed(tail_plan, run):
    """``run()`` on the driver-local tail, then on the distributed plan;
    asserts that each ran the plan asked for and returns both results."""
    out = []
    for plan in ("local", "distributed"):
        with tail_plan(plan) as calls:
            out.append(run())
        assert bool(calls) == (plan == "local"), (plan, calls)
    return out


@pytest.mark.parametrize("kind", ["weighted", "disjoint", "self_loops"])
def test_coloring_local_equals_distributed(spark, kind, tail_plan):
    G = _graph(spark, kind)
    local, dist = _local_and_distributed(tail_plan, lambda: _rows(vertex_coloring(G)))
    assert local == dist


@pytest.mark.parametrize("kind", ["weighted", "disjoint"])
def test_mis_local_equals_distributed(spark, kind, tail_plan):
    G = _graph(spark, kind)
    local, dist = _local_and_distributed(
        tail_plan, lambda: _rows(maximal_independent_set(G)))
    assert local == dist


def test_mis_local_equals_distributed_wide_seed(spark, tail_plan):
    """Seeds >= 2**31 type as LongType through F.lit, so the local
    twin must hash them on the 8-byte path too — forcing the int path
    silently int32-wraps and diverges from the JVM stream."""
    G = _graph(spark, "weighted")
    wide = 2**31 + 12345
    local, dist = _local_and_distributed(
        tail_plan, lambda: _rows(maximal_independent_set(G, seed=wide)))
    assert local == dist


@pytest.mark.parametrize("kind", ["weighted", "self_loops"])
def test_core_number_local_equals_distributed(spark, kind, tail_plan):
    G = _graph(spark, kind)
    local, dist = _local_and_distributed(tail_plan, lambda: _rows(core_number(G)))
    assert local == dist


def _labels_and_q(res):
    labels, q = res
    return _rows(labels), q


def test_louvain_local_equals_distributed(spark, tail_plan):
    G = _graph(spark)
    local, dist = _local_and_distributed(tail_plan, lambda: _labels_and_q(louvain(G)))
    assert local == dist


def test_leiden_local_equals_distributed(spark, tail_plan):
    G = _graph(spark, "disjoint")
    local, dist = _local_and_distributed(tail_plan, lambda: _labels_and_q(leiden(G)))
    assert local == dist


def test_ecg_local_equals_distributed(spark, tail_plan):
    G = _graph(spark)
    local, dist = _local_and_distributed(
        tail_plan, lambda: _labels_and_q(ecg(G, ensemble_size=3)))
    assert local == dist


def test_move_phase_partial_init_labels_local_equals_distributed(spark, tail_plan):
    """init_labels missing some vertices: the distributed move phase
    drops those vertices via its INNER init join (k still grouped over
    the FULL edge frame first); the local twin's filtering branch
    (``move_phase_local`` init_labels path) must be bit-identical —
    same surviving vertex set, same k, same final labels."""
    from cugraph_spark.operators.community import _move_phase

    G = _graph(spark, "weighted")
    e = G.edges
    two_m = 2.0 * e.agg(F.sum("weight")).first()[0]
    n_edges = e.count()
    # seed labels for a strict subset of the vertices (drop ids > 25),
    # grouped into two coarse communities
    init = (
        G.vertices()
        .filter(F.col("vertex") <= 25)
        .select("vertex", (F.col("vertex") % 2).alias("labels"))
    )
    kw = dict(two_m=two_m, max_iter=5, resolution=1.0, min_gain=1e-9,
              init_labels=init, n_edges=n_edges)
    local, dist = _local_and_distributed(tail_plan, lambda: _rows(_move_phase(e, **kw)))
    assert local == dist
    # the branch under test actually filtered something
    assert len(local) < G.vertices().count()


def test_louvain_checkpoint_resume_exact(spark, tmp_path):
    """Kill-after-level-0 + resume == uninterrupted run (per-level
    durable state; coarse edges recomputed from the saved assignment)."""
    G = _graph(spark, "disjoint")
    full, q_full = louvain(G)

    cp = CheckpointManager(str(tmp_path), "louv")
    # "killed" run: only level 0 executes, but its acceptance was saved
    louvain(G, max_levels=1, checkpoint=cp)
    assert cp.latest_iteration() == 0
    resumed, q_res = louvain(G, checkpoint=cp, resume=True)
    assert _rows(resumed) == _rows(full)
    assert q_res == q_full


def test_leiden_checkpoint_resume_exact(spark, tmp_path):
    G = _graph(spark, "disjoint")
    full, q_full = leiden(G)

    cp = CheckpointManager(str(tmp_path), "leid")
    leiden(G, max_levels=1, checkpoint=cp)
    if cp.latest_iteration() is None:
        pytest.skip("level 0 not accepted on this fixture")
    resumed, q_res = leiden(G, checkpoint=cp, resume=True)
    assert _rows(resumed) == _rows(full)
    assert q_res == q_full


def test_leiden_torn_checkpoint_resumes_from_last_complete_level(spark, tmp_path):
    """A crash between the main save and the seed-sidecar save leaves
    the main manager one level ahead. resume=True must fall back to the
    last level BOTH managers committed (here: none — fresh start), not
    raise on the missing seed dir forever."""
    import shutil

    G = _graph(spark, "disjoint")
    full, q_full = leiden(G)

    cp = CheckpointManager(str(tmp_path), "leid_torn")
    leiden(G, max_levels=1, checkpoint=cp)
    if cp.latest_iteration() is None:
        pytest.skip("level 0 not accepted on this fixture")
    # simulate the torn save: the seed sidecar of the latest level is gone
    shutil.rmtree(str(tmp_path / "leid_torn_seed"), ignore_errors=True)
    resumed, q_res = leiden(G, checkpoint=cp, resume=True)
    assert _rows(resumed) == _rows(full)
    assert q_res == q_full


# ---------------------------------------------------------------------------
# PageRank: driver-local plan == distributed plan (to 1e-12)
# ---------------------------------------------------------------------------
# The directed-with-dangling, undirected weighted and hub graphs are
# compared through the oracle in test_pagerank.py, which runs both plans
# to the oracle's superstep count and within 5e-13 of its ranks; the
# cases below are those the oracle tests do not cover.

def _pagerank_plans(tail_plan, G, **kw):
    """Run ``pagerank(G, **kw)`` on the driver-local plan and on the
    distributed plan. Per plan: ``(ranks, supersteps, schema,
    converged)``; ``converged`` is None when ``kw`` asks for the bare
    frame."""
    out = {}
    for plan in ("local", "distributed"):
        ss: list = []
        with tail_plan(plan) as calls:
            res = pagerank(G, superstep_seconds=ss, **kw)
        df, conv = res if isinstance(res, tuple) else (res, None)
        # the plan that was asked for is the plan that ran
        assert len(calls) == (1 if plan == "local" else 0), plan
        out[plan] = ({r.vertex: r.pagerank for r in df.collect()}, len(ss), df.schema, conv)
    return out


def _assert_plans_equal(out):
    (lr, ls, lschema, lconv), (dr, ds, dschema, dconv) = out["local"], out["distributed"]
    assert ls == ds and ls > 0
    assert lschema == dschema
    assert not lschema["pagerank"].nullable
    assert lconv == dconv
    assert lr.keys() == dr.keys()
    for v in lr:
        assert abs(lr[v] - dr[v]) <= 1e-12, v


def _directed(spark, kind):
    return Graph(edges_df(spark, make_edges(kind)), directed=True)


def test_pagerank_local_equals_distributed_partial_vectors(spark, tail_plan):
    """personalization / nstart rows for vertices outside the graph
    count in the normalizing sum; graph vertices without a row get 0."""
    G = _directed(spark, "directed_asym")  # vertices 0..33
    pers = spark.createDataFrame([(1, 1.0), (4, 3.0), (999, 2.0)], "vertex long, values double")
    nstart = spark.createDataFrame(
        [(v, float(v + 1)) for v in range(21)] + [(500, 7.0)], "vertex long, values double")
    _assert_plans_equal(_pagerank_plans(
        tail_plan, G, tol=1e-4, max_iter=500, personalization=pers, nstart=nstart))


def test_pagerank_local_equals_distributed_precomputed_ows(spark, tail_plan):
    """precomputed out-weights are left-joined: a vertex without a row
    has out-weight 0, rows for vertices outside the graph are ignored.
    (The rows left out are the dangling vertices', so the rank mass
    stays 1 and the run converges.)"""
    G = _directed(spark, "weighted")
    partial = G.out_weight_sums().filter(F.col("ows") > 0).unionByName(
        spark.createDataFrame([(777, 3.0)], "vertex long, ows double"))
    _assert_plans_equal(_pagerank_plans(
        tail_plan, G, tol=1e-4, max_iter=500, precomputed_vertex_out_weight=partial))


def test_pagerank_local_equals_distributed_fixed_and_nonconvergent(spark, tail_plan):
    """``tol=0`` runs the distributed plan's zero-action loop and
    ``tol>0`` its one-action loop; the output schema (``pagerank`` a non-nullable
    double) is the same on both, on the local plan and on the csr
    plan's two loops."""
    G = _directed(spark, "tiny_social")
    fixed = _pagerank_plans(tail_plan, G, tol=0.0, max_iter=7, fail_on_nonconvergence=False)
    _assert_plans_equal(fixed)
    assert fixed["local"][1] == 7 and fixed["local"][3] is False
    stuck = _pagerank_plans(tail_plan, G, tol=1e-12, max_iter=3, fail_on_nonconvergence=False)
    _assert_plans_equal(stuck)
    assert stuck["local"][1] == 3 and stuck["local"][3] is False
    for tol, iters in ((0.0, 7), (1e-12, 3)):
        ss: list = []
        df, conv = pagerank(G, tol=tol, max_iter=iters, mode="csr", superstep_seconds=ss,
                            fail_on_nonconvergence=False)
        assert df.schema == fixed["local"][2] and len(ss) == iters and conv is False
    for plan in ("local", "distributed"):
        ss: list = []
        with tail_plan(plan):
            with pytest.raises(FailedToConvergeError):
                pagerank(G, tol=1e-12, max_iter=3, superstep_seconds=ss)
        assert len(ss) == 3


@pytest.mark.parametrize("id_type,spark_type", [("int", "int"), ("long", "bigint")])
def test_pagerank_local_equals_distributed_id_types(spark, tail_plan, id_type, spark_type):
    e = spark.createDataFrame(
        [(int(a), int(b), float(w)) for a, b, w in make_edges("directed_asym")],
        f"src {id_type}, dst {id_type}, weight double")
    # a pre-partitioned multigraph keeps int32 ids uncast
    G = Graph(e, directed=True, multi_edge=True, pre_partitioned=True)
    out = _pagerank_plans(tail_plan, G, tol=1e-4, max_iter=500)
    _assert_plans_equal(out)
    assert out["local"][2]["vertex"].dataType.simpleString() == spark_type


def test_pagerank_local_errors_match_distributed(spark, tail_plan):
    """The same errors on every plan: the driver placement (which checks
    the side inputs in pandas), the Catalyst plan and the executor
    placement (``mode="csr"``; one aggregate each)."""
    empty = Graph(spark.createDataFrame([], "src long, dst long, weight double"), directed=True)
    G = _directed(spark, "directed_asym")
    zero = spark.createDataFrame([(1, 0.0)], "vertex long, values double")
    twice = spark.createDataFrame([(1, 1.0), (2, 1.0), (1, 2.0)], "vertex long, values double")
    for plan in ("local", "distributed", "csr"):
        with tail_plan("local" if plan == "csr" else plan):
            mode = "csr" if plan == "csr" else "dataframe"
            if plan != "csr":
                with pytest.raises(ValueError, match="empty graph"):
                    pagerank(empty)
            for name in ("personalization", "nstart"):
                with pytest.raises(ValueError, match=f"{name} values must sum to > 0"):
                    pagerank(G, mode=mode, **{name: zero})
            for name in ("personalization", "nstart", "precomputed_vertex_out_weight"):
                with pytest.raises(ValueError, match=f"{name} has more than one row"):
                    pagerank(G, mode=mode, **{name: twice if name != "precomputed_vertex_out_weight"
                                              else twice.withColumnRenamed("values", "ows")})


def test_pagerank_local_plan_runs_one_collect(spark):
    """The point of the local plan: a converged run costs a fixed
    handful of Spark jobs — the size gate's count of the persisted edge
    frame (four jobs: the constructor's dedup and the count's stages,
    no repartition shuffle) and one collect from that cache — not ~6
    jobs per superstep."""
    G = _directed(spark, "directed_asym")
    sc = spark.sparkContext
    sc.setJobGroup("pagerank_local_jobs", "job count")
    try:
        ss: list = []
        pagerank(G, tol=1e-6, max_iter=500, superstep_seconds=ss)
        jobs = sc.statusTracker().getJobIdsForGroup("pagerank_local_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(ss) > 10
    assert len(jobs) <= 5, jobs


def test_pagerank_local_side_inputs_cost_one_collect(spark):
    """On the driver placement a side input costs one Spark job, the
    collect its setup reads, and is checked in pandas: nstart adds one
    job to the five of a plain call, personalization one more (the
    Spark check aggregate cost 3 more per side input)."""
    sc = spark.sparkContext
    pers = spark.createDataFrame([(1, 1.0), (4, 3.0), (999, 2.0)], "vertex long, values double")
    nstart = spark.createDataFrame([(v, float(v + 1)) for v in range(21)],
                                   "vertex long, values double")
    for name, kw, most in (("nstart", {"nstart": nstart}, 6),
                           ("both", {"nstart": nstart, "personalization": pers}, 7)):
        G = _directed(spark, "directed_asym")
        sc.setJobGroup(f"pagerank_local_side_{name}", "job count")
        try:
            pagerank(G, tol=1e-6, max_iter=500, **kw)
            jobs = sc.statusTracker().getJobIdsForGroup(f"pagerank_local_side_{name}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) <= most, (name, jobs)


@pytest.mark.parametrize("op,given_ows", [pytest.param("pagerank", False, id="False"),
                                           pytest.param("pagerank", True, id="True"),
                                           pytest.param("wcc", False, id="wcc")])
def test_pagerank_gate_scans_source_once(spark, tail_plan, plan_cutover, op, given_ows):
    """Just above the cutover the size gate's count and all the Catalyst
    plan reads — PageRank's src-partitioned copy and vertex state,
    WCC's vertex stats and edge cache — read ONE scan of the source: a
    row counter in the source shows each source row read once in the
    whole call — also when precomputed out-weights mean PageRank's
    vertex state never reads the edges."""
    n = 600
    scanned = spark.sparkContext.accumulator(0)

    def source(batches):
        for pdf in batches:
            scanned.add(len(pdf))
            ids = pdf["id"].to_numpy()
            src, dst = ids % 97, (ids * 7 + 1) % 97
            if op == "wcc":  # the symmetrized form, both directions of each row
                src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
            yield pd.DataFrame({"src": src, "dst": dst, "weight": 1.0})

    e = spark.range(n, numPartitions=4).mapInPandas(source, "src long, dst long, weight double")
    # the multi-edge dedup shuffles the source (a symmetrized source:
    # the constructor's own symmetrize reads its input twice)
    G = Graph(e, directed=op == "pagerank", assume_symmetric=op == "wcc")
    ids = np.arange(n)
    pairs = set(zip(ids % 97, (ids * 7 + 1) % 97))
    if op == "wcc":
        pairs |= {(b, a) for a, b in pairs}
    kw = {}
    if given_ows:
        kw["precomputed_vertex_out_weight"] = spark.createDataFrame(
            [(v, 1.0) for v in range(97)], "vertex long, ows double")
    with tail_plan("distributed") as calls:
        with plan_cutover(local_tail, "LOCAL_TAIL_EDGES", len(pairs) - 1):
            if op == "wcc":
                rows = weakly_connected_components(G).collect()
            else:
                rows = pagerank(G, tol=1e-6, max_iter=100, **kw).collect()
    assert not calls and len(rows) == 97
    assert scanned.value == n


@pytest.mark.parametrize("op,plan", [pytest.param("pagerank", p, id=p) for p in ("local", "distributed")]
                         + [pytest.param("wcc", p, id=f"wcc-{p}") for p in ("local", "distributed")])
def test_pagerank_keeps_callers_edge_cache(spark, tail_plan, op, plan):
    """A caller's cache of the edge frame outlives the call on both
    plans, also for a src-partitioned graph, whose edge frame
    PageRank's Catalyst plan reads in place."""
    edges = make_edges("directed_asym")
    if op == "wcc":
        edges = sym_tuples(edges)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    G = Graph(e, directed=op == "pagerank", multi_edge=True, pre_partitioned=True,
              assume_symmetric=op == "wcc")
    assert G.partitioned_on("src")
    G.edges.persist()
    try:
        with tail_plan(plan) as calls:
            if op == "wcc":
                weakly_connected_components(G).count()
            else:
                pagerank(G, tol=1e-6).count()
        assert bool(calls) == (plan == "local")
        assert G.edges.storageLevel != StorageLevel.NONE
    finally:
        G.edges.unpersist()
