"""Checkpoint/resume (north-rule: exact resume mid-run with
per-partition lineage + metrics) and parallelism invariance (the
MG-vs-SG equivalence analog, SURVEY.md §5.2.4)."""

from __future__ import annotations

import json
import os

import pytest

from cugraph_spark import Graph, pagerank, weakly_connected_components, label_propagation
from cugraph_spark.plans.checkpoint import CheckpointManager
from .conftest import edges_df, make_edges


def _ranks(df):
    return {r["vertex"]: r["pagerank"] for r in df.collect()}


def _check_pagerank_checkpoint_meta(spark, tmp_path, **kw):
    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)
    cp = CheckpointManager(str(tmp_path), "pr")
    pagerank(G, tol=0.0, max_iter=6, checkpoint=cp, checkpoint_every=3, **kw)
    # checkpoints at iterations 2 and 5 (after supersteps 3 and 6)
    assert cp.latest_iteration() == 5
    for it in (2, 5):
        with open(os.path.join(str(tmp_path), "pr", f"iter={it:05d}", "_meta.json")) as f:
            meta = json.load(f)
        assert meta["iteration"] == it
        assert "l1" in meta["metrics"] and "dangling_sum" in meta["metrics"]
        assert len(meta["partitions"]) >= 1
        assert all("partition_id" in p and "rows" in p for p in meta["partitions"])
        total_rows = sum(p["rows"] for p in meta["partitions"])
        assert total_rows == G.number_of_vertices()
    assert [f.name for f in cp.load(spark, 5)[0].schema] == ["vertex", "ows", "rank"]


def test_pagerank_checkpoint_meta(spark, tmp_path, distributed_tail):
    _check_pagerank_checkpoint_meta(spark, tmp_path)


def test_pagerank_checkpoint_meta_local(spark, tmp_path):
    """The driver-local plan (the default at this size) writes the same
    checkpoints: same iterations, columns, meta keys and row counts."""
    _check_pagerank_checkpoint_meta(spark, tmp_path)


def test_pagerank_checkpoint_meta_csr(spark, tmp_path):
    """The csr plan writes the same checkpoints from its state slices."""
    _check_pagerank_checkpoint_meta(spark, tmp_path, mode="csr")


def test_pagerank_resume_exact(spark, tmp_path, distributed_tail):
    edges = make_edges("directed_asym")
    G = Graph(edges_df(spark, edges), directed=True)

    # uninterrupted: 8 fixed supersteps
    full = _ranks(pagerank(G, tol=0.0, max_iter=8))

    # interrupted at superstep 4 (checkpoint_every=2 → saved iter 3),
    # then resumed to 8
    cp = CheckpointManager(str(tmp_path), "pr_resume")
    pagerank(G, tol=0.0, max_iter=4, checkpoint=cp, checkpoint_every=2)
    assert cp.latest_iteration() == 3
    resumed = _ranks(
        pagerank(G, tol=0.0, max_iter=8, checkpoint=cp, checkpoint_every=2, resume=True)
    )
    assert set(full) == set(resumed)
    for v in full:
        assert abs(full[v] - resumed[v]) < 1e-12


@pytest.mark.parametrize("first", ["local", "distributed"])
def test_pagerank_resume_across_plans(spark, tmp_path, monkeypatch, first):
    """A run interrupted on one PageRank plan resumes on the other: the
    driver-local plan and the distributed plan write and read the same
    (vertex, ows, rank) checkpoints and meta, so the resumed ranks
    match an uninterrupted run on either plan."""
    from cugraph_spark.plans import local_tail

    cutover = {"local": local_tail.LOCAL_TAIL_EDGES, "distributed": 0}
    second = "local" if first == "distributed" else "distributed"
    G = Graph(edges_df(spark, make_edges("directed_asym")), directed=True)
    cp = CheckpointManager(str(tmp_path), "pr_cross")
    full = {}
    for plan in (first, second):
        monkeypatch.setattr(local_tail, "LOCAL_TAIL_EDGES", cutover[plan])
        full[plan] = _ranks(pagerank(G, tol=0.0, max_iter=8))
    monkeypatch.setattr(local_tail, "LOCAL_TAIL_EDGES", cutover[first])
    pagerank(G, tol=0.0, max_iter=4, checkpoint=cp, checkpoint_every=2)
    assert cp.latest_iteration() == 3
    monkeypatch.setattr(local_tail, "LOCAL_TAIL_EDGES", cutover[second])
    ss: list = []
    resumed = _ranks(pagerank(G, tol=0.0, max_iter=8, checkpoint=cp,
                              checkpoint_every=2, resume=True, superstep_seconds=ss))
    assert len(ss) == 4  # supersteps 4..7
    assert cp.latest_iteration() == 7
    for plan in (first, second):
        assert set(resumed) == set(full[plan])
        for v in resumed:
            assert abs(full[plan][v] - resumed[v]) < 1e-12, (plan, v)


# plan -> (LOCAL_TAIL_EDGES, mode)
_PLANS = {"local": (10**9, "dataframe"), "distributed": (0, "dataframe"), "csr": (0, "csr")}


@pytest.mark.parametrize("first,second", [("csr", "distributed"), ("distributed", "csr"),
                                          ("csr", "local"), ("local", "csr")])
def test_pagerank_resume_across_csr(spark, tmp_path, monkeypatch, first, second):
    """A run checkpointed on the csr plan (written from its state
    slices) resumes on a dataframe plan, and a dataframe plan's
    checkpoint resumes on the csr plan, matching an uninterrupted run."""
    from cugraph_spark.plans import local_tail

    def run(plan, **kw):
        monkeypatch.setattr(local_tail, "LOCAL_TAIL_EDGES", _PLANS[plan][0])
        return pagerank(G, tol=0.0, mode=_PLANS[plan][1], **kw)

    G = Graph(edges_df(spark, make_edges("directed_asym")), directed=True)
    full = _ranks(run(second, max_iter=8))
    cp = CheckpointManager(str(tmp_path), "pr_csr")
    run(first, max_iter=4, checkpoint=cp, checkpoint_every=2)
    assert cp.latest_iteration() == 3
    ss: list = []
    resumed = _ranks(run(second, max_iter=8, checkpoint=cp, checkpoint_every=2,
                         resume=True, superstep_seconds=ss))
    assert len(ss) == 4 and cp.latest_iteration() == 7
    assert set(resumed) == set(full)
    for v in full:
        assert abs(full[v] - resumed[v]) < 1e-12, v


@pytest.mark.parametrize("plan", ["local", "distributed", "csr"])
def test_pagerank_resume_lacking_a_vertex_raises(spark, tmp_path, monkeypatch, plan):
    """A checkpoint written on the graph without vertex 33, resumed on
    the whole graph, raises an error that names the checkpoint on every
    plan — not a numpy broadcast error, a stale-blocks error, or a
    result missing the vertex."""
    from cugraph_spark.plans import local_tail

    edges = make_edges("directed_asym")
    part = Graph(edges_df(spark, [e for e in edges if 33 not in e[:2]]), directed=True)
    G = Graph(edges_df(spark, edges), directed=True)
    cp = CheckpointManager(str(tmp_path), "pr_part")
    pagerank(part, tol=0.0, max_iter=2, checkpoint=cp, checkpoint_every=2)
    assert cp.latest_iteration() == 1
    monkeypatch.setattr(local_tail, "LOCAL_TAIL_EDGES", _PLANS[plan][0])
    with pytest.raises(Exception, match="PageRank checkpoint .* lacks vertices"):
        pagerank(G, tol=0.0, max_iter=4, mode=_PLANS[plan][1], checkpoint=cp,
                 checkpoint_every=2, resume=True).collect()


def test_wcc_resume(spark, tmp_path, distributed_tail):
    edges = make_edges("disjoint")
    G = Graph(edges_df(spark, edges), directed=False)
    full = {r["vertex"]: r["labels"] for r in weakly_connected_components(G).collect()}

    cp = CheckpointManager(str(tmp_path), "wcc")
    weakly_connected_components(G, max_iter=1, checkpoint=cp, checkpoint_every=1)
    assert cp.latest_iteration() == 0
    resumed = {
        r["vertex"]: r["labels"]
        for r in weakly_connected_components(
            G, checkpoint=cp, checkpoint_every=1, resume=True
        ).collect()
    }
    assert resumed == full


# WCC plan -> (LOCAL_TAIL_EDGES, mode)
_WCC_PLANS = {"driver": (10**9, "dataframe"), "dataframe": (0, "dataframe"), "csr": (0, "csr")}


@pytest.mark.parametrize("first,second", [("csr", "dataframe"), ("dataframe", "csr"),
                                          ("driver", "dataframe"), ("dataframe", "driver")])
def test_wcc_resume_across_csr(spark, tmp_path, monkeypatch, first, second):
    """A WCC run checkpointed by the block plan (in the executors or on
    the driver, written from its label slices) resumes on the Catalyst
    plan, and the reverse, matching an uninterrupted run — on ids above
    2^53, which no double holds exactly (2^60 + 1 rounds to 2^60, not a
    vertex here)."""
    from cugraph_spark.plans import local_tail

    def run(plan, **kw):
        monkeypatch.setattr(local_tail, "LOCAL_TAIL_EDGES", _WCC_PLANS[plan][0])
        return weakly_connected_components(G, mode=_WCC_PLANS[plan][1], checkpoint=cp,
                                           checkpoint_every=1, **kw)

    big = 2**60 + 1
    p = [(big + i, big + i + 1, 1.0) for i in range(80)]
    G = Graph(edges_df(spark, p + [(b, a, w) for a, b, w in p]), directed=False)
    full = {r["vertex"]: r["labels"] for r in weakly_connected_components(G).collect()}
    cp = CheckpointManager(str(tmp_path), "wcc_csr")
    run(first, max_iter=2)
    assert cp.latest_iteration() == 1
    assert [f.name for f in cp.load(spark, 1)[0].schema] == ["vertex", "labels"]
    ss: list = []
    resumed = run(second, resume=True, superstep_seconds=ss)
    assert {r["vertex"]: r["labels"] for r in resumed.collect()} == full
    assert ss and cp.latest_iteration() == 1 + len(ss)


def test_lpa_resume(spark, tmp_path):
    edges = make_edges("tiny_social")
    G = Graph(edges_df(spark, edges), directed=False)
    full = {r["vertex"]: r["labels"] for r in label_propagation(G, max_iter=6).collect()}
    cp = CheckpointManager(str(tmp_path), "lpa")
    label_propagation(G, max_iter=2, checkpoint=cp, checkpoint_every=2)
    resumed = {
        r["vertex"]: r["labels"]
        for r in label_propagation(
            G, max_iter=6, checkpoint=cp, checkpoint_every=2, resume=True
        ).collect()
    }
    assert resumed == full


@pytest.mark.parametrize("parts", [3, 16])
def test_pagerank_parallelism_invariant(spark, parts, distributed_tail):
    """Same job at different partition counts → same result (the
    sandbox analog of MG-vs-SG equivalence, test_pagerank_mg.py)."""
    edges = make_edges("weighted")
    G = Graph(edges_df(spark, edges), directed=True)
    base = _ranks(pagerank(G, tol=1e-8, max_iter=100, num_partitions=8))
    got = _ranks(pagerank(G, tol=1e-8, max_iter=100, num_partitions=parts))
    assert set(base) == set(got)
    for v in base:
        assert abs(base[v] - got[v]) < 1e-9


@pytest.mark.parametrize("parts", [3, 16])
def test_wcc_parallelism_invariant(spark, parts, distributed_tail):
    edges = make_edges("disjoint")
    G = Graph(edges_df(spark, edges), directed=False)
    base = {r["vertex"]: r["labels"]
            for r in weakly_connected_components(G, num_partitions=8).collect()}
    got = {r["vertex"]: r["labels"]
           for r in weakly_connected_components(G, num_partitions=parts).collect()}
    assert base == got


@pytest.mark.parametrize("parts", [3, 16])
def test_random_walks_parallelism_invariant(spark, parts):
    """Walk ids + draws are counter-based deterministic: identical walk
    output at any partition count / start-list layout."""
    from cugraph_spark.operators.sampling import random_walks

    edges = make_edges("weighted")
    G = Graph(edges_df(spark, edges), directed=True)
    starts = G.vertices().orderBy("vertex").limit(6)
    base = sorted(
        map(tuple, random_walks(G, starts, max_depth=4, seed=7).collect())
    )
    starts2 = G.vertices().orderBy("vertex").limit(6).repartition(parts)
    got = sorted(
        map(tuple, random_walks(G, starts2, max_depth=4, seed=7).collect())
    )
    assert base == got


@pytest.mark.parametrize("parts", [3, 16])
def test_neighbor_sample_parallelism_invariant(spark, parts):
    from cugraph_spark.operators.sampling import uniform_neighbor_sample

    edges = make_edges("weighted")
    G = Graph(edges_df(spark, edges), directed=True)
    starts = G.vertices().orderBy("vertex").limit(6)
    base = sorted(
        map(tuple, uniform_neighbor_sample(G, starts, fanout=[3, 2], seed=7).collect())
    )
    got = sorted(
        map(
            tuple,
            uniform_neighbor_sample(
                G, starts.repartition(parts), fanout=[3, 2], seed=7
            ).collect(),
        )
    )
    assert base == got


def test_neighbor_sample_with_replacement(spark):
    """with_replacement=True draws fanout slots per vertex — every
    sampled row is a real edge, ≤ fanout rows per (src, hop)."""
    from cugraph_spark.operators.sampling import uniform_neighbor_sample

    edges = make_edges("weighted")
    G = Graph(edges_df(spark, edges), directed=True)
    starts = G.vertices().orderBy("vertex").limit(6)
    rows = uniform_neighbor_sample(
        G, starts, fanout=[4], seed=7, with_replacement=True
    ).collect()
    eset = {(s, d) for s, d, _ in edges}
    per_src = {}
    for r in rows:
        assert (r["src"], r["dst"]) in eset
        per_src[r["src"]] = per_src.get(r["src"], 0) + 1
    assert per_src and all(c <= 4 for c in per_src.values())


def test_checkpoint_uri_scheme_roundtrip(spark, tmp_path):
    """The checkpoint manager must speak Hadoop-FS paths, not local
    python file APIs: a file:// URI (any Spark-supported scheme) must
    round-trip save -> latest_iteration -> load. On a real cluster the
    parquet goes wherever Spark resolves the URI, and the _meta.json
    marker must land on the SAME filesystem."""
    from cugraph_spark.plans.checkpoint import CheckpointManager

    root = "file://" + str(tmp_path)
    cp = CheckpointManager(root, "uri")
    df = spark.createDataFrame([(1, 0.5), (2, 0.5)], "vertex long, rank double")
    cp.save(df, 3, {"l1": 0.1})
    assert cp.latest_iteration() == 3
    got, meta = cp.load(spark, 3)
    assert meta["iteration"] == 3 and meta["metrics"]["l1"] == 0.1
    assert sorted((r["vertex"], r["rank"]) for r in got.collect()) == [
        (1, 0.5), (2, 0.5),
    ]
