"""Shared fixtures: one SparkSession per test session + deterministic
edge-list micro-fixtures mirroring the reference's modified-karate
family (FIXTURES.md §2: self-loops, multi-edges, isolated vertices,
string ids, disjoint components, power-law hubs)."""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from cugraph_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="cugraph_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture
def plan_cutover(monkeypatch):
    """``with plan_cutover(module, name, value):`` runs a block with one
    plan cutover patched: a constant such as
    ``strategy.NARROW_STATE_BROADCAST_LIMIT`` is set to ``value``; a threshold
    function such as ``_frontier_threshold`` is replaced by one that
    returns ``value``; ``None`` leaves the automatic rule in place.
    Operators read their cutovers at call time and take no parameter
    for them, so this is how a test reaches each plan."""

    @contextlib.contextmanager
    def patch(module, name, value):
        with monkeypatch.context() as m:
            if value is not None:
                rule = getattr(module, name)
                m.setattr(module, name, (lambda *a: value) if callable(rule) else value)
            yield

    return patch


def _spy(calls, name, real, *args, **kwargs):
    calls.append(name)
    return real(*args, **kwargs)


def _spy_gate(calls, name, real, *args, **kwargs):
    blocks, owned = real(*args, **kwargs)
    if blocks is not None:
        calls.append(name)
    return blocks, owned


@pytest.fixture
def tail_plan(monkeypatch):
    """``with tail_plan("local") as calls:`` runs a block with the
    driver-local tail cutover (``local_tail.LOCAL_TAIL_EDGES``) so high
    that every test graph takes the local plan; ``"distributed"`` sets
    it to 0, so none does. ``calls`` records the name of every
    driver-local kernel (``local_tail.*_local``) and every driver
    placement the size gate picked (``csr_blocks.size_gate`` as
    PageRank and WCC call it, and through WCC Leiden's refinement and
    MST's merge) the block ran, which proves the plan."""
    from cugraph_spark.plans import local_tail

    spied = [(local_tail, n, _spy) for n in vars(local_tail) if n.endswith("_local")]
    # the package re-exports each operator function under its module's
    # name, so the modules are imported by path
    for op in ("pagerank", "wcc"):
        spied.append((importlib.import_module(f"cugraph_spark.operators.{op}"), "size_gate",
                      _spy_gate))

    @contextlib.contextmanager
    def plan(name):
        calls: list = []
        with monkeypatch.context() as m:
            m.setattr(local_tail, "LOCAL_TAIL_EDGES", {"local": 10**9, "distributed": 0}[name])
            for mod, k, spy in spied:
                m.setattr(mod, k, functools.partial(spy, calls, k, getattr(mod, k)))
            yield calls

    return plan


@pytest.fixture
def distributed_tail(tail_plan):
    """Force every operator's distributed plan for the whole test (no
    graph takes a driver-local tail). For tests of distributed-only
    machinery (chaining, partitioning, the csr-vs-dataframe
    comparisons)."""
    with tail_plan("distributed"):
        yield


def make_edges(kind: str, seed: int = 42):
    """Deterministic synthetic edge lists as (src, dst, weight) tuples.

    Structural analogs of the reference's test datasets
    (datasets/README.md modified-karate table), regenerated not copied.
    """
    rng = np.random.RandomState(seed)
    if kind == "tiny_social":
        # connected, undirected-intent social graph, 34 vertices
        n = 34
        edges = set()
        for v in range(1, n):
            u = rng.randint(0, v)  # random spanning tree → connected
            edges.add((u, v))
        while len(edges) < 78:
            a, b = rng.randint(0, n), rng.randint(0, n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        return [(a, b, 1.0) for a, b in sorted(edges)]
    if kind == "weighted":
        return [(a, b, float(1 + ((a * 7 + b * 13) % 5)))
                for a, b, _ in make_edges("tiny_social", seed)]
    if kind == "disjoint":
        # two copies of tiny_social offset by 100 → ≥2 components
        base = make_edges("tiny_social", seed)
        return base + [(a + 100, b + 100, w) for a, b, w in base]
    if kind == "self_loops":
        return make_edges("tiny_social", seed) + [(0, 0, 1.0), (5, 5, 2.0)]
    if kind == "multi_edge":
        base = make_edges("weighted", seed)
        return base + [(base[0][0], base[0][1], 9.0), (base[3][0], base[3][1], 0.5)]
    if kind == "isolated":
        # vertex ids 40..42 never appear in edges but exist in [0, n)
        return make_edges("tiny_social", seed)  # callers pass n=43
    if kind == "directed_asym":
        # directed, with dangling vertices (no out-edges)
        base = make_edges("tiny_social", seed)
        return [(a, b, w) for a, b, w in base]  # one direction only
    if kind == "hub":
        # power-law-ish: vertex 0 is a hub imported by everyone
        n = 200
        edges = [(v, 0, 1.0) for v in range(1, n)]
        for v in range(1, n):
            edges.append((v, 1 + (v * 17) % (n - 1), 1.0))
        return [(a, b, w) for a, b, w in edges if a != b]
    if kind == "line":
        return [(i, i + 1, 1.0) for i in range(9)]
    if kind == "triangle_mesh":
        # known triangle structure: K4 plus a pendant path
        k4 = [(a, b, 1.0) for a in range(4) for b in range(a + 1, 4)]
        return k4 + [(3, 4, 1.0), (4, 5, 1.0)]
    raise ValueError(kind)


def edges_df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b), float(w)) for a, b, w in edges], "src long, dst long, weight double"
    )


def sym_tuples(edges):
    """Symmetrize tuple edge list with min-weight dedup (reference
    symmetrize semantics) for feeding oracles."""
    agg = {}
    for a, b, w in edges:
        for k in ((a, b), (b, a)):
            agg[k] = min(agg.get(k, float("inf")), w)
    return [(a, b, w) for (a, b), w in sorted(agg.items())]


def csr_superstep(spark, op: str):
    """One csr operator's parts on a small graph, for running its
    ``VertexSlices`` passes step by step: ``(G, weighted, versioned,
    setup, run)``, where ``setup`` is the ``(init, schema)`` of
    ``VertexSlices.setup`` and ``run`` the ``(update, reads, col, fold,
    carry)`` of ``VertexSlices.run``: ``update(carry)`` is a superstep's
    pid function, and ``carry`` the first superstep's."""
    from cugraph_spark.graph import Graph

    if op == "wcc":
        wcc = importlib.import_module("cugraph_spark.operators.wcc")
        G = Graph(edges_df(spark, sym_tuples(make_edges("tiny_social"))), directed=False)
        return (G, False, ("labels",), (wcc._init, "n long"),
                (lambda c: wcc._update, ("labels",), "labels", wcc._fold, None))
    G = Graph(edges_df(spark, make_edges("directed_asym")), directed=True)
    if op == "pagerank":
        pr = importlib.import_module("cugraph_spark.operators.pagerank")
        V = G.number_of_vertices()
        return (G, True, ("rank", "x"), (pr._init(V, (), None), "dang double"),
                (lambda c: pr._update(0.85, V, c[0]), ("ows", "rank"), "x", pr._fold(0.0),
                 (0.0, None)))
    traversal = importlib.import_module("cugraph_spark.operators.traversal")
    return (G, False, ("dist", "pred"), (traversal._bfs_init(0), "n long"),
            (lambda depth: traversal._bfs_update(depth + 1), ("dist", "pred"), "dist",
             traversal._bfs_fold, 0))


def block_store(G, weighted: bool, placement: str, P: int, block_dir: str):
    """The block store of one ``VertexSlices`` placement over ``G``: the
    executors' ``CsrBlocks`` with ``P`` pids packed into ``block_dir``,
    or the driver's ``DriverBlocks`` over the collected edges (one pid,
    in memory)."""
    from cugraph_spark.plans import local_tail
    from cugraph_spark.plans.csr_blocks import CsrBlocks, DriverBlocks

    if placement == "driver":
        return DriverBlocks(G.edges.sparkSession, *local_tail.collect_edges(G.edges, weighted))
    return CsrBlocks(G, P, block_dir, weighted=weighted)


def check_gap_and_missing(spark, tmp_path, op: str, placement: str = "executors") -> None:
    """A csr superstep task of ``op`` (after one real superstep on
    ``placement``) returns a row for a pid with vertices and RAISES when
    a slice of the generation it reads is gone — never a silent zero.
    On the executors, whose store has more pids than vertices here and
    packed block files, a pid without vertices (a hash gap) returns no
    row, and a pid the manifest lists whose block files are gone (torn
    deployment / non-shared block_dir) raises too."""
    from cugraph_spark.plans.csr_blocks import VertexSlices

    G, weighted, versioned, setup, run = csr_superstep(spark, op)
    P = 64  # more pids than vertices: some pids hold no edges
    with block_store(G, weighted, placement, P, str(tmp_path / "blocks")) as blocks, \
            VertexSlices(blocks, versioned) as state:
        state.setup(*setup)
        carry = state.run(*run, max_steps=1).carries[-1]
        update, reads, col, _, _ = run
        task = state.step_task(update(carry), reads, col)
        listed = sorted(state.in_files.manifest)
        assert task(listed[0]) is not None
        if placement == "executors":
            gap = next(p for p in range(P)
                       if p not in state.out_files.manifest and p not in state.in_files.manifest)
            assert task(gap) is None
            os.remove(os.path.join(state.in_files.block_dir, f"{listed[0]}.su.npy"))
            with pytest.raises(RuntimeError, match="missing"):
                task(listed[0])
        # on the executors a task reads the other pids' slices too
        gone, reader = (listed[1], listed[2]) if placement == "executors" else (0, 0)
        os.remove(state.path(gone, col))
        with pytest.raises(RuntimeError, match="state slice missing"):
            task(reader)
