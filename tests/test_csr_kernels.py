"""The two pull block kernels (``plans/csr_blocks.py``: ``sum_kernel``
and ``min_kernel`` over transposed blocks) against numpy's unbuffered
``np.add.at`` / ``np.minimum.at`` over the raw edges, on the three block
forms: packed dense, packed dict, and built in memory, with the state
either indexed directly or read from per-pid slices through ``gather``,
as the csr plans read it; and the superstep skeleton around them
(``VertexSlices``) on both of its placements, the executors
(``CsrBlocks``) and the driver (``DriverBlocks``): its slice
generations, hash-gap pids and missing blocks or slices, under the
PageRank, WCC and BFS updates; and the executors' barrier run
(``CsrBlocks.gang``): more pids than task slots, a failing task, the
resume after one, and a dead run's rows."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from cugraph_spark.plans import csr_blocks
from cugraph_spark.plans.csr_blocks import (
    Block,
    csr_arrays,
    gather,
    load_block,
    min_kernel,
    pack_edges,
    read_meta,
    save_slice,
    sum_kernel,
)

from .conftest import block_store, check_gap_and_missing, csr_superstep

V = 40
_rng = np.random.default_rng(5)
SRC = _rng.integers(0, V - 1, 300)  # vertex V-1 has no out-edges
DST = _rng.integers(0, V, 300)
W = _rng.integers(1, 5, 300).astype(np.float64)
# integer-valued doubles: every sum is exact in any order
X = _rng.integers(0, 4, V).astype(np.float64)
LABELS = _rng.permutation(V)


def _blocks(spark, tmp_path, form):
    """The edges as transposed blocks, keyed by dst."""
    if form == "memory":
        return [Block(csr_arrays(DST, SRC, W), {"ids": "dense", "hi1": V})]
    df = spark.createDataFrame(pd.DataFrame({"src": DST, "dst": SRC, "weight": W}))
    bdir = str(tmp_path / form)
    manifest = pack_edges(df, bdir, 3, weight="weight",
                          id_bounds=(0, V - 1) if form == "dense" else None)
    meta = read_meta(bdir)
    assert meta["ids"] == form
    return [Block(load_block(bdir, pid, meta), meta) for pid in manifest]


def _slots(b, vals, state_dir):
    """``vals`` (one per vertex id) on block ``b``'s neighbour slots:
    indexed directly, or, with ``state_dir``, written as per-pid slices
    of two pids and read back through ``gather``."""
    if state_dir is None:
        return vals if b.du is None else vals[b.du]
    ids = np.arange(V)
    for pid in (0, 1):
        save_slice(state_dir, pid, "vertex", ids[ids % 2 == pid])
        save_slice(state_dir, pid, "vals", vals[ids % 2 == pid])
    x, at = gather(b, state_dir, 2, "vals")
    assert np.array_equal(at(ids), vals)
    return x


@pytest.mark.parametrize("gathered", [True, False])
@pytest.mark.parametrize("form", ["dense", "dict", "memory"])
def test_block_kernels_match_ufunc_at(spark, tmp_path, form, gathered):
    state_dir = None
    if gathered:
        state_dir = str(tmp_path / "state")
        os.makedirs(state_dir)
    blocks = _blocks(spark, tmp_path, form)
    assert sum(len(b.nbr) for b in blocks) == len(SRC)

    # each transposed block reduces the in-edges of its dsts, x on the
    # neighbour slots (vertex ids when dense, ``du`` when dict)
    sums = np.zeros(V)
    np.add.at(sums, DST, X[SRC] * W)
    mins = np.full(V, np.iinfo(np.int64).max)
    np.minimum.at(mins, DST, LABELS[SRC])
    got_sum, got_min = {}, {}
    for b in blocks:
        got_sum.update(zip(b.su.tolist(), sum_kernel(b, _slots(b, X, state_dir)).tolist()))
        got_min.update(zip(b.su.tolist(), min_kernel(b, _slots(b, LABELS, state_dir)).tolist()))
    has_in = np.unique(DST).tolist()
    assert got_sum == {d: sums[d] for d in has_in}
    assert got_min == {d: int(mins[d]) for d in has_in}


OPS = ["pagerank", "wcc", "bfs"]


def _check_slice_generations(spark, tmp_path, op, placement):
    """The skeleton's generation rule under ``op``'s update on
    ``placement``, over four real supersteps: after each, every pid
    holds the slices written once at setup (``vertex`` among them) plus
    exactly the current and the previous generation of each versioned
    column, and a slice kept from one superstep to the next is the same
    file (the same inode), so no slice is ever replaced in place."""
    G, weighted, versioned, setup, run = csr_superstep(spark, op)
    update, reads, col, fold, carry = run
    with block_store(G, weighted, placement, 4, str(tmp_path / "blocks")) as blocks, \
            csr_blocks.VertexSlices(blocks, versioned) as state:

        def held(pid):
            return {f[len(f"{pid}."):-len(".npy")]: os.stat(os.path.join(state.dir, f)).st_ino
                    for f in os.listdir(state.dir) if f.startswith(f"{pid}.")}

        state.setup(*setup)
        before = {pid: held(pid) for pid in range(state.P)}
        once = {pid: set(before[pid]) - {f"{c}0" for c in versioned} for pid in range(state.P)}
        for gen in range(1, 5):
            carry = state.run(update, reads, col, fold, carry, max_steps=1).carries[-1]
            assert state.gen == gen
            for pid in range(state.P):
                now = held(pid)
                assert "vertex" in once[pid]
                assert set(now) == once[pid] | {f"{c}{g}" for c in versioned
                                                for g in (gen - 1, gen)}, (pid, gen)
                assert all(now[n] == before[pid][n] for n in now.keys() & before[pid].keys())
                before[pid] = now


@pytest.mark.parametrize("op", OPS)
def test_slice_generations(spark, tmp_path, op):
    _check_slice_generations(spark, tmp_path, op, "executors")


@pytest.mark.parametrize("op", OPS)
def test_slice_generations_on_driver(spark, tmp_path, op):
    _check_slice_generations(spark, tmp_path, op, "driver")


@pytest.mark.parametrize("op", ["wcc", "bfs"])
def test_csr_update_gap_and_missing_raise(spark, tmp_path, op):
    """``test_pagerank.py::test_pagerank_csr_missing_block_raises`` for
    the WCC and BFS updates: a hash-gap pid returns no row, and a
    deleted block or a deleted slice of the generation read raises."""
    check_gap_and_missing(spark, tmp_path, op)


@pytest.mark.parametrize("op", OPS)
def test_gap_and_missing_on_driver(spark, tmp_path, op):
    """The driver placement's one pid returns a row and raises on a
    deleted slice of the generation read (its blocks are in memory, and
    one pid leaves no hash gap)."""
    check_gap_and_missing(spark, tmp_path, op, "driver")


# --- the gang-scheduled run (CsrBlocks.gang) -------------------------------


def _gang_graph(spark):
    """A 120-vertex path, symmetrized: many WCC supersteps and BFS levels
    and, as a directed graph, many PageRank supersteps."""
    from cugraph_spark import Graph

    from .conftest import edges_df

    p = [(i, i + 1, 1.0) for i in range(119)]
    return Graph(edges_df(spark, p + [(b, a, w) for a, b, w in p]), directed=False)


def _gang_calls(G, block_dir, P):
    """PageRank, WCC and BFS on the executors over ``block_dir``, each
    with its result collected and its superstep seconds."""
    from cugraph_spark import pagerank, weakly_connected_components
    from cugraph_spark.operators.traversal import bfs

    kw = {"mode": "csr", "block_dir": block_dir, "num_partitions": P}

    def pr():
        ss: list = []
        rows = pagerank(G, tol=1e-9, max_iter=500, superstep_seconds=ss, **kw).collect()
        return {r.vertex: r.pagerank for r in rows}, len(ss)

    def wcc():
        ss: list = []
        rows = weakly_connected_components(G, superstep_seconds=ss, **kw).collect()
        return {r.vertex: r.labels for r in rows}, len(ss)

    def levels():
        rows = bfs(G, 0, **kw).collect()
        return {r.vertex: (r.distance, r.predecessor) for r in rows}, None

    return {"pagerank": pr, "wcc": wcc, "bfs": levels}


_BODY = csr_blocks.VertexSlices._body


def _fail_once(monkeypatch, marker: str, at_k: int = 2, pid: int = 1):
    """Make the task of ``pid`` raise in superstep ``at_k`` of a run, on
    the first attempt only (``marker`` is created once, atomically)."""
    real = _BODY

    def body(self, update, reads, col):
        step = real(self, update, reads, col)

        def failing(p, k, carry):
            if k == at_k and p == pid:
                try:
                    os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
                except FileExistsError:
                    pass
                else:
                    raise ValueError("injected superstep failure")
            return step(p, k, carry)

        return failing

    monkeypatch.setattr(csr_blocks.VertexSlices, "_body", body)


def _jobs(spark, name, call):
    sc = spark.sparkContext
    sc.setJobGroup(name, "job count")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(name)


def test_gang_more_pids_than_slots(spark, tmp_path):
    """P = 64 on local[4]: a barrier job runs S = min(P, slots) tasks,
    each owning every S-th pid (64 tasks would wait for slots that never
    come), and gives the P = 4 results."""
    G = _gang_graph(spark)
    assert csr_blocks.gang_slots(spark) == 4
    for op, call in _gang_calls(G, str(tmp_path / "p4"), 4).items():
        assert _gang_calls(G, str(tmp_path / "p64"), 64)[op]() == call(), op


def test_gang_failure_raises_the_task_error_fast(spark, tmp_path, monkeypatch):
    """A task that raises in superstep 2 fails the call with its own
    error within 10 s (its peers read its ``abort`` file, not the 60 s
    peer timeout), leaves no ``state-<uuid>/`` behind, and leaves no
    task of the job running."""
    import time

    G = _gang_graph(spark)
    bdir = str(tmp_path / "blocks")
    calls = _gang_calls(G, bdir, 4)
    calls["pagerank"]()  # packs, so the timed calls below run no pack
    assert csr_blocks.task_attempts(spark) == 1  # local[4]: no retry
    sc = spark.sparkContext
    for op, call in calls.items():
        _fail_once(monkeypatch, str(tmp_path / f"failed_{op}"))
        t0 = time.perf_counter()
        with pytest.raises(Exception, match="injected superstep failure"):
            _jobs(spark, f"gang_fail_{op}", call)
        assert time.perf_counter() - t0 < 10, op
        assert not [d for d in os.listdir(bdir) if d.startswith("state-")], op
        tracker = sc.statusTracker()
        stages = [s for j in tracker.getJobIdsForGroup(f"gang_fail_{op}")
                  for s in tracker.getJobInfo(j).stageIds]

        def running():
            return sum(i.numActiveTasks for i in map(tracker.getStageInfo, stages) if i)

        deadline = time.monotonic() + 5
        while running() and time.monotonic() < deadline:
            time.sleep(0.1)
        assert not running(), op


def test_gang_resumes_from_the_last_complete_superstep(spark, tmp_path, monkeypatch):
    """With two attempts allowed, a task that raises once in superstep 2
    costs one more barrier job: the driver resumes the run from the last
    superstep whose rows all exist, and ranks, labels and distances
    equal an uninterrupted run's, with as many supersteps."""
    G = _gang_graph(spark)
    bdir = str(tmp_path / "blocks")
    calls = _gang_calls(G, bdir, 4)
    calls["pagerank"]()  # packs
    G.edge_rows()  # the reuse check's edge count, once per graph
    clean = {op: _jobs(spark, f"gang_clean_{op}", call) for op, call in calls.items()}
    monkeypatch.setattr(csr_blocks, "task_attempts", lambda spark: 2)
    for op, call in calls.items():
        _fail_once(monkeypatch, str(tmp_path / f"failed_{op}"))
        got, jobs = _jobs(spark, f"gang_resumed_{op}", call)
        want, want_jobs = clean[op]
        assert os.path.exists(tmp_path / f"failed_{op}"), op  # it did fail once
        assert got == want, op
        assert len(jobs) == len(want_jobs) + 1, (op, jobs, want_jobs)
        assert not [d for d in os.listdir(bdir) if d.startswith("state-")], op


def test_gang_never_reads_a_dead_runs_rows(spark, tmp_path):
    """Every job of a run writes its rows into a new ``rows-<uuid>/``: the
    rows and the ``abort`` of a dead run left in the state directory are
    never read, so a run beside them folds its own rows only."""
    G, weighted, versioned, setup, run = csr_superstep(spark, "pagerank")
    carries = []
    for poison in (False, True):
        with block_store(G, weighted, "executors", 4, str(tmp_path / "blocks")) as blocks, \
                csr_blocks.VertexSlices(blocks, versioned) as state:
            state.setup(*setup)
            if poison:
                dead = os.path.join(state.dir, "rows-dead")
                os.makedirs(dead)
                for k in range(4):
                    for pid in range(state.P):
                        with open(os.path.join(dead, f"{k}.{pid}"), "w") as f:
                            f.write('{"l1": 1e300, "dang": 1e300}')
                with open(os.path.join(dead, "abort"), "w") as f:
                    f.write("a dead run's failure")
            out = state.run(*run, max_steps=4)
            assert len(out.carries) == len(out.seconds) == 4
            carries.append(out.carries)
    assert carries[0] == carries[1]
