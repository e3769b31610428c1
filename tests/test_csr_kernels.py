"""The two pull block kernels (``plans/csr_blocks.py``: ``sum_kernel``
and ``min_kernel`` over transposed blocks) against numpy's unbuffered
``np.add.at`` / ``np.minimum.at`` over the raw edges, on the three block
forms: packed dense, packed dict, and built in memory, with the state
either indexed directly or read from per-pid slices through ``gather``,
as the csr plans read it; and the superstep skeleton around them
(``VertexSlices``) on both of its placements, the executors
(``CsrBlocks``) and the driver (``DriverBlocks``): its slice
generations, hash-gap pids and missing blocks or slices, under the
PageRank, WCC and BFS updates."""

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
    G, weighted, versioned, setup, step = csr_superstep(spark, op)
    with block_store(G, weighted, placement, 4, str(tmp_path / "blocks")) as blocks, \
            csr_blocks.VertexSlices(blocks, versioned) as state:

        def held(pid):
            return {f[len(f"{pid}."):-len(".npy")]: os.stat(os.path.join(state.dir, f)).st_ino
                    for f in os.listdir(state.dir) if f.startswith(f"{pid}.")}

        state.setup(*setup)
        before = {pid: held(pid) for pid in range(state.P)}
        once = {pid: set(before[pid]) - {f"{c}0" for c in versioned} for pid in range(state.P)}
        for gen in range(1, 5):
            state.step(*step(state.gen))
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
