"""The two block kernels (``plans/csr_blocks.py``: the pull
``sum_kernel`` over transposed blocks and the push ``min_kernel``)
against numpy's unbuffered ``np.add.at`` / ``np.minimum.at`` over the
raw edges, on the three block forms: packed dense, packed dict, and
built in memory (the driver-local PageRank's form)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cugraph_spark.plans.csr_blocks import (
    Block,
    csr_arrays,
    load_block,
    min_kernel,
    pack_edges,
    read_meta,
    sum_kernel,
)

V = 40
_rng = np.random.default_rng(5)
SRC = _rng.integers(0, V - 1, 300)  # vertex V-1 has no out-edges
DST = _rng.integers(0, V, 300)
W = _rng.integers(1, 5, 300).astype(np.float64)
# integer-valued doubles: every sum is exact in any order
X = _rng.integers(0, 4, V).astype(np.float64)
LABELS = _rng.permutation(V)
# some frontier vertices own no edges (V-1) or no edges in most blocks
FRONTIER = np.array([0, 3, 7, 12, V - 1])


def _blocks(spark, tmp_path, form, transposed=False):
    """The edges as blocks keyed by src, or by dst when ``transposed``."""
    key, nbr = (DST, SRC) if transposed else (SRC, DST)
    if form == "memory":
        return [Block(csr_arrays(key, nbr, W), {"ids": "dense", "hi1": V})]
    df = spark.createDataFrame(pd.DataFrame({"src": key, "dst": nbr, "weight": W}))
    bdir = str(tmp_path / f"{form}_{transposed}")
    manifest = pack_edges(df, bdir, 3, weight="weight",
                          id_bounds=(0, V - 1) if form == "dense" else None)
    meta = read_meta(bdir)
    assert meta["ids"] == form
    return [Block(load_block(bdir, pid, meta), meta) for pid in manifest]


def _combined(outs, col, op):
    """Per-dst reduce of the blocks' partials, as the Spark groupBy does."""
    got: dict = {}
    for out in outs:
        for d, v in zip(out["dst"].tolist(), out[col].tolist()):
            got[d] = op(got[d], v) if d in got else v
    return got


def _min_at(mask, bound):
    none = np.iinfo(np.int64).max
    out = np.full(V, none)
    np.minimum.at(out, DST[mask], LABELS[SRC[mask]])
    return {d: int(m) for d, m in enumerate(out) if m != none and (not bound or m < d)}


@pytest.mark.parametrize("bound", [True, False])
@pytest.mark.parametrize("form", ["dense", "dict", "memory"])
def test_block_kernels_match_ufunc_at(spark, tmp_path, form, bound):
    blocks = _blocks(spark, tmp_path, form)
    assert sum(len(b.nbr) for b in blocks) == len(SRC)

    # pull: each transposed block sums the in-edges of its dsts, x on
    # the neighbour slots (vertex ids when dense, ``du`` when dict)
    sums = np.zeros(V)
    np.add.at(sums, DST, X[SRC] * W)
    want = {d: sums[d] for d in np.unique(DST).tolist()}
    got: dict = {}
    for b in _blocks(spark, tmp_path, form, transposed=True):
        x = X if b.du is None else X[b.du]
        got.update(zip(b.su.tolist(), sum_kernel(b, x).tolist()))
    assert got == want

    dense = [min_kernel(b, LABELS[b.su], bound=bound) for b in blocks]
    assert _combined(dense, "nbr_min", min) == _min_at(np.ones(len(SRC), bool), bound)

    # every block sees the whole frontier, so a frontier vertex without
    # edges in a block must add nothing there; and the case that once
    # leaked the sentinel: dsts with in-edges, none of them from the
    # frontier, must not be emitted
    reached = np.isin(SRC, FRONTIER)
    assert set(DST.tolist()) - set(DST[reached].tolist())
    front = [min_kernel(b, LABELS[FRONTIER], FRONTIER, bound=bound) for b in blocks]
    assert _combined(front, "nbr_min", min) == _min_at(reached, bound)
