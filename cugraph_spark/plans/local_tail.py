"""Driver-local tails for the iterative operators.

The reference engine runs its iterative algorithms on a single GPU the
moment the (sub)problem fits in device memory — multi-GPU paths hand
off to the single-GPU kernels on small inputs, and Louvain/Leiden
coarsening in particular shrinks every graph to a few thousand vertices
within a level or two (``community/louvain_impl.cuh``: each level runs
on the coarsened graph produced by the last). The Spark analog: once
the *current* edge frame of an iterative loop is below a driver-safe
threshold, collect it once and finish the loop in numpy/pandas instead
of paying one-or-more Spark jobs per superstep. At 100 TB this is the
tail of every such loop (coarsened Louvain levels, Luby's geometrically
shrinking active set, the final supersteps of core peeling); at test
scale it collapses 30-40 driver round-trips into one collect.

Contract: **bit-identical to the distributed loop** wherever edge
weights are integer-valued (all engine test graphs; double sums are
then exact in any order, and every other quantity is integer math or
the same IEEE expression tree). The per-round randomness is the very
same ``xxhash64`` stream (``plans/xxh64.py`` replicates Spark's
expression exactly), tie-breaks are the same lexicographic struct
comparisons, and the update expressions mirror the distributed column
expressions operation-for-operation. ``tests/test_local_tail.py`` pins
local == distributed on several graphs per operator.

PageRank and WCC have no twin here: below the cutover their block
plans run on the driver placement (``plans/csr_blocks.py:size_gate``
picks it and builds a ``DriverBlocks``: the collected edges as one
pid's two in-memory blocks, the csr superstep skeleton run in this
process), the same code the executors run for ``mode="csr"``. PageRank's
contract is ranks within 1e-12 of the distributed plan, not
bit-identity, stated with the plan in ``operators/pagerank.py``; WCC's
labels are equal on every plan. Both share only the cutover and
:func:`collect_edges` with this module. Leiden's refinement and MST's
component merge have no twin either: both call
``weakly_connected_components``, so they take its placement.

Threshold: ``LOCAL_TAIL_EDGES`` (default 150k edge rows ≈ a few MB on
the driver — far below the footprint of collecting a query result).
The plan is chosen by size alone: no operator takes a threshold
parameter. Every operator reads ``LOCAL_TAIL_EDGES`` at call time, so
setting it to 0 forces every distributed plan (the equivalence tests do
this; so can a deployment whose driver is memory-constrained).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .xxh64 import pmod2, xxhash64

LOCAL_TAIL_EDGES = 150_000


def fits(edges_df) -> bool:
    """Bounded probe: does the edge list fit the driver tail? Scans at
    most ``LOCAL_TAIL_EDGES + 1`` rows (``limit`` early-exits), where a
    bare ``count()`` gate would pay one full O(E) pass per operator call
    on exactly the billion-edge graphs that can never take the tail."""
    thr = LOCAL_TAIL_EDGES
    return thr > 0 and edges_df.limit(thr + 1).count() <= thr


def collect_edges(edges_df, weighted: bool = True):
    """One collect of (src, dst[, weight]) into numpy arrays."""
    cols = ["src", "dst"] + (["weight"] if weighted else [])
    pdf = edges_df.select(*cols).toPandas()
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    if weighted:
        return src, dst, pdf["weight"].to_numpy(np.float64)
    return src, dst, None


def _index_of(verts: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Positions of ``ids`` in the sorted unique array ``verts``."""
    return np.searchsorted(verts, ids)


# ---------------------------------------------------------------------------
# Louvain / Leiden / ECG move phase
# ---------------------------------------------------------------------------

def move_phase_local(
    src: np.ndarray,
    dst: np.ndarray,
    wgt: np.ndarray,
    two_m: float,
    max_iter: int,
    resolution: float,
    min_gain: float,
    init_labels: dict | None = None,
    move_mask_seed: int | None = None,
) -> pd.DataFrame:
    """Local twin of ``community._move_phase``: synchronous
    best-modularity-gain moves, min-label tie-break, optional per-round
    hash move mask. Returns a pandas frame [vertex, k, labels] matching
    the distributed state columns."""
    verts = np.unique(np.concatenate([src, dst]))
    if init_labels is not None:
        # the distributed twin seeds state via an INNER join on the
        # label frame — vertices absent from init_labels drop out of
        # the state there (not a KeyError): k keeps every src-side
        # edge weight (distributed k is grouped over the FULL edge
        # frame before the init join), while the scoring joins only see
        # edges whose BOTH endpoints carry state. Mirror both.
        keep = np.array([int(v) in init_labels for v in verts], dtype=bool)
        if not keep.all():
            kept = set(verts[keep].tolist())
            verts = verts[keep]
            smask = np.array([s in kept for s in src], dtype=bool)
            n = len(verts)
            k = np.zeros(n, dtype=np.float64)
            np.add.at(k, _index_of(verts, src[smask]), wgt[smask])
            emask = smask & np.array([d in kept for d in dst], dtype=bool)
            src, dst, wgt = src[emask], dst[emask], wgt[emask]
            si = _index_of(verts, src)
            di = _index_of(verts, dst)
        else:
            n = len(verts)
            si = _index_of(verts, src)
            di = _index_of(verts, dst)
            k = np.zeros(n, dtype=np.float64)
            np.add.at(k, si, wgt)
    else:
        n = len(verts)
        si = _index_of(verts, src)
        di = _index_of(verts, dst)
        k = np.zeros(n, dtype=np.float64)
        np.add.at(k, si, wgt)

    if init_labels is None:
        labels = verts.copy()
    else:
        labels = np.array([init_labels[int(v)] for v in verts], dtype=np.int64)

    nz = src != dst  # knc excludes self-loops, exactly like the join filter
    e_si, e_di, e_w = si[nz], di[nz], wgt[nz]

    for rnd in range(max_iter):
        # community volumes Σ_tot, keyed by label value
        lab_vals, lab_codes = np.unique(labels, return_inverse=True)
        sigma = np.zeros(len(lab_vals), dtype=np.float64)
        np.add.at(sigma, lab_codes, k)

        # per (vertex, neighbor community) in-weights
        cand_codes = lab_codes[e_di]
        pair_key = e_si.astype(np.int64) * len(lab_vals) + cand_codes
        uniq_pairs, pair_inv = np.unique(pair_key, return_inverse=True)
        k_in = np.zeros(len(uniq_pairs), dtype=np.float64)
        np.add.at(k_in, pair_inv, e_w)
        p_vi = (uniq_pairs // len(lab_vals)).astype(np.int64)
        p_cc = (uniq_pairs % len(lab_vals)).astype(np.int64)

        k_v = k[p_vi]
        cur = labels[p_vi]
        cand = lab_vals[p_cc]
        delta = np.where(cand == cur, k_v, 0.0)
        # identical expression tree to the distributed column:
        # k_in - resolution * k_v * (sigma_cand - delta) / two_m
        gain = k_in - resolution * k_v * (sigma[p_cc] - delta) / two_m

        # max struct(gain, -cand): gain desc, then cand asc; lexsort is
        # stable with the LAST key primary
        order = np.lexsort((cand, -gain))
        sv, first = np.unique(p_vi[order], return_index=True)
        best_label = cand[order][first]
        best_gain = gain[order][first]

        new_labels = labels.copy()
        ok = best_gain > min_gain
        if move_mask_seed is not None:
            # bare ints follow F.lit's width rule (int32 when they fit,
            # long otherwise) — the distributed twin passes the seed
            # through F.lit, so forcing "int" here would diverge from
            # the JVM hash stream for seeds >= 2**31
            h = xxhash64(verts[sv], rnd, move_mask_seed)
            ok = ok & (pmod2(h) == 0)
        new_labels[sv[ok]] = best_label[ok]
        changed = int((new_labels != labels).sum())
        labels = new_labels
        if not changed:
            break

    return pd.DataFrame({"vertex": verts, "k": k, "labels": labels})


# ---------------------------------------------------------------------------
# Luby rounds: MIS + Jones-Plassmann coloring
# ---------------------------------------------------------------------------

def _sym_simple(src: np.ndarray, dst: np.ndarray):
    """Local twin of mis._sym_edges: drop self-loops, add reverses,
    distinct."""
    nz = src != dst
    s = np.concatenate([src[nz], dst[nz]])
    d = np.concatenate([dst[nz], src[nz]])
    pairs = np.unique(np.stack([s, d], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def _luby_select(
    active: np.ndarray, s: np.ndarray, d: np.ndarray, rnd: int, seed: int
) -> np.ndarray:
    """One Luby round over the active vertex set: vertices whose
    priority struct (hash, id) is strictly below every active
    neighbor's. Returns the selected vertex ids."""
    act = np.isin(s, active) & np.isin(d, active)
    es, ed = s[act], d[act]
    # bare ints follow F.lit's width rule — see _move_phase's seed note
    h_all = xxhash64(active, rnd, seed)
    # priority of the src side of each active edge
    pos_s = np.searchsorted(active, es)
    hs = h_all[pos_s]
    # min (h, v) per dst — lexsort: primary h, then v
    order = np.lexsort((es, hs))
    dv, first = np.unique(ed[order], return_index=True)
    nm_h = hs[order][first]
    nm_v = es[order][first]
    # vertices with no active neighbor select unconditionally
    sel_mask = np.ones(len(active), dtype=bool)
    pos_d = np.searchsorted(active, dv)
    hv = h_all[pos_d]
    lt = (hv < nm_h) | ((hv == nm_h) & (dv < nm_v))
    sel_mask[pos_d] = lt
    return active[sel_mask]


def mis_local(
    src: np.ndarray, dst: np.ndarray, vertices: np.ndarray,
    seed: int, max_rounds: int,
) -> pd.DataFrame:
    """Local twin of ``maximal_independent_set``; [vertex, in_mis]."""
    s, d = _sym_simple(src, dst)
    active = np.sort(vertices)
    in_mis = np.zeros(len(vertices), dtype=bool)
    vsort = np.sort(vertices)
    for rnd in range(max_rounds):
        if len(active) == 0:
            break
        sel = _luby_select(active, s, d, rnd, seed)
        in_mis[np.searchsorted(vsort, sel)] = True
        nbrs = d[np.isin(s, sel)]
        dead = np.union1d(sel, nbrs)
        active = active[~np.isin(active, dead)]
    else:
        if len(active):
            raise RuntimeError(
                f"maximal_independent_set did not converge in "
                f"{max_rounds} rounds; raise max_rounds"
            )
    return pd.DataFrame({"vertex": vsort, "in_mis": in_mis})


def coloring_local(
    src: np.ndarray, dst: np.ndarray, vertices: np.ndarray,
    seed: int, max_colors: int,
) -> pd.DataFrame:
    """Local twin of ``vertex_coloring``; [vertex, color] (int32 color,
    matching the distributed literal/sequence type)."""
    s, d = _sym_simple(src, dst)
    vsort = np.sort(np.asarray(vertices, dtype=np.int64))
    n = len(vsort)
    si = np.searchsorted(vsort, s)
    # CSR adjacency for O(deg) mex lookups
    order = np.argsort(si, kind="stable")
    adj = np.searchsorted(vsort, d)[order]
    starts = np.zeros(n + 1, dtype=np.int64)
    np.add.at(starts, si + 1, 1)
    starts = np.cumsum(starts)

    color = np.full(n, -1, dtype=np.int64)
    active = vsort.copy()
    for rnd in range(max_colors):
        if len(active) == 0:
            break
        sel = _luby_select(active, s, d, rnd, seed)
        for v in sel.tolist():
            vi = int(np.searchsorted(vsort, v))
            nbc = color[adj[starts[vi]:starts[vi + 1]]]
            used = set(int(c) for c in nbc[nbc >= 0])
            c = 0
            while c in used:
                c += 1
            color[vi] = c
        active = active[~np.isin(active, sel)]
    else:
        if len(active):
            raise RuntimeError(
                f"vertex_coloring did not color all vertices within "
                f"max_colors={max_colors} rounds; raise max_colors"
            )
    return pd.DataFrame({"vertex": vsort, "color": color.astype(np.int32)})


# ---------------------------------------------------------------------------
# Core numbers: exact peel (Batagelj-Zaveršnik)
# ---------------------------------------------------------------------------

def core_number_local(
    src: np.ndarray, dst: np.ndarray, vertices: np.ndarray
) -> pd.DataFrame:
    """Exact k-core decomposition by min-degree peeling. Core numbers
    are a graph invariant, so this matches the distributed h-index
    fixpoint exactly (both compute THE core numbers).
    Returns [vertex, core_number]."""
    nz = src != dst
    s = np.concatenate([src[nz], dst[nz]])
    d = np.concatenate([dst[nz], src[nz]])
    pairs = np.unique(np.stack([s, d], axis=1), axis=0)
    s, d = pairs[:, 0], pairs[:, 1]

    vsort = np.sort(np.asarray(vertices, dtype=np.int64))
    n = len(vsort)
    si = np.searchsorted(vsort, s)
    deg = np.zeros(n, dtype=np.int64)
    np.add.at(deg, si, 1)

    # adjacency in CSR form over the symmetrized simple edges
    order = np.argsort(si, kind="stable")
    adj = np.searchsorted(vsort, d)[order]
    starts = np.zeros(n + 1, dtype=np.int64)
    np.add.at(starts, si + 1, 1)
    starts = np.cumsum(starts)

    core = deg.copy()
    alive = np.ones(n, dtype=bool)
    import heapq

    heap = [(int(deg[i]), i) for i in range(n)]
    heapq.heapify(heap)
    cur_deg = deg.copy()
    k = 0
    while heap:
        dv, i = heapq.heappop(heap)
        if not alive[i] or dv != cur_deg[i]:
            continue
        k = max(k, dv)
        core[i] = k
        alive[i] = False
        for j in adj[starts[i]:starts[i + 1]]:
            if alive[j]:
                cur_deg[j] -= 1
                heapq.heappush(heap, (int(cur_deg[j]), int(j)))
    return pd.DataFrame({"vertex": vsort, "core_number": core})
