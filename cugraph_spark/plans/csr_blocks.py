"""Packed per-partition CSR blocks shared by the iterative operators.

The reference keeps the CSR resident on-GPU across supersteps for EVERY
algorithm (``python/pylibcugraph/graphs.pyx:52-224`` builds ``graph_t``
CSR partitions once; all of ``per_v_transform_reduce_incoming_e`` reuses
them). The Spark analog, proven out by round 4's csr PageRank (1.36-1.9×
the dataframe plan per superstep): hash-partition the edges by
``pid = pmod(hash(src), P)`` ONCE, pack each partition into mmap-able
``.npy`` arrays on shared storage, and let every superstep ship ONLY the
O(V) vertex-state vector through the Arrow boundary — the O(E) side
never crosses again (``np.load(mmap_mode='r')`` reads the page-cache-
resident block, shared between the worker processes of one box).

Block layout (src-sorted CSR):

- ``su``     unique srcs in the block, ascending;
- ``indptr`` ``len(su)+1`` int64 — edge range of ``su[i]`` is
  ``indptr[i]:indptr[i+1]`` (edges stored grouped by src);
- dst side, TWO formats chosen at pack time (``meta.json: ids``):
  - ``ids="dense"`` (compact id spaces, e.g. renumbered graphs or RMAT
    — the reference's case: renumbering to a dense id range is
    mandatory in cugraph): ``dr`` = raw dst per edge. Per-dst reduce
    kernels index a ``hi+1``-sized scratch array directly — NO per-
    block dst dictionary, which removes the pack-time ``np.unique``
    sort over E (measured ~half the pack wall at RMAT-23);
  - ``ids="dict"`` (sparse/arbitrary id spaces): ``du`` = unique dsts +
    ``dc`` = int32 code per edge; kernels reduce into ``len(du)`` and
    emit through the dictionary.
- ``w``      float64 edge weights, same order (weighted blocks only).

The src sort buys two things: a per-vertex value expands to per-edge
with ``np.repeat(vals, np.diff(indptr))`` (no E-sized gather), and a
FRONTIER superstep becomes a true frontier-sized lookup —
``searchsorted(su, frontier)`` + indptr slices touch only
frontier-adjacent edges (the analog of the reference's
``transform_reduce_v_frontier_outgoing_e_by_dst.cuh`` prims),
eliminating the O(E) probe scan the dataframe frontier mode pays.

``meta.json`` records {P, ids, narrow, hi1, weighted, hash_t, n_edges,
lo, hi, manifest}. The MANIFEST ``{pid: n_edges}`` lists every pid that
has edges; a manifest-listed pid whose block file is missing or
unreadable at read time is a torn deployment (non-shared ``block_dir``,
partial pack) and raises — it must never contribute silent zeros. Only
pids absent from the manifest legitimately have no edges (hash gaps at
small E). Every block file and ``meta.json`` is written to a temp name
and renamed into place, so a retried or speculative pack task never
leaves a half-written file under a final name.

The block store (:class:`CsrBlocks`) is the ONE owner of the block
lifecycle; operators never touch the files. Its contract:

- open it as a context manager from ``(G or edge frame, P, block_dir,
  weighted)``. ``block_dir=None`` packs into a private temp dir that is
  removed on exit; a caller's ``block_dir`` is never removed;
- a ``block_dir`` that already holds ``meta.json`` is REUSED (pack once
  per stored graph) only after validation: P, weights when the caller
  needs them, and the graph itself — ``lo``/``hi`` against
  ``Graph.vertex_stats`` and ``n_edges`` against the edge count (one
  count job per reuse, none on a fresh pack). A mismatch, or a
  ``meta.json`` without those fields, raises;
- :meth:`CsrBlocks.map_blocks` routes vertex-keyed frames by the one
  ``pmod(hash(v CAST meta.hash_t), P)`` expression the packer used
  (:func:`pid_of`), so a block's srcs are exactly the state rows its
  pid receives, and runs a kernel per pid in one
  ``groupBy(pid).applyInPandas``. State slices are mapped onto the
  block's srcs with a torn check; kernels see a :class:`Block` view and
  are written once for both formats;
- leave the ``with`` block only after the operator's last action that
  reads the blocks (lazy plans over them are dead once they are gone).

Two block kernels, one per accumulator, serve every operator (the
reference's one reduce primitive, ``per_v_transform_reduce_incoming_e``,
written once for one GPU or many): :func:`sum_kernel` is PageRank's
SpMV, per pid in the executors and, on one in-memory block built by
:func:`csr_arrays`, every superstep of the driver-local plan;
:func:`min_kernel` is WCC's identity, dense and frontier superstep and
csr BFS's level. Both emit only the dst slots they touched.

Per-task scratch budget: dense-format kernels allocate O(hi) scratch
per concurrent task. The pack picks dense only below
``DENSE_IDS_LIMIT`` = 2^26 ids, where an int32 id array is 256 MB; the
weighted dense kernels (PageRank's float64 state scatter and
``np.bincount``) need 2× that, 512 MB. Larger id spaces pack as dict,
whose scratch is O(distinct dsts in the block).

Scale notes: blocks are written once per stored graph (one Spark job),
read mmap'd P times per superstep; at 100 TB the block set is
O(E/P · 4-12 bytes) per executor on shared storage (HDFS-fuse/NFS/EFS)
and the per-superstep network traffic is the O(V) state exchange only.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, WGT, Graph

DENSE_IDS_LIMIT = 1 << 26  # max hi+1 for the dense-id block format


def pid_of(col: str, hash_t: str, P: int):
    """The block routing key: ``pmod(hash(col CAST hash_t), P)``.
    Murmur3 of int and long DIFFER for equal values, so writer and
    readers must hash the same width — the packer records it in
    ``meta.json`` as ``hash_t``."""
    return F.pmod(F.hash(F.col(col).cast(hash_t)), F.lit(P))


def _write_atomic(path: str, write) -> None:
    """Write through a task-unique temp name, then rename into place."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "wb") as f:
        write(f)
    os.replace(tmp, path)


def csr_arrays(src, dst, w=None, dense: bool = True) -> dict:
    """The block arrays of one edge set (module docstring layout):
    edges sorted by src (stable), ``su`` + ``indptr``, the dst side as
    ``dr`` (dense) or ``du`` + ``dc`` (dict), and ``w`` when given. The
    pack writes them per pid; the driver-local PageRank wraps them in
    an in-memory :class:`Block`."""
    order = np.argsort(src, kind="stable")  # radix on int32/64
    src, dst = src[order], dst[order]
    su, counts = np.unique(src, return_counts=True)
    arrays = {
        "su": su,
        "indptr": np.concatenate(([0], np.cumsum(counts))).astype(np.int64),
    }
    if dense:
        arrays["dr"] = dst
    else:
        du, dc = np.unique(dst, return_inverse=True)
        arrays["du"], arrays["dc"] = du, dc.astype(np.int32)
    if w is not None:
        arrays["w"] = np.asarray(w, np.float64)[order]
    return arrays


def _pack_fn(block_dir: str, weighted: bool, dense: bool):
    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["pid"].iloc[0])
        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
        w = pdf["weight"].to_numpy(np.float64) if weighted else None
        arrays = csr_arrays(src, dst, w, dense)
        base = os.path.join(block_dir, str(pid))
        for name, arr in arrays.items():
            _write_atomic(f"{base}.{name}.npy", lambda f, a=arr: np.save(f, a))
        su = arrays["su"]
        return pd.DataFrame(
            {
                "pid": [pid],
                "n": [len(src)],
                "lo": [min(su[0], dst.min())],
                "hi": [max(su[-1], dst.max())],
            }
        )

    return pack


def pack_edges(
    edges: DataFrame,
    block_dir: str,
    P: int,
    weight: str | None = None,
    id_bounds: tuple | None = None,
    hash_type: str | None = None,
) -> dict[int, int]:
    """Pack ``edges`` (columns ``src``, ``dst``) into per-pid CSR blocks
    under ``block_dir`` (ONE Spark job) and return the manifest ``{pid:
    n_edges}``. ``pid`` is :func:`pid_of` over ``src`` — the SAME
    Catalyst expression readers use to route the vertex-state vector.
    ``hash_type`` (default: the src column's current type) pins the
    hash input dtype and is recorded in meta.json.

    ``id_bounds=(lo, hi)`` (from ``Graph.vertex_stats``) selects the
    dense format when ``0 <= lo`` and ``hi < DENSE_IDS_LIMIT``; the id
    columns are also narrowed to int32 in the pack transfer when they
    fit (halves the Arrow bytes of the one O(E) transfer). The same job
    returns each pid's edge count and id range, so meta.json records
    the graph's ``n_edges``, ``lo`` and ``hi`` for reuse validation."""
    os.makedirs(block_dir, exist_ok=True)
    dense = False
    hi1 = 0
    narrow = False
    if id_bounds is not None:
        lo, hi = id_bounds
        if isinstance(lo, int) and isinstance(hi, int):
            dense = 0 <= lo and hi < DENSE_IDS_LIMIT
            hi1 = hi + 1 if dense else 0
            narrow = -(2**31) < lo and hi < 2**31 - 1
    if hash_type is None:
        hash_type = edges.schema[SRC].dataType.simpleString()

    def _id(c):
        col = F.col(c)
        return col.cast("int") if narrow else col

    cols = [
        pid_of(SRC, hash_type, P).alias("pid"),
        _id(SRC).alias("src"),
        _id(DST).alias("dst"),
    ]
    if weight is not None:
        cols.append(F.col(weight).cast("double").alias("weight"))
    rows = (
        edges.select(*cols)
        .groupBy("pid")
        .applyInPandas(
            _pack_fn(block_dir, weight is not None, dense),
            schema="pid long, n long, lo long, hi long",
        )
        .collect()
    )
    manifest = {int(r["pid"]): int(r["n"]) for r in rows}
    meta = {
        "P": P,
        "ids": "dense" if dense else "dict",
        "narrow": narrow,
        "hi1": hi1,
        "weighted": weight is not None,
        "hash_t": hash_type,
        "n_edges": sum(manifest.values()),
        "lo": min((r["lo"] for r in rows), default=None),
        "hi": max((r["hi"] for r in rows), default=None),
        "manifest": {str(k): v for k, v in manifest.items()},
    }
    _write_atomic(
        os.path.join(block_dir, "meta.json"),
        lambda f: f.write(json.dumps(meta).encode()),
    )
    return manifest


def read_meta(block_dir: str, expect_P: int | None = None) -> dict:
    """Load and validate block metadata. ``expect_P`` mismatch raises:
    the writer and readers key on ``hash(·) % P``, so a different P
    means the routing is silently wrong for every vertex."""
    with open(os.path.join(block_dir, "meta.json")) as f:
        meta = json.load(f)
    if expect_P is not None and meta["P"] != expect_P:
        raise RuntimeError(
            f"CSR block_dir {block_dir} was packed with P={meta['P']} but "
            f"this run uses P={expect_P} — stale/reused block directory"
        )
    return meta


def load_block(block_dir: str, pid: int, meta: dict):
    """mmap-load one packed block → dict of arrays (keys: su, indptr,
    and dr [dense] or du+dc [dict], plus w when weighted).

    Raises RuntimeError on a missing, truncated or unreadable file:
    callers only ask for pids the manifest lists, so such a file means a
    torn deployment (non-shared block_dir, a task placed on a node
    without the file, or a torn pack) — silently returning empty would
    silently corrupt every downstream result (ADVICE r4: the round-4
    pagerank reader did exactly that)."""
    names = ["su", "indptr"]
    names += ["dr"] if meta["ids"] == "dense" else ["du", "dc"]
    if meta.get("weighted"):
        names.append("w")
    base = os.path.join(block_dir, str(pid))
    out = {}
    for name in names:
        path = f"{base}.{name}.npy"
        try:
            out[name] = np.load(path, mmap_mode="r")
        except (OSError, ValueError, EOFError) as exc:
            raise RuntimeError(
                f"CSR block file missing or unreadable: {path} "
                f"({type(exc).__name__}) — the pack manifest lists pid "
                f"{pid}, so block_dir is not shared storage visible to this "
                "executor, or the pack was torn. Refusing to contribute "
                "silent zeros."
            ) from None
    return out


def state_values_for_srcs(pdf_vertex, pdf_value, su):
    """Map a pid's incoming state slice onto the block's src dictionary
    (one searchsorted). Every block src hashes to this pid, so it MUST
    be present in the slice; a mismatch means corrupted/stale blocks
    (reused block_dir from a different graph or P) and raises instead
    of substituting zeros (ADVICE r4)."""
    order = np.argsort(pdf_vertex, kind="stable")
    vs = pdf_vertex[order]
    pos = np.searchsorted(vs, su)
    if len(vs) == 0 or pos.max(initial=0) >= len(vs) or not np.array_equal(
        vs[np.minimum(pos, len(vs) - 1)], su
    ):
        raise RuntimeError(
            "CSR block src dictionary does not match the incoming "
            "vertex-state slice — stale/corrupt blocks (block_dir "
            "reused from a different graph or partition count?)"
        )
    return pdf_value[order][pos]


def scatter_state_for_srcs(pdf_vertex, pdf_value, su, hi1: int):
    """Dense-id variant of :func:`state_values_for_srcs`: scatter the
    slice into an O(hi) scratch array and gather at ``su`` — no sort,
    no searchsorted. Presence is verified with a boolean scatter (the
    same torn-block contract)."""
    arr = np.empty(hi1, dtype=pdf_value.dtype)
    arr[pdf_vertex] = pdf_value
    mark = np.zeros(hi1, dtype=np.bool_)
    mark[pdf_vertex] = True
    if not mark[su].all():
        raise RuntimeError(
            "CSR block src dictionary does not match the incoming "
            "vertex-state slice — stale/corrupt blocks (block_dir "
            "reused from a different graph or partition count?)"
        )
    return arr[su]


class Block:
    """One pid's packed block as kernels see it; the dense/dict dst
    format is resolved here, so a kernel is written once for both.

    - ``su``, ``indptr``: the src-sorted CSR (``deg`` = out-degree of
      each ``su`` entry);
    - ``dst_index``: per-edge dst slot in ``[0, n_dst)`` — ``dr`` or
      ``dc``, left mmap'd so a frontier gather reads only touched pages;
    - ``n_dst``: slot count of a per-dst reduce (``hi1`` or ``len(du)``);
    - ``dst_ids(touched)``: vertex ids of reduce slots;
    - ``w``: edge weights (weighted packs only)."""

    def __init__(self, arrays: dict, meta: dict):
        self.su = np.asarray(arrays["su"])
        self.indptr = np.asarray(arrays["indptr"])
        self.w = arrays.get("w")
        if meta["ids"] == "dense":
            self.dst_index, self._du = arrays["dr"], None
            self.n_dst, self.id_dtype = meta["hi1"], self.dst_index.dtype
        else:
            self.dst_index, self._du = arrays["dc"], np.asarray(arrays["du"])
            self.n_dst, self.id_dtype = len(self._du), self._du.dtype

    @cached_property
    def deg(self):
        return np.diff(self.indptr)

    def dst_ids(self, touched):
        if self._du is None:
            return touched.astype(self.id_dtype, copy=False)
        return self._du[touched]


def sum_kernel(blk: Block, x) -> dict:
    """The sum kernel: ``x`` (one value per ``blk.su`` entry) expands to
    per-edge with ``np.repeat`` over the degrees, times ``w``, and ONE
    ``np.bincount`` sums it into the dst slots — the SpMV and its
    in-block partial combine. Emits only slots with a nonzero sum: an
    absent dst reads as 0.0 downstream, and dropping exact zeros leaves
    every sum bit-identical."""
    contrib = np.bincount(
        blk.dst_index, weights=np.repeat(x, blk.deg) * blk.w, minlength=blk.n_dst
    )
    touched = np.flatnonzero(contrib)
    return {"dst": blk.dst_ids(touched), "contrib": contrib[touched]}


def min_kernel(blk: Block, x, srcs=None, bound: bool = False) -> dict:
    """The min kernel: each src's value goes to the dsts of its edges and
    ONE ``np.minimum.at`` reduces them into the dst slots (measured 200M
    edges/s/core on numpy 1.26, ~10× the JVM join+agg stream it
    replaces).

    - ``srcs=None``: ``x`` is aligned with ``blk.su`` and every edge
      sends (a dense superstep; WCC's identity superstep 0 passes
      ``blk.su`` itself);
    - ``srcs`` given: a frontier, ``x[i]`` the value of ``srcs[i]``.
      ``searchsorted`` finds their src slots (a frontier vertex may have
      no edges in this block) and indptr slices gather ONLY the
      frontier's edges: O(|Δ| log |su| + Σ deg(Δ)), no O(E) scan — the
      reference's ``transform_reduce_v_frontier_outgoing_e_by_dst``.

    Emits only TOUCHED slots, so the ``iinfo.max`` init never leaves the
    block. ``bound=True`` also drops minima ``>= dst``: a WCC label
    never exceeds its vertex, so those cannot lower one. BFS sends each
    frontier vertex as a min-id predecessor, which may exceed dst, so
    it keeps them."""
    if srcs is None:
        dst_index, vals = blk.dst_index, np.repeat(x, blk.deg)
    else:
        pos = np.searchsorted(blk.su, srcs)
        ok = pos < len(blk.su)
        ok[ok] = blk.su[pos[ok]] == srcs[ok]
        pos, x = pos[ok], x[ok]
        starts = blk.indptr[pos]
        lens = blk.indptr[pos + 1] - starts
        # multi-range gather of the frontier's edge offsets; the mmap'd
        # dst_index is fancy-indexed, so only touched pages are read
        offs = np.arange(lens.sum()) + np.repeat(starts - (np.cumsum(lens) - lens), lens)
        dst_index, vals = blk.dst_index[offs], np.repeat(x, lens)
    none = np.iinfo(blk.id_dtype).max
    out = np.full(blk.n_dst, none, blk.id_dtype)
    np.minimum.at(out, dst_index, vals.astype(blk.id_dtype, copy=False))
    touched = np.flatnonzero(out != none)
    dsts, mins = blk.dst_ids(touched), out[touched]
    if bound:
        keep = mins < dsts
        dsts, mins = dsts[keep], mins[keep]
    return {"dst": dsts, "nbr_min": mins}


def _block_task(block_dir: str, meta: dict, manifest: dict, kernel, schema: str, value):
    """The per-pid pandas function behind :meth:`CsrBlocks.map_blocks`.
    Captures plain values only — it is pickled to the executors."""
    names = [f.split()[0] for f in schema.split(",")]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["pid"].iloc[0])
        if pid not in manifest:  # rows for a pid with no edges (hash gap)
            return pd.DataFrame({n: np.empty(0, np.int64) for n in names})
        blk = Block(load_block(block_dir, pid, meta), meta)
        if value is None:
            return pd.DataFrame(kernel(blk, pdf))
        v, x = pdf["vertex"].to_numpy(), pdf[value].to_numpy()
        if meta["ids"] == "dense":
            x = scatter_state_for_srcs(v, x, blk.su, meta["hi1"])
        else:
            x = state_values_for_srcs(v, x, blk.su)
        return pd.DataFrame(kernel(blk, x))

    return fn


class CsrBlocks:
    """The block store: pack-or-reuse, validation, routing, per-pid
    kernel runs and cleanup for one operator call (module docstring has
    the full contract). ``source`` is a ``Graph`` or an edge frame with
    ``src``/``dst`` (and ``weight`` when ``weighted``) columns."""

    def __init__(
        self,
        source: Graph | DataFrame,
        P: int,
        block_dir: str | None = None,
        weighted: bool = False,
    ):
        self.source = source
        self.edges = source if isinstance(source, DataFrame) else source.edges
        self.P = P
        self.block_dir = block_dir
        self.weighted = weighted
        self._owned = block_dir is None

    def __enter__(self) -> CsrBlocks:
        if self._owned:
            self.block_dir = tempfile.mkdtemp(prefix="cugraph_csr_")
        try:
            if os.path.exists(os.path.join(self.block_dir, "meta.json")):
                self.meta = self._validated_meta()
            else:
                cols = [SRC, DST] + ([WGT] if self.weighted else [])
                pack_edges(
                    self.edges.select(*cols),
                    self.block_dir,
                    self.P,
                    weight=WGT if self.weighted else None,
                    id_bounds=self._stats(count=False)[1:],
                )
                self.meta = read_meta(self.block_dir)
        except BaseException:
            self.__exit__()
            raise
        self.manifest = {int(k): v for k, v in self.meta["manifest"].items()}
        # Spark type of the id arrays kernels emit (int32 when narrowed)
        self.id_t = "int" if self.meta["narrow"] else "long"
        return self

    def __exit__(self, *exc) -> None:
        if self._owned:
            shutil.rmtree(self.block_dir, ignore_errors=True)

    def _stats(self, count: bool) -> tuple:
        """``(n_edges, lo, hi)`` of the source. A Graph answers the id
        bounds from its memoized ``vertex_stats`` and counts edges only
        when asked (``n_edges`` is None otherwise); a bare edge frame
        costs one aggregate."""
        if isinstance(self.source, DataFrame):
            r = self.edges.agg(
                F.count("*"),
                F.least(F.min(SRC), F.min(DST)),
                F.greatest(F.max(SRC), F.max(DST)),
            ).first()
            return r[0], r[1], r[2]
        _, lo, hi = self.source.vertex_stats()
        return (self.edges.count() if count else None), lo, hi

    def _validated_meta(self) -> dict:
        meta = read_meta(self.block_dir, expect_P=self.P)
        if self.weighted and not meta["weighted"]:
            raise RuntimeError(
                f"CSR block_dir {self.block_dir} was packed without weights"
            )
        keys = ("n_edges", "lo", "hi")
        if not all(k in meta for k in keys):
            raise RuntimeError(
                f"CSR block_dir {self.block_dir} has a stale meta.json "
                "without n_edges/lo/hi — cannot tell which graph it was "
                "packed from; repack it"
            )
        got = dict(zip(keys, self._stats(count=True)))
        packed = {k: meta[k] for k in keys}
        if packed != got:
            raise RuntimeError(
                f"CSR block_dir {self.block_dir} was packed from a different "
                f"graph (blocks {packed}, this graph {got}) — stale/reused "
                "block directory"
            )
        return meta

    def task(self, kernel, schema: str, value: str | None = None):
        """The per-pid pandas function :meth:`map_blocks` runs."""
        return _block_task(
            self.block_dir, self.meta, self.manifest, kernel, schema, value
        )

    def map_blocks(
        self,
        kernel,
        schema: str,
        frame: DataFrame | None = None,
        value: str | None = None,
    ) -> DataFrame:
        """Run ``kernel(block, x)`` once per pid; it returns a dict of
        output columns matching ``schema``.

        - ``frame=None``: the identity superstep — one task per manifest
          pid, no state ships (``x`` is the pid-only slice);
        - ``frame`` keyed by ``vertex`` and ``value`` given: ``x`` is the
          ``value`` column aligned with ``block.su`` (raises when the
          slice does not cover the block's srcs — stale blocks);
        - ``frame`` keyed by ``vertex``, ``value=None``: ``x`` is the
          pid's raw pandas slice (frontier kernels)."""
        if frame is None:
            frame = self.edges.sparkSession.createDataFrame(
                [(p,) for p in sorted(self.manifest)], "pid long"
            ).repartition(self.P, "pid")
        else:
            frame = frame.withColumn(
                "pid", pid_of("vertex", self.meta["hash_t"], self.P)
            )
        return frame.groupBy("pid").applyInPandas(
            self.task(kernel, schema, value), schema=schema
        )
