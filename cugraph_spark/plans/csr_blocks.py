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

Block layout (src-sorted CSR; the transposed view below swaps the
roles of src and dst):

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

The transposed view (:meth:`CsrBlocks.transposed`) keys each pid's
block by dst instead: the reference's ``store_transposed`` (CSC)
layout, for pull kernels. An undirected ``Graph``'s src-keyed blocks
already are it (its edge multiset is symmetric, with equal weights both
ways), so they are read as CSC with no second pack; any other source
packs the transposed set once, with src and dst swapped, into a ``T/``
sub-store that is validated and reused like the primary one.

Two block kernels, one per accumulator, serve every operator (the
reference's one reduce primitive, ``per_v_transform_reduce_incoming_e``,
written once for one GPU or many): :func:`sum_kernel` is PageRank's
pull SpMV over a transposed block — per pid in the executors and, on
one in-memory block built transposed by :func:`csr_arrays`, every
superstep of the driver-local plan; :func:`min_kernel` pushes over a
src-keyed block for WCC's identity, dense and frontier superstep and
csr BFS's level, emitting only the dst slots it touched.

Vertex state can stay beside the blocks (:class:`VertexSlices`): per-pid
``.npy`` slices in a per-call ``state-<uuid>/`` directory inside
``block_dir``, written by one setup job that routes vertex-keyed rows
with :func:`pid_of`, then read and rewritten by one map job per
superstep with no exchange; a missing slice raises like a missing block.

Per-task scratch budget: dense-format kernels allocate O(hi) scratch
per concurrent task. The pack picks dense only below
``DENSE_IDS_LIMIT`` = 2^26 ids, where an int32 id array is 256 MB; the
weighted dense kernels (the pull kernel's float64 state vector) need
2× that, 512 MB. Larger id spaces pack as dict, whose scratch is
O(distinct neighbours in the block) plus the O(V) state a pull task
reads.

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
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def positions_of(vs, keys):
    """Positions of ``keys`` in the sorted ``vs``. A key missing from
    ``vs`` means the state slice does not cover the block — stale or
    corrupt blocks (a block_dir reused from a different graph or
    partition count) — and raises instead of substituting zeros
    (ADVICE r4)."""
    pos = np.searchsorted(vs, keys)
    if len(keys) and (len(vs) == 0 or pos.max() >= len(vs)
                      or not np.array_equal(vs[pos], keys)):
        raise RuntimeError(
            "CSR block src dictionary does not match the incoming "
            "vertex-state slice — stale/corrupt blocks (block_dir "
            "reused from a different graph or partition count?)"
        )
    return pos


def state_values_for_srcs(pdf_vertex, pdf_value, su):
    """Map a pid's incoming state slice onto the block's src dictionary
    (one searchsorted). Every block src hashes to this pid, so it MUST
    be present in the slice (:func:`positions_of` raises otherwise)."""
    order = np.argsort(pdf_vertex, kind="stable")
    return pdf_value[order][positions_of(pdf_vertex[order], su)]


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
    """One pid's packed block as kernels see it; the dense/dict
    neighbour format is resolved here, so a kernel is written once for
    both. A block is keyed by ``su``: the srcs of a primary (src-keyed)
    block, the dsts of a transposed one (:meth:`CsrBlocks.transposed`);
    ``nbr`` is each edge's other endpoint.

    - ``su``, ``indptr``: the key-sorted CSR (``deg`` = edge count of
      each ``su`` entry);
    - ``nbr``: per-edge neighbour slot in ``[0, n_nbr)`` — ``dr`` or
      ``dc``, left mmap'd so a frontier gather reads only touched pages;
    - ``n_nbr``: slot count (``hi1`` or ``len(du)``);
    - ``nbr_ids(slots)``: vertex ids of slots (``du`` itself for the
      dict format);
    - ``w``: edge weights (weighted packs only)."""

    def __init__(self, arrays: dict, meta: dict):
        self.su = np.asarray(arrays["su"])
        self.indptr = np.asarray(arrays["indptr"])
        self.w = arrays.get("w")
        if meta["ids"] == "dense":
            self.nbr, self.du = arrays["dr"], None
            self.n_nbr, self.id_dtype = meta["hi1"], self.nbr.dtype
        else:
            self.nbr, self.du = arrays["dc"], np.asarray(arrays["du"])
            self.n_nbr, self.id_dtype = len(self.du), self.du.dtype

    @cached_property
    def deg(self):
        return np.diff(self.indptr)

    def nbr_ids(self, slots):
        if self.du is None:
            return slots.astype(self.id_dtype, copy=False)
        return self.du[slots]


def segment_sum(blk: Block, vals) -> np.ndarray:
    """One sum of the per-edge ``vals`` per ``blk.su`` entry, over its
    ``indptr`` segment (every key has at least one edge, so no segment
    is empty)."""
    if not len(blk.su):
        return np.zeros(0)
    return np.add.reduceat(vals, blk.indptr[:-1])


def sum_kernel(blk: Block, x) -> np.ndarray:
    """The pull sum kernel over a transposed (dst-keyed) block: ``x``
    holds one value per neighbour slot (indexed by vertex id on dense
    blocks, aligned with ``du`` on dict ones), and each ``blk.su`` dst
    gets ``Σ x[src]·w`` over its in-edges — PageRank's SpMV, one
    gather and one segment sum, no scatter and no per-dst exchange."""
    return segment_sum(blk, np.asarray(x)[blk.nbr] * blk.w)


def min_kernel(blk: Block, x, srcs=None, bound: bool = False) -> dict:
    """The min kernel (push, over a src-keyed block): each src's value
    goes to the dsts of its edges and ONE ``np.minimum.at`` reduces them
    into the dst slots (measured 200M edges/s/core on numpy 1.26, ~10×
    the JVM join+agg stream it replaces).

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
        nbr, vals = blk.nbr, np.repeat(x, blk.deg)
    else:
        pos = np.searchsorted(blk.su, srcs)
        ok = pos < len(blk.su)
        ok[ok] = blk.su[pos[ok]] == srcs[ok]
        pos, x = pos[ok], x[ok]
        starts = blk.indptr[pos]
        lens = blk.indptr[pos + 1] - starts
        # multi-range gather of the frontier's edge offsets; the mmap'd
        # nbr array is fancy-indexed, so only touched pages are read
        offs = np.arange(lens.sum()) + np.repeat(starts - (np.cumsum(lens) - lens), lens)
        nbr, vals = blk.nbr[offs], np.repeat(x, lens)
    none = np.iinfo(blk.id_dtype).max
    out = np.full(blk.n_nbr, none, blk.id_dtype)
    np.minimum.at(out, nbr, vals.astype(blk.id_dtype, copy=False))
    touched = np.flatnonzero(out != none)
    dsts, mins = blk.nbr_ids(touched), out[touched]
    if bound:
        keep = mins < dsts
        dsts, mins = dsts[keep], mins[keep]
    return {"dst": dsts, "nbr_min": mins}


class BlockFiles(NamedTuple):
    """A packed block set as executors open it: plain values only, so a
    task that captures it pickles small."""

    block_dir: str
    meta: dict
    manifest: dict

    def block(self, pid: int) -> Block | None:
        """The pid's block, or None for a pid without edges (a hash gap)."""
        if pid not in self.manifest:
            return None
        return Block(load_block(self.block_dir, pid, self.meta), self.meta)


def _block_task(files: BlockFiles, kernel, schema: str, value):
    """The per-pid pandas function behind :meth:`CsrBlocks.map_blocks`.
    Captures plain values only — it is pickled to the executors."""
    names = [f.split()[0] for f in schema.split(",")]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        blk = files.block(int(pdf["pid"].iloc[0]))
        if blk is None:  # rows for a pid with no edges (hash gap)
            return pd.DataFrame({n: np.empty(0, np.int64) for n in names})
        if value is None:
            return pd.DataFrame(kernel(blk, pdf))
        v, x = pdf["vertex"].to_numpy(), pdf[value].to_numpy()
        if files.meta["ids"] == "dense":
            x = scatter_state_for_srcs(v, x, blk.su, files.meta["hi1"])
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
        # set on the transposed sub-store only: pack dst as the key,
        # hashed at the primary store's width
        self._transpose = False
        self._hash_t = None

    def __enter__(self) -> CsrBlocks:
        if self._owned:
            self.block_dir = tempfile.mkdtemp(prefix="cugraph_csr_")
        try:
            if os.path.exists(os.path.join(self.block_dir, "meta.json")):
                self.meta = self._validated_meta()
            else:
                key, other = (DST, SRC) if self._transpose else (SRC, DST)
                cols = [F.col(key).alias(SRC), F.col(other).alias(DST)]
                pack_edges(
                    self.edges.select(*cols, *([WGT] if self.weighted else [])),
                    self.block_dir,
                    self.P,
                    weight=WGT if self.weighted else None,
                    id_bounds=self._stats(count=False)[1:],
                    hash_type=self._hash_t,
                )
                self.meta = read_meta(self.block_dir)
        except BaseException:
            self.__exit__()
            raise
        self.manifest = {int(k): v for k, v in self.meta["manifest"].items()}
        self.files = BlockFiles(self.block_dir, self.meta, self.manifest)
        # Spark type of the id arrays kernels emit (int32 when narrowed)
        self.id_t = "int" if self.meta["narrow"] else "long"
        return self

    def __exit__(self, *exc) -> None:
        if self._owned:
            shutil.rmtree(self.block_dir, ignore_errors=True)

    def transposed(self) -> CsrBlocks:
        """The dst-keyed (CSC) view of the same edges, for pull kernels.
        An undirected ``Graph``'s edge multiset is its own transpose
        (symmetrized, with equal weights both ways), so its blocks are
        read as CSC and nothing is packed. Otherwise the transposed set
        is the ``T/`` sub-store: packed once by :func:`pack_edges` with
        src and dst swapped and the primary's hash width, validated and
        reused like the primary, and removed with the primary's
        directory."""
        if isinstance(self.source, Graph) and not self.source.directed:
            return self
        t = CsrBlocks(self.source, self.P, os.path.join(self.block_dir, "T"), self.weighted)
        t._transpose, t._hash_t = True, self.meta["hash_t"]
        return t.__enter__()

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
        if self._hash_t is not None and meta["hash_t"] != self._hash_t:
            raise RuntimeError(
                f"CSR block_dir {self.block_dir} hashes {meta['hash_t']} ids but "
                f"its primary store hashes {self._hash_t} — stale/reused "
                "block directory"
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
        return _block_task(self.files, kernel, schema, value)

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


def _slice_path(state_dir: str, pid: int, name: str) -> str:
    return os.path.join(state_dir, f"{pid}.{name}.npy")


def save_slice(state_dir: str, pid: int, name: str, arr) -> None:
    _write_atomic(_slice_path(state_dir, pid, name), lambda f: np.save(f, arr))


def drop_slices(state_dir: str, pid: int, names: list[str]) -> None:
    for name in names:
        try:
            os.remove(_slice_path(state_dir, pid, name))
        except FileNotFoundError:
            pass


def load_slice(state_dir: str, pid: int, name: str) -> np.ndarray:
    """One state slice. Every pid's slices are written by the setup job
    before any superstep reads them, so a missing or unreadable one is
    a torn state directory and raises — never a silent empty slice."""
    path = _slice_path(state_dir, pid, name)
    try:
        return np.load(path)
    except (OSError, ValueError, EOFError) as exc:
        raise RuntimeError(
            f"vertex-state slice missing or unreadable: {path} "
            f"({type(exc).__name__}) — the state directory is not shared "
            "storage visible to this executor, or it was removed"
        ) from None


def _per_pid(task):
    """mapInPandas body: ``task(pid)`` for each pid row of the batch."""

    def fn(batches):
        for pdf in batches:
            for pid in pdf["id"].tolist():
                yield task(int(pid))

    return fn


def _per_group(task):
    """applyInPandas body: ``task(pid, rows)`` with the group's routed
    rows, its pid-only marker row dropped."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return task(int(pdf["pid"].iloc[0]), pdf[~pdf["marker"]])

    return fn


class VertexSlices:
    """Vertex state kept beside a block store as per-pid ``.npy`` slices
    in a per-call ``state-<uuid>/`` directory inside its ``block_dir``
    (removed on exit): pid ``p`` owns the vertices :func:`pid_of` routes
    to ``p``, sorted, and one array per state column, so an iterative
    operator's superstep is ONE map job over the pids — no exchange —
    whose tasks read the slices they need and write their own.

    - :meth:`route`: the one setup job that brings vertex-keyed rows
      (checkpoints, per-vertex inputs) to their pid's task;
    - :meth:`map`: one task per pid, no shuffle — a superstep;
    - :meth:`frame`: the slices as a DataFrame (checkpoints, output).

    A slice that changes is written under a new name per generation and
    the old one dropped, never replaced in place: ext4 flushes a file's
    data when a rename or truncate replaces it (``auto_da_alloc``),
    ~60 ms a file on a 4-vCPU host's disk, against ~0 for a new name.

    Costs: a task that reads every pid's slice reads O(V) state — page
    cache on one box, P·V bytes over shared storage on a cluster — and
    the directory must be shared storage on a multi-node cluster, like
    ``block_dir``."""

    def __init__(self, blocks: CsrBlocks):
        self.spark = blocks.edges.sparkSession
        self.P, self.hash_t = blocks.P, blocks.meta["hash_t"]
        self.dir = os.path.join(blocks.block_dir, f"state-{uuid.uuid4().hex}")

    def __enter__(self) -> VertexSlices:
        os.makedirs(self.dir)
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def route(self, frames: list[DataFrame], task, schema: str) -> list:
        """ONE job: the rows of ``frames`` (each keyed by ``vertex``) go
        to their pid by :func:`pid_of`, and every pid, with rows or not,
        runs ``task(pid, rows)`` once (``vertex`` as long, the frames'
        other columns with nulls where a frame lacks them). Returns the
        collected rows."""
        frame = self.spark.range(self.P).select(
            F.col("id").alias("pid"), F.lit(0).cast("long").alias("vertex"),
            F.lit(True).alias("marker"))
        for f in frames:
            frame = frame.unionByName(
                f.select(pid_of("vertex", self.hash_t, self.P).alias("pid"),
                         F.col("vertex").cast("long").alias("vertex"),
                         F.lit(False).alias("marker"),
                         *[c for c in f.columns if c != "vertex"]),
                allowMissingColumns=True)
        return frame.groupBy("pid").applyInPandas(_per_group(task), schema).collect()

    def map(self, task, schema) -> DataFrame:
        """``task(pid)`` once per pid, one task each, no shuffle; it
        returns a pandas frame (empty for a pid with nothing to say)."""
        return self.spark.range(0, self.P, 1, self.P).mapInPandas(_per_pid(task), schema)

    def frame(self, schema: StructType, names: list[str]) -> DataFrame:
        """The slices as a DataFrame, one partition per pid: field ``i``
        of ``schema`` reads slice ``names[i]``. Lazy — act on it before
        the directory is removed."""
        state_dir, cols = self.dir, [f.name for f in schema.fields]

        def read(pid):
            return pd.DataFrame({c: load_slice(state_dir, pid, n) for c, n in zip(cols, names)})

        return self.map(read, schema)
