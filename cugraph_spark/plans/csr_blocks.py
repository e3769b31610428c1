"""Packed per-partition CSR blocks shared by the iterative operators.

The reference keeps the CSR resident on-GPU across supersteps for EVERY
algorithm (``python/pylibcugraph/graphs.pyx:52-224`` builds ``graph_t``
CSR partitions once; all of ``per_v_transform_reduce_incoming_e`` reuses
them). The Spark analog, proven out by round 4's csr PageRank (1.36-1.9×
the dataframe plan per superstep): hash-partition the edges by
``pid = pmod(hash(src), P)`` ONCE, pack each partition into mmap-able
``.npy`` arrays on shared storage, and let every superstep move ONLY the
O(V) vertex state — the O(E) side never crosses a boundary again
(``np.load(mmap_mode='r')`` reads the page-cache-resident block, shared
between the worker processes of one box).

Block layout (src-sorted CSR; the transposed view below swaps the
roles of src and dst):

- ``su``     unique srcs in the block, ascending;
- ``indptr`` ``len(su)+1`` int64 — edge range of ``su[i]`` is
  ``indptr[i]:indptr[i+1]`` (edges stored grouped by src);
- dst side, TWO formats chosen at pack time (``meta.json: ids``):
  - ``ids="dense"`` (compact id spaces, e.g. renumbered graphs or RMAT
    — the reference's case: renumbering to a dense id range is
    mandatory in cugraph): ``dr`` = raw dst per edge. Kernels read the
    state from a ``hi+1``-sized vector indexed by id — NO per-block dst
    dictionary, which removes the pack-time ``np.unique`` sort over E
    (measured ~half the pack wall at RMAT-23);
  - ``ids="dict"`` (sparse/arbitrary id spaces): ``du`` = unique dsts +
    ``dc`` = int32 code per edge; kernels read the state aligned with
    ``du``.
- ``w``      float64 edge weights, same order (weighted blocks only).

The key sort makes every per-key reduce a segment reduce over
``indptr`` (``np.add.reduceat`` / ``np.minimum.reduceat``): no scatter,
no per-key dictionary.

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
  ``Graph.vertex_stats`` and ``n_edges`` against ``Graph.edge_rows``
  (one count job per graph, memoized; none on a fresh pack). A
  mismatch, or a
  ``meta.json`` without those fields, raises;
- :func:`pid_of` is the one ``pmod(hash(v CAST meta.hash_t), P)``
  expression the packer used, so the vertices a pid's state rows hold
  are exactly its block's keys;
- leave the ``with`` block only after the operator's last action that
  reads the blocks (lazy plans over them are dead once they are gone).

The transposed view (:meth:`CsrBlocks.transposed`) keys each pid's
block by dst instead: the reference's ``store_transposed`` (CSC)
layout, for pull kernels. An undirected ``Graph``'s src-keyed blocks
already are it (its edge multiset is symmetric, with equal weights both
ways), so they are read as CSC with no second pack; any other source
packs the transposed set once, with src and dst swapped, into a ``T/``
sub-store that is validated and reused like the primary one.

Two pull kernels, one per accumulator, serve every operator (the
reference's one reduce primitive, ``per_v_transform_reduce_incoming_e``,
written once for one GPU or many). Each reduces a transposed block's
in-edges per dst from one value per neighbour slot: :func:`sum_kernel`
is PageRank's SpMV; :func:`min_kernel` is WCC's hash-min over neighbour
labels and csr BFS's min-id frontier predecessor.

Vertex state stays beside the blocks, and the superstep frame is
written once, for every operator (:class:`VertexSlices`): per-pid
``.npy`` slices in a per-call ``state-<uuid>/`` directory inside
``block_dir``, written by one setup pass, then read and rewritten by
one pass over the pids per superstep with no exchange; a missing slice
raises like a missing block. The supersteps of a call run as one
:meth:`VertexSlices.run`, the reference's loop with its barrier inside
it: every task folds every pid's row of a superstep itself, in pid
order, and takes the same stop decision (the ``host_scalar_allreduce``
analog). A superstep task reads every pid's current
slice of one column into one O(V) vector with :func:`gather` (indexed
by vertex id on dense blocks, by searchsorted on dict ones) and hands
it, with its own columns and its dst-keyed block, to the operator's
``update``. PageRank, WCC and BFS supply only ``init`` (first state of
a pid) and ``update`` (one superstep of a pid); the skeleton owns
vertex ownership, the slice generations — the rule that a slice is
never rewritten in place — gap pids and the final read.

The skeleton runs on either of two placements, the reference building
one ``*_impl.cuh`` for one GPU or many: the block store decides where
its passes run. :class:`CsrBlocks` places them in the executors: P
pids, the setup one Spark job, and a run of supersteps ONE barrier job
(:meth:`CsrBlocks.gang`, which also reads the result when asked) whose
S = min(P, slots) tasks are launched together, task ``t`` owning pids
t, t+S, …; its tasks meet at each superstep's end through row files in the state
directory (``BarrierTaskContext.barrier()`` measured ~1 s a call on
local[4]: too slow for a per-superstep sync).
:class:`DriverBlocks` places them in this process: one pid whose
src-keyed and dst-keyed blocks are built in memory from an edge set the
driver collected (at most ``local_tail.LOCAL_TAIL_EDGES`` rows), every
pass a plain call with no Spark job and a run a plain loop. A default
PageRank or WCC call picks its placement by one rule, :func:`size_gate`:
the driver up to that cutover, the operator's Catalyst plan above.

Costs of the barrier job: it needs S free task slots at once, and
Spark does not run barrier stages under dynamic allocation. Spark does
not retry a failed barrier stage, so :meth:`CsrBlocks.gang` resumes a
failed run from its last superstep whose rows are all in, within the
task-failure limit (:func:`task_attempts`). A task that fails writes an
``abort`` file its peers fail on at once, and a peer that sees no new
row for :data:`PEER_TIMEOUT_S` fails, so a dead peer is a failure,
never a hang — and a single pid's superstep longer than that reads as a
dead peer.

Per-task scratch budget: on dense blocks :func:`gather` allocates one
``hi1``-sized vector of the state's 8-byte type (float64 ranks, int64
labels and distances) per concurrent task. The pack picks dense only
below ``DENSE_IDS_LIMIT`` = 2^26 ids, where that vector is 512 MB.
Larger id spaces pack as dict, whose scratch is the O(V) state a task
reads, sorted once.

Scale notes: blocks are written once per stored graph (one Spark job),
read mmap'd P times per superstep; at 100 TB the block set is
O(E/P · 4-12 bytes) per executor on shared storage (HDFS-fuse/NFS/EFS)
and the per-superstep traffic is the O(V) state each task reads.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
import traceback
import uuid
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..graph import DST, SRC, WGT, Graph
from . import local_tail
from .lineage import truncate_plan

DENSE_IDS_LIMIT = 1 << 26  # max hi+1 for the dense-id block format
# a gang task that sees no new row of its superstep for this long takes
# a peer for dead and fails (CsrBlocks.gang)
PEER_TIMEOUT_S = 60.0
_POLL_S = 0.0005  # how often a gang task looks for its peers' rows


def task_attempts(spark) -> int:
    """How many times Spark runs a failing task: ``F`` on
    ``local[N, F]``, once on any other local master, and
    ``spark.task.maxFailures`` on a cluster. A failed barrier stage is
    not retried, so :meth:`CsrBlocks.gang` resubmits its job within this
    limit instead. Read at call time; tests patch it."""
    master = spark.sparkContext.master
    m = re.fullmatch(r"local(\[[^,\]]+(?:,\s*(\d+))?\])?", master)
    if m:
        return int(m.group(2) or 1)
    return int(spark.sparkContext.getConf().get("spark.task.maxFailures", "4"))


def gang_slots(spark) -> int:
    """The task slots the cluster has at once: what Spark holds a
    barrier stage's task count against (a stage with more tasks waits
    for slots that never come)."""
    sc = spark.sparkContext
    try:
        jsc = sc._jsc.sc()
        return int(jsc.maxNumConcurrentTasks(jsc.resourceProfileManager().defaultResourceProfile()))
    except Exception:  # pragma: no cover - JVM API drift safety net
        return sc.defaultParallelism


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
    pack writes them per pid; :class:`DriverBlocks` keeps them in
    memory."""
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


class Block:
    """One pid's packed block as kernels see it; the dense/dict
    neighbour format is resolved here, so a kernel is written once for
    both. A block is keyed by ``su``: the srcs of a primary (src-keyed)
    block, the dsts of a transposed one (:meth:`CsrBlocks.transposed`);
    ``nbr`` is each edge's other endpoint.

    - ``su``, ``indptr``: the key-sorted CSR;
    - ``nbr``: per-edge neighbour slot in ``[0, n_nbr)`` — ``dr`` or
      ``dc``, left mmap'd;
    - ``n_nbr``: slot count (``hi1`` or ``len(du)``);
    - ``du``: the vertex id of each slot on dict blocks (None on dense
      ones, whose slot IS the vertex id);
    - ``w``: edge weights (weighted packs only)."""

    def __init__(self, arrays: dict, meta: dict):
        self.su = np.asarray(arrays["su"])
        self.indptr = np.asarray(arrays["indptr"])
        self.w = arrays.get("w")
        if meta["ids"] == "dense":
            self.nbr, self.du, self.n_nbr = arrays["dr"], None, meta["hi1"]
        else:
            self.nbr, self.du = arrays["dc"], np.asarray(arrays["du"])
            self.n_nbr = len(self.du)


def segment_reduce(blk: Block, vals, ufunc=np.add) -> np.ndarray:
    """One ``ufunc`` reduction of the per-edge ``vals`` per ``blk.su``
    entry, over its ``indptr`` segment (every key has at least one
    edge, so no segment is empty)."""
    if not len(blk.su):
        return np.zeros(0, np.asarray(vals).dtype)
    return ufunc.reduceat(vals, blk.indptr[:-1])


def sum_kernel(blk: Block, x) -> np.ndarray:
    """The pull sum kernel over a transposed (dst-keyed) block: ``x``
    holds one value per neighbour slot (indexed by vertex id on dense
    blocks, aligned with ``du`` on dict ones), and each ``blk.su`` dst
    gets ``Σ x[src]·w`` over its in-edges — PageRank's SpMV, one
    gather and one segment sum, no scatter and no per-dst exchange."""
    return segment_reduce(blk, np.asarray(x)[blk.nbr] * blk.w)


def min_kernel(blk: Block, x) -> np.ndarray:
    """The pull min kernel, :func:`sum_kernel`'s twin: each ``blk.su``
    dst gets ``min x[src]`` over its in-edges (``x`` per neighbour slot)
    — WCC's hash-min over neighbour labels and BFS's min-id frontier
    predecessor."""
    return segment_reduce(blk, np.asarray(x)[blk.nbr], np.minimum)


# the block of a pid without edges (a hash gap): kernels over it return
# empty arrays
NO_EDGES = Block({"su": np.zeros(0, np.int64), "indptr": np.zeros(1, np.int64),
                  "du": np.zeros(0, np.int64), "dc": np.zeros(0, np.int32),
                  "w": np.zeros(0)}, {"ids": "dict"})


def block_keys(*blocks: Block) -> np.ndarray:
    """A pid's vertices: the sorted keys of its blocks (src-keyed and
    dst-keyed)."""
    return np.unique(np.concatenate([b.su for b in blocks])).astype(np.int64)


class BlockFiles(NamedTuple):
    """A packed block set as executors open it: plain values only, so a
    task that captures it pickles small."""

    block_dir: str
    meta: dict
    manifest: dict

    def block(self, pid: int) -> Block:
        """The pid's block, or :data:`NO_EDGES` for a pid without edges
        (a hash gap)."""
        if pid not in self.manifest:
            return NO_EDGES
        return Block(load_block(self.block_dir, pid, self.meta), self.meta)


class CsrBlocks:
    """The block store: pack-or-reuse, validation and cleanup for one
    operator call (module docstring has the full contract). ``source``
    is a ``Graph`` or an edge frame with ``src``/``dst`` (and ``weight``
    when ``weighted``) columns."""

    in_driver = False  # its passes run in the executors

    def __init__(
        self,
        source: Graph | DataFrame,
        P: int,
        block_dir: str | None = None,
        weighted: bool = False,
    ):
        self.source = source
        self.edges = source if isinstance(source, DataFrame) else source.edges
        self.spark = self.edges.sparkSession
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

    # --- what VertexSlices reads from a store (DriverBlocks has the same) ---

    def vertex_count(self) -> int:
        """V of the source ``Graph`` (its memoized ``vertex_stats``)."""
        return self.source.vertex_stats()[0]

    def views(self) -> tuple[BlockFiles, BlockFiles]:
        """The src-keyed and the dst-keyed block files (one object on an
        undirected graph, whose blocks are their own transpose)."""
        return self.files, self.transposed().files

    def _tasks(self, task, schema) -> DataFrame:
        return self.spark.range(0, self.P, 1, self.P).mapInPandas(_per_pid(task), schema)

    def map(self, task, schema: str) -> list:
        """ONE job: ``task(pid)`` once per pid, one Spark task each, no
        shuffle. A task returns a dict (one row) or None (no row);
        returns the collected rows."""
        return self._tasks(task, schema).collect()

    def route(self, frames: list[DataFrame], task, schema: str) -> list:
        """ONE job: the rows of ``frames`` (each keyed by ``vertex``) go
        to their pid by :func:`pid_of`, and every pid, with rows or not,
        runs ``task(pid, rows)`` once (``vertex`` as long, the frames'
        other columns with nulls where a frame lacks them). Returns the
        collected rows."""
        hash_t = self.meta["hash_t"]
        # the pid-only marker rows carry typed zeros, not nulls: pandas
        # turns an integer column holding a null into float64, which
        # rounds ids above 2^53
        cols = {c: t for f in frames for c, t in f.dtypes if c != "vertex"}
        frame = self.spark.range(self.P).select(
            F.col("id").alias("pid"), F.lit(0).cast("long").alias("vertex"),
            F.lit(True).alias("marker"), *[F.lit(0).cast(t).alias(c) for c, t in cols.items()])
        for f in frames:
            frame = frame.unionByName(
                f.select(pid_of("vertex", hash_t, self.P).alias("pid"),
                         F.col("vertex").cast("long").alias("vertex"),
                         F.lit(False).alias("marker"),
                         *[c for c in f.columns if c != "vertex"]),
                allowMissingColumns=True)
        return frame.groupBy("pid").applyInPandas(_per_group(task), schema).collect()

    def frame(self, read, schema: StructType) -> DataFrame:
        """``read(pid)`` (a pandas frame) of every pid as one DataFrame,
        one partition per pid. Lazy: act on it while what ``read`` reads
        still exists."""
        return self._tasks(read, schema)

    def result(self, read, schema: StructType) -> DataFrame:
        """:meth:`frame`, materialized now."""
        return truncate_plan(self.frame(read, schema), eager=True)

    def gang(self, body, fold, carry, max_steps: int, scratch: str,
             result: tuple | None = None) -> Supersteps:
        """Up to ``max_steps`` supersteps in ONE barrier job of S = min(P,
        :func:`gang_slots`) tasks, launched together; task ``t`` owns
        pids t, t+S, … (:func:`_gang_task`). In superstep ``k`` each task
        runs ``body(pid, k, carry)`` for its pids, writes each pid's row
        to ``rows-<uuid>/<k>.<pid>`` under ``scratch``, waits for all P
        rows of ``k``, and folds them in pid order, so every task takes
        the same stop decision. Task 0's clock gives the supersteps'
        seconds; a job's first superstep also carries its launch and
        collect.

        A failed barrier stage is not retried by Spark, so the store
        retries it: after a failed job the driver folds the rows of every
        superstep whose P rows all exist — the generation they wrote is
        intact, since no task drops it before all rows of the next
        superstep are in — and resubmits from there, up to
        :func:`task_attempts` jobs in all. A resubmitted job writes a new
        ``rows-<uuid>/``, so it never reads a dead job's rows; the
        seconds of a failed job's complete supersteps come from the
        times their last row files were written.

        ``result=(read, schema)``: the job's output is every pid's
        ``read(pid, steps)`` of the last generation, and the job runs as
        the eager local checkpoint of that output, which is returned."""
        P, S, attempts = self.P, min(self.P, gang_slots(self.spark)), task_attempts(self.spark)
        read, schema = result or (None, "s double")
        carries, seconds, stop, out = [], [], False, None
        for attempt in range(attempts):
            k0 = len(carries)
            rows_dir = os.path.join(scratch, f"rows-{uuid.uuid4().hex}")
            os.makedirs(rows_dir)
            began, t0 = time.time(), time.perf_counter()
            failed = None
            try:
                task = _gang_task(body, fold, carry, k0, max_steps - k0, P, S, rows_dir, read)
                frame = self.spark.range(0, S, 1, S).mapInPandas(
                    _per_pid(task), schema, barrier=True)
                if read is None:
                    frame.collect()
                else:
                    out = truncate_plan(frame, eager=True)
                with open(os.path.join(rows_dir, "stamps")) as f:
                    stamps = json.load(f)
            except Exception as exc:
                failed = exc
            wall = time.perf_counter() - t0
            k = k0
            while k < max_steps and not stop and _rows_complete(rows_dir, k, P):
                carry, stop = fold(carry, _read_rows(rows_dir, k, P))
                carries.append(carry)
                k += 1
            if failed is None:
                seconds += [wall - sum(stamps[1:]), *stamps[1:]]
            else:
                ends = [max(os.stat(_row_path(rows_dir, j, q)).st_mtime for q in range(P))
                        for j in range(k0, k)]
                seconds += np.diff(ends, prepend=began).tolist()
            shutil.rmtree(rows_dir, ignore_errors=True)
            if failed is None or stop or k == max_steps:
                break
            if attempt == attempts - 1:
                raise failed
        return Supersteps(carries, seconds, stop, out)

    def _stats(self, count: bool) -> tuple:
        """``(n_edges, lo, hi)`` of the source. A Graph answers from its
        memoized ``vertex_stats`` and, only when asked (``n_edges`` is
        None otherwise), ``edge_rows``; a bare edge frame costs one
        aggregate."""
        if isinstance(self.source, DataFrame):
            r = self.edges.agg(
                F.count("*"),
                F.least(F.min(SRC), F.min(DST)),
                F.greatest(F.max(SRC), F.max(DST)),
            ).first()
            return r[0], r[1], r[2]
        _, lo, hi = self.source.vertex_stats()
        return (self.source.edge_rows() if count else None), lo, hi

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


class MemoryFiles(NamedTuple):
    """One in-memory block served the way :class:`BlockFiles` serves a
    packed set, as the only pid's block."""

    blk: Block
    manifest: dict

    def block(self, pid: int) -> Block:
        return self.blk


class DriverBlocks:
    """The driver placement of a block store: what :class:`VertexSlices`
    reads from :class:`CsrBlocks`, for one pid (``P = 1``) in this
    process. ``(src, dst, w)`` are the collected edge arrays; the
    src-keyed and the dst-keyed block are built from them by
    :func:`csr_arrays` as dict blocks on the raw ids, so no
    ``hi+1``-sized vector and no id map is needed. :meth:`map`,
    :meth:`route`, :meth:`frame` and :meth:`result` are plain calls with
    no Spark job (``route`` collects its frames), and the slices live
    in a private temp dir removed on exit. Meant for edge sets of at
    most ``local_tail.LOCAL_TAIL_EDGES`` rows."""

    P = 1
    in_driver = True  # its passes run in this process

    def __init__(self, spark, src: np.ndarray, dst: np.ndarray, w: np.ndarray | None):
        self.spark = spark
        self.files, self.in_files = (
            MemoryFiles(Block(csr_arrays(key, nbr, w, dense=False), {"ids": "dict"}),
                        {0: len(src)})
            for key, nbr in ((src, dst), (dst, src)))
        self.V = len(block_keys(self.files.blk, self.in_files.blk))

    def __enter__(self) -> DriverBlocks:
        self.block_dir = tempfile.mkdtemp(prefix="cugraph_driver_")
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.block_dir, ignore_errors=True)

    def vertex_count(self) -> int:
        return self.V

    def views(self) -> tuple[MemoryFiles, MemoryFiles]:
        return self.files, self.in_files

    def map(self, task, schema: str | None = None) -> list:
        row = task(0)
        return [] if row is None else [row]

    def route(self, frames: list, task, schema: str | None = None) -> list:
        """``task(0, rows)`` over the rows of ``frames``: DataFrames are
        collected here, pandas frames (side inputs already collected and
        checked) are taken as they are."""
        rows = pd.concat(
            [f if isinstance(f, pd.DataFrame) else
             f.select(F.col("vertex").cast("long"), *[c for c in f.columns if c != "vertex"])
             .toPandas() for f in frames], ignore_index=True)
        return self.map(lambda pid: task(pid, rows))

    def frame(self, read, schema: StructType) -> DataFrame:
        return self.spark.createDataFrame(read(0), schema)

    result = frame  # built from the slices when called, so already materialized

    def gang(self, body, fold, carry, max_steps: int, scratch: str | None = None,
             result: tuple | None = None) -> Supersteps:
        """:meth:`CsrBlocks.gang` on the one pid: a plain loop, each
        superstep timed on its own."""
        carries, seconds, stop = [], [], False
        for k in range(max_steps):
            t0 = time.perf_counter()
            row = body(0, k, carry)
            carry, stop = fold(carry, [] if row is None else [row])
            carries.append(carry)
            seconds.append(time.perf_counter() - t0)
            if stop:
                break
        if result is None:
            return Supersteps(carries, seconds, stop)
        read, schema = result
        return Supersteps(carries, seconds, stop,
                          self.frame(lambda pid: read(pid, len(carries)), schema))


def size_gate(G: Graph, weighted: bool) -> tuple[DriverBlocks | None, bool]:
    """The placement rule of a block-plan operator's default call: the
    edge frame as it comes is persisted (a frame the caller cached is
    counted from that cache and left cached) and counted. At most
    ``local_tail.LOCAL_TAIL_EDGES`` rows: one collect of the cache
    becomes a :class:`DriverBlocks`, the cache is released, and
    ``(blocks, False)`` is returned. Above the cutover, ``(None,
    owned)``: the caller's Catalyst plan builds its own edge copy from
    the cache, so the O(E) upstream (e.g. the constructor's dedup
    shuffle) runs once whichever plan follows, and when ``owned`` (the
    gate persisted ``G.edges``) unpersists ``G.edges`` once that copy is
    filled. A cutover of 0 runs no job and returns ``(None, False)``."""
    thr = local_tail.LOCAL_TAIL_EDGES
    owned = thr > 0 and G.edges.storageLevel == StorageLevel.NONE
    if owned:
        G.edges.persist(StorageLevel.MEMORY_AND_DISK)
    if thr > 0 and G.edges.count() <= thr:
        blocks = DriverBlocks(G.edges.sparkSession, *local_tail.collect_edges(G.edges, weighted))
        if owned:
            G.edges.unpersist()
        return blocks, False
    return None, owned


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


def gather(blk: Block, state_dir: str, P: int, name: str):
    """Every pid's slice ``name`` (one generation of a vertex state)
    read into one O(V) lookup in ``blk``'s id space: a dense block's
    ``hi1``-sized vector indexed by vertex id, or the ids sorted for a
    dict block. Returns ``(x, at)``: ``x`` the values on ``blk``'s
    neighbour slots, the kernels' input, and ``at(ids)`` the values at
    any vertex ids. On a dict block an id without a slice entry raises
    (:func:`positions_of` — stale blocks)."""
    ids = np.concatenate([load_slice(state_dir, q, "vertex") for q in range(P)])
    vals = np.concatenate([load_slice(state_dir, q, name) for q in range(P)])
    if blk.du is None:
        x = np.zeros(blk.n_nbr, vals.dtype)
        x[ids] = vals
        return x, x.__getitem__
    order = np.argsort(ids, kind="stable")
    ids, vals = ids[order], vals[order]

    def at(keys):
        return vals[positions_of(ids, keys)]

    return at(blk.du), at


def _per_pid(task):
    """mapInPandas body: ``task(pid)`` for each pid row of the batch; a
    task's dict is one row, None is none."""

    def fn(batches):
        for pdf in batches:
            for pid in pdf["id"].tolist():
                out = task(int(pid))
                if out is not None:
                    yield pd.DataFrame([out]) if isinstance(out, dict) else out

    return fn


def _per_group(task):
    """applyInPandas body: ``task(pid, rows)`` with the group's routed
    rows, its pid-only marker row dropped; a dict is one row, None is
    none."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = task(int(pdf["pid"].iloc[0]), pdf[~pdf["marker"]])
        return pd.DataFrame() if out is None else pd.DataFrame([out])

    return fn


class Supersteps(NamedTuple):
    """What :meth:`VertexSlices.run` returns: the carry each superstep's
    fold returned and its wall seconds, in superstep order, whether the
    stop rule fired, and the result asked for (None when not asked)."""

    carries: list
    seconds: list
    stop: bool
    result: DataFrame | None = None


def _row_path(rows_dir: str, k: int, pid: int) -> str:
    return os.path.join(rows_dir, f"{k}.{pid}")


def _rows_complete(rows_dir: str, k: int, P: int) -> bool:
    return all(os.path.exists(_row_path(rows_dir, k, q)) for q in range(P))


def _read_rows(rows_dir: str, k: int, P: int) -> list:
    """The rows of superstep ``k`` in pid order, a pid without one left
    out."""
    rows = []
    for q in range(P):
        with open(_row_path(rows_dir, k, q)) as f:
            row = json.load(f)
        if row is not None:
            rows.append(row)
    return rows


def _await_rows(rows_dir: str, k: int, P: int) -> list:
    """:func:`_read_rows` of superstep ``k`` once all P row files exist.
    Raises at once when a peer has written ``abort`` (with the peer's
    error), and after :data:`PEER_TIMEOUT_S` without a new row: a dead
    peer becomes a failure, never a hang."""
    abort = os.path.join(rows_dir, "abort")
    q, last = 0, time.monotonic()
    while q < P:
        if os.path.exists(_row_path(rows_dir, k, q)):
            q, last = q + 1, time.monotonic()
        elif os.path.exists(abort):
            with open(abort) as f:
                raise RuntimeError(f"a peer gang task failed: {f.read()}")
        elif time.monotonic() - last > PEER_TIMEOUT_S:
            raise RuntimeError(
                f"superstep {k}: no row of pid {q} in {PEER_TIMEOUT_S:.0f} s — a peer gang "
                "task died")
        else:
            time.sleep(_POLL_S)
    return _read_rows(rows_dir, k, P)


def _gang_task(body, fold, carry, k0: int, n: int, P: int, S: int, rows_dir: str, read=None):
    """Task ``t`` of a :meth:`CsrBlocks.gang` job: supersteps ``k0 …
    k0+n-1`` (until ``fold`` says stop) for pids t, t+S, …; task 0 writes
    each superstep's seconds by its own clock to ``rows_dir/stamps``.
    Returns the pids' rows of the last generation (``read(pid, steps)``)
    when ``read`` is given, else nothing. A task that raises first
    writes ``abort`` with its error, so its peers fail at once."""

    def task(t: int):
        stamps, k, c = [time.perf_counter()], k0, carry
        try:
            for k in range(k0, k0 + n):
                for pid in range(t, P, S):
                    row = json.dumps(body(pid, k, c)).encode()
                    _write_atomic(_row_path(rows_dir, k, pid), lambda f, r=row: f.write(r))
                c, stop = fold(c, _await_rows(rows_dir, k, P))
                stamps.append(time.perf_counter())
                if stop:
                    break
        except BaseException as exc:
            abort = os.path.join(rows_dir, "abort")
            msg = "".join(traceback.format_exception_only(type(exc), exc)).strip()
            try:
                if not os.path.exists(abort):
                    _write_atomic(abort, lambda f: f.write(f"superstep {k}, task {t}: {msg}".encode()))
            except OSError:
                pass  # the driver already removed the directory
            raise
        if t == 0:
            secs = json.dumps(np.diff(stamps).tolist()).encode()
            _write_atomic(os.path.join(rows_dir, "stamps"), lambda f: f.write(secs))
        if read is not None:
            return pd.concat([read(pid, k + 1) for pid in range(t, P, S)], ignore_index=True)
        return None

    return task


def _named(versioned: tuple, gen: int):
    """A column's slice name in generation ``gen``: a versioned column
    carries the generation, any other is written once."""
    return lambda c: f"{c}{gen}" if c in versioned else c


class VertexSlices:
    """The csr superstep skeleton: vertex state kept beside a block
    store as per-pid ``.npy`` slices in a per-call ``state-<uuid>/``
    directory inside its ``block_dir`` (removed on exit). Pid ``p`` owns
    the vertices :func:`pid_of` routes to ``p`` — the keys of its
    src-keyed and dst-keyed blocks, sorted — and one array per state
    column, so a superstep is ONE pass over the pids, no exchange, whose
    tasks read the slices they need and write their own. An operator
    supplies only its numbers:

    - ``init(verts, rows, out_blk) -> (arrays, row)``, called once per
      pid by :meth:`setup` with the pid's vertices, its routed rows (a
      pandas frame; None when there are no side inputs) and its
      src-keyed block. ``arrays`` maps column names to arrays aligned
      with ``verts``; a ``vertex`` entry replaces the vertex set (a
      resumed checkpoint's rows).
    - ``update(carry)(verts, own, blk, x, at) -> (arrays, row)``,
      called once per pid and superstep by :meth:`run`: ``own`` maps the
      columns the operator reads to the pid's current arrays, ``blk`` is
      its dst-keyed block and ``x, at`` are :func:`gather` of the one
      column read from every pid. ``arrays`` is the next generation of
      every versioned column.
    - ``fold(carry, rows) -> (carry, stop)`` over a superstep's rows in
      pid order, and the first ``carry``: PageRank's dangling mass (stop
      when Σ l1 < tol), WCC's changed count (stop at 0), BFS's depth
      (stop when a level reaches nothing).

    ``row`` is the pid's partial row (a dict of JSON numbers; None for
    none): :meth:`setup` returns the rows to the driver, and :meth:`run`
    folds them on every task. A pid without vertices (a hash gap)
    carries its empty slices forward and reports no row; a pid with
    vertices but no in-edges gets the empty block :data:`NO_EDGES`.

    The block store is the placement: the skeleton reads from it ``P``,
    ``block_dir`` and :meth:`CsrBlocks.views`, and runs every pass
    through its ``map`` (``task(pid)`` per pid), ``route`` (the side
    inputs' rows to their pid), ``gang`` (a run of supersteps),
    ``frame`` and ``result`` — Spark jobs over P pids on
    :class:`CsrBlocks` (``gang`` one barrier job), plain calls on one
    pid on :class:`DriverBlocks`. The operator code is the same on both.

    The skeleton keeps the generation rule, so no operator names a
    slice file: a versioned column (one the supersteps change) is
    written under a new name per generation, the one before the
    generation just read is dropped, and no slice is ever replaced in
    place — ext4 flushes a file's data when a rename or truncate
    replaces it (``auto_da_alloc``), ~60 ms a file on a 4-vCPU host's
    disk, against ~0 for a new name. :meth:`frame` and :meth:`result`
    read the current generation.

    Costs: a task that reads every pid's slice reads O(V) state — page
    cache on one box, P·V bytes over shared storage on a cluster — and
    the directory must be shared storage on a multi-node cluster, like
    ``block_dir``; so must the run's row files in it. A run on
    :class:`CsrBlocks` holds S task slots for all its supersteps (module
    docstring: the barrier job's costs)."""

    def __init__(self, blocks: CsrBlocks | DriverBlocks, versioned: tuple[str, ...]):
        self.blocks, self.P = blocks, blocks.P
        self.out_files, self.in_files = blocks.views()
        # an undirected graph's blocks are their own transpose
        self.same = self.in_files is self.out_files
        self.versioned, self.gen = tuple(versioned), 0
        self.dir = os.path.join(blocks.block_dir, f"state-{uuid.uuid4().hex}")

    def __enter__(self) -> VertexSlices:
        os.makedirs(self.dir)
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def setup(self, init, schema: str = "n long", frames: list[DataFrame] = ()) -> list:
        """ONE pass writes every pid's ``vertex`` slice and the arrays
        ``init`` returns (generation 0 of the versioned ones): the
        store's ``route`` when there are side-input ``frames``, its
        ``map`` otherwise. Returns the collected rows."""
        out_files, in_files, same, state_dir = self.out_files, self.in_files, self.same, self.dir
        name = _named(self.versioned, self.gen)

        def task(pid: int, rows):
            out_blk = out_files.block(pid)
            verts = block_keys(out_blk, out_blk if same else in_files.block(pid))
            arrays, row = init(verts, rows, out_blk)
            for c, arr in {"vertex": verts, **arrays}.items():
                save_slice(state_dir, pid, name(c), arr)
            return row

        if frames:
            return self.blocks.route(frames, task, schema)
        return self.blocks.map(lambda pid: task(pid, None), schema)

    def run(self, update, reads: tuple[str, ...], col: str, fold, carry,
            max_steps: int, result: tuple[StructType, list[str]] | None = None) -> Supersteps:
        """Supersteps until ``fold`` says stop or ``max_steps`` have run,
        on the store's placement (:meth:`CsrBlocks.gang`: one barrier
        job; :meth:`DriverBlocks.gang`: a plain loop). Superstep ``k`` of
        the run reads generation ``gen + k`` and runs, per pid,
        ``update(carry)`` (the pid function :meth:`step_task` runs), with
        ``carry`` the value the previous superstep's fold returned (the
        given one first). ``fold(carry, rows) -> (carry, stop)`` reduces
        the pids' rows, in pid order, on every task alike: the
        allreduce. Returns the carries and seconds of the supersteps run
        and moves to the generation after the last. With ``result``
        (``(schema, names)`` of :meth:`result`) the run's last generation
        comes back as a materialized DataFrame too, read by the tasks of
        the job that ran the supersteps, not by a job of its own."""
        if max_steps < 1:
            return Supersteps([], [], False, result and self.result(*result))
        out = self.blocks.gang(self._body(update, reads, col), fold, carry, max_steps, self.dir,
                               result and (self._reader(*result), result[0]))
        self.gen += len(out.carries)
        if result and out.result is None:  # its job failed after the last superstep
            out = out._replace(result=self.result(*result))
        return out

    def step_task(self, update, reads: tuple[str, ...], col: str):
        """The superstep of one pid on the current generation, as
        ``task(pid) -> row`` with ``update`` the pid function itself:
        what :meth:`run` runs for each pid."""
        body = self._body(lambda _: update, reads, col)
        return lambda pid: body(pid, 0, None)

    def _body(self, update, reads: tuple[str, ...], col: str):
        """``step(pid, k, carry)``, superstep ``k`` of a run for one pid:
        load its ``reads`` columns, open its dst-keyed block, gather
        ``col`` from every pid, run ``update(carry)``, write the next
        generation, drop the one before the current, and return the
        pid's row. A missing block or slice raises."""
        in_files, state_dir, P, versioned, gen = (
            self.in_files, self.dir, self.P, self.versioned, self.gen)

        def step(pid: int, k: int, carry):
            prev, cur, nxt = (_named(versioned, gen + k + d) for d in (-1, 0, 1))
            verts = load_slice(state_dir, pid, "vertex")
            if len(verts):
                own = {c: load_slice(state_dir, pid, cur(c)) for c in reads}
                blk = in_files.block(pid)
                x, at = gather(blk, state_dir, P, cur(col))
                new, row = update(carry)(verts, own, blk, x, at)
            else:
                new, row = {c: load_slice(state_dir, pid, cur(c)) for c in versioned}, None
            for c, arr in new.items():
                save_slice(state_dir, pid, nxt(c), arr)
            drop_slices(state_dir, pid, [prev(c) for c in versioned])
            return row

        return step

    def path(self, pid: int, name: str) -> str:
        """The file of ``pid``'s current ``name`` slice."""
        return _slice_path(self.dir, pid, _named(self.versioned, self.gen)(name))

    def _reader(self, schema: StructType, names: list[str]):
        """``read(pid, steps=0)``: the pid's rows of the generation
        ``steps`` past the current one; field ``i`` of ``schema`` reads
        column ``names[i]``."""
        state_dir, versioned, gen = self.dir, self.versioned, self.gen
        cols = [f.name for f in schema.fields]

        def read(pid, steps=0):
            name = _named(versioned, gen + steps)
            return pd.DataFrame({c: load_slice(state_dir, pid, name(n)) for c, n in zip(cols, names)})

        return read

    def frame(self, schema: StructType, names: list[str]) -> DataFrame:
        """The current generation as a DataFrame, one partition per pid:
        field ``i`` of ``schema`` reads column ``names[i]``. Lazy on the
        executors — act on it before the directory is removed."""
        return self.blocks.frame(self._reader(schema, names), schema)

    def result(self, schema: StructType, names: list[str]) -> DataFrame:
        """:meth:`frame`, materialized now: the one read of the slices,
        made while they still exist. A :meth:`run` asked for its
        ``result`` makes this read inside its own job instead."""
        return self.blocks.result(self._reader(schema, names), schema)
