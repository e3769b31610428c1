"""Weakly connected components — distributed hash-min label propagation.

Recreates ``cugraph.weakly_connected_components``
(``components/connectivity.py:102-200``) over a symmetrized edge
DataFrame. The reference's CUDA implementation
(``components/weakly_connected_components_impl.cuh``, 771 LoC) is a
multi-root frontier BFS with conflict-edge contraction levels — a GPU
latency optimization. Its *contract* (validated by bijection at
``weakly_connected_components_test.cpp:179-191``) is only that every
vertex in a component gets the same label and different components get
different labels; the label is some vertex id of the component.

We standardize on the **minimum vertex id** per component (deterministic,
exactly testable, bijection-equivalent to the reference) and compute it
with hash-min propagation accelerated by pointer jumping:

- superstep: ``label(v) ← min(label(v), min_{u~v} label(u))``
  (one edges⋈state join + groupBy(dst).min — map-side combinable), then
- pointer jump: ``label(v) ← label(label(v))`` (state self-join), the
  Spark analog of the reference's contraction levels; together they give
  O(log d) supersteps instead of O(diameter).

Frontier/delta supersteps (the reference's frontier machinery,
``weakly_connected_components_impl.cuh:185-213`` /
``prims/transform_reduce_v_frontier_outgoing_e_by_dst.cuh``): hash-min
is monotone, so once a vertex's label has been announced to its
neighbors it never needs re-announcing — only vertices whose label
CHANGED last superstep must emit messages. Every dense superstep
announces all labels, and every change (lower or jump) lands in the
``labels != old`` delta, so the announce-invariant holds at any
dense↔frontier switch point and ``changed == 0`` remains a true
fixpoint test. When the measured delta drops to or below
``_frontier_threshold`` the superstep switches to: probe the persisted
edge cache with the BROADCAST delta (a hash probe on the src column —
no exchange in any layout, no join output and no aggregation input for
non-frontier edges), so the expensive terms (join materialization, the
message aggregation, every exchange) shrink to |frontier edges|. The
remaining fixed cost is the O(E) probe scan itself — deliberately
chosen over a pre-grouped adjacency cache, whose one-time O(E)
groupBy build would wash out the gain on low-diameter graphs that
leave only 2-4 frontier supersteps after the dense phase (the A/B in
BENCH/BASELINE.md round 4 measures both terms). The pointer jump runs
PARTIALLY (only rows changed this superstep look up label(label)) —
dropping the jump for unchanged rows costs acceleration, never
correctness, because hash-min alone converges and jump-induced changes
re-enter the delta. All frontier-side state joins keep the dense
path's shuffle-hash hints (the mins/jump sides are frontier-sized and
co-partitioned with the state), so no unbounded frame is ever
broadcast.

``mode="csr"`` (the reference's resident-CSR architecture,
``graphs.pyx:52-224``): edges pack ONCE into per-pid mmap CSR blocks
(``plans/csr_blocks.py``), and the label vector never enters a Catalyst
plan. It lives in per-pid slices beside the blocks, in the superstep
skeleton csr PageRank and BFS share (``csr_blocks.VertexSlices``); this
module supplies only ``_init``, ``_update`` and ``_fold``. One setup
job writes each pid's vertices (its block's keys) with their identity
or checkpointed labels, and the supersteps run in ONE barrier job (one
per checkpoint window) with no exchange, whose tasks add up every
superstep's changed counts themselves and stop at 0. A task reads every pid's current labels into one O(V)
vector, and ``_update`` pulls the min over its own vertices'
neighbours (``csr_blocks.min_kernel`` — a symmetrized graph's blocks
are their own transpose) and pointer-jumps in the same pass:
``label(v) ← L[min(L[v], min_{u~v} L[u])]``. Every label is a vertex of
its own component and is ≤ that vertex, so the jump target is too, and
the fixpoint is the dataframe plan's min-id labeling; the superstep
count may differ from the dataframe plan's by a few on high-diameter
graphs, because the jump reads the previous labels, not this
superstep's lowered ones. There is no frontier mode: a superstep cost
its Spark job, not its edge work, on every input this was measured on
before the supersteps shared one job.

The block plan has two placements, picked by size alone, as
PageRank's: ``mode="csr"`` runs it in the executors
(``csr_blocks.CsrBlocks``); the default runs it on the driver
(``csr_blocks.DriverBlocks``: one pid's two in-memory blocks, every
pass a plain call, no Spark job per superstep) when the edge frame has
at most ``local_tail.LOCAL_TAIL_EDGES`` rows, and the Catalyst plan
above. The size gate is the block store's (``csr_blocks.size_gate``):
above the cutover the Catalyst plan's edge cache is built from the
gate's persisted copy, so the source is scanned once. Leiden's
refinement and MST's component merge call this operator, so they take
the same placement and the same min-id labels.

Scale notes: the O(E) edge side is persisted once — hash-partitioned on
``src`` only when V exceeds the broadcast cutover (below it the state is
broadcast and the edge cache is scanned in place, so pre-partitioning
would be a wasted O(E) shuffle); each superstep re-shuffles only the
O(V) label vector. Superstep 0 runs on the identity labeling, which
collapses it to one map-side-combinable ``groupBy(dst).min(src)`` — no
initial vertex-set distinct, no join — and the same action fills the
edge persist. V and the int32-compaction bounds come from the memoized
``Graph.vertex_stats`` (table metadata on a real deployment). The
changed-count convergence check is the single action per superstep
(host_scalar_allreduce analog); ``check_every=k`` batches it to one
action per k supersteps (overshoot-safe: a stable labeling is a
fixpoint). Labels checkpoint every ``checkpoint_every`` supersteps for
exact resume.
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan

import time

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..graph import DST, SRC, Graph
from ..plans.checkpoint import CheckpointManager
from ..plans.csr_blocks import CsrBlocks, VertexSlices, min_kernel, positions_of, size_gate
from ..plans.metrics import ShuffleProbe
from ..plans import strategy
from ..plans.strategy import vertex_join_side


def _frontier_threshold(V: int) -> int:
    """Changed-count at or below which a dataframe superstep goes
    frontier (module docstring); 0 keeps every superstep dense.
    ``V/8``, capped at 4M because the delta is broadcast — below ~V/8
    changed vertices the probe-only scan beats the dense join+aggregation
    (A/B on RMAT in BENCH/BASELINE.md round 4)."""
    return max(1, min(V // 8, 4_000_000))


def _init(verts, rows, out_blk):
    """The csr plan's setup of one pid (``VertexSlices.setup``): its
    vertices are its block's keys (every vertex of a symmetrized graph
    is some edge's src), labelled by themselves or, on a resume, by the
    routed checkpoint (which must hold every one of them)."""
    if rows is None:
        return {"labels": verts}, None
    rows = rows.sort_values("vertex")
    saved = rows["labels"].to_numpy(np.int64)
    return {"labels": saved[positions_of(rows["vertex"].to_numpy(np.int64), verts)]}, None


def _fold(carry, rows):
    """The csr superstep's allreduce: the carry is the pids' changed
    count, and the run stops when it is 0."""
    changed = sum(r["changed"] for r in rows)
    return changed, changed == 0


def _update(verts, own, blk, L, at):
    """One csr superstep of one pid: the pull min over each own vertex's
    neighbours (its block is its own transpose, keyed by exactly its
    vertices), then a pointer jump through the same lookup of every
    pid's labels. Returns the new labels and the changed count."""
    old = own["labels"]
    new = at(np.minimum(old, min_kernel(blk, L)))
    return {"labels": new}, {"changed": int((new != old).sum())}


def _csr_plan(G, blocks, max_iter, checkpoint, checkpoint_every, resume,
              superstep_seconds, superstep_metrics) -> DataFrame:
    """The block plan (module docstring), placed by its store ``blocks``
    (``CsrBlocks`` in the executors, ``DriverBlocks`` on the driver):
    one setup pass writes the label slices, then ONE run of supersteps
    goes until no label changes (one per checkpoint window)."""
    spark = G.edges.sparkSession
    schema = StructType([StructField("vertex", LongType()), StructField("labels", LongType())])
    mode = "driver" if blocks.in_driver else "csr"
    with blocks, VertexSlices(blocks, ("labels",)) as state:
        frames, start_iter = [], 0
        if resume and checkpoint is not None and checkpoint.latest_iteration() is not None:
            saved, meta = checkpoint.load(spark, checkpoint.latest_iteration())
            frames.append(saved.select("vertex", F.col("labels").cast("long")))
            start_iter = meta["iteration"] + 1
        state.setup(_init, frames=frames)
        # one run per checkpoint window (the checkpoint is a Spark write);
        # the last window's run reads the result in its own job
        every, it, result = checkpoint_every if checkpoint is not None else 0, start_iter, None
        while it < max_iter:
            n = min(max_iter - it, every - it % every) if every else max_iter - it
            probe = ShuffleProbe(spark) if superstep_metrics is not None else None
            run = state.run(lambda c: _update, ("labels",), "labels", _fold, None, n,
                            (schema, ["vertex", "labels"]) if it + n == max_iter else None)
            result = run.result
            if superstep_seconds is not None:
                superstep_seconds.extend(run.seconds)
            if probe is not None:
                # the run's bytes are measured for its job as a whole: only
                # a measured 0 is each superstep's too
                d = probe.delta()
                shuffle = {k: 0 if d[k] == 0 else None for k in ("shuffle_read", "shuffle_write")}
                if d.get("shuffle_unmeasured"):
                    shuffle["shuffle_unmeasured"] = True
                superstep_metrics.extend(
                    {"iteration": it + j, "mode": mode, "changed": changed,
                     "seconds": round(wall, 3), **shuffle}
                    for j, (changed, wall) in enumerate(zip(run.carries, run.seconds)))
            it += len(run.carries)
            if every and it % every == 0:
                checkpoint.save(state.frame(schema, ["vertex", "labels"]), it - 1,
                                {"changed": run.carries[-1]})
            if run.stop:
                break
        if result is None:  # no superstep ran, or it stopped before the last window
            result = state.result(schema, ["vertex", "labels"])
        return result


def weakly_connected_components(
    G: Graph,
    max_iter: int = 100,
    num_partitions: int | str | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    check_every: int = 1,
    superstep_seconds: list | None = None,
    superstep_metrics: list | None = None,
    mode: str = "dataframe",
    block_dir: str | None = None,
) -> DataFrame:
    """Returns DataFrame ``[vertex, labels]`` (reference column name,
    connectivity.py:102-200); ``labels`` = min vertex id in the
    component. Requires an undirected (symmetrized) graph, mirroring
    the reference's check at connectivity.py:185-187.

    ``check_every=k`` runs the changed-count action (the only driver
    round-trip) every k supersteps; intermediate supersteps stay lazy
    and execute inside the next checking superstep's action. A stable
    labeling is a fixpoint of hash-min + pointer-jump, so overshooting
    convergence by up to k−1 supersteps returns identical labels
    (same batching contract as label_propagation's ``check_every``).

    Placement (module docstring): ``mode="dataframe"`` (the default)
    runs the block plan on the driver up to
    ``local_tail.LOCAL_TAIL_EDGES`` edge rows and the Catalyst plan
    above; ``mode="csr"`` runs the block plan in the executors. The
    Catalyst plan is chosen from V and the measured changed-count, with
    no tuning parameter (the reference's WCC has none either):

    - broadcast-state mode while V ≤
      ``strategy.NARROW_STATE_BROADCAST_LIMIT`` (read at call time).
      WCC's label state is 8 bytes/vertex compacted — half of
      PageRank's (long, double) rank state — so its broadcast stays
      cheap to twice the generic cutover; and broadcast mode unlocks
      the dst-partitioned zero-exchange superstep below, which the
      per-superstep-shuffle P×V analysis (BENCH/BASELINE.md round 3)
      shows is what restores N→4N scaling at mid-size V. Above it the
      state joins are shuffle-hash.
    - frontier/delta supersteps (module docstring), whose cost tracks
      the frontier size instead of O(E), once the measured
      changed-count drops to or below ``_frontier_threshold(V)`` (V/8).

    ``superstep_metrics``: pass a list to receive one dict per checking
    action with the MEASURED shuffle read/write byte deltas
    (``plans/metrics.py`` — the instrumented form of the zero-exchange
    claim) plus the superstep's changed-count and mode.

    The block plan (module docstring): same labels as the Catalyst
    plan, on dense-id and dictionary blocks alike; the superstep count
    may differ. Its supersteps run in one barrier job (one per
    checkpoint window), or on the driver in one loop with no job, that
    checks every superstep's changed count, so ``check_every`` has no
    effect; each ``superstep_metrics`` entry has the placement as its
    mode (``"csr"`` in the executors, ``"driver"`` on the driver) and
    the superstep's changed count and seconds, and its shuffle fields
    are 0 when the run's measured shuffle is 0 and None otherwise (a
    job's bytes are not split into supersteps). Checkpoints are
    written from the slices in the Catalyst plan's ``(vertex,
    labels)`` format; every plan resumes the others'. ``block_dir``
    must be shared storage on a multi-node cluster (default: a local
    temp dir, removed on return). A dir holding a pack of THIS graph is
    reused; one packed from another graph or P, a manifest-listed block
    missing or torn at read time, or a missing label slice RAISES."""
    if mode not in ("dataframe", "csr"):
        raise ValueError(f"unknown mode: {mode!r}")
    if G.directed:
        raise ValueError(
            "weakly_connected_components requires an undirected (symmetrized) "
            "graph — construct Graph(..., directed=False)"
        )
    spark = G.edges.sparkSession
    from ..plans.strategy import resolve_partitions

    P = resolve_partitions(num_partitions, G.edges)
    # placement: mode="csr" in the executors; otherwise csr_blocks.size_gate,
    # the driver below the cutover and above it the Catalyst plan, whose
    # edge cache is built from the gate's cache (released once the first
    # check has filled it)
    blocks, own_gate = ((CsrBlocks(G, P, block_dir), False) if mode == "csr"
                        else size_gate(G, weighted=False))
    if blocks is not None:
        return _csr_plan(G, blocks, max_iter, checkpoint, checkpoint_every, resume,
                         superstep_seconds, superstep_metrics)

    # V + id bounds come from ONE memoized job (Graph.vertex_stats —
    # renumber/table metadata on a real deployment); no standalone
    # pre-loop bounds scan (round-2 e2e profile: every driver action
    # before the loop lands in the first checking wall).
    V, lo, hi = G.vertex_stats()

    e = G.edges.select(SRC, DST)
    # Self-loops stay: (v,v) contributes v's own label to min(N(v)),
    # which `least(own, nbr_min)` includes anyway — and keeping them
    # guarantees every vertex of the symmetrized graph appears as DST,
    # so superstep 0 below needs no vertices() distinct.
    #
    # Compact vertex ids to int32 when they fit — the reference's own
    # narrow-id rule (vertex ids are int32 OR int64, chosen by range:
    # simpleGraph.py:253-258, renumber_edgelist_impl.cuh). The WCC
    # superstep is pure streaming (min over ids, no arithmetic), so at
    # high parallelism it is memory-bandwidth-bound; halving the bytes
    # per edge directly raises the superstep throughput ceiling.
    # Output labels are cast back to long (schema unchanged).
    compact = (
        isinstance(lo, int)
        and isinstance(hi, int)
        and lo > -(2**31)
        and hi < 2**31 - 1
    )
    from pyspark.sql.types import IntegerType

    # an actual long→int cast rewrites the id columns, voiding any
    # declared bucket layout; on already-int32 ids (a bucketed table
    # written in final form) the cast simplifies away and the alias
    # propagates the partitioning, so the layout survives
    recast = compact and not isinstance(e.schema[SRC].dataType, IntegerType)
    if compact:
        e = e.select(
            F.col(SRC).cast("int").alias(SRC),
            F.col(DST).cast("int").alias(DST),
        )
    # state is one narrow label column: the narrow-state cutover
    # (rationale and RMAT-23 A/B on the strategy constant)
    blimit = strategy.NARROW_STATE_BROADCAST_LIMIT
    bcast = V <= blimit

    # the edge cache layout per join mode is strategy.narrow_state_edges
    id_t = "int" if compact else "long"
    edges = strategy.narrow_state_edges(G, e, V, P, recast).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    start_iter = 0
    state = None
    if resume and checkpoint is not None and checkpoint.latest_iteration() is not None:
        it0 = checkpoint.latest_iteration()
        saved, meta = checkpoint.load(spark, it0)
        state = (
            saved.select(
                F.col("vertex").cast(id_t).alias("vertex"),
                F.col("labels").cast(id_t).alias("labels"),
            )
            .repartition(P, "vertex")
            .transform(truncate_plan)
        )
        start_iter = meta["iteration"] + 1

    # --- frontier/delta machinery (module docstring) ---------------
    fthr = _frontier_threshold(V)
    last_changed: int | None = None  # measured delta size (checking steps)
    prev_full = None  # (vertex, labels, old) of the last checked superstep

    probe = ShuffleProbe(spark) if superstep_metrics is not None else None

    _t0 = time.perf_counter()
    for it in range(start_iter, max_iter):
        use_frontier = (
            fthr > 0
            and state is not None
            and prev_full is not None
            and last_changed is not None
            and 0 < last_changed <= fthr
        )
        checking = (
            use_frontier or (it + 1) % check_every == 0 or it == max_iter - 1
        )
        if use_frontier:
            # Frontier superstep: only last round's changed vertices
            # announce. Broadcast-probe the persisted edge cache with
            # the delta (|delta| ≤ fthr ≤ 4M rows) — no exchange in any
            # layout; join output, aggregation, and every state-side
            # exchange are frontier-sized (the dense path's
            # co-partitioned shuffle-hash shape is kept, so only the
            # frontier-sized side ever moves).
            delta = prev_full.filter(F.col("labels") != F.col("old")).select(
                "vertex", "labels"
            )
            msgs = edges.join(
                F.broadcast(delta), F.col(SRC) == F.col("vertex")
            ).select(DST, F.col("labels").alias("nbr_min"))
            msgs = msgs.groupBy(DST).agg(F.min("nbr_min").alias("nbr_min"))
            # In broadcast-state mode every frontier-side frame (msgs,
            # ch, jmap — each ≤ V rows, the same budget class as the
            # state broadcast the dense path pays every superstep)
            # broadcasts, so the O(V) state never moves and the whole
            # frontier superstep is exchange-free (measured in
            # superstep_metrics). Above the cutover keep the
            # co-partitioned shuffle-hash shape.
            def _fside(small):
                return F.broadcast(small) if bcast else small.hint("shuffle_hash")

            lowered_f = state.join(
                _fside(msgs), state["vertex"] == msgs[DST], "left"
            ).select(
                state["vertex"],
                F.least(
                    state["labels"], F.coalesce("nbr_min", state["labels"])
                ).alias("labels"),
                state["labels"].alias("old"),
            )
            # Eager checkpoint: the partial jump below reads this frame
            # three times — materialize once instead of re-running the
            # probe plan per read.
            low_cp = truncate_plan(lowered_f, eager=True)
            # Partial pointer jump: only rows changed THIS superstep
            # look up label(label). Skipping unchanged rows loses
            # acceleration, never correctness (hash-min alone
            # converges; jump changes re-enter the delta via old).
            ch = low_cp.filter(F.col("labels") != F.col("old")).select(
                F.col("vertex").alias("cv"), F.col("labels").alias("cl")
            )
            lk = low_cp.select(
                F.col("vertex").alias("lv"), F.col("labels").alias("ll")
            )
            jmap = lk.join(
                _fside(ch), F.col("lv") == F.col("cl")
            ).select(F.col("cv"), F.col("ll").alias("jl"))
            jumped = (
                low_cp.join(
                    _fside(jmap),
                    low_cp["vertex"] == F.col("cv"),
                    "left",
                )
                .select(
                    low_cp["vertex"],
                    F.least(
                        low_cp["labels"], F.coalesce("jl", low_cp["labels"])
                    ).alias("labels"),
                    low_cp["old"],
                )
                .transform(truncate_plan)
            )
        elif state is None:
            # Superstep 0 on the identity labeling collapses to ONE
            # map-side-combinable aggregation: min over {v} ∪ N(v) is
            # least(dst, min(src)) grouped by dst — no initial
            # vertices() distinct, no edges⋈state join. Every vertex
            # appears as DST because the graph is symmetrized and
            # self-loops were kept above. This same action also fills
            # the `edges` persist for the remaining supersteps.
            msgs0 = edges.groupBy(DST).agg(F.min(SRC).alias("nbr_min"))
            lowered = msgs0.select(
                F.col(DST).alias("vertex"),
                F.least(F.col(DST), F.col("nbr_min")).alias("labels"),
                F.col(DST).alias("old"),
            ).transform(truncate_plan)
        else:
            # hash-min over neighbors
            sside = vertex_join_side(state, V, limit=blimit)
            mins = (
                edges.join(sside, edges[SRC] == sside["vertex"])
                .groupBy(DST)
                .agg(F.min("labels").alias("nbr_min"))
            )
            # carry the old label through so the changed-count needs no
            # extra join; checkpoint `lowered` so the pointer-jump
            # self-join reads one materialized RDD instead of
            # recomputing the mins join twice
            lowered = (
                state.join(
                    mins.hint("shuffle_hash"), state["vertex"] == mins[DST], "left"
                )
                .select(
                    state["vertex"],
                    F.least(
                        state["labels"], F.coalesce("nbr_min", state["labels"])
                    ).alias("labels"),
                    state["labels"].alias("old"),
                )
                .transform(truncate_plan)
            )
        if not use_frontier:
            # pointer jump: labels ← labels(labels) — contraction-level
            # analog (the frontier branch did its partial jump above)
            lab = lowered.select(
                F.col("vertex").alias("lv"), F.col("labels").alias("ll")
            )
            labside = vertex_join_side(lab, V, limit=blimit)
            jumped = (
                lowered.join(labside, lowered["labels"] == labside["lv"], "left")
                .select(
                    lowered["vertex"],
                    F.coalesce(labside["ll"], lowered["labels"]).alias("labels"),
                    lowered["old"],
                )
                .transform(truncate_plan)
            )

        if not checking:
            # stay lazy: this superstep executes inside the next
            # checking superstep's action (no measured delta → the next
            # superstep cannot go frontier)
            state = jumped.select("vertex", "labels")
            last_changed = None
            prev_full = None
            continue

        changed = (
            jumped.agg(
                F.sum(
                    F.when(F.col("labels") != F.col("old"), 1).otherwise(0)
                ).alias("c")
            )
            .first()["c"]
        ) or 0  # the sum over no vertex (an empty graph) is NULL
        _step_wall = time.perf_counter() - _t0
        _t0 = time.perf_counter()
        if superstep_seconds is not None:
            # wall of the checking action (covers the k batched lazy
            # supersteps since the previous check); PageRank's
            # zero-action loop has no action and records plan-build
            # time instead
            superstep_seconds.append(_step_wall)
        if probe is not None:
            superstep_metrics.append(
                {
                    "iteration": it,
                    "mode": "frontier" if use_frontier else "dense",
                    "changed": int(changed),
                    "seconds": round(_step_wall, 3),
                    **probe.delta(),
                }
            )
        if own_gate:
            G.edges.unpersist()
            own_gate = False
        state = jumped.select("vertex", "labels")
        prev_full = jumped
        last_changed = int(changed)

        if checkpoint is not None and checkpoint_every and (it + 1) % checkpoint_every == 0:
            state = checkpoint.save(
                state.select("vertex", "labels"), it, {"changed": int(changed)}
            )

        if changed == 0:
            break

    edges.unpersist()
    if own_gate:
        G.edges.unpersist()
    if state is None:  # max_iter == 0: the identity labeling
        state = G.vertices().select(
            F.col("vertex").cast(id_t).alias("vertex"),
            F.col("vertex").cast(id_t).alias("labels"),
        )
    return state.select(
        F.col("vertex").cast("long").alias("vertex"),
        F.col("labels").cast("long").alias("labels"),
    )


def connected_components(G: Graph, connection: str = "weak", **kw) -> DataFrame:
    """Reference ``connected_components`` export
    (components/connectivity.py): dispatch on ``connection`` —
    "weak" → weakly_connected_components, "strong" → SCC."""
    if connection == "weak":
        return weakly_connected_components(G, **kw)
    if connection == "strong":
        from .scc import strongly_connected_components

        return strongly_connected_components(G, **kw)
    raise ValueError(f"unknown connection type: {connection!r}")
