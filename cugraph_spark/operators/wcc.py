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
fixpoint test. When the measured delta drops below
``frontier_threshold`` the superstep switches to: probe the persisted
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

``mode="csr"`` (round 5 — the reference's resident-CSR architecture,
``graphs.pyx:52-224``, extended from round 4's csr PageRank): edges
pack ONCE into per-pid mmap CSR blocks (``plans/csr_blocks.py``), and
every superstep runs the hash-min as a per-block ``np.minimum.at``
(measured 200M edges/s/core) with only the O(V) label vector crossing
the Arrow boundary. Frontier supersteps route the delta to its own
block and gather only frontier-adjacent edges through the indptr — no
O(E) probe scan, so the frontier threshold is V/2 instead of the
dataframe mode's V/8. (A per-block announce cache suppressing
re-emitted minima was built and A/B-rejected in round 5: the hi-sized
per-superstep array writes cost more than the suppressed partials
saved — BENCH/BASELINE.md round-5 notes.)

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

import contextlib

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph
from ..plans.checkpoint import CheckpointManager
from ..plans.strategy import vertex_join_side

# WCC's broadcast-state cutover: its state is one narrow label column,
# so it shares the measured NARROW_STATE_BROADCAST_LIMIT (rationale and
# RMAT-23 A/B on the strategy constant). Kept under the WCC-specific
# name for the tests/back-compat.
from ..plans.strategy import NARROW_STATE_BROADCAST_LIMIT as WCC_BROADCAST_VERTEX_LIMIT

# re-exported for the tests; rationale lives on the strategy constant
from ..plans.strategy import DST_PARTITION_MIN_V as _DST_PARTITION_MIN_V  # noqa: E402


def _min_by_dst(blk, dst_index, vals, bound: bool):
    """Reduce per-edge ``vals`` into the block's ``n_dst`` slots with ONE
    ``np.minimum.at`` (measured 200M edges/s/core on numpy 1.26 — ~10×
    the JVM join+agg stream it replaces) and emit only TOUCHED slots, so
    the ``iinfo.max`` init value never leaves the block. ``bound=True``
    also drops minima that cannot lower a label: ``label(v) ≤ v`` always
    (init v, min-monotone), so a partial with ``nbr_min ≥ dst`` is
    provably useless."""
    none = np.iinfo(blk.id_dtype).max
    out = np.full(blk.n_dst, none, blk.id_dtype)
    np.minimum.at(out, dst_index, vals.astype(blk.id_dtype, copy=False))
    touched = np.flatnonzero(out != none)
    dsts, mins = blk.dst_ids(touched), out[touched]
    if bound:
        keep = mins < dsts
        dsts, mins = dsts[keep], mins[keep]
    return {"dst": dsts, "nbr_min": mins}


def _csr_min(identity: bool):
    """Per-block dense hash-min superstep: expand the label slice to
    per-edge with ``np.repeat`` over the indptr, then one min reduce.
    ``identity=True`` is superstep 0 (labels(v) = v ⇒ the slice never
    ships) and emits UNFILTERED so the first state frame covers every
    vertex."""

    def kernel(blk, labels):
        lab_src = blk.su if identity else labels
        return _min_by_dst(
            blk, blk.dst_index, np.repeat(lab_src, blk.deg), bound=not identity
        )

    return kernel


def _csr_min_frontier(value: str, bound: bool):
    """Per-block FRONTIER min superstep over a pid's ``[vertex, value]``
    slice (pid = hash(v) is both the state and the edge key):
    ``searchsorted`` finds each frontier vertex's src slot and the
    indptr slices gather ONLY frontier-adjacent edges — the reference's
    frontier-prims contract (``transform_reduce_v_frontier_outgoing_e_
    by_dst.cuh`` touches only frontier edges). Cost per superstep:
    O(|Δ| log |su| + Σ deg(Δ)) — no O(E) probe scan (the dataframe
    frontier mode's floor, VERDICT r4 'What's missing' #3). WCC sends
    labels with ``bound=True``; csr BFS sends the vertex itself as a
    min-id PREDECESSOR, which may exceed dst, so ``bound=False``."""

    def kernel(blk, pdf):
        dv = pdf["vertex"].to_numpy()
        dl = pdf[value].to_numpy()
        pos = np.searchsorted(blk.su, dv)
        ok = pos < len(blk.su)
        ok[ok] = blk.su[pos[ok]] == dv[ok]  # frontier vertex may have no edges here
        pos, dl = pos[ok], dl[ok]
        starts = blk.indptr[pos]
        lens = blk.indptr[pos + 1] - starts
        # multi-range gather of the frontier-adjacent edge offsets; the
        # mmap'd dst_index is fancy-indexed directly, so only the touched
        # pages are read
        offs = np.arange(lens.sum()) + np.repeat(starts - (np.cumsum(lens) - lens), lens)
        return _min_by_dst(blk, blk.dst_index[offs], np.repeat(dl, lens), bound)

    return kernel


def weakly_connected_components(
    G: Graph,
    max_iter: int = 100,
    num_partitions: int | str | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    check_every: int = 1,
    superstep_seconds: list | None = None,
    min_iter: int = 0,
    broadcast_limit: int | None = None,
    frontier_threshold: int | None = None,
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

    ``min_iter=k`` keeps iterating through at least k supersteps even
    after the labeling stabilizes (a stable labeling is a fixpoint, so
    the extra supersteps run the identical O(E) plan and return
    identical labels). Used by the scaling bench to collect
    steady-state per-superstep walls on low-diameter graphs that
    converge in 2-3 rounds.

    ``broadcast_limit``: max V for the broadcast-state mode (default
    ``WCC_BROADCAST_VERTEX_LIMIT``). WCC's label state is 8 bytes/vertex
    compacted — half of PageRank's (long, double) rank state — so its
    broadcast stays cheap to twice the generic cutover; and broadcast
    mode unlocks the dst-partitioned zero-exchange superstep below,
    which the per-superstep-shuffle P×V analysis (BENCH/BASELINE.md
    round 3) shows is what restores N→4N scaling at mid-size V.

    ``frontier_threshold``: once the measured changed-count drops to or
    below this, supersteps switch to frontier/delta messaging (module
    docstring) whose cost tracks the frontier size instead of O(E).
    Default auto = ``max(1, min(V // 8, 4_000_000))`` (the broadcast
    delta must stay executor-memory-small; below ~V/8 changed vertices
    the frontier plan's probe-only scan beats the dense plan's full
    join+aggregation — A/B on RMAT in BENCH/BASELINE.md round 4). ``0`` disables
    frontier mode entirely (every superstep dense — the round-3 plan).

    ``superstep_metrics``: pass a list to receive one dict per checking
    action with the MEASURED shuffle read/write byte deltas
    (``plans/metrics.py`` — the instrumented form of the zero-exchange
    claim) plus the superstep's changed-count and mode.

    ``mode="csr"``: the block store (``plans/csr_blocks.py:CsrBlocks``
    — the reference's resident-CSR architecture, ``graphs.pyx:52-224``)
    packs the edges ONCE into per-pid mmap CSR blocks, and every
    hash-min superstep runs as a per-block ``np.minimum.at`` with only
    the O(V) label vector crossing the Arrow boundary; frontier
    supersteps become true frontier-sized indptr lookups instead of the
    dataframe mode's O(E) probe scan. Same labels, iteration-for-
    iteration (all arithmetic is exact integer min), on dense-id and
    dictionary blocks alike. ``block_dir`` must be shared storage on a
    multi-node cluster; default a fresh local temp dir (correct for
    local mode), cleaned up on return. A dir holding a pack of THIS
    graph is reused; one packed from another graph or P, or a
    manifest-listed block missing or torn at read time, RAISES — never
    a silent zero contribution."""
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
    blimit = WCC_BROADCAST_VERTEX_LIMIT if broadcast_limit is None else broadcast_limit
    bcast = V <= blimit

    # Edge-side layout per join mode (the repartition, when any, and the
    # persist both materialize lazily inside the first superstep's
    # action — zero standalone jobs):
    #
    # - shuffle-hash mode (V above the broadcast cutover): hash-partition
    #   by SRC so the per-superstep edges⋈state join never re-exchanges
    #   the O(E) side; only the O(V) state moves. The groupBy(dst)
    #   message aggregation still exchanges up to min(E, P·V) partially-
    #   combined rows per superstep — at mid-size V that term is ≈E and
    #   GROWS with P, which is exactly what capped the measured N→4N
    #   e2e efficiency at 0.39-0.48 in round 2.
    # - broadcast mode with large V: hash-partition by DST instead. The
    #   state side broadcasts (src co-location buys nothing), and a
    #   dst-partitioned edge cache makes BOTH per-superstep exchanges
    #   vanish: groupBy(dst) runs partition-local (the cache's
    #   hashpartitioning(dst) satisfies the agg's distribution), and the
    #   state⋈mins join is co-partitioned (vertex and dst share the hash
    #   lineage). Per superstep the only data movement is the O(V) state
    #   broadcast. Costs one up-front O(E) shuffle — the same bytes ONE
    #   superstep's aggregation exchange would have moved, so it pays
    #   for itself by superstep 2.
    # - broadcast mode with small V (< ~1M): scan the cache in place;
    #   map-side combine already collapses the aggregation exchange to
    #   ~P·V rows, which is tiny, and the up-front shuffle would cost
    #   more than it saves.
    id_t = "int" if compact else "long"
    edges = None
    if mode == "csr":
        # The block store packs (or validates and reuses) per-pid CSR
        # blocks ONCE (one Spark job); no edge-frame persist —
        # supersteps never touch the edge frame again. The layout
        # analysis above is moot: the only per-superstep data movement
        # is the O(V) state routed by the same hash(·)%P the packer
        # used, plus the frontier-or-partial-sized messages. The pack
        # hashes the graph's ORIGINAL id dtype (Murmur3 of int vs long
        # differ for equal values), so routing stays aligned with any
        # upstream long-typed layout. It always shuffles into its
        # groups: a no-shuffle mapInPandas pack of pre-partitioned
        # edges A/B'd 2× SLOWER at RMAT-23 (50s vs 24s — the per-batch
        # pandas concat of a streamed partition costs more than the
        # shuffle's one fused Arrow stream) and was deleted.
        from ..plans.csr_blocks import CsrBlocks

        store = CsrBlocks(G, P, block_dir)
    else:
        if not bcast and (not G.partitioned_on(SRC) or recast):
            e = e.repartition(P, SRC)
        elif bcast and V >= _DST_PARTITION_MIN_V and (
            not G.partitioned_on(DST) or recast
        ):
            e = e.repartition(P, DST)
        edges = e.persist(StorageLevel.MEMORY_AND_DISK)
        store = contextlib.nullcontext()

    # every loop path ends in a checking action, so the terminal state
    # RDD is materialized before the store removes its blocks on exit
    with store as blocks:
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

        import time as _time

        # --- frontier/delta machinery (module docstring) ---------------
        if frontier_threshold is not None:
            fthr = int(frontier_threshold)
        elif mode == "csr":
            # csr frontier supersteps cost O(|Δ| + Σ deg(Δ)) — no O(E)
            # probe floor and no delta broadcast (the delta ROUTES to its
            # block via the pid shuffle), so the switch pays off much
            # earlier than the dataframe mode's V/8 and has no
            # executor-memory hazard; worst case ≈ one dense block pass.
            fthr = max(1, min(V // 2, 32_000_000))
        else:
            fthr = max(1, min(V // 8, 4_000_000))
        last_changed: int | None = None  # measured delta size (checking steps)
        prev_full = None  # (vertex, labels, old) of the last checked superstep

        probe = None
        if superstep_metrics is not None:
            from ..plans.metrics import ShuffleProbe

            probe = ShuffleProbe(spark)

        _t0 = _time.perf_counter()
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
                if blocks is not None:
                    # route each frontier vertex to ITS OWN block (pid =
                    # hash(v) keys both the state and the edges), gather
                    # only frontier-adjacent edges via indptr slices — no
                    # O(E) probe scan, no broadcast of the delta
                    msgs = blocks.map_blocks(
                        _csr_min_frontier("labels", bound=True),
                        f"dst {id_t}, nbr_min {id_t}",
                        delta,
                    )
                else:
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
                # csr: the identity labels never ship (labels(su) IS su) —
                # one task per manifest pid emits the unfiltered per-block
                # partials so the first state frame covers every vertex.
                if blocks is not None:
                    msgs0 = (
                        blocks.map_blocks(
                            _csr_min(identity=True), f"dst {id_t}, nbr_min {id_t}"
                        )
                        .groupBy(DST)
                        .agg(F.min("nbr_min").alias("nbr_min"))
                    )
                else:
                    msgs0 = edges.groupBy(DST).agg(F.min(SRC).alias("nbr_min"))
                lowered = msgs0.select(
                    F.col(DST).alias("vertex"),
                    F.least(F.col(DST), F.col("nbr_min")).alias("labels"),
                    F.col(DST).alias("old"),
                ).transform(truncate_plan)
            else:
                # hash-min over neighbors — csr: only the O(V) label vector
                # crosses Arrow (routed by the packer's hash(·)%P); the
                # per-block np.minimum.at replaces the edges⋈state join +
                # JVM aggregation stream (measured A/B in BENCH/BASELINE.md
                # round 5)
                if blocks is not None:
                    mins = (
                        blocks.map_blocks(
                            _csr_min(identity=False),
                            f"dst {id_t}, nbr_min {id_t}",
                            state,
                            value="labels",
                        )
                        .groupBy(DST)
                        .agg(F.min("nbr_min").alias("nbr_min"))
                    )
                else:
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
            )
            _step_wall = _time.perf_counter() - _t0
            _t0 = _time.perf_counter()
            if superstep_seconds is not None:
                # wall of the checking action (covers the k batched lazy
                # supersteps since the previous check) — same contract as
                # pagerank's chained-mode superstep_seconds
                superstep_seconds.append(_step_wall)
            if probe is not None:
                mtag = "frontier" if use_frontier else "dense"
                if mode == "csr":
                    mtag = "csr-" + mtag
                superstep_metrics.append(
                    {
                        "iteration": it,
                        "mode": mtag,
                        "changed": int(changed),
                        "seconds": round(_step_wall, 3),
                        **probe.delta(),
                    }
                )
            state = jumped.select("vertex", "labels")
            prev_full = jumped
            last_changed = int(changed)

            if checkpoint is not None and checkpoint_every and (it + 1) % checkpoint_every == 0:
                state = checkpoint.save(
                    state.select("vertex", "labels"), it, {"changed": int(changed)}
                )

            if changed == 0 and (it + 1) >= min_iter:
                break

    if edges is not None:
        edges.unpersist()
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
