"""Label propagation community detection (synchronous, deterministic).

cuGraph 24.08 ships no standalone LPA (SURVEY.md §2.2.3 gap note — the
community surface is Louvain/Leiden/ECG); this implements the published
algorithm (Raghavan, Albert, Kumara 2007) in its synchronous variant
with deterministic tie-breaking so results are exactly reproducible:

- init: ``label(v) = v``;
- superstep: ``label(v) ← argmax_label Σ incident weight`` over v's
  neighbors, ties broken by the smallest label id;
- stop when no label changes or ``max_iter``.

It reuses the PageRank gather-scatter skeleton: messages =
``(dst, label(src), weight)``; reduce = ``groupBy(dst, label).sum(w)``
then a single ``max(struct(weight, -label))`` aggregate — both stages
map-side combinable, no window sort, hub-skew-safe (a hot dst key
partial-aggregates before the shuffle; AQE splits residual skew).

Scale notes: O(E) edges partitioned on ``src`` once + persisted; each
superstep shuffles O(E) messages pre-combined map-side to
O(distinct (dst,label)); one changed-count action per ``check_every``
supersteps (the supersteps in between are lazy plan executing inside
the next check's job — overshooting the fixpoint is a no-op, so any
``check_every`` returns identical labels).

Frontier/delta supersteps: the argmax needs ALL of a vertex's incident
contributions, so LPA cannot delta-message like WCC's monotone
hash-min — instead it recomputes the argmax EXACTLY, but only for
*affected* vertices (those with ≥1 neighbor whose label changed last
superstep). Unaffected vertices see identical scores, hence identical
argmax, hence identical labels — the frontier superstep is
row-for-row equal to the dense synchronous update. Once the measured
changed-count drops below ``frontier_threshold``, a superstep
broadcast-probes the persisted edge cache twice (no pre-grouped
adjacency build — its one-time O(E) shuffle would wash out the gain on
low-diameter graphs; same reasoning as wcc.py): delta → affected dsts
(probe on src), then affected → their full in-edge rows (probe on
dst). The affected set's size is MEASURED (one cheap count action)
before it is broadcast — above the broadcast budget the superstep
falls back to dense, so no unbounded frame is ever broadcast. The
scores/argmax aggregations then run over frontier-incident edges
instead of all E, and the restricted-edges⋈state label join keeps the
dense path's broadcast/shuffle-hash strategy (only the frontier-sized
side exchanges).

There is no packed-CSR mode (``plans/csr_blocks.py``): the argmax
needs every (dst, label) weight sum, which has no compact per-dst
accumulator, and the per-block factorize+bincount variant measured
205.0s vs the dataframe plan's 76.1s at RMAT-23 (round 5), so it was
deleted.
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, WGT, Graph
from ..plans.checkpoint import CheckpointManager
from ..plans.strategy import (
    DST_PARTITION_MIN_V,
    NARROW_STATE_BROADCAST_LIMIT,
    vertex_join_side,
)

# Frontier-superstep safety guard (measured in one action before the
# plan is committed — module docstring): |affected| must stay
# broadcast-small and Σ degree(affected) — the exact row count of the
# in-edge fetch — must stay well under E (a 400k-vertex frontier on
# RMAT-23 reaches ~all of E through the hubs; measured OOM in the
# round-4 A/B before this guard). Module-level so tests can force the
# frontier path on small fixtures.
_FRONTIER_AFF_CAP = 4_000_000
_FRONTIER_CAND_CAP = 32_000_000
_FRONTIER_CAND_FRAC_DEN = 8  # n_cand must be < n_edges / this


def label_propagation(
    G: Graph,
    max_iter: int = 20,
    num_partitions: int | str | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    check_every: int = 1,
    broadcast_limit: int | None = None,
    frontier_threshold: int | None = None,
    superstep_metrics: list | None = None,
    detect_cycle: bool = True,
    tie_break: str = "min",
) -> DataFrame:
    """Returns DataFrame ``[vertex, labels]``. Requires an undirected
    (symmetrized) graph — incident weight means both directions.

    ``check_every=k`` runs the changed-count action (the only driver
    round trip in the loop) every k supersteps instead of every one;
    the k-1 supersteps in between are pure lazy plan executing inside
    the next check's job. Results are IDENTICAL for any k: a stable
    labeling is a fixpoint of the synchronous argmax update, so
    supersteps past convergence are no-ops — the only trade is up to
    k-1 wasted (no-op) supersteps when the graph converges mid-chain.
    Use k = max_iter for fixed-budget runs (zero intermediate actions;
    k-superstep chains stay linear in Catalyst because truncate_plan
    cuts each superstep's lineage lazily).

    ``frontier_threshold``: changed-count at or below which supersteps
    switch to affected-set recomputation (module docstring) — identical
    labels per iteration; join output, aggregations, and exchanges
    shrink to frontier-incident size (the probe-only edge scan is the
    remaining fixed cost). Default auto =
    ``max(1, min(V // 64, 4_000_000))`` (rationale on the constant);
    ``0`` disables (every superstep dense).

    ``superstep_metrics``: pass a list to receive one dict per checking
    action with the MEASURED shuffle read/write byte deltas
    (``plans/metrics.py``), the changed-count, and the mode.

    **Oscillation / termination.** The synchronous update famously
    2-cycles on bipartite-ish structures (a 4-cycle under the min-tie
    rule flips labels forever), so runs can plateau at a nonzero
    changed-count and burn every remaining superstep re-deciding the
    same vertices (measured: 2,887 vertices from iteration ~5 onward at
    RMAT-23, round-4 A/B). With ``detect_cycle=True`` (default) each
    checking action ALSO compares the labels to those of two supersteps
    ago — fused into the same aggregate, zero extra actions — and on a
    detected period-2 cycle stops early, returning the labels the full
    ``max_iter`` run would have produced: the state sequence is
    periodic from the detection point, so the terminal labels are the
    current frame when the remaining superstep count is even, the
    previous frame when odd. Results are therefore BIT-IDENTICAL to
    ``detect_cycle=False`` for every ``max_iter`` (property-tested);
    only the wall changes. Note the semantics wart this preserves
    honestly: an oscillating vertex's terminal label depends on
    ``max_iter`` PARITY — deterministic but arbitrary. Detection needs
    two consecutive checked supersteps, so ``check_every>1`` batches
    disable it for the batched stretch.

    ``tie_break="hold"`` (opt-in; default ``"min"`` is the gated
    reference semantics): a vertex whose current label is among the
    max-weight candidates KEEPS it; otherwise the smallest max-weight
    label wins. The literature's standard oscillation damper — a
    2-cycle requires a strictly-better foreign label, so bipartite
    flip-flop dies out. Changes which labeling converges, hence
    opt-in."""
    if tie_break not in ("min", "hold"):
        raise ValueError(f"unknown tie_break: {tie_break!r}")
    if G.directed:
        raise ValueError(
            "label_propagation requires an undirected (symmetrized) graph"
        )
    spark = G.edges.sparkSession
    from ..plans.strategy import resolve_partitions

    P = resolve_partitions(num_partitions, G.edges)

    # LPA's state is one narrow label column (8 bytes/vertex), and the
    # zero-exchange dst layout removes BOTH per-superstep aggregation
    # exchanges, so it shares the measured narrow-state cutover (RMAT-23
    # A/B on the strategy constant: 91.1s shuffle-hash vs 62.4s here).
    V = G.number_of_vertices()
    blimit = (
        NARROW_STATE_BROADCAST_LIMIT if broadcast_limit is None else broadcast_limit
    )
    bcast = V <= blimit

    # Edge layout per join mode — same analysis as WCC's (operators/
    # wcc.py): shuffle-hash mode co-locates the per-superstep join on
    # SRC; broadcast mode with large V partitions by DST instead so
    # BOTH superstep aggregations (groupBy(dst,cand) and the argmax
    # groupBy(dst) — hashpartitioning(dst) satisfies either's clustered
    # distribution) and the state⋈best join run exchange-free; small V
    # scans the cache in place.
    e = G.edges.select(SRC, DST, WGT)
    if not bcast:
        if not G.partitioned_on(SRC):  # select preserves a bucketed layout
            e = e.repartition(P, SRC)
    elif V >= DST_PARTITION_MIN_V and not G.partitioned_on(DST):
        e = e.repartition(P, DST)
    edges = e.persist(StorageLevel.MEMORY_AND_DISK)

    start_iter = 0
    state = None
    if resume and checkpoint is not None and checkpoint.latest_iteration() is not None:
        it0 = checkpoint.latest_iteration()
        saved, meta = checkpoint.load(spark, it0)
        state = saved.repartition(P, "vertex").transform(truncate_plan)
        start_iter = meta["iteration"] + 1

    # --- frontier/delta machinery (module docstring) ---------------
    # Auto threshold V/64 (vs WCC's V/8): LPA's frontier cost is the
    # 2-hop term Σ degree(affected), so a delta the V/8 gate admits can
    # still reach ~all of E through hubs — the measured n_cand guard
    # below catches that, but each miss costs a wasted measuring
    # action (~a dense superstep at RMAT-23; round-4 A/B iteration 3).
    # V/64 skips the measure for obviously-too-big deltas.
    fthr = (
        max(1, min(V // 64, 4_000_000))
        if frontier_threshold is None
        else int(frontier_threshold)
    )
    last_changed: int | None = None
    prev_full = None  # (vertex, labels, old) of the last checked superstep
    deg = None  # lazily-built in-degree frame for the frontier guard
    n_edges = 0

    probe = None
    if superstep_metrics is not None:
        from ..plans.metrics import ShuffleProbe

        probe = ShuffleProbe(spark)

    import time as _time

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
        # (dst, label(src), w) → Σw per (dst,label) → argmax by (w, -label)
        if use_frontier:
            # Affected set: every vertex with ≥1 changed neighbor
            # (broadcast-delta probe on src — no exchange, output
            # frontier-sized). ONE measuring action gates the plan on
            # BOTH terms that could blow it up: |affected| (it gets
            # broadcast back) and Σ degree(affected) — the exact row
            # count of the in-edge fetch below, whose shuffle-hash
            # build dies on ~E-sized inputs (a frontier of 400k
            # vertices on RMAT-23 reaches ~all of E through the hubs;
            # measured OOM in the round-4 A/B before this guard).
            # Above either budget the superstep falls back to dense.
            if deg is None:
                deg = (
                    edges.groupBy(DST)
                    .agg(F.count("*").alias("cnt"))
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                n_edges = edges.count()
            delta = prev_full.filter(F.col("labels") != F.col("old")).select(
                F.col("vertex").alias("dv")
            )
            aff = (
                edges.join(F.broadcast(delta), F.col(SRC) == F.col("dv"))
                .select(F.col(DST).alias("av"))
                .distinct()
                .transform(truncate_plan)
            )
            stats = aff.join(deg, aff["av"] == deg[DST]).agg(
                F.count("*").alias("n_aff"), F.sum("cnt").alias("n_cand")
            ).first()
            n_aff = int(stats["n_aff"] or 0)
            n_cand = int(stats["n_cand"] or 0)
            if n_aff > _FRONTIER_AFF_CAP or n_cand > min(
                n_edges // _FRONTIER_CAND_FRAC_DEN, _FRONTIER_CAND_CAP
            ):
                use_frontier = False
        if use_frontier:
            # Full in-edge rows of the affected vertices only — the
            # argmax input is exact for them, absent for everyone else.
            cand_e = edges.join(F.broadcast(aff), F.col(DST) == F.col("av")).select(
                F.col(DST).alias("a"), F.col(SRC).alias("u"), F.col(WGT).alias("w")
            )
            lab = state.select(
                F.col("vertex").alias("u2"), F.col("labels").alias("cand")
            )
            # label lookup for the frontier-incident srcs only: STREAM
            # the state (it stays partitioned on vertex — zero
            # exchange) and shuffle-hash-build over the frontier-sized
            # cand_e side. The dense path's per-superstep O(V) state
            # broadcast is exactly the cost this avoids — at RMAT-23
            # it dominated the frontier superstep wall (round-4 A/B).
            scores = (
                lab.join(cand_e.hint("shuffle_hash"), F.col("u2") == F.col("u"))
                .select(F.col("a").alias(DST), "cand", "w")
                .groupBy(F.col(DST), F.col("cand"))
                .agg(F.sum("w").alias("w"))
            )
        elif state is None:
            # superstep 0 on the identity labeling: label(src) IS src,
            # so the edges⋈state join vanishes — scores come straight
            # off the edge cache (map-side combinable), and because the
            # graph is symmetrized every vertex appears as dst, so no
            # initial vertices() distinct is needed either. Semantics
            # identical to the join path (own label only matters when a
            # vertex has no in-edges, impossible here).
            scores = edges.groupBy(
                F.col(DST), F.col(SRC).alias("cand")
            ).agg(F.sum(WGT).alias("w"))
        else:
            sside = vertex_join_side(state, V, limit=blimit)
            scores = (
                edges.join(sside, edges[SRC] == sside["vertex"])
                .groupBy(F.col(DST), F.col("labels").alias("cand"))
                .agg(F.sum(WGT).alias("w"))
            )
        if tie_break == "hold":
            # damped variant: prefer the vertex's CURRENT label among
            # max-weight candidates (pref=1 sorts above pref=0 in the
            # struct max), else smallest max-weight label
            if state is None:
                scored = scores.withColumn(
                    "pref",
                    F.when(F.col("cand") == F.col(DST), 1).otherwise(0),
                )
            else:
                curside = vertex_join_side(
                    state.select(
                        F.col("vertex").alias("cv"),
                        F.col("labels").alias("cur"),
                    ),
                    V,
                    limit=blimit,
                )
                scored = scores.join(
                    curside, scores[DST] == F.col("cv"), "left"
                ).withColumn(
                    "pref",
                    F.when(F.col("cand") == F.col("cur"), 1).otherwise(0),
                )
            best = scored.groupBy(DST).agg(
                F.max(
                    F.struct(
                        F.col("w"), F.col("pref"), (-F.col("cand")).alias("neg")
                    )
                ).alias("m")
            ).select(F.col(DST), (-F.col("m.neg")).alias("new_label"))
        else:
            best = scores.groupBy(DST).agg(
                F.max(F.struct(F.col("w"), (-F.col("cand")).alias("neg"))).alias("m")
            ).select(F.col(DST), (-F.col("m.neg")).alias("new_label"))

        # old label carried through → changed-count without a second
        # join; when the previous superstep was checked, the label of
        # TWO supersteps ago rides along as old2 so the period-2-cycle
        # test below fuses into the same action
        if state is None:
            new_full = best.select(
                F.col(DST).alias("vertex"),
                F.col("new_label").alias("labels"),
                F.col(DST).alias("old"),
            ).transform(truncate_plan)
        else:
            base = prev_full if prev_full is not None else state
            sel = [
                base["vertex"],
                F.coalesce("new_label", base["labels"]).alias("labels"),
                base["labels"].alias("old"),
            ]
            if prev_full is not None:
                sel.append(base["old"].alias("old2"))
            new_full = (
                base.join(
                    # frontier supersteps in broadcast-state mode
                    # broadcast the (affected-sized, ≤ V rows — the
                    # dense path's own state-broadcast budget) update so
                    # the O(V) state never moves; otherwise the
                    # co-partitioned shuffle-hash shape
                    F.broadcast(best)
                    if (use_frontier and bcast)
                    else best.hint("shuffle_hash"),
                    base["vertex"] == best[DST],
                    "left",
                )
                .select(*sel)
                .transform(truncate_plan)
            )

        if not checking:
            # stay lazy: this superstep executes inside the next
            # checking superstep's action (a stable labeling is a
            # fixpoint, so overshooting convergence cannot change it).
            # No measured delta → the next superstep cannot go frontier.
            state = new_full.select("vertex", "labels")
            last_changed = None
            prev_full = None
            continue

        have_old2 = detect_cycle and "old2" in new_full.columns
        aggs = [
            F.sum(
                F.when(F.col("labels") != F.col("old"), 1).otherwise(0)
            ).alias("c")
        ]
        if have_old2:
            aggs.append(
                F.sum(
                    F.when(F.col("labels") != F.col("old2"), 1).otherwise(0)
                ).alias("c2")
            )
        row = new_full.agg(*aggs).first()
        changed = row["c"]
        # exact period-2 cycle: this frame equals the one from two
        # supersteps ago on EVERY row; the synchronous update is a
        # deterministic state function, so the sequence is provably
        # periodic from here — no further superstep can produce a new
        # labeling
        cycle = bool(have_old2 and changed and row["c2"] == 0)
        if probe is not None:
            superstep_metrics.append(
                {
                    "iteration": it,
                    "mode": "frontier" if use_frontier else "dense",
                    "changed": int(changed),
                    "cycle_detected": cycle,
                    "seconds": round(_time.perf_counter() - _t0, 3),
                    **probe.delta(),
                }
            )
        _t0 = _time.perf_counter()
        state = new_full.select("vertex", "labels")
        prev_full = new_full
        last_changed = int(changed)

        if checkpoint is not None and checkpoint_every and (it + 1) % checkpoint_every == 0:
            state = checkpoint.save(
                state.select("vertex", "labels"), it, {"changed": int(changed)}
            )
            # the saved frame has fresh lineage; old2 threading would
            # bypass it, so detection skips the next superstep
            prev_full = None

        if changed == 0:
            break
        if cycle:
            # return exactly what max_iter supersteps would have: the
            # state is 2-periodic from here, so the terminal frame is
            # this one when the remaining superstep count is even, the
            # previous one when odd (max_iter-parity semantics of
            # oscillating vertices — see docstring)
            if (max_iter - (it + 1)) % 2 == 1:
                state = new_full.select(
                    "vertex", F.col("old").alias("labels")
                )
            break

    edges.unpersist()
    if deg is not None:
        deg.unpersist()
    if state is None:  # max_iter == 0: the identity labeling
        state = G.vertices().withColumn("labels", F.col("vertex"))
    return state.select("vertex", "labels")
