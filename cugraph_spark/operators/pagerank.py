"""PageRank — pull-model power iteration with exact reference semantics.

Recreates ``cugraph.pagerank`` (python API ``link_analysis/pagerank.py:83-94``,
numeric semantics ``cpp/src/link_analysis/pagerank_impl.cuh`` and the golden
host reference ``cpp/tests/link_analysis/pagerank_test.cpp:44-132``):

1. init ranks = 1/V (or user ``nstart`` normalized by its sum);
2. out-weight sums per vertex (unweighted → out-degree);
3. per iteration:
   - dangling_sum = Σ ranks of vertices with out_weight_sum == 0;
   - divide rank by out_weight_sum (dangling divisor → 1.0);
   - pull SpMV: new_rank(v) = unvarying + α·Σ_{u→v} rank'(u)·w(u,v),
     unvarying = (dangling_sum·α + (1−α))/V without personalization else 0;
   - personalization adds (dangling_sum·α + (1−α))·value(v)/Σvalues;
   - stop when L1 = Σ|new−old| < tol, else until max_iter →
     FailedToConvergeError (pagerank_impl.cuh:321-334,411).

Two plan bodies, same semantics (validated equal in tests), picked by
size alone: ``mode="csr"`` runs the block plan in the executors;
``mode="dataframe"`` (the default) runs the block plan on the driver
when the edge frame has at most ``local_tail.LOCAL_TAIL_EDGES`` rows
(150k), and the Catalyst plan otherwise. The size gate is the block
store's placement rule (``csr_blocks.size_gate``, which WCC runs too):
a ``count()`` of the edge frame as it comes, persisted; the driver
placement collects from it with no repartition shuffle, and the
Catalyst plan builds its src-partitioned copy from it and drops it once
that copy is filled, so the O(E) upstream (e.g. the constructor's dedup
shuffle) runs once whichever plan follows. No parameter selects the
plan; tests force the Catalyst plan by setting the cutover to 0.
``num_partitions`` and ``block_dir`` shape only the Spark runs.

- The block plan (``_pull_plan``): the reference's loop shape — the
  superstep loop over a transposed (CSC, ``store_transposed``) graph
  with only a scalar all-reduce between supersteps. The rank vector
  lives in per-pid slices in the csr superstep skeleton
  (``csr_blocks.VertexSlices``); this module supplies only the numbers.
  ``_init``: ONE setup pass (routing the side inputs by pid) writes each
  pid's out-weights (summed from its src-keyed block unless given),
  first ranks, ``x = rank/ows`` and personalization. ``_update``: each
  superstep is ONE pass over the pids with no exchange; each task reads
  every pid's ``x`` slice into one O(V) vector, sums its own vertices'
  in-edges with the pull kernel, and returns its next rank and x and
  one ``(l1, dangling)`` row; ``_fold`` adds the rows up in pid order
  and stops at ``l1 < tol``. The block store is the placement, the
  reference compiling one ``*_impl.cuh`` for one GPU or many:
  - executors (``csr_blocks.CsrBlocks``): P pids; the setup is one
    Spark job, and the supersteps ONE barrier job (one per checkpoint
    window) whose tasks fold every superstep's rows themselves and, in
    the last window, read the result. Over packed or reused per-pid
    blocks and their dst-keyed view
    (a directed graph's ``T/`` sub-store, packed once). Each task reads
    O(V) state per superstep (P·V bytes over shared storage on a
    cluster, where ``block_dir`` must be a shared filesystem); a
    manifest-listed block or a state slice missing at read time RAISES
    — never a silent zero contribution;
  - driver (``csr_blocks.DriverBlocks``): the gate's one collect becomes
    one pid's two in-memory blocks and every pass is a plain call, where
    a Catalyst superstep costs ~6 Spark jobs and 0.5-1.2 s of driver
    time whatever E is (82 jobs for 14 supersteps on a 6.7k-edge code
    graph). V is the collected ids' count: no ``vertex_stats`` job.
  Ranks match the Catalyst plan's to 1e-12 (the tests' tolerance: the
  kernel sums in segment order, not Spark's partial-aggregation order),
  with the same superstep count (one ``superstep_seconds`` entry each),
  output schema and checkpoints (columns, iterations, meta keys), so a
  run checkpointed by one plan resumes on another. A resumed checkpoint
  lacking a vertex of the graph raises an error naming it, on every
  plan.
- The Catalyst plan (``mode="dataframe"`` above the cutover): edges
  are hash-partitioned on ``src`` ONCE and persisted; each superstep
  joins the O(V) rank vector against them (only the small side
  re-shuffles — exchange reuse keeps the O(E) side in place), then
  ``groupBy(dst).sum`` with map-side partial aggregation (Spark's
  analog of the reference's ``reduce_op::plus`` shuffle combine).

Every plan checks the per-vertex side inputs the same way
(``_side_input``): one aggregate on the Catalyst plan and in the
executors, and on the driver a pandas check of the rows its setup
collects anyway.

Scale notes: one Spark action per convergence-checked superstep on
the Catalyst plan (the L1-diff + next-dangling reduce is the
``host_scalar_allreduce`` analog, pagerank_impl.cuh:321-330); a
fixed-iteration dataframe run (tol=0, no checkpoint) runs none, and
the csr plan folds that reduce inside its one barrier job. State checkpoints
to parquet/Iceberg every ``checkpoint_every`` supersteps for exact
resume + lineage truncation.
Hub skew on ``dst`` is handled by map-side partial aggregation plus AQE
skew handling.
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType
from pyspark import StorageLevel

from ..graph import DST, SRC, WGT, Graph
from ..plans.checkpoint import CheckpointManager
from ..plans.csr_blocks import (
    CsrBlocks,
    VertexSlices,
    positions_of,
    segment_reduce,
    size_gate,
    sum_kernel,
)
from ..plans.strategy import vertex_join_side


class FailedToConvergeError(RuntimeError):
    """Raised when max_iter supersteps pass without L1 < tol
    (mirrors cugraph's error at pagerank.py:290-293)."""


def _side_input(df: DataFrame, name: str, col: str, normalize: bool = True,
                collect: bool = False):
    """``(vertex, col)`` of a per-vertex input, checked the same way for
    every plan. It is left-joined onto the vertex state, where two rows
    for one vertex would duplicate a state row, so such a frame raises.
    With ``normalize`` (``personalization``, ``nstart``) ``col`` is
    ``values`` over their sum, the sum taken over the WHOLE frame (rows
    for vertices outside the graph included), and a sum ``<= 0``
    raises; otherwise (``precomputed_vertex_out_weight``) ``col`` is the
    frame's own ``col``. The Catalyst and executor plans check with ONE
    aggregate and get a DataFrame; with ``collect`` (the driver
    placement, whose setup reads the rows in this process anyway) the
    rows are collected once, checked in pandas and returned as a pandas
    frame."""
    vals = df.select("vertex", F.col("values" if normalize else col).cast("double").alias(col))
    if collect:
        vals = vals.select(F.col("vertex").cast("long"), col).toPandas()
        dup, total = vals["vertex"].duplicated().any(), vals[col].sum()
    else:
        most, total = vals.groupBy("vertex").agg(F.count("*").alias("n"), F.sum(col).alias("s")) \
            .agg(F.max("n"), F.sum("s")).first()
        dup = most is not None and most > 1
    if dup:
        raise ValueError(f"{name} has more than one row for a vertex")
    if not normalize:
        return vals
    if not total or total <= 0:
        raise ValueError(f"{name} values must sum to > 0")
    if collect:
        return vals.assign(**{col: vals[col] / total})
    return vals.select("vertex", (F.col(col) / F.lit(total)).alias(col))


def _lacks_vertices(checkpoint: CheckpointManager, iteration: int) -> str:
    """The error of a resume whose checkpoint lacks a graph vertex."""
    return (f"PageRank checkpoint {checkpoint.base} (iteration {iteration}) lacks "
            "vertices of the graph")


def _column(rows: pd.DataFrame, col: str, verts: np.ndarray) -> np.ndarray:
    """``rows[col]`` on ``verts``, 0.0 where a vertex has no value."""
    r = rows[rows[col].notna()]
    vals = pd.Series(r[col].to_numpy(np.float64), index=r["vertex"].to_numpy())
    return vals.reindex(verts).fillna(0.0).to_numpy()


def _divided(rank, ows):
    """rank / ows with a dangling divisor of 1.0 (impl.cuh:250-262)."""
    return rank / np.where(ows == 0.0, 1.0, ows)


def _init(V: int, given: tuple, resumed: str | None):
    """The block plan's setup of one pid (``VertexSlices.setup``): out-
    weights (segment sums of the src-keyed block unless given), first
    ranks, ``x = rank/ows`` and personalization. ``resumed`` is set on a
    resume: the checkpoint's rows are then the vertex set, and a block
    key they lack raises ``resumed`` as the error. ``given`` names the
    routed columns (ows, rank, pnorm). Its row is the pid's dangling
    mass."""

    def init(verts, rows, out_blk):
        arrays = {}
        if resumed:
            keys = verts
            verts = arrays["vertex"] = np.sort(
                rows.loc[rows["rank"].notna(), "vertex"].to_numpy(np.int64))
            if not np.isin(keys, verts).all():
                raise ValueError(resumed)
        if "ows" in given:
            ows = _column(rows, "ows", verts)
        else:
            ows = np.zeros(len(verts))
            ows[np.searchsorted(verts, out_blk.su)] = segment_reduce(out_blk, out_blk.w)
        rank = _column(rows, "rank", verts) if "rank" in given else np.full(len(verts), 1.0 / V)
        arrays.update(ows=ows, rank=rank, x=_divided(rank, ows))
        if "pnorm" in given:
            arrays["pnorm"] = _column(rows, "pnorm", verts)
        return arrays, {"dang": float(rank[ows == 0.0].sum())}

    return init


def _update(alpha: float, V: int, dangling: float):
    """One PageRank superstep of one pid over its dst-keyed block: the
    pull sum kernel over ``x = rank/ows`` of the in-neighbours, then the
    Catalyst superstep's expressions, α·Σ contrib + (dangling·α + 1−α)/V
    (·pnorm when ``own`` holds it). Returns the next rank and x and the
    ``(l1, dang)`` partials: the L1 diff against the previous rank and
    the next dangling mass."""
    mass = dangling * alpha + (1.0 - alpha)

    def update(verts, own, blk, x, at):
        ows = own["ows"]
        contrib = np.zeros(len(verts))
        contrib[positions_of(verts, blk.su)] = sum_kernel(blk, x)
        teleport = mass * own["pnorm"] if "pnorm" in own else mass / V
        new = alpha * contrib + teleport
        row = {"l1": float(np.abs(new - own["rank"]).sum()), "dang": float(new[ows == 0.0].sum())}
        return {"rank": new, "x": _divided(new, ows)}, row

    return update


def _fold(tol: float):
    """The block plan's allreduce over one superstep's pid rows, in pid
    order: the carry is ``(dangling, l1)``, the sums of the rows'
    ``dang`` and ``l1``, and the run stops when ``l1 < tol``."""

    def fold(carry, rows):
        l1 = float(sum(r["l1"] for r in rows))
        return (float(sum(r["dang"] for r in rows)), l1), l1 < tol

    return fold


def _pull_plan(G, blocks, alpha, max_iter, tol, personalization, nstart,
               precomputed_vertex_out_weight, checkpoint, checkpoint_every, resume,
               superstep_seconds):
    """The block plan, placed by its store ``blocks`` (``CsrBlocks`` in
    the executors, ``DriverBlocks`` on the driver): the rank vector
    stays in per-pid slices (``csr_blocks.VertexSlices``), one setup
    pass writes them, and each superstep is ONE pass whose tasks pull
    their own vertices' in-edges from the dst-keyed blocks; the
    supersteps between two checkpoints are one ``VertexSlices.run``.
    Checkpoints are written from the slices with the Catalyst plan's
    columns, iterations and meta keys. Returns ``(result, converged)``."""
    spark = G.edges.sparkSession
    V = blocks.vertex_count()
    if V == 0:
        raise ValueError("empty graph")
    vfield = G.vertices().schema["vertex"]
    state_schema = StructType([vfield, StructField("ows", DoubleType(), False),
                               StructField("rank", DoubleType(), False)])
    result_schema = StructType([vfield, StructField("pagerank", DoubleType(), False)])
    collect = blocks.in_driver
    with blocks, VertexSlices(blocks, ("rank", "x")) as state:
        frames = []
        start_iter, dangling, resumed = 0, None, None
        if resume and checkpoint is not None and checkpoint.latest_iteration() is not None:
            saved, meta = checkpoint.load(spark, checkpoint.latest_iteration())
            frames.append(saved.select("vertex", "ows", "rank"))
            start_iter = meta["iteration"] + 1
            dangling = float(meta["metrics"]["dangling_sum"])
            resumed = _lacks_vertices(checkpoint, meta["iteration"])
        else:
            if precomputed_vertex_out_weight is not None:
                frames.append(_side_input(precomputed_vertex_out_weight,
                                          "precomputed_vertex_out_weight", "ows",
                                          normalize=False, collect=collect))
            if nstart is not None:
                frames.append(_side_input(nstart, "nstart", "rank", collect=collect))
        if personalization is not None:
            frames.append(_side_input(personalization, "personalization", "pnorm",
                                      collect=collect))
        given = tuple(c for f in frames for c in f.columns if c != "vertex")
        rows = state.setup(_init(V, given, resumed), "dang double", frames)
        if dangling is None:
            dangling = float(sum(r["dang"] for r in rows))
        reads = ("ows", "rank", "pnorm") if personalization is not None else ("ows", "rank")

        def save(it, metrics):
            checkpoint.save(state.frame(state_schema, ["vertex", "ows", "rank"]), it, metrics)

        # one run per checkpoint window (the checkpoint is a Spark write);
        # the last window's run reads the result in its own job
        every = checkpoint_every if checkpoint is not None else 0
        it, carry, converged, result = start_iter, (dangling, None), False, None
        while it < max_iter and not converged:
            n = min(max_iter - it, every - it % every) if every else max_iter - it
            run = state.run(lambda c: _update(alpha, V, c[0]), reads, "x", _fold(tol), carry, n,
                            (result_schema, ["vertex", "rank"]) if it + n == max_iter else None)
            it, carry, converged = it + len(run.carries), run.carries[-1], run.stop
            result = run.result
            if superstep_seconds is not None:
                superstep_seconds.extend(run.seconds)
            if every and it % every == 0:
                save(it - 1, {"l1": carry[1], "dangling_sum": carry[0], "alpha": alpha, "tol": tol})
        final_iter = max(it - 1, start_iter)
        if checkpoint is not None and not (checkpoint_every and (final_iter + 1) % checkpoint_every == 0):
            save(final_iter, {"l1": -1.0, "dangling_sum": carry[0], "alpha": alpha,
                              "tol": tol, "final": True})
        if result is None:  # no superstep ran, or it stopped before the last window
            result = state.result(result_schema, ["vertex", "rank"])
        return result, converged


def _finish(result, converged, tol, max_iter, fail_on_nonconvergence):
    """The return contract every plan shares: raise on non-convergence,
    or return ``(df, converged)`` like the reference
    (pagerank.py:202-206) when asked not to."""
    if not converged and fail_on_nonconvergence and tol > 0.0:
        raise FailedToConvergeError(
            f"PageRank did not converge to tol={tol} within {max_iter} iterations")
    if fail_on_nonconvergence:
        return result
    return result, converged


def pagerank(
    G: Graph,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1.0e-5,
    personalization: DataFrame | None = None,
    nstart: DataFrame | None = None,
    precomputed_vertex_out_weight: DataFrame | None = None,
    fail_on_nonconvergence: bool = True,
    mode: str = "dataframe",
    num_partitions: int | str | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 10,
    resume: bool = False,
    superstep_seconds: list | None = None,
    block_dir: str | None = None,
):
    """Returns DataFrame [vertex, pagerank]; with
    ``fail_on_nonconvergence=False`` returns (df, converged) like the
    reference (pagerank.py:202-206).

    ``personalization`` / ``nstart``: DataFrames [vertex, values].
    ``tol=0.0`` runs exactly ``max_iter`` supersteps (never converges
    early) — used for fixed-iteration oracle parity.

    Plan (module docstring): ``mode="csr"`` runs the block plan in the
    executors; ``mode="dataframe"`` runs it on the driver up to
    ``local_tail.LOCAL_TAIL_EDGES`` edge rows and the Catalyst plan
    above. Ranks agree across plans to 1e-12, with equal superstep
    counts, schema and checkpoints.

    ``block_dir`` (mode='csr' only): directory for the packed CSR
    blocks — MUST be shared storage on a multi-node cluster; default a
    fresh local temp dir (correct for local mode), cleaned up on
    return. A dir that already holds a weighted pack of THIS graph is
    reused, and a directed graph's transposed set is packed into its
    ``T/`` once and reused likewise; one packed from another graph or P
    raises (``plans/csr_blocks.py:CsrBlocks``). The call's rank slices
    live in a ``state-<uuid>/`` directory inside it, removed on return.

    The distributed dataframe plan runs one superstep body in either of
    two loops, picked from the arguments. A fixed-iteration run
    (``tol=0.0``) without ``checkpoint`` needs no value on the driver
    between supersteps, so it carries the dangling mass as a broadcast
    1-row aggregate crossJoined into the next superstep: the loop runs
    ZERO Spark actions and every superstep executes inside one terminal
    job (measured 1.9-2.4x on the sf0.1 bench graphs; on a cluster it
    removes ``max_iter`` global barriers). Every other run ends each
    superstep in one action that returns the L1 diff and the next
    dangling mass together (the ``host_scalar_allreduce`` analog). Both
    loops compute the same doubles, so the results are bit-identical
    (test_pagerank.py). The block plan has one loop: each superstep is
    one pass returning those two partials per pid, folded in pid order
    (in the executors, by every task of one barrier job).
    ``superstep_seconds`` gets one entry per superstep: its wall time
    (in the executors by the clock of the barrier job's task 0, its
    first superstep also carrying the job's launch and collect), or on
    the zero-action loop its driver plan-build time, since execution
    lands in the terminal action.
    """
    spark = G.edges.sparkSession
    from ..plans.strategy import resolve_partitions

    P = resolve_partitions(num_partitions, G.edges)
    # placement: mode="csr" in the executors; otherwise csr_blocks.size_gate,
    # the driver over one collect of the gate's cache (no repartition
    # shuffle) below the cutover, and above it the Catalyst plan, whose
    # src-partitioned copy is built from that cache
    blocks, own_gate = ((CsrBlocks(G, P, block_dir, weighted=True), False) if mode == "csr"
                        else size_gate(G, weighted=True))
    if blocks is not None:
        result, converged = _pull_plan(
            G, blocks, alpha, max_iter, tol, personalization, nstart,
            precomputed_vertex_out_weight, checkpoint, checkpoint_every, resume,
            superstep_seconds)
        return _finish(result, converged, tol, max_iter, fail_on_nonconvergence)

    # --- invariant side: edges + out-weight sums, partitioned once ---
    e = G.edges if G.partitioned_on(SRC) else G.edges.repartition(P, SRC)
    # a src-partitioned graph's gate cache IS the loop's edge cache; a
    # caller's cache of it stays cached
    own_edges = own_gate or e.storageLevel == StorageLevel.NONE
    edges = e.persist(StorageLevel.MEMORY_AND_DISK)
    drop_gate = own_gate and edges is not G.edges
    chained = tol == 0.0 and checkpoint is None
    if precomputed_vertex_out_weight is not None:
        ows = _side_input(precomputed_vertex_out_weight, "precomputed_vertex_out_weight", "ows",
                          normalize=False)
        vstate = G.vertices().join(ows, "vertex", "left").select(
            "vertex", F.coalesce("ows", F.lit(0.0)).alias("ows"))
    else:
        vstate = (
            G.vertices()
            .join(
                edges.groupBy(F.col(SRC).alias("vertex")).agg(F.sum(WGT).alias("ows")),
                "vertex", "left")
            .select("vertex", F.coalesce("ows", F.lit(0.0)).alias("ows"))
        )
    vstate = vstate.repartition(P, "vertex").persist(StorageLevel.MEMORY_AND_DISK)
    V = vstate.count()
    if drop_gate:
        # vstate's count read the vertices from the gate's cache and
        # filled the partitioned copy from it — unless the out-weights
        # were given, so it never read the edges
        if precomputed_vertex_out_weight is not None:
            edges.count()
        G.edges.unpersist()
    if V == 0:
        raise ValueError("empty graph")

    # --- personalization normalization (pagerank_impl.cuh:299-319) ---
    pers = None
    if personalization is not None:
        pers = F.broadcast(_side_input(personalization, "personalization", "pnorm"))

    # --- init ranks (pagerank_impl.cuh:363-386) ---
    start_iter = 0
    dangling = None
    if resume and checkpoint is not None and checkpoint.latest_iteration() is not None:
        it0 = checkpoint.latest_iteration()
        saved, meta = checkpoint.load(spark, it0)
        if vstate.join(saved, "vertex", "left_anti").limit(1).count():
            raise ValueError(_lacks_vertices(checkpoint, it0))
        state = saved.repartition(P, "vertex").transform(truncate_plan)
        start_iter = meta["iteration"] + 1
        dangling = float(meta["metrics"]["dangling_sum"])
    elif nstart is not None:
        ns = _side_input(nstart, "nstart", "nsrank")
        state = (
            vstate.join(ns, "vertex", "left")
            .select("vertex", "ows", F.coalesce("nsrank", F.lit(0.0)).alias("rank"))
            .transform(truncate_plan)
        )
    else:
        state = vstate.withColumn("rank", F.lit(1.0 / V)).transform(truncate_plan)
    if dangling is None and not chained:
        dangling = state.filter(F.col("ows") == 0.0).agg(F.sum("rank")).first()[0] or 0.0

    converged = False
    final_iter = start_iter
    for it in range(start_iter, max_iter):
        final_iter = it
        _t0 = time.perf_counter()
        # rank' = rank / ows (dangling divisor 1.0) — impl.cuh:250-262
        rank_div = state.select(
            "vertex",
            (F.col("rank") / F.when(F.col("ows") == 0.0, F.lit(1.0)).otherwise(F.col("ows"))
             ).alias("rank_div"),
        )
        # broadcast (small V) / shuffle-hash (large V) keeps the
        # persisted O(E) side unmoved and unsorted every superstep
        rank_side = vertex_join_side(rank_div, V)
        contribs = (
            edges.join(rank_side, edges[SRC] == rank_side["vertex"])
            .groupBy(DST)
            .agg(F.sum(rank_side["rank_div"] * edges[WGT]).alias("contrib"))
        )

        # contribs join the PREVIOUS state, so the old rank rides
        # along for the L1 diff without a second join
        base = state.join(
            contribs.hint("shuffle_hash"), state["vertex"] == contribs[DST], "left"
        )
        if chained:
            # the dangling mass stays a broadcast 1-row aggregate in
            # the plan, so the superstep runs no action; the same
            # partial-aggregation tree computes the same double
            base = base.crossJoin(F.broadcast(state.agg(
                F.coalesce(F.sum(F.when(F.col("ows") == 0.0, F.col("rank"))),
                           F.lit(0.0)).alias("dang"))))
            dang = F.col("dang")
        else:
            # the previous action's driver float; Catalyst folds the
            # literal arithmetic below to the double Python computes
            dang = F.lit(dangling)
        dang_mass = dang * F.lit(alpha) + F.lit(1.0 - alpha)
        if pers is None:
            # a Divide is nullable (x/0 is NULL); V > 0, so the
            # coalesce only keeps `pagerank` non-nullable
            teleport = F.coalesce(dang_mass / F.lit(float(V)), F.lit(0.0))
        else:
            base = base.join(pers, state["vertex"] == pers["vertex"], "left")
            teleport = dang_mass * F.coalesce("pnorm", F.lit(0.0))
        new_rank = F.lit(alpha) * F.coalesce("contrib", F.lit(0.0)) + teleport
        cols = [state["vertex"].alias("vertex"), state["ows"].alias("ows"),
                new_rank.alias("rank")]
        if not chained:
            cols.append(state["rank"].alias("old_rank"))
        # truncate_plan (stats-clean localCheckpoint) cuts lineage so
        # superstep N's plan does not re-analyze supersteps 0..N-1
        # (SURVEY.md §7.3.1) and Catalyst work stays linear in
        # max_iter; it is lazy, so it materializes inside the next
        # action — the convergence check or the terminal job
        new_full = base.select(*cols).transform(truncate_plan)
        if not chained:
            # one action per superstep: L1 diff + next dangling sum
            # (the host_scalar_allreduce analog,
            # pagerank_impl.cuh:239-248,321-330)
            row = new_full.agg(
                F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("l1"),
                F.sum(F.when(F.col("ows") == 0.0, F.col("rank")).otherwise(F.lit(0.0))
                      ).alias("dang"),
            ).first()
            l1, dangling = float(row["l1"]), float(row["dang"] or 0.0)
        state = new_full.select("vertex", "ows", "rank")
        if superstep_seconds is not None:
            superstep_seconds.append(time.perf_counter() - _t0)
        if chained:
            continue

        if checkpoint is not None and checkpoint_every and (it + 1) % checkpoint_every == 0:
            state = checkpoint.save(
                state, it,
                {"l1": l1, "dangling_sum": dangling, "alpha": alpha, "tol": tol})

        if l1 < tol:
            converged = True
            break

    if checkpoint is not None and not (checkpoint_every and (final_iter + 1) % checkpoint_every == 0):
        checkpoint.save(state.select("vertex", "ows", "rank"), final_iter,
                        {"l1": -1.0, "dangling_sum": dangling, "alpha": alpha,
                         "tol": tol, "final": True})

    if chained:
        # the zero-action loop ran no job, so nothing has executed yet —
        # materialize the whole superstep chain NOW (one terminal job,
        # the same single job the design promises) while the persisted
        # edges/vstate caches are still registered; the unpersist below
        # would otherwise drop them BEFORE the caller's first action,
        # recomputing the O(E) edge shuffle every superstep
        state = truncate_plan(state.select("vertex", "ows", "rank"), eager=True)
    result = state.select("vertex", F.col("rank").alias("pagerank"))
    if own_edges:
        edges.unpersist()
    vstate.unpersist()
    return _finish(result, converged, tol, max_iter, fail_on_nonconvergence)
