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

Two physical strategies, same semantics (validated equal in tests):

- ``mode="dataframe"``: pure Catalyst plan. Edges are hash-partitioned
  on ``src`` ONCE and persisted; each superstep joins the O(V) rank
  vector against them (only the small side re-shuffles — exchange reuse
  keeps the O(E) side in place), then ``groupBy(dst).sum`` with
  map-side partial aggregation (Spark's analog of the reference's
  ``reduce_op::plus`` shuffle combine).
- ``mode="csr"``: the north-star architecture — edges hash-partitioned
  by ``pid = hash(src) % P`` into per-partition CSR blocks built ONCE
  by the shared block store (``plans/csr_blocks.py:CsrBlocks`` —
  src-sorted indptr layout, dense-id or dictionary dst format,
  weights), then each superstep ships ONLY the O(V) rank vector
  through the Python boundary: the store's per-pid task maps ranks
  onto the block's srcs and runs the SpMV as a single
  ``np.bincount`` — in-UDF partial combine — followed by the
  shuffle-based ``(dst, partial)`` message exchange. The O(E) side
  never crosses the Arrow boundary again after setup
  (``np.load(mmap_mode='r')`` reads the page-cache-resident block),
  the Spark analog of cuGraph keeping the CSR on-GPU across
  iterations with ``per_v_transform_reduce_incoming_e`` + NCCL
  combine. On a multi-node cluster ``block_dir`` must be a shared
  filesystem (HDFS-fuse/NFS/EFS); the pack manifest travels with the
  readers, and a manifest-listed block missing at read time (torn
  deployment, non-shared dir) or a rank slice not covering a block's
  srcs (stale blocks) RAISES — never a silent zero contribution.
  Composes with ``chained`` (tol=0.0): after the one pack job the
  whole superstep chain executes inside the terminal action.

Scale notes: one Spark action per superstep (the combined
L1-diff + next-dangling agg is the ``host_scalar_allreduce`` analog,
pagerank_impl.cuh:321-330); state checkpoints to parquet/Iceberg every
``checkpoint_every`` supersteps for exact resume + lineage truncation.
Hub skew on ``dst`` is handled by map-side partial aggregation plus AQE
skew handling by default; passing ``salt=k`` switches the SpMV reduce to
the explicit two-phase salted aggregation in ``plans/skew.py``
(``groupBy(dst, hash(src)%k)`` → ``groupBy(dst)``), the Spark analog of
the reference's high-degree segment kernels
(``cpp/src/structure/renumber_edgelist_impl.cuh:538-565``,
thresholds ``cpp/include/cugraph/graph_view.hpp:250-253``).
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan

import contextlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from ..graph import DST, SRC, WGT, Graph
from ..plans.checkpoint import CheckpointManager
from ..plans.strategy import vertex_join_side


class FailedToConvergeError(RuntimeError):
    """Raised when max_iter supersteps pass without L1 < tol
    (mirrors cugraph's error at pagerank.py:290-293)."""


def _csr_spmv(blk, rank_src):
    """Per-block pull SpMV for mode='csr' (``CsrBlocks.map_blocks``
    supplies the rank slice aligned with the block's srcs): the whole
    SpMV + in-UDF partial combine is a single ``np.bincount`` into the
    block's dst slots. Only slots with a nonzero contribution are
    emitted — an absent dst reads as 0.0 in the state join's coalesce,
    and dropping exact zeros leaves every partial sum bit-identical."""
    contrib = np.bincount(
        blk.dst_index,
        weights=np.repeat(rank_src, blk.deg) * blk.w,
        minlength=blk.n_dst,
    )
    touched = np.flatnonzero(contrib)
    return {"dst": blk.dst_ids(touched), "contrib": contrib[touched]}


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
    salt: int | None = None,
    num_partitions: int | str | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 10,
    resume: bool = False,
    superstep_seconds: list | None = None,
    chained: bool | None = None,
    block_dir: str | None = None,
):
    """Returns DataFrame [vertex, pagerank]; with
    ``fail_on_nonconvergence=False`` returns (df, converged) like the
    reference (pagerank.py:202-206).

    ``personalization`` / ``nstart``: DataFrames [vertex, values].
    ``tol=0.0`` runs exactly ``max_iter`` supersteps (never converges
    early) — used for fixed-iteration oracle parity.

    ``block_dir`` (mode='csr' only): directory for the packed CSR
    blocks — MUST be shared storage on a multi-node cluster; default a
    fresh local temp dir (correct for local mode), cleaned up on
    return. A dir that already holds a weighted pack of THIS graph is
    reused; one packed from another graph or P raises
    (``plans/csr_blocks.py:CsrBlocks``).

    ``chained`` (default auto): fixed-iteration runs (tol == 0.0,
    dataframe mode, no checkpointing) carry the dangling mass as a
    broadcast 1-row aggregate crossJoined into the next superstep
    instead of a driver-collected scalar, so the whole loop is ZERO
    Spark actions — all supersteps execute inside the single terminal
    job (bit-identical results: same partial-aggregation tree computes
    the same double either way; validated in test_pagerank.py). This
    removes the per-superstep driver round trip — the L1 convergence
    check is what forces an action, and tol=0.0 has none. Measured
    1.9-2.4x on the sf0.1 bench graphs; on a real cluster it removes
    max_iter global barriers. Convergence-checked runs (tol > 0) keep
    the one-action-per-superstep loop (the host_scalar_allreduce
    analog). With ``superstep_seconds`` in chained mode each entry is
    the superstep's driver plan-build time; execution lands in the
    terminal action.
    """
    spark = G.edges.sparkSession
    sc = spark.sparkContext
    from ..plans.strategy import resolve_partitions

    P = resolve_partitions(num_partitions, G.edges)

    if chained is None:
        chained = tol == 0.0 and checkpoint is None
    elif chained:
        if tol != 0.0 or checkpoint is not None:
            raise ValueError(
                "chained=True requires tol=0.0 and no checkpoint (the L1 "
                "convergence check and resume metadata need one action "
                "per superstep)"
            )

    # --- invariant side: edges + out-weight sums, partitioned once ---
    # csr: the block store packs (or validates and reuses) per-pid CSR
    # blocks ONCE; supersteps never touch the edge frame again, so it
    # is not persisted — the single ows aggregate below is its only
    # other scan. The blocks live until the with-block below exits,
    # after the last action that reads them.
    if mode == "csr":
        from ..plans.csr_blocks import CsrBlocks

        store = CsrBlocks(G, P, block_dir, weighted=True)
        edges = G.edges
    else:
        store = contextlib.nullcontext()
        e = G.edges if G.partitioned_on(SRC) else G.edges.repartition(P, SRC)
        edges = e.persist(StorageLevel.MEMORY_AND_DISK)
    with store as blocks:
        if precomputed_vertex_out_weight is not None:
            ows = precomputed_vertex_out_weight.select("vertex", F.col("ows").cast("double"))
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
        if V == 0:
            raise ValueError("empty graph")

        # --- personalization normalization (pagerank_impl.cuh:299-319) ---
        psum = None
        pers = None
        if personalization is not None:
            pers = personalization.select(
                "vertex", F.col("values").cast("double").alias("pval"))
            psum = pers.agg(F.sum("pval")).first()[0]
            if not psum or psum <= 0:
                raise ValueError("personalization values must sum to > 0")
            pers = F.broadcast(pers.withColumn("pnorm", F.col("pval") / F.lit(psum))
                               .select("vertex", "pnorm"))

        # --- init ranks (pagerank_impl.cuh:363-386) ---
        start_iter = 0
        if resume and checkpoint is not None and checkpoint.latest_iteration() is not None:
            it0 = checkpoint.latest_iteration()
            saved, meta = checkpoint.load(spark, it0)
            state = saved.repartition(P, "vertex").transform(truncate_plan)
            start_iter = meta["iteration"] + 1
            dangling = float(meta["metrics"]["dangling_sum"])
        elif nstart is not None:
            ns = nstart.select("vertex", F.col("values").cast("double").alias("nsval"))
            nsum = ns.agg(F.sum("nsval")).first()[0]
            if not nsum or nsum <= 0:
                raise ValueError("nstart values must sum to > 0")
            state = (
                vstate.join(ns, "vertex", "left")
                .select("vertex", "ows",
                        (F.coalesce("nsval", F.lit(0.0)) / F.lit(nsum)).alias("rank"))
                .transform(truncate_plan)
            )
            dangling = None if chained else (
                state.filter(F.col("ows") == 0.0).agg(F.sum("rank")).first()[0] or 0.0)
        else:
            state = vstate.withColumn("rank", F.lit(1.0 / V)).transform(truncate_plan)
            dangling = None if chained else (
                state.filter(F.col("ows") == 0.0).agg(F.sum("rank")).first()[0] or 0.0)

        import time as _time

        converged = False
        final_iter = start_iter
        for it in range(start_iter, max_iter):
            final_iter = it
            _t0 = _time.perf_counter()
            # rank' = rank / ows (dangling divisor 1.0) — impl.cuh:250-262
            rank_div = state.select(
                "vertex",
                (F.col("rank") / F.when(F.col("ows") == 0.0, F.lit(1.0)).otherwise(F.col("ows"))
                 ).alias("rank_div"),
            )

            if blocks is not None:
                # only the O(V) rank vector crosses the Python boundary
                partials = blocks.map_blocks(
                    _csr_spmv, "dst long, contrib double", rank_div, value="rank_div"
                )
                contribs = partials.groupBy(DST).agg(F.sum("contrib").alias("contrib"))
            else:
                # broadcast (small V) / shuffle-hash (large V) keeps the
                # persisted O(E) side unmoved and unsorted every superstep
                rank_side = vertex_join_side(rank_div, V)
                joined = edges.join(rank_side, edges[SRC] == rank_side["vertex"])
                if salt:
                    from ..plans.skew import salted_sum

                    msgs = joined.select(
                        F.col(DST), F.col(SRC),
                        (rank_side["rank_div"] * edges[WGT]).alias("msg"),
                    )
                    contribs = salted_sum(
                        msgs, DST, "msg", out_col="contrib", salt=salt, salt_on=SRC
                    )
                else:
                    contribs = joined.groupBy(DST).agg(
                        F.sum(rank_side["rank_div"] * edges[WGT]).alias("contrib")
                    )

            if chained:
                # zero actions: the dangling mass stays a broadcast 1-row
                # aggregate, so this superstep is just more lazy plan —
                # everything executes inside the terminal action. Same
                # partial-aggregation tree → bit-identical to the scalar path.
                dang_df = F.broadcast(
                    state.agg(
                        F.coalesce(
                            F.sum(F.when(F.col("ows") == 0.0, F.col("rank"))),
                            F.lit(0.0),
                        ).alias("dang")
                    )
                )
                base = state.join(
                    contribs.hint("shuffle_hash"), state["vertex"] == contribs[DST], "left"
                ).crossJoin(dang_df)
                dang_mass = F.col("dang") * F.lit(alpha) + F.lit(1.0 - alpha)
                if pers is None:
                    new_rank = (
                        F.lit(alpha) * F.coalesce("contrib", F.lit(0.0))
                        + dang_mass / F.lit(float(V))
                    )
                else:
                    base = base.join(pers, state["vertex"] == pers["vertex"], "left")
                    new_rank = (
                        F.lit(alpha) * F.coalesce("contrib", F.lit(0.0))
                        + dang_mass * F.coalesce("pnorm", F.lit(0.0))
                    )
                # truncate_plan per superstep keeps Catalyst work linear in
                # max_iter (state is referenced 3x per superstep — without
                # the LogicalRDD leaf the plan tree grows 3^k) while staying
                # lazy: the checkpoint RDDs materialize inside the terminal job.
                state = base.select(
                    state["vertex"].alias("vertex"),
                    state["ows"].alias("ows"),
                    new_rank.alias("rank"),
                ).transform(truncate_plan)
                if superstep_seconds is not None:
                    superstep_seconds.append(_time.perf_counter() - _t0)
                continue

            # state update joins contribs against the PREVIOUS state (which
            # already carries the old rank), so the L1 convergence diff needs
            # no second join — one plan, one action per superstep.
            base = state.join(
                contribs.hint("shuffle_hash"), state["vertex"] == contribs[DST], "left"
            )
            if pers is None:
                unvarying = (dangling * alpha + (1.0 - alpha)) / V
                new_rank = F.lit(alpha) * F.coalesce("contrib", F.lit(0.0)) + F.lit(unvarying)
            else:
                pmass = dangling * alpha + (1.0 - alpha)
                base = base.join(pers, state["vertex"] == pers["vertex"], "left")
                new_rank = (
                    F.lit(alpha) * F.coalesce("contrib", F.lit(0.0))
                    + F.lit(pmass) * F.coalesce("pnorm", F.lit(0.0))
                )
            new_full = base.select(
                state["vertex"].alias("vertex"),
                state["ows"].alias("ows"),
                new_rank.alias("rank"),
                state["rank"].alias("old_rank"),
            )
            # truncate_plan (stats-clean localCheckpoint) truncates lineage so superstep N's plan does not
            # re-analyze supersteps 0..N-1 (SURVEY.md §7.3.1) — the lazy variant
            # materializes inside the convergence action below (one job/superstep).
            new_full = new_full.transform(truncate_plan)

            # one action per superstep: L1 diff + next dangling sum together
            # (the host_scalar_allreduce analog, pagerank_impl.cuh:239-248,321-330)
            row = new_full.agg(
                F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("l1"),
                F.sum(F.when(F.col("ows") == 0.0, F.col("rank")).otherwise(F.lit(0.0))
                      ).alias("dang"),
            ).first()
            l1, dangling = float(row["l1"]), float(row["dang"] or 0.0)
            state = new_full.select("vertex", "ows", "rank")
            if superstep_seconds is not None:
                superstep_seconds.append(_time.perf_counter() - _t0)

            if checkpoint is not None and checkpoint_every and (it + 1) % checkpoint_every == 0:
                state = checkpoint.save(
                    state.select("vertex", "ows", "rank"), it,
                    {"l1": l1, "dangling_sum": dangling, "alpha": alpha, "tol": tol})

            if l1 < tol:
                converged = True
                break

        if checkpoint is not None and not (checkpoint_every and (final_iter + 1) % checkpoint_every == 0):
            checkpoint.save(state.select("vertex", "ows", "rank"), final_iter,
                            {"l1": -1.0, "dangling_sum": dangling, "alpha": alpha,
                             "tol": tol, "final": True})

        if chained:
            # the chained loop ran ZERO actions, so nothing has executed
            # yet — materialize the whole superstep chain NOW (one terminal
            # job, the same single job the design promises) while the
            # persisted edges/vstate caches are still registered; the
            # unpersist below would otherwise drop them BEFORE the caller's
            # first action, recomputing the O(E) edge shuffle every superstep
            # (and, in csr mode, before the blocks it reads are removed)
            state = truncate_plan(state.select("vertex", "ows", "rank"), eager=True)
    result = state.select("vertex", F.col("rank").alias("pagerank"))
    if mode != "csr":
        edges.unpersist()
    vstate.unpersist()
    if not converged and fail_on_nonconvergence and tol > 0.0:
        raise FailedToConvergeError(
            f"PageRank did not converge to tol={tol} within {max_iter} iterations")
    if fail_on_nonconvergence:
        return result
    return result, converged
