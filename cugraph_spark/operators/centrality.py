"""Centrality family — HITS, Katz, eigenvector, degree centrality.

All three iterative centralities ride the same SpMV superstep skeleton
as PageRank (SURVEY.md §2.4 ``per_v_transform_reduce_incoming_e``):
``edges ⋈ vector on src → groupBy(dst).sum`` with map-side partial
aggregation; the O(E) edge side is partitioned once and persisted, the
O(V) vector re-shuffles per superstep. Each operator writes its
superstep once: a convergence-checked run ends it in one scalar action,
and a fixed-iteration run (``tol=0.0``) keeps its global scalar in the
plan and runs no action until the output.

Reference semantics:
- HITS (``link_analysis/hits_impl.cuh``, 223 LoC): hubs/authorities
  power iteration, L1-normalized each half-step; unweighted; returns
  [vertex, hubs, authorities] (python wrapper link_analysis/hits.py).
- Katz (``centrality/katz_centrality_impl.cuh``, 224 LoC):
  c ← β + α·Aᵀc iterated from c=0; L1 diff < tol·V stops; L2-normalize
  the final vector.
- Eigenvector (``centrality/eigenvector_centrality_impl.cuh``, 199 LoC):
  power iteration on Aᵀ with L2 normalization per step.
- Degree centrality (python-only ``centrality/degree_centrality.py``):
  degree / (V−1).
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan

import math

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, WGT, Graph
from ..plans.strategy import resolve_partitions, vertex_join_side


def _prep_edges(G: Graph, P: int) -> DataFrame:
    return (
        G.edges.select(SRC, DST, WGT)
        .repartition(P, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def hits(
    G: Graph, max_iter: int = 100, tol: float = 1.0e-5,
    num_partitions: int | str | None = None,
) -> DataFrame:
    """Returns [vertex, hubs, authorities]; unweighted adjacency
    (hits_impl.cuh ignores weights — the python wrapper warns).

    ONE Spark action per superstep (the PageRank pattern): the L1
    normalization scale is carried as a driver-side float and divided
    in lazily at the NEXT superstep (L1 normalization is scale-
    covariant, so the factor commutes through the SpMV), and the
    convergence L1-diff is evaluated one superstep delayed from the
    two previous states whose scales are already known — the single
    per-superstep agg returns (Σ new_hub_unnorm, delayed diff).
    Stopping state matches the reference exactly: we return the first
    state whose diff < tol (carried in the plan), not the extra
    superstep computed while detecting it. With ``tol=0.0`` the same
    superstep carries the scale as a broadcast 1-row aggregate instead,
    so the loop runs no action; the outputs are bit-identical."""
    P = resolve_partitions(num_partitions, G.edges)
    edges = _prep_edges(G, P)
    verts = G.vertices().repartition(P, "vertex").persist(StorageLevel.MEMORY_AND_DISK)
    V = verts.count()

    def _authorities(hub_state: DataFrame, scale: float) -> DataFrame:
        """[vertex, authorities] from a normalized-by-`scale` hub state;
        one extra action for the final output only (asum)."""
        side = vertex_join_side(hub_state, V)
        a_raw = (
            edges.join(side, edges[SRC] == side["vertex"])
            .groupBy(DST)
            .agg((F.sum("h_un") / F.lit(scale)).alias("a"))
        )
        asum = a_raw.agg(F.sum("a")).first()[0] or 1.0
        return verts.join(a_raw, verts["vertex"] == a_raw[DST], "left").select(
            verts["vertex"],
            (F.coalesce("a", F.lit(0.0)) / F.lit(asum)).alias("authorities"),
        )

    # state: (vertex, h_un[, p_un]) — the current UNNORMALIZED hub
    # vector and, when checked, the previous one; S/S_prev are their L1
    # sums (so hubs = h_un/S exactly)
    checked = tol != 0.0
    state = verts.withColumn("h_un", F.lit(1.0))
    if checked:
        state = state.withColumn("p_un", F.lit(1.0))
    state = state.transform(truncate_plan)
    S, S_prev = float(V), float(V)

    final_h, final_scale = state, S
    for it in range(max_iter):
        sside = vertex_join_side(state, V)
        a_sum = (
            edges.join(sside, edges[SRC] == sside["vertex"])
            .groupBy(DST)
            .agg(F.sum("h_un").alias("a_raw"))
        )
        if checked:
            scale = F.lit(S)
        else:
            # tol=0 never stops early, so the scale stays in the plan as
            # a broadcast 1-row aggregate (the same sum → divide tree)
            # and the loop runs no action; the driver's `S or 1.0` guard
            # is a CASE on the aggregate (NULL/0.0 → 1.0)
            a_sum = a_sum.crossJoin(F.broadcast(
                state.agg(F.sum("h_un").alias("s_raw")).select(
                    F.when(F.col("s_raw").isNull() | (F.col("s_raw") == 0.0), F.lit(1.0))
                    .otherwise(F.col("s_raw")).alias("S"))))
            scale = F.col("S")
        a_un = a_sum.select(F.col(DST), (F.col("a_raw") / scale).alias("a_un"))
        h_un_new = (
            edges.join(a_un, edges[DST] == a_un[DST])
            .groupBy(SRC)
            .agg(F.sum("a_un").alias("h_new"))
        )
        cols = [state["vertex"], F.coalesce("h_new", F.lit(0.0)).alias("h_un")]
        if checked:
            cols += [state["h_un"].alias("p_un"), state["p_un"].alias("pp_un")]
        new_full = state.join(
            h_un_new, state["vertex"] == h_un_new[SRC], "left"
        ).select(*cols).transform(truncate_plan)
        if not checked:
            state = final_h = new_full
            continue

        # single action: next scale + L1 diff of the two PREVIOUS states
        row = new_full.agg(
            F.sum("h_un").alias("s"),
            F.sum(
                F.abs(F.col("p_un") / F.lit(S) - F.col("pp_un") / F.lit(S_prev))
            ).alias("d"),
        ).first()
        S_new = float(row["s"] or 1.0)
        diff = float(row["d"]) if row["d"] is not None else None

        if it >= 1 and diff is not None and diff < tol:
            # state's h_un (== new_full.p_un) already satisfied the tol
            final_h = new_full.select("vertex", F.col("p_un").alias("h_un"))
            final_scale = S
            break
        state = new_full.select("vertex", "h_un", "p_un")
        S_prev, S = S, S_new
        final_h = state
        final_scale = S

    if not checked:
        s_final = final_h.agg(F.sum("h_un")).first()[0]
        final_scale = float(s_final) if s_final else 1.0
    auth = _authorities(final_h, final_scale)
    out = (
        final_h.join(auth, "vertex")
        .select(
            "vertex", (F.col("h_un") / F.lit(final_scale)).alias("hubs"),
            "authorities",
        )
    )
    # materialize before unpersist: auth's plan re-derives a_raw
    # from `edges`, so a lazy return would rescan the edge list
    # uncached at the caller's first action
    out = truncate_plan(out, eager=True)
    edges.unpersist()
    verts.unpersist()
    return out


def katz_centrality(
    G: Graph, alpha: float = 0.1, beta: float = 1.0,
    max_iter: int = 100, tol: float = 1.0e-6,
    num_partitions: int | str | None = None,
) -> DataFrame:
    """Returns [vertex, katz_centrality] (L2-normalized), semantics of
    katz_centrality_impl.cuh: c ← β + α·Aᵀc from c=0, stop on
    L1 diff < tol·V.

    The Katz update has no global scalar (α, β are constants), so with
    ``tol=0.0`` (fixed-iteration / oracle-parity mode) the loop runs
    ZERO Spark actions — the L1-diff agg exists only for the stopping
    test, which tol=0 can never trigger; every superstep is lazy plan
    executing inside the final normalization action."""
    P = resolve_partitions(num_partitions, G.edges)
    edges = _prep_edges(G, P)
    verts = G.vertices().repartition(P, "vertex").persist(StorageLevel.MEMORY_AND_DISK)
    V = verts.count()
    state = verts.withColumn("c", F.lit(0.0)).transform(truncate_plan)
    fixed_iters = tol == 0.0

    for _ in range(max_iter):
        sside = vertex_join_side(state, V)
        agg = (
            edges.join(sside, edges[SRC] == sside["vertex"])
            .groupBy(DST)
            .agg(F.sum(F.col("c") * F.col(WGT)).alias("s"))
        )
        new_c = (F.lit(beta) + F.lit(alpha) * F.coalesce("s", F.lit(0.0))).alias("c")
        if fixed_iters:
            state = state.join(agg, state["vertex"] == agg[DST], "left").select(
                state["vertex"], new_c
            ).transform(truncate_plan)
            continue
        new_full = state.join(agg, state["vertex"] == agg[DST], "left").select(
            state["vertex"],
            new_c,
            state["c"].alias("old"),
        ).transform(truncate_plan)
        diff = (
            new_full.agg(F.sum(F.abs(F.col("c") - F.col("old"))).alias("d"))
            .first()["d"]
        )
        state = new_full.select("vertex", "c")
        if diff is not None and diff < tol * V:
            break

    norm = state.agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("n")).first()["n"] or 1.0
    out = state.select("vertex", (F.col("c") / F.lit(norm)).alias("katz_centrality"))
    edges.unpersist()
    verts.unpersist()
    return out


def eigenvector_centrality(
    G: Graph, max_iter: int = 100, tol: float = 1.0e-6,
    num_partitions: int | str | None = None,
) -> DataFrame:
    """Returns [vertex, eigenvector_centrality]: power iteration on Aᵀ
    with per-step L2 normalization (eigenvector_centrality_impl.cuh).
    Loops like hits(): one action per superstep, none with
    ``tol=0.0``."""
    P = resolve_partitions(num_partitions, G.edges)
    edges = _prep_edges(G, P)
    verts = G.vertices().repartition(P, "vertex").persist(StorageLevel.MEMORY_AND_DISK)
    V = verts.count()
    # same loop shape as hits(): state carries the UNNORMALIZED vector
    # (+ the previous one when checked), and the diff is checked one
    # superstep delayed
    checked = tol != 0.0
    c0 = F.lit(1.0 / math.sqrt(V))
    state = verts.withColumn("c_un", c0)
    if checked:
        state = state.withColumn("p_un", c0)
    state = state.transform(truncate_plan)
    N, N_prev = 1.0, 1.0

    out_state, out_scale = state, N
    for it in range(max_iter):
        sside = vertex_join_side(state, V)
        s_sum = (
            edges.join(sside, edges[SRC] == sside["vertex"])
            .groupBy(DST)
            .agg(F.sum(F.col("c_un") * F.col(WGT)).alias("s_raw"))
        )
        if checked:
            norm = F.lit(N)
        else:
            # the L2 norm as a broadcast 1-row aggregate (see hits()).
            # The checked loop's early return on a vanished vector maps
            # to NULLIF-division: x / NULLIF(N, 0) is x / N whenever
            # N > 0, and an all-zero vector stays zero
            s_sum = s_sum.crossJoin(F.broadcast(state.agg(
                F.nullif(F.sqrt(F.sum(F.col("c_un") * F.col("c_un"))), F.lit(0.0))
                .alias("N"))))
            norm = F.col("N")
        agg = s_sum.select(F.col(DST), (F.col("s_raw") / norm).alias("s"))
        cols = [state["vertex"], F.coalesce("s", F.lit(0.0)).alias("c_un")]
        if checked:
            cols += [state["c_un"].alias("p_un"), state["p_un"].alias("pp_un")]
        new_full = state.join(
            agg, state["vertex"] == agg[DST], "left"
        ).select(*cols).transform(truncate_plan)
        if not checked:
            state = out_state = new_full
            continue

        row = new_full.agg(
            F.sqrt(F.sum(F.col("c_un") * F.col("c_un"))).alias("n"),
            F.sum(
                F.abs(F.col("p_un") / F.lit(N) - F.col("pp_un") / F.lit(N_prev))
            ).alias("d"),
        ).first()
        N_new = float(row["n"]) if row["n"] else 0.0
        diff = float(row["d"]) if row["d"] is not None else None

        if N_new == 0.0:
            out_state = new_full.select("vertex", "c_un")
            out_scale = 1.0
            break
        if it >= 1 and diff is not None and diff < tol * V:
            out_state = new_full.select("vertex", F.col("p_un").alias("c_un"))
            out_scale = N
            break
        state = new_full.select("vertex", "c_un", "p_un")
        N_prev, N = N, N_new
        out_state, out_scale = state, N

    if not checked:
        n_final = out_state.agg(F.sqrt(F.sum(F.col("c_un") * F.col("c_un")))).first()[0]
        out_scale = float(n_final) if n_final else 1.0
    out = out_state.select(
        "vertex", (F.col("c_un") / F.lit(out_scale)).alias("eigenvector_centrality")
    )
    edges.unpersist()
    verts.unpersist()
    return out


def degree_centrality(G: Graph) -> DataFrame:
    """degree / (V−1) (``centrality/degree_centrality.py``)."""
    V = G.number_of_vertices()
    return G.degree().select(
        "vertex", (F.col("degree") / F.lit(max(V - 1, 1))).alias("degree_centrality")
    )
