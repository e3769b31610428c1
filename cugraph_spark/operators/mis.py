"""Maximal independent set + greedy vertex coloring — Luby rounds.

Reference: ``components/mis_impl.cuh`` / ``vertex_coloring_impl.cuh``
(random-priority Luby selection). Spark-first with deterministic
counter-based priorities (``xxhash64(vertex, round, seed)``, ties by
vertex id) so results are exactly reproducible at any parallelism:

- round: v joins the MIS iff its priority is a local minimum among
  still-active neighbors; selected vertices and their neighbors
  deactivate; repeat until no active vertices. O(log V) rounds w.h.p.
- coloring: Jones–Plassmann greedy over the same local-min rounds —
  each round's independent set takes the mex of its colored neighbors
  (the reference's coloring is likewise MIS-round based; ours fuses
  all colors into one O(log V)-round loop).
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan
from ..plans import local_tail

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph


def _sym_edges(G: Graph) -> DataFrame:
    e = G.edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST))
    return e.unionByName(
        e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    ).distinct()


def _try_local(G: Graph):
    """Collect (src, dst, vertices) when the edge list fits the driver
    tail (``plans/local_tail.py`` — the single-GPU-handoff analog);
    None when the graph is big and the distributed loop must run. The
    gate is a bounded limit-probe (``local_tail.fits``), not a full
    count; Luby loops would otherwise pay ≥1 job per round."""
    if not local_tail.fits(G.edges):
        return None
    src, dst, _w = local_tail.collect_edges(G.edges, weighted=False)
    import numpy as np

    vertices = np.unique(np.concatenate([src, dst]))
    return src, dst, vertices


def maximal_independent_set(
    G: Graph, seed: int = 42, max_rounds: int = 100,
) -> DataFrame:
    """Returns [vertex, in_mis] over all vertices."""
    loc = _try_local(G)
    if loc is not None:
        out = local_tail.mis_local(loc[0], loc[1], loc[2], seed, max_rounds)
        return G.edges.sparkSession.createDataFrame(
            out, "vertex long, in_mis boolean"
        )
    edges = _sym_edges(G).persist(StorageLevel.MEMORY_AND_DISK)
    active = G.vertices().transform(truncate_plan)
    chosen = None

    for rnd in range(max_rounds):
        if active.isEmpty():
            break
        pri = active.select(
            "vertex",
            F.struct(
                F.xxhash64(F.col("vertex"), F.lit(rnd), F.lit(seed)).alias("h"),
                F.col("vertex").alias("v"),
            ).alias("pri"),
        ).transform(truncate_plan)
        # min neighbor priority among active neighbors
        act_e = (
            edges.join(pri.withColumnRenamed("vertex", SRC), SRC)
            .join(active.withColumnRenamed("vertex", DST), DST, "left_semi")
        )
        nbr_min = act_e.groupBy(DST).agg(F.min("pri").alias("nm"))
        sel = (
            pri.join(nbr_min, pri["vertex"] == nbr_min[DST], "left")
            .filter(F.col("nm").isNull() | (pri["pri"] < F.col("nm")))
            .select(pri["vertex"])
            .transform(truncate_plan)
        )
        chosen = sel if chosen is None else chosen.unionByName(sel)
        chosen = chosen.transform(truncate_plan)
        # deactivate selected + their neighbors
        nbrs = edges.join(sel.withColumnRenamed("vertex", SRC), SRC, "left_semi").select(
            F.col(DST).alias("vertex")
        )
        dead = sel.unionByName(nbrs).distinct()
        active = active.join(dead, "vertex", "left_anti").transform(truncate_plan)
    else:
        # the emptiness probe runs at the TOP of each round, so re-probe
        # before declaring failure; Luby halves the active set in
        # expectation so 100 rounds cover any realistic input — but an
        # exhausted loop with active vertices left would silently return
        # a NON-maximal set (every still-active vertex gets
        # in_mis=False). Fail loudly instead, like vertex_coloring does.
        if not active.isEmpty():
            edges.unpersist()
            raise RuntimeError(
                f"maximal_independent_set did not converge in "
                f"{max_rounds} rounds; raise max_rounds"
            )

    out = G.vertices().join(
        (chosen or G.vertices().limit(0)).withColumn("in_mis", F.lit(True)),
        "vertex", "left",
    ).select("vertex", F.coalesce("in_mis", F.lit(False)).alias("in_mis"))
    edges.unpersist()
    return out


def vertex_coloring(
    G: Graph, seed: int = 42, max_colors: int = 200, check_every: int = 1,
) -> DataFrame:
    """Jones–Plassmann greedy coloring: [vertex, color] (0-based),
    proper — no edge joins two vertices of the same color.

    Matches the reference's contract (``vertex_coloring_impl.cuh``:
    MIS-round selection, proper-coloring output) with a tighter Spark
    shape: every round selects the priority-local-minima among
    *uncolored* vertices (an independent set, exactly one Luby round)
    and assigns each the smallest color unused by its already-colored
    neighbors (greedy mex, ≤ Δ+1 colors). All colors are assigned in
    ONE loop of O(log V) expected rounds with a single driver action
    per round — the round-1 shape re-ran a full multi-round MIS per
    color (driver actions = colors × MIS-rounds), a latency cliff on
    wide-chromatic graphs. Deterministic at any parallelism: counter-
    based priorities ``xxhash64(vertex, round, seed)``, ties by id.

    ``check_every=k``: the emptiness probe (the loop's only driver
    round trip) runs every k rounds — a selection round over an
    already-empty active set is a no-op, so results are identical for
    any k and the only trade is up to k-1 wasted no-op rounds (empty
    frames) after completion.
    """
    loc = _try_local(G)
    if loc is not None:
        out = local_tail.coloring_local(loc[0], loc[1], loc[2], seed, max_colors)
        return G.edges.sparkSession.createDataFrame(
            out, "vertex long, color int"
        )
    edges = _sym_edges(G).persist(StorageLevel.MEMORY_AND_DISK)
    active = G.vertices().transform(truncate_plan)
    colored = None  # (vertex, color)

    for rnd in range(max_colors):
        if rnd % check_every == 0 and active.isEmpty():
            break
        pri = active.select(
            "vertex",
            F.struct(
                F.xxhash64(F.col("vertex"), F.lit(rnd), F.lit(seed)).alias("h"),
                F.col("vertex").alias("v"),
            ).alias("pri"),
        ).transform(truncate_plan)
        # local minima among still-active neighbors (independent set;
        # isolated-or-fully-colored-neighborhood vertices select too)
        act_e = (
            edges.join(pri.withColumnRenamed("vertex", SRC), SRC)
            .join(active.withColumnRenamed("vertex", DST), DST, "left_semi")
        )
        nbr_min = act_e.groupBy(DST).agg(F.min("pri").alias("nm"))
        sel = (
            pri.join(nbr_min, pri["vertex"] == nbr_min[DST], "left")
            .filter(F.col("nm").isNull() | (pri["pri"] < F.col("nm")))
            .select(pri["vertex"])
            .transform(truncate_plan)
        )
        # greedy mex over already-colored neighbors' colors; selected
        # vertices are pairwise non-adjacent so same-round assignments
        # can never conflict
        if colored is None:
            batch = sel.withColumn("color", F.lit(0))
        else:
            used = (
                edges.join(sel.withColumnRenamed("vertex", SRC), SRC, "left_semi")
                .join(
                    colored.withColumnRenamed("vertex", DST).withColumnRenamed(
                        "color", "nc"
                    ),
                    DST,
                )
                .groupBy(SRC)
                .agg(F.array_sort(F.collect_set("nc")).alias("used"))
                .select(F.col(SRC).alias("vertex"), "used")
            )
            batch = (
                sel.join(used, "vertex", "left")
                .select(
                    "vertex",
                    F.when(F.col("used").isNull(), F.lit(0))
                    .otherwise(
                        # smallest k in [0, |used|] missing from the
                        # sorted used-array; |used|+1 candidates so one
                        # is always free
                        F.array_min(
                            F.filter(
                                F.sequence(F.lit(0), F.size("used")),
                                lambda x: ~F.array_contains(F.col("used"), x),
                            )
                        )
                    )
                    .alias("color"),
                )
            )
        colored = batch if colored is None else colored.unionByName(batch)
        colored = colored.transform(truncate_plan)
        active = active.join(sel, "vertex", "left_anti").transform(truncate_plan)
    else:
        # loop exhausted — emptiness is checked at the TOP of each
        # iteration, so re-check before declaring failure (never
        # return a silently-partial coloring)
        if not active.isEmpty():
            edges.unpersist()
            raise RuntimeError(
                f"vertex_coloring did not color all vertices within "
                f"max_colors={max_colors} rounds; raise max_colors"
            )

    edges.unpersist()
    return (
        colored
        if colored is not None
        else G.vertices().withColumn("color", F.lit(0))
    )
