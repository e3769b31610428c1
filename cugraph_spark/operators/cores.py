"""Core decomposition — core_number + k_core.

Reference: ``cores/core_number_impl.cuh`` (327 LoC) /
``k_core_impl.cuh`` (99 LoC); python ``cores/core_number.py``,
``cores/k_core.py``. The reference peels degree buckets on-GPU. Peeling
is inherently sequential in k, so for Spark we use the *distributed
k-core decomposition* of Montresor, De Pellegrini & Miorandi (IEEE TPDS
2013, public literature): every vertex iterates

    core(v) ← H({core(u) : u ~ v})

where H is the h-index operator (largest h such that ≥ h neighbors have
core ≥ h), starting from core(v) = degree(v). This converges to the
exact core numbers in a bounded number of supersteps and is exactly the
gather-scatter skeleton every other operator uses.

The per-vertex H computation is pure SQL (no UDF) over *distinct core
values*, not raw neighbor rows: messages first combine to
``(dst, nbr_core) → cnt`` (map-side combinable groupBy), then a
descending cumulative count gives ``H = max(least(nbr_core, cum))`` —
the h-index identity ``H = max_v min(v, N≥v)`` over distinct values v
(the max is always attained at a value present in the multiset).

Scale notes: the O(E) message shuffle is keyed on (dst, nbr_core), so a
hub's messages spread over its distinct neighbor-core values both in
the combine and in the shuffle — no single hot key. The per-dst window
(which AQE can NOT split — a window partition must be one task) then
sees at most #distinct-core-values ≤ core_max = O(√E) rows per vertex,
not degree(v) rows: a degree-10M hub contributes ≤ a few thousand rows
to its window partition.
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph

# Superstep budget the h-index fixpoint runs to when the caller does not
# cap it. Shared by the signature default (via None) and the local-tail
# gate below so the two can never drift apart.
_DEFAULT_MAX_ITER = 100


def core_number(
    G: Graph,
    max_iter: int | None = None,
    num_partitions: int | str | None = None,
) -> DataFrame:
    """Returns [vertex, core_number] on the undirected simple graph
    (self-loops ignored, like core_number_impl.cuh).

    Small graphs take the driver-local exact peel
    (``plans/local_tail.py`` — core numbers are a graph invariant, so
    peeling and the distributed h-index fixpoint agree exactly)."""
    if G.directed:
        raise ValueError("core_number requires an undirected graph")
    from ..plans import local_tail

    # The exact peel equals the h-index fixpoint only at CONVERGENCE; a
    # caller-truncated budget (max_iter below the default) asks for the
    # partially-converged distributed value, which the peel cannot
    # reproduce — run distributed in that case so both sides of the
    # size gate honor the same contract. None means "run to
    # convergence", so it always qualifies.
    if (max_iter is None or max_iter >= _DEFAULT_MAX_ITER) and local_tail.fits(G.edges):
        import numpy as np

        src, dst, _w = local_tail.collect_edges(G.edges, weighted=False)
        vertices = np.unique(np.concatenate([src, dst]))
        out = local_tail.core_number_local(src, dst, vertices)
        return G.edges.sparkSession.createDataFrame(
            out, "vertex long, core_number long"
        )
    if max_iter is None:
        max_iter = _DEFAULT_MAX_ITER
    from ..plans.strategy import resolve_partitions

    P = resolve_partitions(num_partitions, G.edges)
    edges = (
        G.edges.select(SRC, DST)
        .filter(F.col(SRC) != F.col(DST))
        .distinct()  # simple graph
        .repartition(P, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = edges.groupBy(F.col(SRC).alias("vertex")).agg(F.count("*").alias("core"))
    state = (
        G.vertices()
        .join(deg, "vertex", "left")
        .select("vertex", F.coalesce("core", F.lit(0)).cast("long").alias("core"))
        .repartition(P, "vertex")
        .transform(truncate_plan)
    )

    w = (
        Window.partitionBy(DST)
        .orderBy(F.desc("nbr_core"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for _ in range(max_iter):
        msgs = edges.join(state, edges[SRC] == state["vertex"]).select(
            F.col(DST), F.col("core").alias("nbr_core")
        )
        counts = msgs.groupBy(DST, "nbr_core").agg(F.count("*").alias("cnt"))
        h = (
            counts.withColumn("cum", F.sum("cnt").over(w))
            .groupBy(DST)
            .agg(F.max(F.least(F.col("nbr_core"), F.col("cum"))).alias("h"))
        )
        # carry the old core through the update so the changed-count
        # needs no extra state self-join (same idiom as wcc/lpa/scc)
        new_full = (
            state.join(h, state["vertex"] == h[DST], "left")
            .select(
                state["vertex"],
                F.least(
                    state["core"], F.coalesce("h", F.lit(0))
                ).alias("core"),
                state["core"].alias("old"),
            )
            .repartition(P, "vertex")
            .transform(truncate_plan)
        )
        changed = (
            new_full.agg(
                F.sum(F.when(F.col("core") != F.col("old"), 1).otherwise(0)).alias("c")
            )
            .first()["c"]
        )
        state = new_full.select("vertex", "core")
        if changed == 0:
            break

    edges.unpersist()
    return state.select("vertex", F.col("core").alias("core_number"))


def k_core(G: Graph, k: int, core_numbers: DataFrame | None = None) -> Graph:
    """Maximal subgraph with all degrees ≥ k (k_core_impl.cuh): the
    induced subgraph on {v : core_number(v) ≥ k}."""
    cn = core_numbers if core_numbers is not None else core_number(G)
    keep = cn.filter(F.col("core_number") >= k).select("vertex")
    return G.induced_subgraph(keep)
