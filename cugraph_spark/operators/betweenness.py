"""Betweenness centrality (vertex + edge) — Brandes with batched sources.

Reference: ``centrality/betweenness_centrality_impl.cuh`` (752 LoC;
vertex at :276, edge at :560; python
``centrality/betweenness_centrality.py``): exact or sampled-source
Brandes; vertex results scaled by 1/((V-1)(V-2)) when normalized, edge
results by 1/(V(V-1)) (impl.cuh:655-670), both × V/#sources when
sampled.

Spark-first shape (the "sampled sources fan out as parallel jobs" plan
from SURVEY.md §2.3, realized as ONE DataFrame keyed by source): the
per-source BFS states are batched into a single state DataFrame
``(source, vertex, dist, sigma)`` so every superstep advances ALL
sources' frontiers in one join — level-synchronous forward sweep
recording per-level frontiers, then the backward dependency sweep
walks levels deepest-first with one join per level:

    delta(v) += Σ_{w: succ in BFS DAG} sigma(v)/sigma(w) · (1 + delta(w))

and the per-(v,w) term of that sum IS the edge (v,w)'s dependency —
edge betweenness accumulates the join rows before the per-vertex
groupBy (same sweeps, one extra keyed aggregation).

Unweighted shortest paths (hop counts), matching the reference's BFS
variant; vertices unreachable from a source contribute nothing.
O(S·V) state; frontier joins shuffle O(S·avg_frontier) rows per level.
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, Graph
from ..plans.strategy import resolve_partitions


def _brandes(
    G: Graph,
    k: int | None,
    sources: DataFrame | None,
    seed: int,
    num_partitions: int | str | None,
    per_edge: bool,
):
    """Shared Brandes sweeps. Returns (acc, verts, edges, V, n_sources)
    where acc is [vertex, bc] (per_edge=False) or [src, dst, bc]."""
    P = resolve_partitions(num_partitions, G.edges)
    edges = (
        G.edges.select(SRC, DST)
        .distinct()
        .repartition(P, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    verts = G.vertices().persist(StorageLevel.MEMORY_AND_DISK)
    V = verts.count()

    if sources is not None:
        # dedup: duplicate source rows would inflate n_sources (and so
        # deflate the V/n_sources estimator scale) while the batched
        # BFS, keyed on the source value, still runs each tree once
        src_df = sources.select(
            F.col(sources.columns[0]).alias("source")
        ).distinct()
    elif k is not None:
        # top-k by seeded hash = deterministic uniform sample (Spark
        # plans this as TakeOrderedAndProject — no global sort stage)
        src_df = (
            verts.orderBy(F.xxhash64(F.col("vertex"), F.lit(seed)), F.col("vertex"))
            .limit(k)
            .select(F.col("vertex").alias("source"))
        )
    else:
        src_df = verts.select(F.col("vertex").alias("source"))
    n_sources = src_df.count()

    # ---- forward sweep: level-synchronous BFS with path counts ----
    # state rows exist only for reached (source, vertex)
    frontier = src_df.select(
        "source", F.col("source").alias("vertex"),
        F.lit(0).alias("dist"), F.lit(1.0).alias("sigma"),
    ).transform(truncate_plan)
    levels = [frontier]  # per-level frontiers (dist = level index)
    reached = frontier.select("source", "vertex").transform(truncate_plan)

    depth = 0
    while True:
        depth += 1
        cand = (
            frontier.join(edges, frontier["vertex"] == edges[SRC])
            .groupBy("source", F.col(DST).alias("vertex"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt = (
            cand.join(reached, ["source", "vertex"], "left_anti")
            .select("source", "vertex", F.lit(depth).alias("dist"), "sigma")
            .transform(truncate_plan)
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)
        reached = reached.unionByName(
            nxt.select("source", "vertex")
        ).transform(truncate_plan)
        frontier = nxt

    # ---- backward sweep: dependency accumulation, deepest first ----
    # delta for the deepest level is 0
    acc = None  # accumulated contributions (per vertex or per edge)
    delta = levels[-1].select(
        "source", "vertex", "sigma", F.lit(0.0).alias("delta")
    )
    for lvl in range(len(levels) - 2, -1, -1):
        cur = levels[lvl]
        # successors of cur in the BFS DAG are delta-rows one level
        # deeper; the per-row term sigma(v)/sigma(w)·(1+delta(w)) is the
        # DAG-edge (v,w) dependency for this source
        j = (
            cur.join(edges, cur["vertex"] == edges[SRC])
            .join(
                delta.select(
                    F.col("source").alias("sw"), F.col("vertex").alias("w"),
                    F.col("sigma").alias("sigma_w"), F.col("delta").alias("delta_w"),
                ),
                (F.col(DST) == F.col("w")) & (cur["source"] == F.col("sw")),
            )
            .select(
                cur["source"].alias("source"),
                cur["vertex"].alias("vertex"),
                F.col("w"),
                (cur["sigma"] / F.col("sigma_w")
                 * (F.lit(1.0) + F.col("delta_w"))).alias("term"),
            )
        )
        if per_edge:
            part = (
                j.groupBy(F.col("vertex").alias(SRC), F.col("w").alias(DST))
                .agg(F.sum("term").alias("bc"))
            )
            acc = part if acc is None else (
                acc.unionByName(part)
                .groupBy(SRC, DST).agg(F.sum("bc").alias("bc"))
            )
            acc = acc.transform(truncate_plan)
        contrib = j.groupBy("source", "vertex").agg(F.sum("term").alias("dep"))
        delta = (
            cur.join(contrib, ["source", "vertex"], "left")
            .select(
                "source", "vertex", "sigma",
                F.coalesce("dep", F.lit(0.0)).alias("delta"),
            )
            .transform(truncate_plan)
        )
        if not per_edge and lvl > 0:  # source itself accumulates nothing
            part = delta.groupBy("vertex").agg(F.sum("delta").alias("bc"))
            acc = part if acc is None else (
                acc.unionByName(part).groupBy("vertex").agg(F.sum("bc").alias("bc"))
            )
            acc = acc.transform(truncate_plan)

    return acc, verts, edges, V, n_sources


def betweenness_centrality(
    G: Graph,
    k: int | None = None,
    sources: DataFrame | None = None,
    normalized: bool = True,
    seed: int = 42,
    num_partitions: int | str | None = None,
) -> DataFrame:
    """Returns [vertex, betweenness_centrality].

    ``k``: number of sources sampled pseudo-randomly but reproducibly —
    the k smallest by ``xxhash64(vertex, seed)`` (an unbiased uniform
    subset for any fixed seed, matching the reference's random source
    sampling while staying deterministic across runs). ``sources``:
    explicit single-column DataFrame of source vertices (overrides k).
    ``normalized``: divide by (V-1)(V-2) for directed graphs /
    ((V-1)(V-2))/2 undirected (reference semantics); sampled runs also
    scale by V/#sources like the reference estimator.

    Sampled-accuracy contract (Brandes & Pich 2007; Hoeffding 1963,
    which covers the without-replacement hash subset used here): each
    per-source normalized dependency lies in [0, V/(V−1)], so
    ``max_v |est − exact| ≤ sqrt(ln(2V/δ)/(2k)) · V/(V−1)`` with
    probability ≥ 1−δ — asserted by
    ``test_sampled_betweenness_error_bound``. k=V reproduces exact
    Brandes bit-for-bit (scale V/k = 1).
    """
    acc, verts, edges, V, n_sources = _brandes(
        G, k, sources, seed, num_partitions, per_edge=False
    )
    if acc is None:
        out = verts.withColumn("bc", F.lit(0.0))
    else:
        out = verts.join(acc, "vertex", "left").select(
            "vertex", F.coalesce("bc", F.lit(0.0)).alias("bc")
        )

    # reference/NetworkX rescale contract: normalized → 1/((V-1)(V-2))
    # (undirected double-count folds into it); unnormalized undirected
    # → 0.5; sampled → × V/#sources estimator correction
    if normalized and V > 2:
        scale = 1.0 / ((V - 1) * (V - 2))
    elif not G.directed:
        scale = 0.5
    else:
        scale = 1.0
    if 0 < n_sources < V:  # n_sources=0 → acc is None → all-zero out
        scale *= V / n_sources
    out = out.select(
        "vertex", (F.col("bc") * F.lit(scale)).alias("betweenness_centrality")
    )
    edges.unpersist()
    verts.unpersist()
    return out


def edge_betweenness_centrality(
    G: Graph,
    k: int | None = None,
    sources: DataFrame | None = None,
    normalized: bool = True,
    seed: int = 42,
    num_partitions: int | str | None = None,
) -> DataFrame:
    """Returns [src, dst, betweenness_centrality] — one row per directed
    edge of ``G.edges`` (for undirected graphs that is both orientations
    of each edge, the reference's symmetric edge_property layout).

    Scaling per ``betweenness_centrality_impl.cuh:655-670``: normalized
    → 1/(V(V-1)); unnormalized symmetric → 1/2; sampled → × V/#sources.
    """
    acc, verts, edges, V, n_sources = _brandes(
        G, k, sources, seed, num_partitions, per_edge=True
    )
    base = edges.select(SRC, DST)
    if acc is None:
        out = base.withColumn("bc", F.lit(0.0))
    else:
        out = base.join(acc, [SRC, DST], "left").select(
            SRC, DST, F.coalesce("bc", F.lit(0.0)).alias("bc")
        )

    if normalized and V > 1:
        scale = 1.0 / (V * (V - 1))
    elif not G.directed:
        scale = 0.5
    else:
        scale = 1.0
    if 0 < n_sources < V:  # n_sources=0 → acc is None → all-zero out
        scale *= V / n_sources
    out = out.select(
        SRC, DST, (F.col("bc") * F.lit(scale)).alias("betweenness_centrality")
    )
    edges.unpersist()
    verts.unpersist()
    return out
