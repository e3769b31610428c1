"""Traversal — BFS, SSSP, k-hop neighbors.

- BFS (``traversal/bfs_impl.cuh``, 325 LoC; python ``traversal/bfs.py``):
  frontier expansion as iterated semi-join; returns
  [vertex, distance, predecessor]. The reference's
  direction-optimizing switch (:202) is a latency optimization we skip
  (SURVEY.md §4). Predecessor choice is implementation-defined in the
  reference; we standardize on the minimum-id predecessor
  (deterministic, testable).
- SSSP (``traversal/sssp_impl.cuh``, 303 LoC): Bellman-Ford relax loop;
  the reference's near-far bucketing is a GPU scheduling detail —
  relax-until-fixed has identical semantics. Unreachable → distance
  +inf in the reference python wrapper becomes a large sentinel; we use
  NULL-free -1.0/NaN-free convention: unreachable distance = NULL.
- k_hop_neighbors (``cpp/src/traversal/k_hop_nbrs*``): repeated
  frontier semi-join expansion, distinct vertices within ≤k hops.

Scale notes: the frontier is usually ≪ V, so each superstep joins a
small frontier against the partitioned edge list (broadcast when tiny —
AQE converts automatically); messages pre-combine map-side via
groupBy(dst).min.
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..graph import DST, SRC, WGT, Graph
from ..plans.csr_blocks import CsrBlocks, VertexSlices, min_kernel, positions_of
from ..plans.strategy import resolve_partitions

_NONE = np.iinfo(np.int64).max  # no frontier in-neighbour


def bfs_edges(
    G: Graph,
    source: int,
    reverse: bool = False,
    depth_limit: int | None = None,
    sort_neighbors=None,
) -> DataFrame:
    """API-parity alias: the reference's ``bfs_edges``
    (``python/cugraph/cugraph/traversal/bfs.py:256-330``) forwards to
    ``bfs`` and rejects ``reverse``/``sort_neighbors`` itself."""
    if reverse:
        raise NotImplementedError("reverse traversal is not supported")
    if sort_neighbors is not None:
        raise NotImplementedError("sort_neighbors is not supported")
    return bfs(G, source, max_depth=depth_limit)


def _bfs_init(source):
    """The csr BFS setup of one pid (``VertexSlices.setup``): ``dist`` 0
    at the source and -1 elsewhere, ``pred`` -1."""

    def init(verts, rows, out_blk):
        return {"dist": np.where(verts == source, 0, -1), "pred": np.full(len(verts), -1)}, None

    return init


def _bfs_update(depth: int):
    """csr BFS level ``depth`` of one pid, bottom-up: each own unvisited
    vertex with a frontier in-neighbour (one at distance ``depth-1`` in
    the gathered ``dist``) gets that distance and its minimum-id
    frontier in-neighbour as predecessor (the pull min kernel over the
    pid's dst-keyed block). Returns the new ``dist``/``pred`` and the
    count of newly reached vertices."""

    def update(verts, own, blk, d, at):
        dist, pred = own["dist"].copy(), own["pred"].copy()
        ids = np.arange(blk.n_nbr) if blk.du is None else blk.du
        cand = min_kernel(blk, np.where(d == depth - 1, ids, _NONE))
        pos = positions_of(verts, blk.su)
        hit = (cand != _NONE) & (dist[pos] < 0)
        pos = pos[hit]
        dist[pos], pred[pos] = depth, cand[hit]
        return {"dist": dist, "pred": pred}, {"reached": len(pos)}

    return update


def _bfs_fold(depth: int, rows):
    """The csr BFS level's allreduce: the carry is the depth reached,
    and the run stops at a level that reaches no vertex."""
    return depth + 1, sum(r["reached"] for r in rows) == 0


def _bfs_csr(G: Graph, source, limit: int, P: int, block_dir: str | None) -> DataFrame:
    """The csr BFS plan (``bfs`` docstring): one setup job, then ONE
    barrier job runs the levels until one reaches nothing or ``limit``."""
    schema = StructType([G.vertices().schema["vertex"], StructField("distance", LongType()),
                         StructField("predecessor", LongType())])
    with CsrBlocks(G, P, block_dir) as blocks, VertexSlices(blocks, ("dist", "pred")) as state:
        state.setup(_bfs_init(source))
        return state.run(lambda depth: _bfs_update(depth + 1), ("dist", "pred"), "dist",
                         _bfs_fold, 0, limit, (schema, ["vertex", "dist", "pred"])).result


def bfs(
    G: Graph,
    source: int,
    max_depth: int | None = None,
    num_partitions: int | str | None = None,
    mode: str = "dataframe",
    block_dir: str | None = None,
) -> DataFrame:
    """Returns [vertex, distance, predecessor]; unreachable vertices get
    distance -1, predecessor -1 (reference python contract uses the
    max-distance sentinel; -1 is our deterministic equivalent).

    Scale shape: the loop never rewrites the O(V) state — each level
    materializes only the FRONTIER-sized set of newly reached vertices
    (``cand`` anti-joined against the visited set), and the full
    [vertex, distance, predecessor] table is assembled ONCE at the end
    from the per-level frames. Per-level cost is O(frontier·deg +
    visited), not O(V) join + O(V) shuffle + O(V) checkpoint per level
    (the round-2 shape) — on a 100 TB graph the early/late levels touch
    KB, not the whole vertex set. Predecessor is the min frontier
    in-neighbor at the level of first reach, exactly as before.

    ``mode="csr"``: every level bottom-up (the pull direction of the
    reference's direction-optimizing BFS, ``bfs_impl.cuh:202``) over
    packed blocks (``plans/csr_blocks.py``). ``dist``/``pred`` live in
    per-pid slices beside them, in the superstep skeleton csr PageRank
    and WCC share (``csr_blocks.VertexSlices``), and this module
    supplies only ``_bfs_init``, ``_bfs_update`` and ``_bfs_fold``: one
    setup job writes them, and the levels run in ONE barrier job with no
    exchange, whose tasks add up each level's reached count themselves
    and stop at a level that reaches nothing. Per level a task reads
    every pid's ``dist`` into one O(V) vector and gives each own
    unvisited vertex with a frontier in-neighbour the level's distance
    and its min-id frontier in-neighbour — the dataframe plan's rule
    exactly. In-edges come from the dst-keyed view: an
    undirected graph's own blocks, a directed graph's ``T/`` sub-store,
    packed once into ``block_dir``.
    A level costs O(V) reads plus O(E/P) edge work per task whatever
    the frontier size. ``block_dir``: shared storage on a cluster; a
    pack of THIS graph is reused; a missing block or slice raises.

    ``num_partitions``: an int, ``"auto"`` (sized from plan
    statistics) or None (``spark.sql.shuffle.partitions``) — the
    shared ``resolve_partitions`` rule."""
    if mode not in ("dataframe", "csr"):
        raise ValueError(f"unknown mode: {mode!r}")
    P = resolve_partitions(num_partitions, G.edges)
    limit = max_depth if max_depth is not None else 2**31
    if mode == "csr":
        return _bfs_csr(G, source, limit, P, block_dir)

    edges = (
        G.edges.select(SRC, DST)
        .repartition(P, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the source frontier comes off the (filter-pushed) edge scan, not
    # an O(E) vertices() distinct; a source absent from the graph yields
    # an empty frontier → all-unreachable output, as before
    f0 = (
        edges.select(F.col(SRC).alias("vertex"))
        .filter(F.col("vertex") == source)
        .unionByName(
            edges.select(F.col(DST).alias("vertex")).filter(
                F.col("vertex") == source
            )
        )
        .distinct()
        .transform(truncate_plan)  # materialized ≤1 row: the final
        # assembly below must not re-read the edge cache after unpersist
    )
    frontier = f0
    visited = f0.select("vertex")
    levels: list[DataFrame] = []  # (vertex, pred) per depth, disjoint by construction
    depth = 0
    while depth < limit:
        depth += 1
        cand = frontier.join(edges, frontier["vertex"] == edges[SRC])
        cand = cand.groupBy(DST).agg(F.min(SRC).alias("pred"))
        nxt = (
            cand.join(visited, cand[DST] == visited["vertex"], "left_anti")
            .select(
                F.col(DST).cast("long").alias("vertex"),
                F.col("pred").cast("long"),
            )
            .transform(truncate_plan)
        )
        n_new = nxt.count()
        if n_new == 0:
            break
        levels.append(nxt.withColumn("distance", F.lit(depth).cast("long")))
        visited = visited.unionByName(nxt.select("vertex"))
        if depth % 8 == 0:
            # bound the visited union's plan depth on high-diameter graphs
            visited = visited.transform(truncate_plan)
        frontier = nxt.select("vertex")
    reached = f0.select(
        "vertex", F.lit(0).cast("long").alias("distance"),
        F.lit(-1).cast("long").alias("predecessor"),
    )
    for lv in levels:
        reached = reached.unionByName(
            lv.select("vertex", "distance", F.col("pred").alias("predecessor"))
        )
    out = (
        G.vertices()
        .join(reached.withColumnRenamed("vertex", "rv"),
              F.col("vertex") == F.col("rv"), "left")
        .select(
            "vertex",
            F.coalesce("distance", F.lit(-1)).cast("long").alias("distance"),
            F.coalesce("predecessor", F.lit(-1)).cast("long").alias("predecessor"),
        )
    )
    edges.unpersist()
    return out


def sssp(
    G: Graph,
    source: int,
    max_iter: int = 10_000,
    num_partitions: int | str | None = None,
) -> DataFrame:
    """Bellman-Ford to fixpoint; returns [vertex, distance] with NULL for
    unreachable. Negative weights rejected like the reference
    (sssp_impl.cuh requires non-negative)."""
    P = resolve_partitions(num_partitions, G.edges)
    edges = (
        G.edges.select(SRC, DST, WGT).repartition(P, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    )
    # one-time contract check (sssp_impl.cuh requires non-negative)
    if not edges.filter(F.col(WGT) < 0).isEmpty():
        edges.unpersist()
        raise ValueError("sssp requires non-negative edge weights")
    state = (
        G.vertices()
        .select(
            "vertex",
            F.when(F.col("vertex") == source, F.lit(0.0)).otherwise(F.lit(None).cast("double")).alias("distance"),
        )
        .repartition(P, "vertex")
        .transform(truncate_plan)
    )
    # frontier = vertices whose distance improved last round
    frontier = state.filter(F.col("distance").isNotNull())
    for _ in range(max_iter):
        cand = (
            frontier.join(edges, frontier["vertex"] == edges[SRC])
            .groupBy(DST)
            .agg(F.min(F.col("distance") + F.col(WGT)).alias("cand"))
        )
        joined = state.join(cand, state["vertex"] == cand[DST], "left")
        improved = joined.filter(
            F.col("cand").isNotNull()
            & (F.col("distance").isNull() | (F.col("cand") < F.col("distance")))
        ).select(state["vertex"], F.col("cand").alias("distance")).transform(truncate_plan)
        n_impr = improved.count()
        if n_impr == 0:
            break
        state = (
            state.join(improved.withColumnRenamed("vertex", "iv").withColumnRenamed("distance", "nd"),
                       state["vertex"] == F.col("iv"), "left")
            .select(
                state["vertex"],
                F.when(F.col("iv").isNotNull(), F.col("nd")).otherwise(state["distance"]).alias("distance"),
            )
            .repartition(P, "vertex")
            .transform(truncate_plan)
        )
        frontier = improved
    edges.unpersist()
    return state.select("vertex", "distance")


def k_hop_neighbors(G: Graph, start: DataFrame, k: int) -> DataFrame:
    """Distinct vertices within ≤ k hops (k_hop_nbrs semantics): returns
    [start_vertex, nbr]. ``start``: single-column DataFrame of seeds."""
    seeds = start.select(F.col(start.columns[0]).alias("start_vertex"))
    reach = seeds.withColumn("nbr", F.col("start_vertex"))
    edges = G.edges.select(SRC, DST)
    for _ in range(k):
        step = (
            reach.join(edges, reach["nbr"] == edges[SRC])
            .select("start_vertex", F.col(DST).alias("nbr"))
        )
        reach = reach.unionByName(step).distinct().transform(truncate_plan)
    return reach


def multi_source_bfs(
    G: Graph,
    sources: DataFrame,
    max_depth: int | None = None,
    num_partitions: int | str | None = None,
) -> DataFrame:
    """Batched BFS from every source at once (reference
    ``multi_source_bfs`` / ``concurrent_bfs`` exports,
    python ``traversal/bfs.py``): ONE state DataFrame keyed by
    (source, vertex) advances all frontiers per superstep — the same
    batched-frontier shape as betweenness's forward sweep, so S sources
    cost one join per level, not S jobs. Returns
    [source, vertex, distance, predecessor] for REACHED pairs only;
    predecessor is the min-id parent (−1 for the source row itself)."""
    P = resolve_partitions(num_partitions, G.edges)
    edges = (
        G.edges.select(SRC, DST).distinct()
        .repartition(P, SRC).persist(StorageLevel.MEMORY_AND_DISK)
    )
    src_df = sources.select(F.col(sources.columns[0]).alias("source"))
    frontier = src_df.select(
        "source", F.col("source").alias("vertex"),
        F.lit(0).cast("long").alias("distance"),
        F.lit(-1).cast("long").alias("predecessor"),
    ).transform(truncate_plan)
    result = frontier
    depth = 0
    while max_depth is None or depth < max_depth:
        depth += 1
        cand = (
            frontier.join(edges, frontier["vertex"] == edges[SRC])
            .groupBy("source", F.col(DST).alias("vertex"))
            .agg(F.min(edges[SRC]).alias("predecessor"))
        )
        nxt = (
            cand.join(result.select("source", "vertex"), ["source", "vertex"], "left_anti")
            .select(
                "source", "vertex",
                F.lit(depth).cast("long").alias("distance"),
                F.col("predecessor").cast("long"),
            )
            .transform(truncate_plan)
        )
        if nxt.isEmpty():
            break
        result = result.unionByName(nxt).transform(truncate_plan)
        frontier = nxt
    edges.unpersist()
    return result


def concurrent_bfs(G: Graph, sources: DataFrame, **kw) -> DataFrame:
    """Reference ``concurrent_bfs`` export — alias of multi_source_bfs."""
    return multi_source_bfs(G, sources, **kw)


def shortest_path(G: Graph, source: int, **kw) -> DataFrame:
    """Reference ``shortest_path`` export (traversal/sssp.py) — sssp."""
    return sssp(G, source, **kw)


def shortest_path_length(G: Graph, source: int, **kw) -> DataFrame:
    """Reference ``shortest_path_length`` export: [vertex, distance]."""
    return sssp(G, source, **kw).select("vertex", "distance")


def filter_unreachable(df: DataFrame) -> DataFrame:
    """Reference ``filter_unreachable`` export (traversal/sssp.py): drop
    rows whose distance marks unreachability (NULL from sssp, −1 from
    bfs, +inf from padded inputs)."""
    d = F.col("distance")
    return df.filter(d.isNotNull() & (d >= 0) & (d != float("inf")))
