"""Community — modularity scoring, one-level Louvain, ego graphs,
k-truss, coarsening.

Reference surface:
- Louvain (``community/louvain_impl.cuh``, 364 LoC): repeated
  modularity-gain label moves + graph coarsening
  (``structure/coarsen_graph_impl.cuh``). We implement the same
  structure Spark-first: synchronous best-gain moves (deterministic
  tie-break) per level, then ``coarsen_graph`` contraction, looping
  levels until modularity stops improving.
- modularity (``community/detail``): Q = Σ_c (in_c/2m − γ·(deg_c/2m)²).
- Ego graph (``community/egonet_impl.cuh``, 268 LoC): k-hop ball around
  seeds + induced subgraph.
- K-truss (``community/k_truss_impl.cuh``, 937 LoC): iterated removal
  of edges with triangle-support < k−2.

Scale notes: every level of Louvain is the standard gather-scatter
superstep + one coarsening groupBy; k-truss iterations reuse the
oriented edge_triangle_count join (√E fan-out bound).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from ..plans.lineage import truncate_plan
from ..plans import local_tail

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, WGT, Graph
from .triangle_count import edge_triangle_count
from .wcc import weakly_connected_components


def coarsen_graph(G: Graph, labels: DataFrame) -> DataFrame:
    """Contract vertices by label (``coarsen_graph_impl.cuh``): join
    labels onto both endpoints, sum parallel edge weights. Returns a
    coarsened edge DataFrame (src=dst self-edges kept — they carry the
    intra-community weight Louvain needs)."""
    lab = labels.select(F.col("vertex").alias("v"), F.col("labels").alias("l"))
    return (
        G.edges.join(lab.withColumnRenamed("v", SRC), SRC)
        .withColumnRenamed("l", "src_l")
        .join(lab.withColumnRenamed("v", DST), DST)
        .withColumnRenamed("l", "dst_l")
        .groupBy(F.col("src_l").alias(SRC), F.col("dst_l").alias(DST))
        .agg(F.sum(WGT).alias(WGT))
    )


def modularity(
    G: Graph, labels: DataFrame, resolution: float = 1.0,
    two_m: float | None = None,
) -> float:
    """Q = Σ_c [ in_c/(2m) − γ·(deg_c/(2m))² ] over the symmetrized
    edge list (each undirected edge appears in both directions, so
    2m = Σ weight and in_c counts both directions). Pass ``two_m`` when
    the caller already aggregated it (saves one full-edge action —
    louvain/leiden evaluate modularity once per level)."""
    if G.directed:
        raise ValueError("modularity requires an undirected graph")
    lab = labels.select(F.col("vertex").alias("v"), F.col("labels").alias("l"))
    e = (
        G.edges.join(lab.withColumnRenamed("v", SRC), SRC)
        .withColumnRenamed("l", "src_l")
        .join(lab.withColumnRenamed("v", DST), DST)
        .withColumnRenamed("l", "dst_l")
    )
    if two_m is None:
        two_m = e.agg(F.sum(WGT)).first()[0]
    if not two_m:
        return 0.0
    per_c = e.groupBy("src_l").agg(
        F.sum(F.when(F.col("src_l") == F.col("dst_l"), F.col(WGT)).otherwise(0.0)).alias("in_c"),
        F.sum(WGT).alias("deg_c"),
    )
    # Σ in_c/2m − γ·Σ(deg_c/2m)² rearranged to ((Σin_c) − γ(Σdeg_c²)/2m)/2m:
    # both sums are EXACT doubles for integer-valued weights (the
    # division happens once, after), so Q is bit-deterministic across
    # physical plans — the per-community form sums already-divided
    # doubles in partition order and drifts by ulps between runs.
    row = per_c.agg(
        F.sum("in_c").alias("a"),
        F.sum(F.col("deg_c") * F.col("deg_c")).alias("b"),
    ).first()
    return float((row["a"] - resolution * row["b"] / two_m) / two_m)


def _move_phase(
    edges: DataFrame,
    two_m: float,
    max_iter: int,
    resolution: float,
    min_gain: float,
    init_labels: DataFrame | None = None,
    move_mask_seed: int | None = None,
    n_edges: int | None = None,
    collected=None,
) -> DataFrame:
    """Synchronous best-modularity-gain label moves (the louvain_impl.cuh
    move kernel): per round every vertex adopts the neighbor community
    with the highest gain (min-label tie-break), until stable. Returns
    [vertex, k, labels].

    ``init_labels``: optional [vertex, labels] starting assignment
    (Leiden seeds the next level's moves with the previous move
    communities). ``move_mask_seed``: if set, each round only vertices
    with ``xxhash64(vertex, round, seed) % 2 == 0`` may move — the
    synchronous-engine analog of randomized sequential visit order
    (used by the ECG ensemble to diversify runs; Poulin & Théberge
    2018 randomize exactly this greedy order).

    ``n_edges``: the edge-row count, when the caller already knows it
    (louvain/leiden fuse it into the two_m aggregate). At or below the
    local-tail threshold the whole move loop runs driver-side in numpy
    with the identical hash stream and expression tree
    (``plans/local_tail.py``) — the single-GPU-handoff analog; the
    coarsened levels of every Louvain/Leiden run end here.

    ``collected``: pre-collected ``(src, dst, wgt)`` numpy arrays for
    the local branch — ECG's ensemble members all move over the SAME
    edge frame, so the caller collects once instead of 16 times."""
    if n_edges is not None and n_edges <= local_tail.LOCAL_TAIL_EDGES:
        src, dst, wgt = (
            collected if collected is not None else local_tail.collect_edges(edges)
        )
        init = None
        if init_labels is not None:
            pdf = init_labels.select("vertex", "labels").toPandas()
            init = {
                int(v): int(l)
                for v, l in zip(pdf["vertex"], pdf["labels"])
            }
        out = local_tail.move_phase_local(
            src, dst, wgt, two_m, max_iter, resolution, min_gain,
            init_labels=init, move_mask_seed=move_mask_seed,
        )
        return edges.sparkSession.createDataFrame(
            out, "vertex long, k double, labels long"
        )
    verts = (
        edges.select(F.col(SRC).alias("vertex"))
        .unionByName(edges.select(F.col(DST).alias("vertex")))
        .distinct()
    )
    k = edges.groupBy(F.col(SRC).alias("vertex")).agg(F.sum(WGT).alias("k"))
    state = verts.join(k, "vertex", "left").select(
        "vertex", F.coalesce("k", F.lit(0.0)).alias("k")
    )
    if init_labels is None:
        state = state.withColumn("labels", F.col("vertex"))
    else:
        il = init_labels.select(
            F.col("vertex").alias("iv"), F.col("labels").alias("il")
        )
        state = state.join(il, state["vertex"] == F.col("iv")).select(
            "vertex", "k", F.col("il").alias("labels")
        )
    state = state.transform(truncate_plan)

    for rnd in range(max_iter):
        # community volumes Σ_tot
        sigma = (
            state.groupBy("labels").agg(F.sum("k").alias("sigma"))
            .withColumnRenamed("labels", "sig_l")
        )
        lab = state.select(F.col("vertex").alias("nv"), F.col("labels").alias("nl"))
        # per (vertex, neighbor community): Σ weight into that community
        knc = (
            edges.filter(F.col(SRC) != F.col(DST))
            .join(lab, F.col(DST) == F.col("nv"))
            .groupBy(F.col(SRC).alias("vertex"), F.col("nl").alias("cand"))
            .agg(F.sum(WGT).alias("k_in"))
        )
        # gain ∝ k_in − γ·k_v·(σ_cand \ v)/2m ; staying counts too.
        # All columns renamed to unique names before the joins —
        # knc/sigma both descend from `state`, so attribute
        # references would be ambiguous self-join refs.
        stt = state.select(
            "vertex", F.col("k").alias("k_v"), F.col("labels").alias("cur")
        )
        scored = (
            knc.join(stt, "vertex")
            .join(sigma, F.col("cand") == F.col("sig_l"))
            .select(
                "vertex", "cand", "cur",
                (
                    F.col("k_in")
                    - F.lit(resolution) * F.col("k_v")
                    * (F.col("sigma") - F.when(F.col("cand") == F.col("cur"), F.col("k_v")).otherwise(0.0))
                    / F.lit(two_m)
                ).alias("gain"),
            )
        )
        best = scored.groupBy("vertex").agg(
            F.max(F.struct(F.col("gain"), (-F.col("cand")).alias("nc"))).alias("m")
        ).select(
            "vertex",
            (-F.col("m.nc")).alias("new_label"),
            F.col("m.gain").alias("best_gain"),
        )
        may_move = F.lit(True) if move_mask_seed is None else (
            F.pmod(F.xxhash64(F.col("vertex"), F.lit(rnd), F.lit(move_mask_seed)), F.lit(2)) == 0
        )
        new_state = (
            state.join(best, "vertex", "left")
            .select(
                "vertex", "k",
                F.when(
                    (F.col("best_gain") > F.lit(min_gain)) & may_move,
                    F.col("new_label"),
                ).otherwise(F.col("labels")).alias("labels"),
                state["labels"].alias("old"),
            )
            .transform(truncate_plan)
        )
        changed = new_state.agg(
            F.sum(F.when(F.col("labels") != F.col("old"), 1).otherwise(0))
        ).first()[0]
        state = new_state.select("vertex", "k", "labels")
        if not changed:
            break
    return state


def louvain(
    G: Graph,
    max_levels: int = 10,
    max_iter_per_level: int = 10,
    resolution: float = 1.0,
    min_gain: float = 1.0e-7,
    checkpoint=None,
    resume: bool = False,
) -> tuple[DataFrame, float]:
    """One-pass-per-level Louvain (louvain_impl.cuh structure):
    synchronous best-modularity-gain moves with deterministic min-label
    tie-break, then coarsen; levels until Q stops improving.
    Returns ([vertex, labels], final modularity).

    ``checkpoint``: a ``plans.checkpoint.CheckpointManager`` — the
    accepted assignment is durably saved after every LEVEL (the
    hour-scale unit at 100 TB), with modularity in the metrics;
    ``resume=True`` restarts from the latest saved level. Coarsened
    edges are NOT stored: coarsening is transitive, so the level-L edge
    list is recomputed as one ``coarsen_graph(G, assignment)`` job from
    the saved assignment (cheaper than persisting an edge snapshot per
    level and keeps the checkpoint O(V))."""
    if G.directed:
        raise ValueError("louvain requires an undirected graph")

    spark = G.edges.sparkSession
    # running assignment original vertex -> community
    assignment = G.vertices().withColumn("labels", F.col("vertex"))
    cur_edges = G.edges
    start_level = 0
    if resume and checkpoint is not None and checkpoint.latest_iteration() is not None:
        it0 = checkpoint.latest_iteration()
        saved, meta = checkpoint.load(spark, it0)
        assignment = saved.transform(truncate_plan)
        best_q = float(meta["metrics"]["modularity"])
        cur_edges = coarsen_graph(G, assignment).transform(truncate_plan)
        start_level = int(meta["iteration"]) + 1
    else:
        best_q = modularity(G, assignment, resolution)

    for _level in range(start_level, max_levels):
        edges = cur_edges.persist(StorageLevel.MEMORY_AND_DISK)
        row = edges.agg(
            F.sum(WGT).alias("two_m"), F.count("*").alias("n_edges")
        ).first()
        two_m, n_edges = row["two_m"], int(row["n_edges"] or 0)
        if not two_m:
            edges.unpersist()
            break
        state = _move_phase(
            edges, two_m, max_iter_per_level, resolution, min_gain,
            n_edges=n_edges,
        )

        # push level labels down to original vertices
        level_lab = state.select(F.col("vertex").alias("lv"), F.col("labels").alias("ll"))
        candidate = (
            assignment.join(level_lab, assignment["labels"] == level_lab["lv"])
            .select(assignment["vertex"], F.col("ll").alias("labels"))
            .transform(truncate_plan)
        )
        # modularity is coarsening-invariant (coarsen keeps self-loops:
        # in_c and deg_c aggregate identically), so the acceptance gate
        # evaluates on the CURRENT level's edges — O(E_level), which
        # shrinks geometrically with depth — never re-touching the
        # original graph after level 0.
        q = modularity(
            _as_graph(edges, G), state.select("vertex", "labels"),
            resolution, two_m=two_m,
        )
        coarse = coarsen_graph(
            _as_graph(cur_edges, G), state.select("vertex", "labels")
        )
        edges.unpersist()
        if q <= best_q + min_gain:
            # synchronous moves can oscillate and LOWER Q on the last
            # level — keep the previous assignment so the returned
            # labels actually achieve the returned best_q
            if q > best_q:
                assignment = candidate
                best_q = q
            break
        assignment = candidate
        best_q = q
        if checkpoint is not None:
            assignment = checkpoint.save(
                assignment.select("vertex", "labels"), _level,
                {"modularity": best_q, "resolution": resolution},
            )
        cur_edges = coarse.transform(truncate_plan)

    return assignment.select("vertex", "labels"), best_q


def _refine_partition(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Leiden refinement: split every move-community into its connected
    components — :func:`weakly_connected_components` over the edges
    whose endpoints share a community (self-loops dropped), so the
    refined label is the min vertex id of the component, and a vertex
    with no such edge is a component of its own. This enforces Leiden's
    headline guarantee — every returned community is internally
    connected (Traag, Waltman & van Eck 2019; reference
    ``community/leiden_impl.cuh`` refinement phase) — and splitting a
    disconnected community can only increase modularity (in-weights
    unchanged, Σdeg² strictly drops). Returns [vertex, refined]."""
    lab = labels.select(F.col("vertex").alias("lv"), F.col("labels").alias("ll"))
    intra = (
        edges.filter(F.col(SRC) != F.col(DST))
        .join(lab.withColumnRenamed("lv", SRC).withColumnRenamed("ll", "l_src"), SRC)
        .join(lab.withColumnRenamed("lv", DST).withColumnRenamed("ll", "l_dst"), DST)
        .filter(F.col("l_src") == F.col("l_dst"))
        .select(SRC, DST)
    )
    comp = weakly_connected_components(Graph(intra, directed=False, weighted=False))
    return (
        labels.select("vertex")
        .join(comp.withColumnRenamed("labels", "refined"), "vertex", "left")
        .select("vertex", F.coalesce("refined", "vertex").alias("refined"))
        .transform(truncate_plan)
    )


def leiden(
    G: Graph,
    max_levels: int = 10,
    max_iter_per_level: int = 10,
    resolution: float = 1.0,
    min_gain: float = 1.0e-7,
    checkpoint=None,
    resume: bool = False,
) -> tuple[DataFrame, float]:
    """Leiden community detection (reference
    ``community/leiden_impl.cuh``, python ``community/leiden.py``;
    Traag et al. 2019): per level (1) Louvain move phase, (2)
    **refinement** — move-communities split into connected components,
    (3) aggregation by the REFINED partition with the next level's
    moves seeded from the move-community of each refined node (the
    Leiden aggregation rule that distinguishes it from Louvain).
    Returns ([vertex, labels], modularity); every community is
    internally connected.

    ``checkpoint``/``resume``: per-LEVEL durable state like
    :func:`louvain`; Leiden additionally carries the next level's move
    seeds (each refined node's move community), saved through a sidecar
    manager under ``{name}_seed``."""
    if G.directed:
        raise ValueError("leiden requires an undirected graph")

    spark = G.edges.sparkSession
    assignment = G.vertices().withColumn("labels", F.col("vertex"))
    cur_edges = G.edges
    seed_labels = None  # move-phase init for the current level
    seed_ckpt = None
    if checkpoint is not None:
        from ..plans.checkpoint import CheckpointManager

        seed_ckpt = CheckpointManager(
            checkpoint.root, checkpoint.name + "_seed", checkpoint.format
        )
    start_level = 0
    it0 = None
    if resume and checkpoint is not None and checkpoint.latest_iteration() is not None:
        # a level is durable only when BOTH managers committed it: a
        # crash between the main save and the seed-sidecar save would
        # leave the main manager one level ahead, and resuming from its
        # latest would hit a missing seed dir forever. Resume from the
        # last level present in both (re-running the torn level is
        # safe — saves are idempotent per iteration id).
        it_main = checkpoint.latest_iteration()
        it_seed = seed_ckpt.latest_iteration()
        if it_seed is not None:
            it0 = min(it_main, it_seed)
    if it0 is not None:
        saved, meta = checkpoint.load(spark, it0)
        assignment = saved.transform(truncate_plan)
        best_q = float(meta["metrics"]["modularity"])
        cur_edges = coarsen_graph(G, assignment).transform(truncate_plan)
        seed_labels, _smeta = seed_ckpt.load(spark, it0)
        seed_labels = seed_labels.transform(truncate_plan)
        start_level = int(meta["iteration"]) + 1
    else:
        best_q = modularity(G, assignment, resolution)

    for _level in range(start_level, max_levels):
        edges = cur_edges.persist(StorageLevel.MEMORY_AND_DISK)
        row = edges.agg(
            F.sum(WGT).alias("two_m"), F.count("*").alias("n_edges")
        ).first()
        two_m, n_edges = row["two_m"], int(row["n_edges"] or 0)
        if not two_m:
            edges.unpersist()
            break
        moved = _move_phase(
            edges, two_m, max_iter_per_level, resolution, min_gain,
            init_labels=seed_labels, n_edges=n_edges,
        )
        # one row per vertex of the level graph — cheaper than a
        # distinct over the edge list for the contraction check
        n_cur = moved.count()
        move_labels = moved.select("vertex", "labels")
        refined = _refine_partition(edges, move_labels)  # [vertex, refined]
        n_refined = refined.select("refined").distinct().count()

        # push refined labels down to original vertices
        rl = refined.select(F.col("vertex").alias("lv"), F.col("refined").alias("ll"))
        candidate = (
            assignment.join(rl, assignment["labels"] == rl["lv"])
            .select(assignment["vertex"], F.col("ll").alias("labels"))
            .transform(truncate_plan)
        )
        # coarsening-invariant acceptance gate on the level edges (see
        # louvain): O(E_level) instead of two O(E_original) actions
        q = modularity(
            _as_graph(edges, G),
            refined.withColumnRenamed("refined", "labels"),
            resolution, two_m=two_m,
        )

        # aggregate by refined partition; seed next level's move phase
        # with each refined node's MOVE community (Leiden aggregation)
        coarse = coarsen_graph(
            _as_graph(cur_edges, G), refined.withColumnRenamed("refined", "labels")
        )
        seed_labels = (
            refined.join(move_labels.withColumnRenamed("vertex", "mv"),
                         refined["vertex"] == F.col("mv"))
            .groupBy(F.col("refined").alias("vertex"))
            .agg(F.min("labels").alias("labels"))
            .transform(truncate_plan)
        )
        edges.unpersist()
        if q <= best_q + min_gain:
            if q > best_q:
                assignment = candidate
                best_q = q
            break
        assignment = candidate
        best_q = q
        if checkpoint is not None:
            assignment = checkpoint.save(
                assignment.select("vertex", "labels"), _level,
                {"modularity": best_q, "resolution": resolution},
            )
            seed_labels = seed_ckpt.save(
                seed_labels.select("vertex", "labels"), _level,
                {"level": _level},
            )
        if n_refined >= n_cur:
            # no contraction — the partition is stable; further levels
            # would redo the same moves on the same graph
            break
        # truncate_plan (stats-clean localCheckpoint) truncates the per-level lineage so level L's
        # move phase does not re-analyze levels 0..L-1 (SURVEY.md §7.3.1)
        cur_edges = coarse.transform(truncate_plan)

    return assignment.select("vertex", "labels"), best_q


def ecg(
    G: Graph,
    min_weight: float = 0.05,
    ensemble_size: int = 16,
    resolution: float = 1.0,
    seed: int = 42,
) -> tuple[DataFrame, float]:
    """Ensemble Clustering for Graphs (reference
    ``community/ecg_impl.cuh``, python ``community/ecg.py``; Poulin &
    Théberge, arXiv:1809.05578): run level-1 Louvain on
    ``ensemble_size`` randomized variants (here: seeded per-round move
    masks standing in for randomized visit order — each run is
    deterministic given its seed), re-weight each edge by its
    co-membership vote share w' = min_weight + (1−min_weight)·votes/k
    for 2-core edges (non-2-core edges get min_weight, per the paper),
    then run full Louvain on the re-weighted graph.
    Returns ([vertex, labels], modularity on the ORIGINAL weights)."""
    if G.directed:
        raise ValueError("ecg requires an undirected graph")
    from .cores import core_number

    edges = G.edges.persist(StorageLevel.MEMORY_AND_DISK)
    two_m = edges.agg(F.sum(WGT)).first()[0]
    if not two_m:
        edges.unpersist()
        return G.vertices().withColumn("labels", F.col("vertex")), 0.0

    n_edges = edges.count()  # materialize the shared cache before concurrent jobs

    # under the local tail every member's move phase runs driver-side
    # over the SAME edge frame — collect it once here, not once per
    # ensemble member (16 concurrent duplicate toPandas otherwise)
    coll = (
        local_tail.collect_edges(edges)
        if n_edges <= local_tail.LOCAL_TAIL_EDGES
        else None
    )

    def _member(i: int) -> DataFrame:
        """One ensemble member's co-membership votes. Members are
        independent job chains over the SAME persisted edge frame, so
        they run concurrently (Spark schedules jobs from multiple
        threads onto the shared executor pool — the single-session
        analog of the reference running ensemble members back-to-back
        on one GPU; a cluster overlaps them across executors)."""
        part = _move_phase(
            edges, two_m, max_iter=3, resolution=resolution,
            min_gain=1.0e-7, move_mask_seed=seed + i,
            n_edges=n_edges, collected=coll,
        ).select(F.col("vertex").alias("pv"), F.col("labels").alias("pl"))
        return (
            edges.join(part.withColumnRenamed("pv", SRC)
                       .withColumnRenamed("pl", "l_src"), SRC)
            .join(part.withColumnRenamed("pv", DST)
                  .withColumnRenamed("pl", "l_dst"), DST)
            .select(
                SRC, DST,
                F.when(F.col("l_src") == F.col("l_dst"), 1).otherwise(0).alias("v"),
            )
        )

    with ThreadPoolExecutor(max_workers=min(ensemble_size, 8)) as pool:
        cos = list(pool.map(_member, range(ensemble_size)))
    # one union + ONE keyed aggregation (deterministic: groupBy is
    # order-insensitive, each member deterministic given its seed)
    votes = cos[0]
    for co in cos[1:]:
        votes = votes.unionByName(co)
    votes = (
        votes.groupBy(SRC, DST).agg(F.sum("v").alias("v")).transform(truncate_plan)
    )

    cn = core_number(G)
    core2 = cn.filter(F.col("core_number") >= 2).select("vertex")
    in2 = (
        votes.join(core2.withColumnRenamed("vertex", SRC), SRC, "left_semi")
        .join(core2.withColumnRenamed("vertex", DST), DST, "left_semi")
        .withColumn("in2core", F.lit(True))
    )
    reweighted = (
        votes.join(in2.select(SRC, DST, "in2core"), [SRC, DST], "left")
        .select(
            SRC, DST,
            F.when(
                F.col("in2core").isNotNull(),
                F.lit(min_weight)
                + F.lit(1.0 - min_weight) * F.col("v") / F.lit(float(ensemble_size)),
            ).otherwise(F.lit(min_weight)).alias(WGT),
        )
    )
    gw = _as_graph(reweighted.transform(truncate_plan), G)
    labels, _q = louvain(gw, resolution=resolution)
    edges.unpersist()
    return labels, modularity(G, labels, resolution)


def _as_graph(edges: DataFrame, like: Graph) -> Graph:
    g = Graph.__new__(Graph)
    g.edges = edges
    g.directed = like.directed
    g.weighted = like.weighted
    g.mapping = None
    return g


def ego_graph(G: Graph, seeds: DataFrame, radius: int = 1) -> DataFrame:
    """Batched ego networks (``egonet_impl.cuh``): for each seed, the
    induced edge set of its ≤radius-hop ball. Returns
    [seed, src, dst, weight]."""
    from .traversal import k_hop_neighbors

    ball = k_hop_neighbors(G, seeds, radius)  # [start_vertex, nbr]
    e = G.edges
    return (
        ball.alias("a")
        .join(e, F.col("a.nbr") == e[SRC])
        .join(
            ball.alias("b"),
            (F.col("b.start_vertex") == F.col("a.start_vertex"))
            & (F.col("b.nbr") == e[DST]),
        )
        .select(
            F.col("a.start_vertex").alias("seed"), e[SRC], e[DST], e[WGT]
        )
        .distinct()
    )


def k_truss(G: Graph, k: int, max_iter: int = 100) -> DataFrame:
    """Maximal subgraph where every edge supports ≥ k−2 triangles
    (``k_truss_impl.cuh``): iterate edge_triangle_count → drop weak
    edges → recount, until stable. Returns the surviving undirected
    edge list [src, dst] (src < dst)."""
    if G.directed:
        raise ValueError("k_truss requires an undirected graph")
    # cut the input lineage once: edge_triangle_count references the
    # edge set ~5 times (und, degrees, three join legs); without this a
    # derived input (e.g. a multi-table join) is re-planned/recomputed
    # per reference
    cur = _as_graph(G.edges.transform(truncate_plan), G)
    n_before = None  # lazily counted once; each round reuses last n_after
    for _ in range(max_iter):
        if n_before is None:
            n_before = cur.edges.filter(F.col(SRC) < F.col(DST)).count()
        etc = edge_triangle_count(cur)
        keep = etc.filter(F.col("counts") >= k - 2).select(SRC, DST)
        n_after = keep.count()
        sym = keep.unionByName(
            keep.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
        ).withColumn(WGT, F.lit(1.0))
        cur = _as_graph(sym.transform(truncate_plan), G)
        if n_after == n_before:
            break
        n_before = n_after
    return cur.edges.filter(F.col(SRC) < F.col(DST)).select(SRC, DST)


def ktruss_subgraph(G: Graph, k: int, max_iter: int = 100) -> Graph:
    """Reference ``ktruss_subgraph`` export (community/ktruss_subgraph.py):
    the k-truss as a Graph (k_truss returns the surviving edge list)."""
    surv = k_truss(G, k, max_iter=max_iter)  # [src, dst] with src < dst
    # Graph always materializes a weight column (lit(1.0) when
    # unweighted), so rejoining the originals recovers it in both cases
    e = surv.join(G.edges.filter(F.col(SRC) < F.col(DST)), [SRC, DST], "inner")
    return Graph(e, directed=False, weighted=G.weighted)


def batched_ego_graphs(G: Graph, seeds: DataFrame, radius: int = 1) -> DataFrame:
    """Reference ``batched_ego_graphs`` export — ego_graph already runs
    batched over a seed DataFrame here."""
    return ego_graph(G, seeds, radius=radius)
