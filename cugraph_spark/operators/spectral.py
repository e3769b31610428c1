"""Spectral clustering — subspace power iteration + Lloyd k-means.

Reference: ``cpp/src/community/legacy/spectral_clustering.cu`` (python
``community/spectral_clustering.py``: ``spectralBalancedCutClustering``
/ ``spectralModularityMaximizationClustering``) uses a Lanczos
eigensolver on the graph Laplacian / modularity matrix. SURVEY.md
originally scoped this out for lack of an eigensolver; this module
closes the gap with the eigensolver-free formulation that fits the
engine's superstep model:

- the k-dimensional invariant subspace of the normalized adjacency
  M = (I + D^{-1/2} A D^{-1/2}) / 2 (whose TOP eigenvectors are the
  BOTTOM eigenvectors of the normalized Laplacian — the balanced-cut
  embedding) is computed by **block power iteration**: each superstep
  is one k-column SpMV (the same edges ⋈ state → groupBy(dst) join
  every other operator uses) followed by Gram-Schmidt against the k×k
  Gram matrix, which is computed with ONE aggregate and inverted
  driver-side (k ≤ ~16; the O(k²) driver math is the
  ``host_scalar_allreduce`` analog, never O(V)).
- k-means (Lloyd) on the row-normalized embedding: centroids are k
  seeded-hash-sampled rows (TakeOrderedAndProject, no global sort),
  assignment is an argmin expression over broadcast centroid literals,
  update is one groupBy — deterministic given the seed.

Scale notes: per superstep the network is O(V·k) (the embedding), the
edge side stays hash-partitioned and unmoved; no driver-side O(V)
state ever.
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan

import math

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, WGT, Graph
from ..plans.strategy import resolve_partitions


def _gram_schmidt_cols(X: DataFrame, cols: list[str]) -> DataFrame:
    """Orthonormalize the embedding columns via one Gram-matrix agg +
    driver-side Cholesky: X ← X · L^{-T} where XᵀX = L·Lᵀ."""
    import numpy as np

    k = len(cols)
    aggs = [
        F.sum(F.col(cols[i]) * F.col(cols[j])).alias(f"g_{i}_{j}")
        for i in range(k)
        for j in range(i, k)
    ]
    row = X.agg(*aggs).first()
    G = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            G[i, j] = G[j, i] = row[f"g_{i}_{j}"] or 0.0
    # ridge for rank-deficient blocks (disconnected graphs)
    L = np.linalg.cholesky(G + 1e-12 * np.eye(k))
    Minv = np.linalg.inv(L).T  # X_new = X @ L^{-T}
    out_cols = [
        sum(
            (F.col(cols[i]) * float(Minv[i, j]) for i in range(k)),
            F.lit(0.0),
        ).alias(cols[j])
        for j in range(k)
    ]
    return X.select("vertex", *out_cols)


def spectral_embedding(
    G: Graph,
    k: int,
    num_iters: int = 30,
    seed: int = 42,
    num_partitions: int | str | None = None,
) -> DataFrame:
    """[vertex, e0..e{k-1}] — the dominant k-dim subspace of
    (I + D^{-1/2} A D^{-1/2})/2, i.e. the smallest-eigenvalue subspace
    of the normalized Laplacian (balanced-cut embedding)."""
    if G.directed:
        raise ValueError("spectral_embedding requires an undirected graph")
    P = resolve_partitions(num_partitions, G.edges)
    cols = [f"e{i}" for i in range(k)]

    deg = G.edges.groupBy(F.col(SRC).alias("vertex")).agg(F.sum(WGT).alias("d"))
    verts = (
        G.vertices()
        .join(deg, "vertex", "left")
        .select("vertex", F.coalesce("d", F.lit(0.0)).alias("d"))
        .repartition(P, "vertex")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # normalized edges: w / sqrt(d_src * d_dst)
    ed = (
        G.edges.join(verts.select(F.col("vertex").alias(SRC), F.col("d").alias("ds")), SRC)
        .join(verts.select(F.col("vertex").alias(DST), F.col("d").alias("dd")), DST)
        .select(
            SRC, DST,
            (F.col(WGT) / F.sqrt(F.col("ds") * F.col("dd"))).alias("nw"),
        )
        .repartition(P, SRC)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # deterministic seeded init (full-rank w.h.p.)
    init = [
        (
            (F.pmod(F.xxhash64(F.col("vertex"), F.lit(seed + i)), F.lit(1 << 20))
             / F.lit(float(1 << 20))) - F.lit(0.5)
        ).alias(c)
        for i, c in enumerate(cols)
    ]
    X = verts.select("vertex", *init).transform(truncate_plan)
    X = _gram_schmidt_cols(X, cols)

    for _ in range(num_iters):
        msgs = ed.join(X, ed[SRC] == X["vertex"]).groupBy(DST).agg(
            *[F.sum(F.col(c) * F.col("nw")).alias(c) for c in cols]
        )
        # Y = (X + A_norm X) / 2  — the shifted operator keeps the
        # spectrum in [0,1] so power iteration targets small Laplacian
        Y = X.alias("x").join(msgs.alias("m"), X["vertex"] == msgs[DST], "left").select(
            F.col("x.vertex").alias("vertex"),
            *[
                ((F.col(f"x.{c}") + F.coalesce(F.col(f"m.{c}"), F.lit(0.0))) / 2.0).alias(c)
                for c in cols
            ],
        ).transform(truncate_plan)
        X = _gram_schmidt_cols(Y, cols)

    out = X
    ed.unpersist()
    verts.unpersist()
    return out


def kmeans(
    points: DataFrame,
    k: int,
    feature_cols: list[str],
    max_iter: int = 20,
    seed: int = 42,
) -> DataFrame:
    """Deterministic Lloyd k-means over embedding columns: seeded-hash
    centroid init (TakeOrderedAndProject), argmin-expression assignment
    against broadcast centroid literals, one groupBy mean per round.
    Returns [vertex, cluster]."""
    cents = [
        [row[c] for c in feature_cols]
        for row in points.orderBy(
            F.xxhash64(F.col("vertex"), F.lit(seed)), F.col("vertex")
        ).limit(k).collect()
    ]
    if not cents:
        raise ValueError("kmeans: empty input")
    # fewer points than clusters: every point is its own centroid
    k = min(k, len(cents))
    assigned = None
    for _ in range(max(max_iter, 1)):
        dists = [
            sum(
                ((F.col(c) - F.lit(float(cents[j][i]))) ** 2 for i, c in enumerate(feature_cols)),
                F.lit(0.0),
            )
            for j in range(k)
        ]
        best = F.lit(0)
        best_d = dists[0]
        for j in range(1, k):
            cond = dists[j] < best_d
            best = F.when(cond, F.lit(j)).otherwise(best)
            best_d = F.when(cond, dists[j]).otherwise(best_d)
        assigned = points.withColumn("cluster", best).transform(truncate_plan)
        new_rows = (
            assigned.groupBy("cluster")
            .agg(*[F.avg(c).alias(c) for c in feature_cols])
            .collect()
        )
        new_cents = list(cents)
        moved = 0.0
        for r in new_rows:
            j = r["cluster"]
            nc = [r[c] for c in feature_cols]
            moved += sum((a - b) ** 2 for a, b in zip(nc, cents[j]))
            new_cents[j] = nc
        cents = new_cents
        if moved < 1e-12:
            break
    return assigned.select("vertex", "cluster")


def spectral_clustering(
    G: Graph,
    n_clusters: int,
    num_eigen_iters: int = 30,
    kmeans_iters: int = 20,
    seed: int = 42,
) -> DataFrame:
    """Balanced-cut spectral clustering
    (``spectralBalancedCutClustering`` semantics): k smallest
    normalized-Laplacian eigenvectors via the shifted power iteration,
    row-normalized (Ng-Jordan-Weiss), then Lloyd k-means.
    Returns [vertex, cluster]."""
    cols = [f"e{i}" for i in range(n_clusters)]
    emb = spectral_embedding(G, n_clusters, num_eigen_iters, seed)
    norm = F.sqrt(sum((F.col(c) ** 2 for c in cols), F.lit(0.0)))
    rown = emb.select(
        "vertex",
        *[
            (F.col(c) / F.when(norm > 0, norm).otherwise(F.lit(1.0))).alias(c)
            for c in cols
        ],
    ).transform(truncate_plan)
    return kmeans(rown, n_clusters, cols, kmeans_iters, seed)


def modularity_embedding(
    G: Graph,
    k: int,
    num_iters: int = 30,
    seed: int = 42,
    num_partitions: int | str | None = None,
) -> DataFrame:
    """[vertex, e0..e{k-1}] — the dominant k-dim subspace of the
    modularity matrix B = A − k·kᵀ/2m (the
    ``spectralModularityMaximizationClustering`` embedding,
    ``community/legacy/spectral_clustering.cu``). B is never
    materialized: per superstep, B·X = (A·X) − deg·(degᵀX)/2m, where
    A·X is the usual edges⋈state SpMV and degᵀX is ONE k-column
    aggregate (a scalar per column, the host_scalar_allreduce analog).
    A +c·I shift (c = max weighted degree) keeps the iterated operator
    PSD so power iteration converges to B's top eigenvectors."""
    if G.directed:
        raise ValueError("modularity_embedding requires an undirected graph")
    P = resolve_partitions(num_partitions, G.edges)
    cols = [f"e{i}" for i in range(k)]

    deg = G.edges.groupBy(F.col(SRC).alias("vertex")).agg(F.sum(WGT).alias("d"))
    verts = (
        G.vertices()
        .join(deg, "vertex", "left")
        .select("vertex", F.coalesce("d", F.lit(0.0)).alias("d"))
        .repartition(P, "vertex")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    row = verts.agg(F.sum("d").alias("m2"), F.max("d").alias("dmax")).first()
    two_m, shift = float(row["m2"] or 0.0), float(row["dmax"] or 1.0)
    if two_m <= 0.0:
        out = verts.select(
            "vertex", *[F.lit(0.0).alias(c) for c in cols]
        ).transform(truncate_plan)
        verts.unpersist()
        return out
    ed = G.edges.select(SRC, DST, WGT).repartition(P, SRC).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    init = [
        (
            (F.pmod(F.xxhash64(F.col("vertex"), F.lit(seed + i)), F.lit(1 << 20))
             / F.lit(float(1 << 20))) - F.lit(0.5)
        ).alias(c)
        for i, c in enumerate(cols)
    ]
    gs = _gram_schmidt_cols(
        verts.select("vertex", *init).transform(truncate_plan), cols
    )

    for _ in range(num_iters):
        # join degrees at the TOP of the iteration so the loop-final
        # embedding is a pure select over the checkpointed Y — the
        # returned plan must not reference `verts`/`ed` after their
        # unpersist below (kmeans re-executes it once per round)
        X = gs.join(verts.select("vertex", "d"), "vertex")
        # degᵀX per column — one fused aggregate
        dt = X.agg(*[F.sum(F.col(c) * F.col("d")).alias(c) for c in cols]).first()
        msgs = ed.join(X, ed[SRC] == X["vertex"]).groupBy(DST).agg(
            *[F.sum(F.col(c) * F.col(WGT)).alias(c) for c in cols]
        )
        Y = X.alias("x").join(msgs.alias("m"), X["vertex"] == msgs[DST], "left").select(
            F.col("x.vertex").alias("vertex"),
            F.col("x.d").alias("d"),
            *[
                (
                    F.coalesce(F.col(f"m.{c}"), F.lit(0.0))
                    - F.col("x.d") * F.lit(float(dt[c]) / two_m)
                    + F.lit(shift) * F.col(f"x.{c}")
                ).alias(c)
                for c in cols
            ],
        ).transform(truncate_plan)
        gs = _gram_schmidt_cols(Y, cols)

    out = gs.select("vertex", *cols)
    ed.unpersist()
    verts.unpersist()
    return out


def spectral_modularity_maximization_clustering(
    G: Graph,
    n_clusters: int,
    num_eigen_iters: int = 30,
    kmeans_iters: int = 20,
    seed: int = 42,
) -> DataFrame:
    """``spectralModularityMaximizationClustering`` analog: k-means on
    the dominant modularity-matrix subspace. Returns [vertex, cluster]."""
    cols = [f"e{i}" for i in range(n_clusters)]
    emb = modularity_embedding(G, n_clusters, num_eigen_iters, seed)
    return kmeans(emb, n_clusters, cols, kmeans_iters, seed)


def analyze_clustering_modularity(
    G: Graph, labels: DataFrame, label_col: str = "cluster"
) -> float:
    """``analyzeClustering_modularity`` analog: modularity of the given
    clustering on G's weights."""
    from .community import modularity

    assignment = labels.select(
        F.col(labels.columns[0]).alias("vertex"), F.col(label_col).alias("labels")
    )
    return modularity(G, assignment)


def analyze_clustering_edge_cut(
    G: Graph, labels: DataFrame, label_col: str = "cluster"
) -> float:
    """``analyzeClustering_edge_cut`` analog: total weight of edges
    whose endpoints fall in different clusters (each undirected edge
    counted once — G.edges holds both orientations)."""
    lab = labels.select(
        F.col(labels.columns[0]).alias("lv"), F.col(label_col).alias("ll")
    )
    cut = (
        G.edges.filter(F.col(SRC) != F.col(DST))
        .join(lab.withColumnRenamed("lv", SRC).withColumnRenamed("ll", "l_src"), SRC)
        .join(lab.withColumnRenamed("lv", DST).withColumnRenamed("ll", "l_dst"), DST)
        .filter(F.col("l_src") != F.col("l_dst"))
        .agg(F.sum(WGT))
        .first()[0]
    )
    cut = float(cut or 0.0)
    return cut / 2.0 if not G.directed else cut


def analyze_clustering_ratio_cut(
    G: Graph, labels: DataFrame, label_col: str = "cluster"
) -> float:
    """``analyzeClustering_ratio_cut`` analog: Σ_c cut(c)/|c| where
    cut(c) is the weight of edges leaving cluster c."""
    lab = labels.select(
        F.col(labels.columns[0]).alias("lv"), F.col(label_col).alias("ll")
    )
    sizes = lab.groupBy(F.col("ll").alias("c")).agg(F.count("*").alias("n"))
    # per-cluster outgoing cut weight; G.edges holds both orientations
    # for undirected graphs, so grouping by the src side counts each
    # cut edge once per endpoint cluster — exactly cut(c)
    per_c = (
        G.edges.filter(F.col(SRC) != F.col(DST))
        .join(lab.withColumnRenamed("lv", SRC).withColumnRenamed("ll", "l_src"), SRC)
        .join(lab.withColumnRenamed("lv", DST).withColumnRenamed("ll", "l_dst"), DST)
        .filter(F.col("l_src") != F.col("l_dst"))
        .groupBy(F.col("l_src").alias("c"))
        .agg(F.sum(WGT).alias("cut"))
    )
    row = (
        sizes.join(per_c, "c", "left")
        .agg(F.sum(F.coalesce("cut", F.lit(0.0)) / F.col("n")))
        .first()
    )
    return float(row[0] or 0.0)
