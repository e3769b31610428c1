"""Minimum spanning tree/forest — distributed Borůvka.

Reference: ``tree/legacy/mst.cu`` (single-GPU Borůvka); python wrapper
``tree/minimum_spanning_tree.py`` returns the MST edge list of an
undirected weighted graph.

Spark-first Borůvka: each round every component picks its minimum
outgoing edge (deterministic tie-break on (weight, src, dst)), the
picked edges merge components through ``weakly_connected_components``
on the contracted component graph (the picked component pairs), and
rounds repeat until no cross-component edge remains — O(log V) rounds,
each a groupBy + one WCC call over at most one pair per component.
Result is the classic MSF (forest if disconnected).
"""

from __future__ import annotations

from ..plans.lineage import truncate_plan

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, WGT, Graph
from .pagerank import FailedToConvergeError
from .wcc import weakly_connected_components


def minimum_spanning_tree(G: Graph, max_rounds: int = 64) -> DataFrame:
    """Returns the MSF edge list [src, dst, weight] (src < dst) of the
    undirected graph; deterministic for ties via (weight, src, dst)
    lexicographic minimum. ``max_rounds`` bounds the Borůvka rounds and
    each round's component merge (one ``weakly_connected_components``
    call with ``max_iter=max_rounds``, on the driver placement while the
    picked pairs fit it); a budget too small for either raises
    ``FailedToConvergeError``, never a forest on half-merged
    components."""
    if G.directed:
        raise ValueError("minimum_spanning_tree requires an undirected graph")
    und = (
        G.edges.filter(F.col(SRC) < F.col(DST))
        .groupBy(SRC, DST)
        .agg(F.min(WGT).alias(WGT))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    comp = (
        und.select(F.col(SRC).alias("vertex"))
        .unionByName(und.select(F.col(DST).alias("vertex")))
        .distinct()
        .withColumn("c", F.col("vertex"))
        .transform(truncate_plan)
    )
    chosen = None

    for _ in range(max_rounds):
        lab = comp.select(F.col("vertex").alias("v"), F.col("c"))
        e = (
            und.join(lab.withColumnRenamed("v", SRC).withColumnRenamed("c", "c_src"), SRC)
            .join(lab.withColumnRenamed("v", DST).withColumnRenamed("c", "c_dst"), DST)
            .filter(F.col("c_src") != F.col("c_dst"))
        )
        if e.isEmpty():
            break
        # min outgoing edge per component (both directions considered)
        cand = (
            e.select(F.col("c_src").alias("comp"), SRC, DST, WGT)
            .unionByName(e.select(F.col("c_dst").alias("comp"), SRC, DST, WGT))
        )
        picked = (
            cand.groupBy("comp")
            .agg(F.min(F.struct(WGT, SRC, DST)).alias("m"))
            .select(F.col("m." + SRC).alias(SRC), F.col("m." + DST).alias(DST),
                    F.col("m." + WGT).alias(WGT))
            .distinct()
            .transform(truncate_plan)
        )
        chosen = picked if chosen is None else chosen.unionByName(picked).distinct()
        chosen = chosen.transform(truncate_plan)

        # merge components: WCC over the picked component pairs labels
        # each merged component by its min id; a merge out of supersteps
        # leaves a picked pair split between two labels, and a silent
        # fall-through would let the next round add a cycle edge — fail
        # loudly instead
        pe = (
            picked.join(lab.withColumnRenamed("v", SRC).withColumnRenamed("c", "a"), SRC)
            .join(lab.withColumnRenamed("v", DST).withColumnRenamed("c", "b"), DST)
            .select(F.col("a").alias(SRC), F.col("b").alias(DST))
        )
        merged = weakly_connected_components(
            Graph(pe, directed=False, weighted=False), max_iter=max_rounds)
        m = merged.select(F.col("vertex").alias("node"), F.col("labels").alias("lbl"))
        split = (
            pe.join(m.withColumnRenamed("node", SRC).withColumnRenamed("lbl", "la"), SRC)
            .join(m.withColumnRenamed("node", DST).withColumnRenamed("lbl", "lb"), DST)
            .filter(F.col("la") != F.col("lb"))
        )
        if not split.isEmpty():
            und.unpersist()
            raise FailedToConvergeError(
                f"MST component merge did not converge in {max_rounds} rounds"
            )
        comp = (
            comp.join(m, comp["c"] == m["node"], "left")
            .select(comp["vertex"], F.coalesce("lbl", comp["c"]).alias("c"))
            .transform(truncate_plan)
        )
    else:
        # the emptiness probe runs at the TOP of each round, so a run
        # that merges everything in the final round lands here too —
        # re-probe before declaring failure; components at least halve
        # per Borůvka round, so with pointer-jumped merges 64 rounds
        # cover any input, but never return a non-spanning forest
        # silently if the bound is ever lowered
        lab = comp.select(F.col("vertex").alias("v"), F.col("c"))
        remaining = (
            und.join(lab.withColumnRenamed("v", SRC).withColumnRenamed("c", "c_src"), SRC)
            .join(lab.withColumnRenamed("v", DST).withColumnRenamed("c", "c_dst"), DST)
            .filter(F.col("c_src") != F.col("c_dst"))
        )
        if not remaining.isEmpty():
            und.unpersist()
            raise FailedToConvergeError(
                f"Borůvka did not converge in {max_rounds} rounds"
            )

    und.unpersist()
    if chosen is None:
        return G.edges.limit(0).select(SRC, DST, WGT)
    return chosen.select(SRC, DST, WGT)


def maximum_spanning_tree(G: Graph, max_rounds: int = 64) -> DataFrame:
    """Maximum spanning tree/forest (reference
    ``tree/legacy/mst.cu`` export ``maximum_spanning_tree``,
    python ``tree/minimum_spanning_tree.py:maximum_spanning_tree``):
    Borůvka on negated weights, weights restored on output. Ties break
    deterministically toward the lexicographically smallest (src, dst)
    among maximum-weight edges."""
    neg = G.edges.select(SRC, DST, (-F.col(WGT)).alias(WGT))
    g = Graph.__new__(Graph)
    g.edges = neg
    g.directed = G.directed
    g.weighted = G.weighted
    g.mapping = None
    out = minimum_spanning_tree(g, max_rounds=max_rounds)
    return out.select(SRC, DST, (-F.col(WGT)).alias(WGT))
