"""Explicit hub salting (plans/skew.py): hub detection and
result-equivalence of the salted common-neighbor join with the unsalted
plans on a hub-heavy graph (reference analog: degree segments at
renumber_edgelist_impl.cuh:538-565)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cugraph_spark.graph import Graph
from cugraph_spark.operators.similarity import jaccard
from cugraph_spark.plans.skew import hub_vertices, salted_common_neighbor_join

from .conftest import edges_df, make_edges


def test_hub_vertices_threshold(spark):
    e = edges_df(spark, make_edges("hub"))
    degs = {r["dst"]: r["c"] for r in e.groupBy("dst").agg(F.count("*").alias("c")).collect()}
    hubs = {r["dst"] for r in hub_vertices(e, "dst", threshold=5).collect()}
    assert hubs == {v for v, c in degs.items() if c > 5}
    assert hubs  # the fixture actually has a hub


def test_salted_common_neighbor_join_equals_plain(spark):
    e = edges_df(spark, make_edges("hub"))
    und = (
        e.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    )
    e1 = und.select(F.col("src").alias("a"), F.col("dst").alias("w"))
    e2 = und.select(F.col("src").alias("b"), F.col("dst").alias("w"))
    plain = sorted(
        (r["a"], r["b"], r["w"]) for r in e1.join(e2, "w").collect()
    )
    # threshold=2 forces several keys through the salted (hot) path
    salted = sorted(
        (r["a"], r["b"], r["w"])
        for r in salted_common_neighbor_join(e1, e2, "w", hub_threshold=2, salt=4).collect()
    )
    assert plain == salted


def test_jaccard_salted_equals_plain(spark):
    edges = make_edges("hub")
    G = Graph(edges_df(spark, edges), directed=False)
    base = {(r["first"], r["second"]): r["jaccard_coeff"] for r in jaccard(G).collect()}
    got = {(r["first"], r["second"]): r["jaccard_coeff"]
           for r in jaccard(G, hub_threshold=2, salt=4).collect()}
    assert set(base) == set(got)
    for k in base:
        assert abs(base[k] - got[k]) < 1e-12
