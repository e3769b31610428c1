"""Explicit hub salting (plans/skew.py): result-equivalence with the
unsalted plans on a hub-heavy graph, hub detection, and the salted plan
actually taking the salted path (reference analog: degree segments at
renumber_edgelist_impl.cuh:538-565)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cugraph_spark.graph import Graph
from cugraph_spark.operators.pagerank import pagerank
from cugraph_spark.operators.similarity import jaccard
from cugraph_spark.plans.skew import (
    hub_vertices,
    salted_common_neighbor_join,
    salted_sum,
)

from .conftest import edges_df, make_edges


def test_hub_vertices_threshold(spark):
    e = edges_df(spark, make_edges("hub"))
    degs = {r["dst"]: r["c"] for r in e.groupBy("dst").agg(F.count("*").alias("c")).collect()}
    hubs = {r["dst"] for r in hub_vertices(e, "dst", threshold=5).collect()}
    assert hubs == {v for v, c in degs.items() if c > 5}
    assert hubs  # the fixture actually has a hub


def test_salted_sum_equals_plain(spark):
    e = edges_df(spark, make_edges("hub"))
    msgs = e.select("dst", "src", F.col("weight").alias("msg"))
    plain = {r["dst"]: r["m"] for r in msgs.groupBy("dst").agg(F.sum("msg").alias("m")).collect()}
    salted = {r["dst"]: r["msg"]
              for r in salted_sum(msgs, "dst", "msg", salt=4, salt_on="src").collect()}
    assert set(plain) == set(salted)
    for k in plain:
        assert abs(plain[k] - salted[k]) < 1e-9


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


@pytest.mark.parametrize("salt", [4])
def test_pagerank_salted_equals_plain(spark, salt, distributed_tail):
    edges = make_edges("hub")
    G = Graph(edges_df(spark, edges), directed=True)
    base = {r["vertex"]: r["pagerank"]
            for r in pagerank(G, tol=1e-8, max_iter=100).collect()}
    got = {r["vertex"]: r["pagerank"]
           for r in pagerank(G, tol=1e-8, max_iter=100, salt=salt).collect()}
    assert set(base) == set(got)
    for v in base:
        assert abs(base[v] - got[v]) < 1e-9


def test_jaccard_salted_equals_plain(spark):
    edges = make_edges("hub")
    G = Graph(edges_df(spark, edges), directed=False)
    base = {(r["first"], r["second"]): r["jaccard_coeff"] for r in jaccard(G).collect()}
    got = {(r["first"], r["second"]): r["jaccard_coeff"]
           for r in jaccard(G, hub_threshold=2, salt=4).collect()}
    assert set(base) == set(got)
    for k in base:
        assert abs(base[k] - got[k]) < 1e-12


def test_salted_plan_shape(spark):
    """The salted SpMV plan contains the two-phase aggregate: a first
    HashAggregate keyed on (dst, _salt) then a final one on dst."""
    e = edges_df(spark, make_edges("hub"))
    msgs = e.select("dst", "src", F.col("weight").alias("msg"))
    plan = salted_sum(msgs, "dst", "msg", salt=4, salt_on="src")._jdf.queryExecution().simpleString()
    # phase-1 grouping key carries the salt expression; Catalyst renames
    # the _salt alias to _groupingexpression in the physical plan
    assert "pmod(xxhash64" in plan
    assert plan.count("HashAggregate") >= 2


def test_salted_sum_constant_messages(spark):
    # constant value columns (e.g. lit(1.0) count messages) used to
    # hash every hub row into ONE salt bucket; the default salt now
    # folds in the map-partition id, and the sum is unchanged
    e = edges_df(spark, make_edges("hub"))
    msgs = e.select("dst", F.lit(1.0).alias("msg")).repartition(4)
    plain = {r["dst"]: r["m"]
             for r in msgs.groupBy("dst").agg(F.sum("msg").alias("m")).collect()}
    salted = {r["dst"]: r["msg"]
              for r in salted_sum(msgs, "dst", "msg", salt=4).collect()}
    assert plain == salted
