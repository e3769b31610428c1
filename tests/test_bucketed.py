"""Bucketed edge tables: the scan layout replaces the per-run edge
shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from cugraph_spark.graph import Graph
from cugraph_spark.operators.pagerank import pagerank
from cugraph_spark.operators.wcc import weakly_connected_components
from cugraph_spark.plans import strategy
from cugraph_spark.sources.bucketed import read_bucketed_edges, write_bucketed_edges
from .conftest import edges_df, make_edges


def _setup(spark, tmp_path, name):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    e = edges_df(spark, make_edges("tiny_social"))
    write_bucketed_edges(e, name, buckets=4, path=str(tmp_path / name))
    return e


def test_roundtrip_and_flag(spark, tmp_path):
    e = _setup(spark, tmp_path, "be_rt")
    G = read_bucketed_edges(spark, "be_rt")
    assert G.pre_partitioned is True
    assert sorted(map(tuple, G.edges.collect())) == sorted(map(tuple, e.collect()))


def test_bucketed_scan_needs_no_exchange(spark, tmp_path):
    _setup(spark, tmp_path, "be_ex")
    agg = spark.read.table("be_ex").groupBy("src").agg(F.sum("weight"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # bucket layout satisfies the groupBy
    # same aggregation over the raw (unbucketed) frame must shuffle
    raw = edges_df(spark, make_edges("tiny_social"))
    plan_raw = (
        raw.groupBy("src").agg(F.sum("weight"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" in plan_raw


def test_transform_voids_pre_partitioned(spark):
    e = edges_df(spark, make_edges("tiny_social"))
    # dedup/symmetrize re-shuffle, so the declaration must be dropped
    assert Graph(e, directed=False, pre_partitioned=True).pre_partitioned is False
    assert Graph(
        e, directed=True, multi_edge=True, pre_partitioned=True
    ).pre_partitioned is True


def test_pagerank_matches_on_bucketed_graph(spark, tmp_path, distributed_tail):
    e = _setup(spark, tmp_path, "be_pr")
    Gb = read_bucketed_edges(spark, "be_pr")
    Gn = Graph(e, directed=True, multi_edge=True)
    a = {r.vertex: r.pagerank for r in pagerank(Gb, max_iter=15).collect()}
    b = {r.vertex: r.pagerank for r in pagerank(Gn, max_iter=15).collect()}
    assert set(a) == set(b)
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12


def test_wcc_matches_on_bucketed_symmetric_graph(spark, tmp_path, distributed_tail):
    # writer contract: undirected graphs are bucketed in their
    # symmetrized physical form; the reader trusts it (directed=False)
    Gn = Graph(edges_df(spark, make_edges("tiny_social")), directed=False)
    spark.sql("DROP TABLE IF EXISTS be_wcc")
    write_bucketed_edges(Gn.edges, "be_wcc", buckets=4,
                         path=str(tmp_path / "be_wcc"))
    Gb = read_bucketed_edges(spark, "be_wcc", directed=False)
    assert Gb.pre_partitioned is True and Gb.directed is False
    ca = sorted(map(tuple, weakly_connected_components(Gb).collect()))
    cb = sorted(map(tuple, weakly_connected_components(Gn).collect()))
    assert ca == cb


def test_pagerank_ignores_dst_layout(spark, tmp_path, distributed_tail):
    """PageRank's shuffle-hash mode needs a SRC layout; a dst-bucketed
    graph must NOT be treated as pre-partitioned for it (the skip is
    keyed on partitioned_on(SRC)) — ranks must still match the plain
    path."""
    spark.sql("DROP TABLE IF EXISTS be_dst_pr")
    e = edges_df(spark, make_edges("tiny_social"))
    write_bucketed_edges(e, "be_dst_pr", buckets=4,
                         path=str(tmp_path / "be_dst_pr"), key="dst")
    Gb = read_bucketed_edges(spark, "be_dst_pr", key="dst")
    assert not Gb.partitioned_on("src")
    Gn = Graph(e, directed=True, multi_edge=True)
    a = {r.vertex: r.pagerank for r in pagerank(Gb, max_iter=15).collect()}
    b = {r.vertex: r.pagerank for r in pagerank(Gn, max_iter=15).collect()}
    assert set(a) == set(b)
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12


def test_dst_bucketed_int32_wcc_lpa_match_and_skip_shuffle(spark, tmp_path, distributed_tail):
    """dst-bucketed table with int32 ids: the broadcast-mode
    zero-exchange superstep trusts the stored layout — labels identical
    to the plain path, and the plan-side guarantee is that neither a
    src nor dst repartition is requested (partitioned_on(DST) holds)."""
    from cugraph_spark.graph import symmetrize
    from cugraph_spark.operators.label_propagation import label_propagation

    spark.sql("DROP TABLE IF EXISTS be_dst")
    raw = edges_df(spark, make_edges("tiny_social"))
    sym = symmetrize(raw).select(
        F.col("src").cast("int").alias("src"),
        F.col("dst").cast("int").alias("dst"),
        F.col("weight"),
    )
    write_bucketed_edges(sym, "be_dst", buckets=4,
                         path=str(tmp_path / "be_dst"), key="dst")
    Gb = read_bucketed_edges(spark, "be_dst", directed=False, key="dst")
    assert Gb.partitioned_on("dst") and not Gb.partitioned_on("src")
    # plan-side guarantee, not just the flag: the int32 ids must reach
    # the superstep aggregation UNCAST (Graph keeps int32 ids on
    # pre_partitioned graphs), so the bucket layout satisfies the
    # groupBy(dst) distribution with NO Exchange. An int→long cast at
    # construction would silently reintroduce the per-superstep O(E)
    # shuffle this layout exists to remove.
    agg_plan = (
        Gb.edges.groupBy("dst").agg(F.min("src"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in agg_plan
    Gn = Graph(raw, directed=False)

    # force the dst-partition branch even at toy V so the skip matters
    old = strategy.DST_PARTITION_MIN_V
    strategy.DST_PARTITION_MIN_V = 1
    try:
        a = sorted(map(tuple, weakly_connected_components(Gb).collect()))
        b = sorted(map(tuple, weakly_connected_components(Gn).collect()))
        assert a == b
        la = sorted(map(tuple, label_propagation(Gb, max_iter=5).collect()))
        lb = sorted(map(tuple, label_propagation(Gn, max_iter=5).collect()))
        assert la == lb
    finally:
        strategy.DST_PARTITION_MIN_V = old
