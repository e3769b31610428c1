"""Adaptive partition counts from Catalyst plan statistics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import cugraph_spark as cs
from cugraph_spark.graph import Graph
from cugraph_spark.operators.pagerank import pagerank
from cugraph_spark.operators.spectral import modularity_embedding, spectral_embedding
from cugraph_spark.plans.strategy import adaptive_partitions, resolve_partitions
from .conftest import edges_df, make_edges


def _parquet_df(spark, tmp_path, n=20000):
    p = str(tmp_path / "t")
    spark.range(n).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("payload")
    ).write.parquet(p)
    return spark.read.parquet(p)


def test_small_input_floors_at_parallelism(spark, tmp_path):
    df = _parquet_df(spark, tmp_path)
    assert adaptive_partitions(df) == spark.sparkContext.defaultParallelism


def test_partitions_scale_with_size(spark, tmp_path):
    df = _parquet_df(spark, tmp_path)
    # tiny target → P must exceed the floor and grow ~linearly in size
    p1 = adaptive_partitions(df, target_bytes=64 * 1024)
    p2 = adaptive_partitions(df.unionAll(df).unionAll(df).unionAll(df),
                             target_bytes=64 * 1024)
    assert p1 > spark.sparkContext.defaultParallelism
    assert p2 >= 3 * p1  # 4× the data → ≥3× the partitions (ceil slack)


def test_cap_applies(spark, tmp_path):
    df = _parquet_df(spark, tmp_path)
    assert adaptive_partitions(df, target_bytes=1, max_partitions=64) == 64


def test_udf_plan_uses_propagated_estimate(spark):
    # mapInPandas plans carry Catalyst's row-based size estimate
    # (~8 B/row here), so a tiny UDF-produced input floors at the
    # scheduling width — it must never explode toward the 32k cap
    def gen(batches):
        for b in batches:
            yield b

    df = spark.range(100).mapInPandas(gen, "id long")
    assert adaptive_partitions(df) == spark.sparkContext.defaultParallelism


def test_resolve_precedence(spark, tmp_path):
    df = _parquet_df(spark, tmp_path)
    assert resolve_partitions(17, df) == 17
    assert resolve_partitions(None, df) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert resolve_partitions("auto", df) == adaptive_partitions(df)


def test_pagerank_auto_matches_default(spark, distributed_tail):
    G = Graph(edges_df(spark, make_edges("tiny_social")), directed=True)
    a = {r.vertex: r.pagerank for r in pagerank(G, max_iter=20).collect()}
    b = {
        r.vertex: r.pagerank
        for r in pagerank(G, max_iter=20, num_partitions="auto").collect()
    }
    assert set(a) == set(b)
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12


_AUTO_CASES = {
    "sssp": lambda G, spark, **kw: cs.sssp(G, 0, **kw),
    "multi_source_bfs": lambda G, spark, **kw: cs.multi_source_bfs(
        G, spark.createDataFrame([(0,), (5,)], "vertex long"), **kw),
    "core_number": lambda G, spark, **kw: cs.core_number(G, **kw),
    "spectral_embedding": lambda G, spark, **kw: spectral_embedding(
        G, 2, num_iters=8, **kw),
    "modularity_embedding": lambda G, spark, **kw: modularity_embedding(
        G, 2, num_iters=8, **kw),
    "hits": lambda G, spark, **kw: cs.hits(G, **kw),
    "katz_centrality": lambda G, spark, **kw: cs.katz_centrality(G, **kw),
    "eigenvector_centrality": lambda G, spark, **kw: cs.eigenvector_centrality(G, **kw),
    "betweenness_centrality": lambda G, spark, **kw: cs.betweenness_centrality(G, **kw),
}


@pytest.mark.parametrize("op", sorted(_AUTO_CASES))
def test_auto_partitions_match_default(spark, op, distributed_tail):
    """``num_partitions="auto"`` sizes P from plan statistics on every
    operator that takes it (it once reached ``repartition`` as a column
    name); the result equals the default run's, up to float summation
    order. The distributed plans run, so P is used."""
    G = Graph(edges_df(spark, make_edges("tiny_social")), directed=False)
    run = _AUTO_CASES[op]
    default = sorted(tuple(r) for r in run(G, spark).collect())
    auto = sorted(tuple(r) for r in run(G, spark, num_partitions="auto").collect())
    assert len(auto) == len(default) > 0
    for a, d in zip(auto, default):
        assert a == pytest.approx(d, rel=1e-9, abs=1e-12)


def test_parse_bytes_suffixes():
    from cugraph_spark.plans.strategy import _parse_bytes

    assert _parse_bytes("134217728", 0) == 134217728
    assert _parse_bytes("128m", 0) == 128 << 20
    assert _parse_bytes("128MB", 0) == 128 << 20
    assert _parse_bytes("1g", 0) == 1 << 30
    assert _parse_bytes("64k", 0) == 64 << 10
    assert _parse_bytes("bogus", 7) == 7
