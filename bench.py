"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "pagerank_edges_per_sec_per_superstep": ..., ...}

Headline set (the north-rule metrics + pipeline representatives):
- pagerank_cs10: 10 fixed supersteps on the customer→supplier graph
  (the edges/sec-per-superstep metric input);
- pagerank_rmat16: same on a seeded power-law RMAT scale-16 graph
  (hub-skew regime, ~1M edges);
- wcc_cs: full convergence, symmetrized purchase graph;
- lpa_cs5: 5 supersteps label propagation;
- tc_rmat14: full per-vertex triangle count on RMAT scale-14;
- tc_rmat18: same on RMAT scale-18 × ef8 (~2.1M edges) — the size
  where the 3-way join plan, not the per-job floor, dominates;
- bfs_cs: frontier BFS from one customer;
- minhash_docs: MinHash-LSH near-dup pipeline over documents;
- cosine_top1: brute-force nearest neighbor over embeddings;
- text_scan: language-ID + quality + token counting single-pass scan.

``host`` holds ``perfbench`` host markers (1-minute load average and a
fixed numpy kernel's time) from before and after the suite, so a
uniform shift between two runs can be told from a change.

Every query runs SPARK_GRAFT_BENCH_REPEAT times (default 3); the
headline per-query number is the MEDIAN and the raw runs are published
in ``query_runs`` — single runs on this host swing ±60% between quiet
and noisy windows (BENCH/BASELINE.md variance ledger).

Set SPARK_GRAFT_BENCH_ONLY=name1,name2 to run a subset. (The
two-parallelism scaling harness, tools/bench_scaling.py, runs its own
inline worker and does not go through bench.py.)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from perfbench.probe import host_marker  # noqa: E402

from cugraph_spark.graph import Graph, symmetrize  # noqa: E402
from cugraph_spark.operators.pagerank import pagerank  # noqa: E402
from cugraph_spark.operators.wcc import weakly_connected_components  # noqa: E402
from cugraph_spark.operators.label_propagation import label_propagation  # noqa: E402
from cugraph_spark.operators.triangle_count import triangle_count  # noqa: E402
from cugraph_spark.operators.traversal import bfs  # noqa: E402
from cugraph_spark.functions.dedup import minhash_dedup_pairs  # noqa: E402
from cugraph_spark.functions.ann import cosine_topk_bruteforce  # noqa: E402
from cugraph_spark.functions.text import language_id, quality_score, token_count  # noqa: E402
from cugraph_spark.queries import edges_cs  # noqa: E402
from cugraph_spark.session import get_spark  # noqa: E402
from cugraph_spark.sources.rmat import rmat_edges  # noqa: E402

PR_SUPERSTEPS = 10
# a PageRank tol no run reaches: the convergence-checked loop then runs
# all max_iter supersteps (an L1 of exactly 0.0 would be a fixpoint)
UNREACHED_TOL = 1e-300


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    only = set(only.split(",")) if only else None
    spark = get_spark(app_name="cugraph_spark_bench")
    host = {"before": host_marker()}

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    query_runs: dict[str, dict] = {}
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))

    def run(name, fn):
        """Median-of-``repeat`` per query: single runs on this host
        mislead (BENCH/BASELINE.md's five-invocation ledger shows ±60%
        swings between quiet and noisy windows on identical code), so
        the headline number per query is the median and the raw runs
        ride along in ``query_runs`` for the next reader."""
        if only and name not in only:
            return
        ts = []
        for _ in range(max(repeat, 1)):
            t0 = time.perf_counter()
            fn()
            ts.append(round(time.perf_counter() - t0, 3))
        # true median (even counts average the middle two — the upper
        # order statistic would report the MAX at repeat=2, amplifying
        # exactly the noise the median exists to damp)
        import statistics

        med = round(statistics.median(ts), 3)
        timings[name] = med
        query_runs[name] = {"median": med, "min": min(ts), "runs": ts}

    # shared inputs (built outside the timed sections)
    e_cs = edges_cs(spark, sf_dir).persist()
    n_edges_cs = e_cs.count()

    # Untimed JIT/codegen warm-up (disclosed methodology): the first
    # query of a fresh JVM otherwise absorbs ~8-15 s of whole-stage
    # codegen compilation + AQE warm-up that belongs to the session,
    # not the operator — observed as pagerank_cs10 swinging 16-24 s
    # across otherwise-identical runs while its steady supersteps were
    # equal. Two quick supersteps touch the join/agg/exchange codegen
    # paths every suite query reuses.
    pagerank(Graph(e_cs, directed=True, weighted=True),
             alpha=0.85, tol=0.0, max_iter=2).count()

    def _median_steady(ts):
        steady = sorted(ts[2:]) if len(ts) > 4 else sorted(ts)
        return steady[len(steady) // 2]

    # The timed query runs the zero-action loop (tol=0.0 selects it).
    # The edges/s-per-superstep extra keeps round 1's methodology —
    # median steady-state superstep of the one-action-per-superstep loop
    # (the shape every convergence-checked `to tol 1e-6` run has, which
    # is what the north metric measures) — via a separate instrumented
    # run outside the suite wall, at a tol no run reaches, so it runs
    # all PR_SUPERSTEPS supersteps.
    def _checked_supersteps(G) -> list[float]:
        ts: list[float] = []
        pagerank(G, alpha=0.85, tol=UNREACHED_TOL, max_iter=PR_SUPERSTEPS,
                 superstep_seconds=ts, fail_on_nonconvergence=False)[0].count()
        assert len(ts) == PR_SUPERSTEPS, len(ts)
        return ts

    def _pagerank_cs():
        G = Graph(e_cs, directed=True, weighted=True)
        pagerank(G, alpha=0.85, tol=0.0, max_iter=PR_SUPERSTEPS).count()

    run("pagerank_cs10", _pagerank_cs)
    if "pagerank_cs10" in timings:
        ts_cs = _checked_supersteps(Graph(e_cs, directed=True, weighted=True))
        extras["pagerank_edges_per_sec_per_superstep"] = round(
            n_edges_cs / _median_steady(ts_cs), 1
        )
        extras["n_edges_cs"] = n_edges_cs

    if only is None or "pagerank_rmat16" in only:
        e_rmat = rmat_edges(spark, scale=16, edgefactor=16, seed=42).persist()
        n_edges_rmat = e_rmat.count()

        def _pagerank_rmat():
            G = Graph(e_rmat, directed=True, weighted=True)
            pagerank(G, alpha=0.85, tol=0.0, max_iter=PR_SUPERSTEPS).count()

        run("pagerank_rmat16", _pagerank_rmat)
        if "pagerank_rmat16" in timings:
            ts_rmat = _checked_supersteps(Graph(e_rmat, directed=True, weighted=True))
            extras["rmat_edges_per_sec_per_superstep"] = round(
                n_edges_rmat / _median_steady(ts_rmat), 1
            )

    if only is None or "tc_rmat14" in only:
        # independent of the scale-16 graph above: builds its own
        # scale-14 input, so a tc-only subset run skips that generation

        def _tc_rmat():
            e14 = rmat_edges(spark, scale=14, edgefactor=8, seed=42)
            G = Graph(e14, directed=False, weighted=False)
            triangle_count(G).agg(F.sum("counts")).collect()

        run("tc_rmat14", _tc_rmat)

    if only is None or "tc_rmat18" in only:
        # mid-size TC promoted to the suite (round-2 verdict #10):
        # tc_rmat14's 131k edges sit on the per-job serial floor, so the
        # suite never tracked the 3-way join at a size where the PLAN
        # dominates; scale-18 × ef8 (~2.1M edges, power-law) does.
        # Input prep (generation + symmetrize + persist) happens OUTSIDE
        # the clock, like pagerank_rmat16 and the e2e scaling harness:
        # on a real deployment the canonical symmetric form is the
        # stored table layout, and tc_rmat14 already tracks the
        # everything-in-clock shape.
        e18 = symmetrize(
            rmat_edges(spark, scale=18, edgefactor=8, seed=42)
        ).persist()
        e18.count()
        G18 = Graph(e18, directed=False, weighted=False, multi_edge=True,
                    assume_symmetric=True)
        G18.number_of_vertices()  # warm the V memo (table metadata)

        def _tc18():
            triangle_count(G18).agg(F.sum("counts")).collect()

        run("tc_rmat18", _tc18)
        e18.unpersist()

    if only and "pagerank_rmat20" in only:
        # compute-dominated scaling target: 16.7M edges, power-law
        e20 = rmat_edges(spark, scale=20, edgefactor=16, seed=42).persist()
        n20 = e20.count()

        def _pr20():
            G = Graph(e20, directed=True, weighted=True)
            pagerank(G, alpha=0.85, tol=0.0, max_iter=PR_SUPERSTEPS).count()

        run("pagerank_rmat20", _pr20)
        if "pagerank_rmat20" in timings:
            extras["rmat20_edges_per_sec_per_superstep"] = round(
                n20 / (timings["pagerank_rmat20"] / PR_SUPERSTEPS), 1
            )

    def _wcc():
        G = Graph(e_cs, directed=False, weighted=True)
        weakly_connected_components(G).count()

    run("wcc_cs", _wcc)

    def _lpa():
        G = Graph(e_cs, directed=False, weighted=True)
        # fixed 5-superstep budget → single changed-count action
        label_propagation(G, max_iter=5, check_every=5).count()

    run("lpa_cs5", _lpa)

    def _bfs():
        G = Graph(symmetrize(e_cs), directed=True, weighted=True)
        bfs(G, source=1).count()

    run("bfs_cs", _bfs)

    def _minhash():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        minhash_dedup_pairs(docs, threshold=0.5).count()

    run("minhash_docs", _minhash)

    def _cos():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cosine_topk_bruteforce(emb, emb, k=1).count()

    run("cosine_top1", _cos)

    def _text():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = language_id(docs)
        out = quality_score(out)
        out = token_count(out)
        out.agg(
            F.count("*"), F.avg("quality"), F.sum("n_tokens"),
            F.count_distinct("lang_pred"),
        ).collect()

    run("text_scan", _text)

    total = round(sum(timings.values()), 3)
    host["after"] = host_marker()
    print(json.dumps({
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_runs": query_runs,
        "repeat": repeat,
        "sf": sf,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "host": host,
        **extras,
    }))


if __name__ == "__main__":
    main()
