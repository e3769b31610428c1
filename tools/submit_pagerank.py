"""Cluster entry point: ``spark-submit --py-files dist/cugraph_spark.zip``.

The north-rule deployment shape — the engine runs as a spark-submit
job on a multi-executor cluster, with ``cugraph_spark`` shipped to
executors via ``--py-files`` (build the zip with
``python tools/make_pyfiles.py``).  On a cluster, spark-submit
supplies master/deploy-mode/executors; ``get_spark`` only layers the
engine's SQL confs on top (AQE, Arrow, shuffle partitions).

Example::

    spark-submit --master yarn --deploy-mode cluster \
        --num-executors 400 --executor-cores 8 \
        --py-files dist/cugraph_spark.zip \
        tools/submit_pagerank.py \
        --edges s3://lake/link_graph/edges \
        --out   s3://lake/link_graph/ranks \
        --checkpoint s3://lake/link_graph/_ckpt/pr_run42

Local smoke (same code path, no cluster)::

    python tools/submit_pagerank.py \
        --edges /root/testdata/sf0.001/lineitem.parquet --derive-cs \
        --out /tmp/ranks_smoke
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

try:  # local smoke run from a source checkout (no --py-files zip on sys.path)
    import cugraph_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--edges", required=True, help="parquet/Iceberg edge table (src,dst[,weight]) or lineitem path with --derive-cs")
    ap.add_argument("--out", required=True, help="output path for (vertex, pagerank) parquet")
    ap.add_argument("--derive-cs", action="store_true", help="input is a TPC-H lineitem table; derive the customer-supplier purchase graph")
    ap.add_argument("--alpha", type=float, default=0.85)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--checkpoint", default=None, help="superstep checkpoint dir (exact resume mid-run)")
    ap.add_argument("--resume", action="store_true", help="resume from the latest committed superstep under --checkpoint")
    args = ap.parse_args()
    if args.resume and args.checkpoint is None:
        # silently restarting a multi-hour job from iteration 0 is the
        # worst possible interpretation of a forgotten flag
        ap.error("--resume requires --checkpoint")

    from cugraph_spark.session import get_spark
    from cugraph_spark.graph import Graph
    from cugraph_spark.operators.pagerank import pagerank

    spark = get_spark(app_name="cugraph_spark.pagerank")
    if args.derive_cs:
        from cugraph_spark.queries import edges_cs

        edges = edges_cs(spark, args.edges.rsplit("/", 1)[0])
    else:
        edges = spark.read.parquet(args.edges)

    ckpt = None
    if args.checkpoint:
        from cugraph_spark.plans.checkpoint import CheckpointManager

        ckpt = CheckpointManager(args.checkpoint, "pagerank")

    g = Graph(edges, directed=True, weighted="weight" in edges.columns)
    ranks = pagerank(
        g,
        alpha=args.alpha,
        tol=args.tol,
        max_iter=args.max_iter,
        checkpoint=ckpt,
        resume=args.resume,
    )
    ranks.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
