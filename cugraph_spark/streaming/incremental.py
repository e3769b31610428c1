"""Incremental / streaming graph maintenance.

The reference is batch-only (SURVEY.md §2.4: no streaming operators in
cuGraph); its incremental dimension is checkpoint/resume. This module
adds the Spark-native incremental layer a continuously-ingested link
graph needs:

- ``EdgeLog``: an append-only parquet edge log (Iceberg-shaped commit
  protocol: data files + a _meta marker per batch) with exactly-once
  batch ids — the ``foreachBatch`` sink of a Structured Streaming
  ingest, also usable directly in batch.
- ``incremental_pagerank``: warm-start PageRank — re-run on the grown
  graph using the previous converged ranks as ``nstart``. Power
  iteration contracts the error by about α per superstep from ANY
  normalized start vector, so a warm start saves only
  log(err_cold/err_warm)/log(1/α) supersteps: many when the delta is
  small against the graph, none when it moves mass everywhere. The
  benchmark's code-graph refresh (a ~6% edge delta, tol 1e-6) runs 14
  supersteps warm, the same as cold.

Scale notes: the log is partitioned by batch; compaction is a plain
parquet rewrite. The warm-start read is O(V); nothing about the
superstep loop changes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import Graph
from ..operators.pagerank import pagerank


class EdgeLog:
    """Append-only edge log with per-batch commit markers."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.root, f"batch={batch_id:09d}")

    def committed_batches(self) -> list[int]:
        out = []
        if not os.path.isdir(self.root):
            return out
        for d in sorted(os.listdir(self.root)):
            if d.startswith("batch=") and os.path.exists(
                os.path.join(self.root, d, "_meta.json")
            ):
                out.append(int(d.split("=")[1]))
        return out

    def append(self, edges: DataFrame, batch_id: int) -> bool:
        """Idempotent append (exactly-once under retries: a re-delivered
        batch id is skipped). Returns True if written."""
        if batch_id in set(self.committed_batches()):
            return False
        path = self._batch_dir(batch_id)
        edges.select("src", "dst", "weight").write.mode("overwrite").parquet(path)
        # count the WRITTEN parquet, not the input plan — edges.count()
        # would re-execute the whole micro-batch plan a second time
        n = edges.sparkSession.read.parquet(path).count()
        with open(os.path.join(path, "_meta.json"), "w") as f:
            json.dump({"batch_id": batch_id, "rows": n}, f)
        return True

    def foreach_batch_sink(self):
        """Adapter for ``writeStream.foreachBatch`` — Structured
        Streaming drives the same idempotent append."""

        def sink(batch_df: DataFrame, batch_id: int):
            self.append(batch_df, int(batch_id))

        return sink

    def read(self, spark: SparkSession) -> DataFrame:
        batches = self.committed_batches()
        if not batches:
            raise ValueError("edge log is empty")
        paths = [self._batch_dir(b) for b in batches]
        return spark.read.parquet(*paths)

    def read_since(self, spark: SparkSession, after_batch: int) -> DataFrame:
        """Edges from committed batches with id > ``after_batch`` (the
        delta an incremental operator consumes)."""
        batches = [b for b in self.committed_batches() if b > after_batch]
        if not batches:
            raise ValueError(f"no committed batches after {after_batch}")
        return spark.read.parquet(*[self._batch_dir(b) for b in batches])


def incremental_wcc(
    spark: SparkSession,
    log: EdgeLog,
    prev_labels: DataFrame | None = None,
    after_batch: int = -1,
    max_iter: int = 100,
) -> DataFrame:
    """Warm-start weakly connected components on edge ADDITIONS.

    Edge additions only ever MERGE components (labels are monotone
    non-increasing under min-label semantics), so the converged labels
    of the grown graph are computable from the previous labels plus the
    delta alone: contract every delta edge (u, v) to its endpoint
    labels (label(u), label(v)) — unseen vertices stand for themselves
    — and run WCC on that contracted "merge graph", whose size is
    O(|delta|), NOT O(E). The final pass is one O(V) relabel join.

    Same asymptotic shape as the reference's batch WCC restarted from
    scratch would be per epoch, minus the O(E · rounds) full propagation
    — the delta decides the work, which is what a continuously-ingested
    100 TB link graph needs. Returns ``[vertex, labels]`` (exactly the
    batch ``weakly_connected_components`` result on the full log —
    deletions are out of scope, matching the append-only ``EdgeLog``).

    With ``prev_labels=None`` this is a cold start: batch WCC over the
    whole log.
    """
    from ..operators.wcc import weakly_connected_components

    if prev_labels is None:
        G = Graph(log.read(spark), directed=False, weighted=False)
        return weakly_connected_components(G, max_iter=max_iter)

    delta = log.read_since(spark, after_batch).select("src", "dst")
    lsrc = prev_labels.select(
        F.col("vertex").alias("src"), F.col("labels").alias("_lsrc")
    )
    ldst = prev_labels.select(
        F.col("vertex").alias("dst"), F.col("labels").alias("_ldst")
    )
    merge_edges = (
        delta.join(lsrc, "src", "left")
        .join(ldst, "dst", "left")
        .select(
            F.coalesce("_lsrc", "src").alias("src"),
            F.coalesce("_ldst", "dst").alias("dst"),
        )
    )
    merged = weakly_connected_components(
        Graph(merge_edges, directed=False, weighted=False), max_iter=max_iter
    ).select(F.col("vertex").alias("_old"), F.col("labels").alias("_new"))

    new_vertices = (
        delta.select(F.col("src").alias("vertex"))
        .union(delta.select(F.col("dst").alias("vertex")))
        .distinct()
        .join(prev_labels.select("vertex"), "vertex", "left_anti")
        .select("vertex", F.col("vertex").alias("labels"))
    )
    universe = prev_labels.select("vertex", "labels").union(new_vertices)
    return (
        universe.join(merged, universe["labels"] == merged["_old"], "left")
        .select("vertex", F.coalesce("_new", "labels").alias("labels"))
    )


def incremental_pagerank(
    spark: SparkSession,
    log: EdgeLog,
    prev_ranks: DataFrame | None,
    alpha: float = 0.85,
    tol: float = 1.0e-6,
    max_iter: int = 100,
    **kw,
):
    """PageRank over the full logged graph, warm-started from the
    previous epoch's ranks (new vertices enter with nstart 0 and pick
    up mass through the unvarying term). Returns what ``pagerank``
    returns: the ``[vertex, pagerank]`` frame, or ``(frame,
    converged)`` with ``fail_on_nonconvergence=False``. Pass
    ``superstep_seconds=[]`` in ``kw`` to count supersteps (one entry
    each). Small logs run PageRank's block plan on the driver,
    checkpoints included."""
    edges = log.read(spark)
    G = Graph(edges, directed=True, weighted=True)
    nstart = None
    if prev_ranks is not None:
        nstart = prev_ranks.select(
            "vertex", F.col("pagerank").alias("values")
        )
    return pagerank(
        G, alpha=alpha, tol=tol, max_iter=max_iter, nstart=nstart, **kw
    )
