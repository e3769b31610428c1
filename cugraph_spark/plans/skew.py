"""Explicit skew handling for high-degree hub vertices.

Scale-free link graphs (imports of a stdlib file, purchases of a hot
product) have 10⁵× degree spread; a single hub key can exceed what one
reduce task holds. The reference handles this with degree-descending
renumbering + per-segment kernels (high/mid/low/hypersparse thresholds
at ``cpp/include/cugraph/graph_view.hpp:250-253``, segment construction
``cpp/src/structure/renumber_edgelist_impl.cuh:538-565``). The Spark
analogs implemented here — beyond what map-side partial aggregation and
AQE skew-join splitting already give — are:

- **hub detection** (:func:`hub_vertices`): the degree-threshold split,
  the direct analog of the reference's segment thresholds;
- **salted common-neighbor self-join** (:func:`salted_common_neighbor_join`):
  pair-generation joins (similarity, hypergraph-direct) fan out
  Σ d(w)² on a hot shared neighbor w; the hub-w rows are split into
  ``salt`` buckets on one side and replicated ``salt``× on the other,
  bounding any single join task at d(w)²/salt while producing the
  identical pair set.

All salting is keyed on deterministic hashes, so results are invariant
to partitioning and cluster size (the engine-wide contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Degree above which a vertex is treated as a hub. The reference's
# high-degree segment starts at 1024 (graph_view.hpp:250); a reduce
# task comfortably holds ~1e6 grouped rows, so be conservative.
DEFAULT_HUB_DEGREE = 100_000


def hub_vertices(
    edges: DataFrame, key: str, threshold: int = DEFAULT_HUB_DEGREE
) -> DataFrame:
    """Single-column DataFrame [key] of vertices whose degree on
    ``key``'s side exceeds ``threshold`` (the degree-segment split,
    renumber_edgelist_impl.cuh:546-565). By construction ≤ |E|/threshold
    rows — always broadcastable."""
    return (
        edges.groupBy(key)
        .agg(F.count("*").alias("_d"))
        .filter(F.col("_d") > threshold)
        .select(key)
    )


def salted_common_neighbor_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    hubs: DataFrame | None = None,
    edges_for_hubs: DataFrame | None = None,
    hub_threshold: int = DEFAULT_HUB_DEGREE,
    salt: int = 16,
) -> DataFrame:
    """Join ``left ⋈ right ON key`` (the pair-generation self-join) with
    hub keys salted: hub-key rows of ``left`` are bucketed by a hash of
    all their other columns, hub-key rows of ``right`` are replicated
    ``salt``×, and the join runs on (key, salt) — same output, but a
    d(w)² hub fan-out is split across ``salt`` tasks. Non-hub keys join
    plainly. ``hubs``: precomputed hub-key DataFrame; otherwise derived
    from ``edges_for_hubs`` (or ``left`` itself) by degree threshold."""
    if hubs is None:
        src = edges_for_hubs if edges_for_hubs is not None else left
        hubs = hub_vertices(src, key, hub_threshold)
    if hubs.isEmpty():
        # adaptive short-circuit: no hub keys → the salted plan's extra
        # semi/anti joins and union are pure overhead (measured ~2.3x
        # on the sf0.1 co-supplier derivation) — emit the plain join.
        # The probe is one aggregate over the key-degree scan the
        # salted path needs anyway.
        return left.join(right, key)
    hubs = F.broadcast(hubs.select(key))

    other = [c for c in left.columns if c != key]
    lh = left.join(hubs, key, "left_semi").withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in other]), F.lit(salt))
    )
    rh = right.join(hubs, key, "left_semi").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    hot = lh.join(rh, [key, "_salt"]).drop("_salt")
    cold = left.join(hubs, key, "left_anti").join(right, key)
    return hot.unionByName(cold)
