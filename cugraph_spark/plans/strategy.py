"""Join-strategy planner for the superstep gather-scatter.

The per-superstep SpMV join (O(E) edges ⋈ O(V) vertex state) is the
engine's hot path. Spark's default picks sort-merge once the state side
exceeds the broadcast threshold — which re-sorts the edge side every
superstep. Neither is right for an iterative engine:

- **small V** → broadcast the vertex state (the analog of cuGraph's
  ``update_edge_src_property`` NCCL broadcast along the 2D grid,
  SURVEY.md §2.4): zero edge movement, zero sort.
- **large V** → shuffle-hash join with the hash table built on the
  vertex side: the persisted hash-partitioned edge side is neither
  re-shuffled nor sorted; only the O(V) state moves.

Measured on RMAT scale-20 (16.7M edges, local[8]): sort-merge
0.72M edges/s/superstep, shuffle-hash 1.60M, broadcast 3.47M.

``BROADCAST_VERTEX_LIMIT`` (default 4M rows ≈ 64MB of (long,double))
is the cutover; on a real cluster tune to executor memory. Callers
pass the known vertex count — no extra count job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BROADCAST_VERTEX_LIMIT = 4_000_000

# Cutover for operators whose per-vertex state is ONE narrow label
# (WCC, LPA: 8 bytes/vertex int32-compacted — half of PageRank's
# (id, rank) row, for which the generic 4M constant was A/B-measured).
# Crossing into broadcast mode also unlocks the dst-partitioned
# zero-exchange superstep (DST_PARTITION_MIN_V below), so the cutover
# sits higher. A/B at RMAT-23 ef16 (V=4,611,356 occupied — genuinely
# between the two constants; RMAT-22's occupied V is 2.40M, not its
# 4.19M max id), 32 cores, min-of-2: WCC 63.4s shuffle-hash vs 60.3s
# broadcast+dst; LPA 91.1s vs 62.4s (1.46x — BOTH of its per-superstep
# dst-keyed aggregations go exchange-free). BENCH/BASELINE.md round-3
# section; rerun with tools/ab.py broadcast= arms.
#
# Raised 8M → 24M after the RMAT-24 pair regressed: occupied
# V=8,872,774 sat just ABOVE the 8M cutover, so WCC fell back to
# shuffle-hash and N→4N e2e efficiency dropped to 0.535 (from 0.711 at
# RMAT-23 in broadcast mode). Direct A/B at that V (RMAT-24 ef16,
# 520.8M symmetrized edges, 32 cores, min-of-2): WCC 160.8s
# shuffle-hash vs 101.0s broadcast+dst — 1.59x, and the gap WIDENS
# with P (the exchange it removes is the P-proportional term). 24M ≈
# 192 MB of ids — per-executor budget class of an AQE broadcast. On a
# many-node cluster the real bound is broadcast replication
# (V·8B·n_executors per superstep vs ~E·8B shuffled); executors-many
# deployments with E/V well under ~n_executors/4 should lower this
# constant; WCC and LPA read it at call time.
NARROW_STATE_BROADCAST_LIMIT = 24_000_000

# In broadcast-state mode the gather-scatter's edge cache should be
# hash-partitioned by DST once V is large: the per-superstep
# groupBy(dst) message aggregation then runs partition-local (the
# cache's hashpartitioning(dst) satisfies the agg's required
# distribution) and the state⋈mins join is co-partitioned — per
# superstep the ONLY data movement is the O(V) state broadcast. The
# aggregation exchange it replaces carries up to min(E, P·V)
# partially-combined rows, a P-proportional term that is what capped
# the measured N→4N WCC e2e efficiency at 0.39-0.48 in round 2
# (BENCH/BASELINE.md). Below ~1M vertices that exchange is already
# tiny and the one-time O(E) dst-repartition would cost more than
# every superstep it saves.
DST_PARTITION_MIN_V = 1_000_000


def narrow_state_edges(G, e: DataFrame, V: int, P: int, recast: bool = False) -> DataFrame:
    """The edge cache layout of a narrow-state operator (WCC, LPA), read
    from the two cutovers above at call time:

    - V above ``NARROW_STATE_BROADCAST_LIMIT`` (shuffle-hash state):
      partition by ``src``, so the per-superstep edges⋈state join never
      re-exchanges the O(E) side; only the O(V) state moves. The
      groupBy(dst) aggregation still exchanges up to min(E, P·V)
      partially-combined rows per superstep;
    - broadcast state and V >= ``DST_PARTITION_MIN_V``: partition by
      ``dst``. The state broadcasts, so src co-location buys nothing,
      and both per-superstep exchanges vanish: the dst-keyed
      aggregations run partition-local and the state⋈messages join is
      co-partitioned. The one up-front O(E) shuffle moves the bytes of
      one superstep's aggregation exchange, so it pays for itself by
      superstep 2;
    - otherwise (broadcast state, small V) scan ``e`` in place:
      map-side combine already shrinks the aggregation exchange to
      ~P·V rows, less than the up-front shuffle would cost.

    A graph already partitioned on the key keeps its layout unless
    ``recast`` says the id columns were rewritten (a long→int cast voids
    a declared bucket layout). The repartition, like the caller's
    persist, runs lazily inside the first superstep's action."""
    if V > NARROW_STATE_BROADCAST_LIMIT:
        key = "src"
    elif V >= DST_PARTITION_MIN_V:
        key = "dst"
    else:
        return e
    return e.repartition(P, key) if recast or not G.partitioned_on(key) else e


def vertex_join_side(state: DataFrame, n_vertices: int | None,
                     limit: int = BROADCAST_VERTEX_LIMIT) -> DataFrame:
    """Wrap the O(V) side of an edges⋈state join with the right
    strategy hint for its size."""
    if n_vertices is not None and n_vertices <= limit:
        return F.broadcast(state)
    return state.hint("shuffle_hash")


def _parse_bytes(raw, default: int) -> int:
    """Spark size-config parser: bare bytes or a k/m/g/t suffix with
    optional trailing 'b' ("128m", "128MB", "1g", "134217728")."""
    s = str(raw).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmgt":
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}[s[-1]]
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return default


# ------------------------------------------------ adaptive partitions

ADAPTIVE_MAX_PARTITIONS = 32_768
_STATS_UNRELIABLE = 1 << 60  # Catalyst's "unknown" fallback sizes are huge


def adaptive_partitions(
    df: DataFrame,
    target_bytes: int | None = None,
    min_partitions: int | None = None,
    max_partitions: int = ADAPTIVE_MAX_PARTITIONS,
) -> int:
    """Size a partition count from Catalyst plan statistics: enough
    partitions that each holds ~``target_bytes`` of the input
    (default: ``spark.sql.files.maxPartitionBytes``, 128MB), floored at
    the cluster's scheduling width (``defaultParallelism``) and capped
    at ``max_partitions``.

    A fixed ``spark.sql.shuffle.partitions`` cannot be right at both
    ends of a 100 TB pipeline — thousands of tasks per superstep on a
    coarsened 1M-edge community graph, or multi-GB partitions on the
    raw edge list. Statistics come from ``optimizedPlan().stats()``
    (parquet/Iceberg scans report real sizes; UDF plans carry
    Catalyst's row-based estimate; zero extra Spark actions). When
    statistics are missing or are the "unknown" huge default, fall
    back to ``spark.sql.shuffle.partitions`` — never trust an unknown
    into a 32k-task storm.

    Operators accept ``num_partitions="auto"`` to opt in; the literal
    ``int`` override and the shuffle-partitions default are unchanged.
    """
    spark = df.sparkSession
    fallback = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return fallback
    if size <= 0 or size >= _STATS_UNRELIABLE:
        return fallback
    if target_bytes is None:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        target_bytes = _parse_bytes(raw, 134217728)
    floor = min_partitions or spark.sparkContext.defaultParallelism
    return max(floor, min(max_partitions, -(-size // target_bytes)))


def resolve_partitions(num_partitions, df: DataFrame) -> int:
    """The shared operator idiom: explicit int wins; ``"auto"`` sizes
    from plan statistics; ``None`` keeps ``spark.sql.shuffle.partitions``."""
    if num_partitions == "auto":
        return adaptive_partitions(df)
    if num_partitions is not None:
        return int(num_partitions)
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
