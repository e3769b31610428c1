"""Two-parallelism scaling harness for the END-TO-END metrics of the
north rule: WCC and triangle-count wall-time (BASELINE.json names
"end-to-end WCC/triangle-count wall-time" alongside the per-superstep
PageRank throughput that tools/bench_scaling.py measures), plus an
optional label-propagation leg (the fourth north-rule algorithm;
fixed-superstep budget, zero intermediate actions) so every named
algorithm has a measured N→4N pair.

Identical job + identical seeded RMAT input at local[N] and local[4N];
the timed section is the algorithm only — edge generation, symmetrize
(for WCC) and the persist/count that fills the cache happen before the
clock starts, because on a real cluster the input would already be a
bucketed table (sources/bucketed.py pays that shuffle at write time).
Each side runs ``reps`` times in one JVM; the MINIMUM wall is the
noise-robust estimator (an execution cannot run faster than its true
cost; medians absorb host-noise spikes poorly at rep counts this low —
see BENCH/BASELINE.md's per-superstep noise analysis).

efficiency = (wall_A / wall_B) / (cores_B / cores_A)

Usage: python tools/bench_scaling_e2e.py [N] [wcc_scale] [tc_scale] [reps]
       (defaults: N=8, wcc_scale=20, tc_scale=18, reps=2; edgefactor 16,
        Graph500 a/b/c, seed 42 — same input family as bench_scaling.py)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from bench_scaling import ROOT, run_worker  # noqa: E402

WORKER = r"""
import time, json
from cugraph_spark.session import get_spark
from cugraph_spark.sources.rmat import rmat_edges
from cugraph_spark.graph import Graph, symmetrize
from cugraph_spark.operators.wcc import weakly_connected_components
from cugraph_spark.operators.triangle_count import triangle_count
from cugraph_spark.plans import local_tail

# the harness times the distributed plans: at or under the cutover
# WCC would run on the driver, so force them the way the tests do
local_tail.LOCAL_TAIL_EDGES = 0

# Shuffle files live until the driver's ContextCleaner sees their
# ShuffleDependency garbage-collected, and the cleaner's own periodic
# System.gc() defaults to 30 MINUTES — far longer than this whole run.
# At RMAT-22 one worker accumulates ~95 GiB of dead superstep shuffles
# in the tmpfs scratch WITHIN a rep sequence and the host OOM-kills the
# JVM (observed twice 2026-08-20, pids 21821/24476: ~30 GiB JVM rss +
# ~95 GiB shm on a 125 GiB box). A 45 s periodic GC keeps deleting the
# dead shuffle/broadcast/localCheckpoint blocks continuously, bounding
# scratch to the live working set.
spark = get_spark(app_name="bench_scaling_e2e",
                  extra_conf={{"spark.cleaner.periodicGC.interval": "45s"}})
out = {{}}

def _release_shuffles():
    # belt-and-braces between reps: force a full GC so the next rep
    # starts from a near-empty scratch even if the periodic tick is
    # mid-interval
    spark.sparkContext._jvm.System.gc()
    time.sleep(2.0)

# --- WCC: symmetrized undirected graph, full convergence ---
# All input prep happens BEFORE the clock: on a real cluster the edges
# are a bucketed table (hash-partitioned on src at write time), the
# vertex count is renumber/table metadata, and the symmetrized form is
# the stored physical layout. multi_edge/assume_symmetric tell the
# constructor the input is already canonical so no lazy re-transform
# leaks into the timed supersteps.
if {wcc_scale}:
    from pyspark.sql import functions as F
    from cugraph_spark.plans.strategy import NARROW_STATE_BROADCAST_LIMIT

    e = rmat_edges(spark, scale={wcc_scale}, edgefactor=16, seed=42)
    sym = symmetrize(e)
    # stored-layout premise, completed (round 4): sources/bucketed.py
    # writes the MODE-appropriate key — dst for broadcast-mode V (the
    # zero-exchange superstep layout), src above the cutover — with
    # int32 ids so the operators' compaction cast simplifies away and
    # the scan's partitioning survives. V is table metadata on a real
    # deployment; computing it pre-clock mirrors that.
    V_est = sym.select("dst").distinct().count()
    key = "dst" if V_est <= NARROW_STATE_BROADCAST_LIMIT else "src"
    se = (
        sym.select(
            F.col("src").cast("int").alias("src"),
            F.col("dst").cast("int").alias("dst"),
            "weight",
        )
        .repartition(spark.sparkContext.defaultParallelism, key)
        .persist()
    )
    n_wcc = se.count()  # fills the cache before the clock starts
    Gw = Graph(se, directed=False, weighted=True, multi_edge=True,
               assume_symmetric=True, pre_partitioned=True,
               pre_partition_key=key)
    Gw.number_of_vertices()  # warm the memoized V (metadata on a real table)
    walls, steps = [], []
    for _ in range({reps}):
        ss = []
        t0 = time.perf_counter()
        weakly_connected_components(Gw, check_every=2, superstep_seconds=ss).count()
        walls.append(time.perf_counter() - t0)
        steps.append([round(s, 2) for s in ss])
        _release_shuffles()
    out["wcc"] = {{"n_edges": n_wcc, "walls": walls, "min_wall": min(walls),
                   "superstep_walls": steps}}
    if {wcc_csr}:
        # csr arm: the packed blocks are the stored physical layout
        # (pack once per stored graph — the exact premise the
        # dataframe arm's pre-stored repartition already uses), so the
        # ONE pack job runs pre-clock into tmpfs (the single-box analog
        # of page-cache-resident shared-storage blocks) and every rep
        # reuses it; the timed region is the supersteps. The pack wall
        # is reported alongside, not hidden.
        import tempfile, shutil
        from cugraph_spark.plans.csr_blocks import pack_edges

        bd = tempfile.mkdtemp(prefix="e2e_wcc_csr_", dir="/dev/shm")
        lo_hi = se.agg(
            F.least(F.min("src"), F.min("dst")).alias("lo"),
            F.greatest(F.max("src"), F.max("dst")).alias("hi"),
        ).first()
        t0 = time.perf_counter()
        pack_edges(se.select("src", "dst"), bd,
                   spark.sparkContext.defaultParallelism,
                   id_bounds=(int(lo_hi["lo"]), int(lo_hi["hi"])))
        pack_wall = time.perf_counter() - t0
        walls_c, steps_c = [], []
        for _ in range({reps}):
            ss = []
            t0 = time.perf_counter()
            weakly_connected_components(
                Gw, check_every=2, superstep_seconds=ss,
                mode="csr", block_dir=bd,
            ).count()
            walls_c.append(time.perf_counter() - t0)
            steps_c.append([round(x, 2) for x in ss])
            _release_shuffles()
        out["wcc_csr"] = {{"n_edges": n_wcc, "walls": walls_c,
                           "min_wall": min(walls_c),
                           "pack_wall": round(pack_wall, 2),
                           "superstep_walls": steps_c}}
        shutil.rmtree(bd, ignore_errors=True)
    se.unpersist()

# --- Triangle count: per-vertex counts, full graph ---
if {tc_scale}:
    e2 = rmat_edges(spark, scale={tc_scale}, edgefactor=16, seed=42)
    can = symmetrize(e2).persist()  # canonical simple symmetric form, pre-clock
    n_tc = can.count()
    Gt = Graph(can, directed=False, weighted=True, multi_edge=True,
               assume_symmetric=True)
    Gt.number_of_vertices()
    walls = []
    for _ in range({reps}):
        t0 = time.perf_counter()
        triangle_count(Gt).count()
        walls.append(time.perf_counter() - t0)
        _release_shuffles()
    out["tc"] = {{"n_edges": n_tc, "walls": walls, "min_wall": min(walls)}}
    can.unpersist()

# --- Label propagation: fixed 4-superstep budget, one terminal action ---
# check_every = max_iter pins the zero-intermediate-action chain (any
# check_every returns identical labels — a stable labeling is a
# fixpoint); a fixed budget makes the measured work identical on both
# sides regardless of when the labeling would converge.
if {lpa_scale}:
    from pyspark.sql import functions as F
    from cugraph_spark.operators.label_propagation import label_propagation
    from cugraph_spark.plans.strategy import NARROW_STATE_BROADCAST_LIMIT

    e3 = rmat_edges(spark, scale={lpa_scale}, edgefactor=16, seed=42)
    sym3 = symmetrize(e3)
    # same stored-layout premise as the WCC leg above
    V3 = sym3.select("dst").distinct().count()
    key3 = "dst" if V3 <= NARROW_STATE_BROADCAST_LIMIT else "src"
    sl = (
        sym3.repartition(spark.sparkContext.defaultParallelism, key3)
        .persist()
    )
    n_lpa = sl.count()
    Gl = Graph(sl, directed=False, weighted=True, multi_edge=True,
               assume_symmetric=True, pre_partitioned=True,
               pre_partition_key=key3)
    Gl.number_of_vertices()
    walls = []
    for _ in range({reps}):
        t0 = time.perf_counter()
        label_propagation(Gl, max_iter=4, check_every=4).count()
        walls.append(time.perf_counter() - t0)
        _release_shuffles()
    out["lpa"] = {{"n_edges": n_lpa, "walls": walls, "min_wall": min(walls)}}

print("BENCHJSON " + json.dumps(out))
"""


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    wcc_scale = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    tc_scale = int(sys.argv[3]) if len(sys.argv) > 3 else 18
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    lpa_scale = int(sys.argv[5]) if len(sys.argv) > 5 else 0
    wcc_csr = bool(int(sys.argv[6])) if len(sys.argv) > 6 else False

    code = WORKER.format(wcc_scale=wcc_scale, tc_scale=tc_scale, reps=reps,
                         lpa_scale=lpa_scale, wcc_csr=wcc_csr)
    a = run_worker(code, n, 5400)
    b = run_worker(code, 4 * n, 5400)

    report = {"cores_A": n, "cores_B": 4 * n}
    legs = [("wcc", wcc_scale), ("tc", tc_scale), ("lpa", lpa_scale)]
    if wcc_csr:
        legs.append(("wcc_csr", wcc_scale))
    for algo, scale in [(k, s) for k, s in legs if s]:
        eff = (a[algo]["min_wall"] / b[algo]["min_wall"]) / 4.0
        report[algo] = {
            "input": f"rmat scale={scale} edgefactor=16 ({a[algo]['n_edges']} edges"
                     + (", symmetrized" if algo in ("wcc", "lpa") else "") + ")",
            "wall_A_min": round(a[algo]["min_wall"], 2),
            "wall_B_min": round(b[algo]["min_wall"], 2),
            "walls_A": [round(t, 2) for t in a[algo]["walls"]],
            "walls_B": [round(t, 2) for t in b[algo]["walls"]],
            "scaling_efficiency": round(eff, 3),
        }
        if "superstep_walls" in a[algo]:
            report[algo]["superstep_walls_A"] = a[algo]["superstep_walls"]
            report[algo]["superstep_walls_B"] = b[algo]["superstep_walls"]
        if "pack_wall" in a[algo]:
            report[algo]["pack_wall_A"] = a[algo]["pack_wall"]
            report[algo]["pack_wall_B"] = b[algo]["pack_wall"]
    print(json.dumps(report, indent=2))

    ledger = ROOT / "BENCH" / "e2e_scaling.jsonl"
    with open(ledger, "a") as f:
        f.write(json.dumps(report) + "\n")


if __name__ == "__main__":
    main()
