"""Two-parallelism WCC superstep-throughput harness.

Same methodology as tools/bench_scaling.py's PageRank measurement
(steady-state per-superstep wall from inside the loop, warm-up
discarded, median vs host noise), applied to the WCC superstep plan
(edges ⋈ labels hash-min + pointer jump). RMAT graphs are
low-diameter — WCC converges in 2-3 supersteps, far too few samples
for a median and short enough that fixed per-job costs dominate any
end-to-end wall comparison (see BENCH/e2e_scaling.jsonl). So this
harness runs superstep 0 once with a checkpoint, then resumes from
that checkpoint ``iters`` times with frontier supersteps switched off
(``_frontier_threshold`` patched to 0, as the tests and tools/ab.py
do), so every resumed call runs the dense O(E) plan until the labels
are stable (the csr plan has no frontier mode: every superstep pulls
over all of its blocks). The first superstep of each call carries the call's
one-time work — reading the saved labels, the edge layout (int32
recast, dst repartition once V ≥ DST_PARTITION_MIN_V) and filling the
edge cache — and is dropped; every later superstep of the call is one
in-loop steady sample, the same kind of sample the loop past the
fixpoint gave before. At RMAT-16 on 2 cpus with the dst layout forced
(DST_PARTITION_MIN_V = 1): 20 samples from 10 calls, median 0.37 s,
against 0.37 s for 18 in-loop supersteps past the fixpoint; resuming
from the converged checkpoint instead (one superstep per call, nothing
dropped) read 0.97 s against 0.50 s (6 samples each), because every
sample then paid the dst repartition and the cache fill.

Input prep (symmetrize, hash-partition, vertex count) happens before
the timed region, matching the e2e harness: on a real deployment these
are the stored physical layout and table metadata. Shuffle files go to
tmpfs so the sandbox's single shared virtual disk doesn't skew the
8-vs-32-core comparison (a real 4N cluster has 4N shuffle disks).

Usage: python tools/bench_scaling_wcc.py [N] [rmat_scale] [edgefactor] [iters] [mode]
       (iters = resumed calls; the report's supersteps_A/B list the
       kept samples. Defaults: N=8, scale=22, edgefactor=16, iters=10,
       mode=dataframe →
       ~128M symmetrized edges; mode=csr runs the label-slice
       supersteps over packed blocks — the pack and slice setup jobs
       are setup/layout prep, same role as the pre-stored partitioning,
       and superstep_seconds excludes them)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from bench_scaling import ROOT, run_worker  # noqa: E402

WORKER = r"""
import json, shutil, tempfile
from cugraph_spark.plans.checkpoint import CheckpointManager
from cugraph_spark.session import get_spark
from cugraph_spark.sources.rmat import rmat_edges
from cugraph_spark.graph import Graph, symmetrize
from cugraph_spark.operators import wcc as wcc_mod
from cugraph_spark.operators.wcc import weakly_connected_components
from cugraph_spark.plans import local_tail

# the harness times the distributed plans: at or under the cutover
# WCC would run on the driver, so force them the way the tests do
local_tail.LOCAL_TAIL_EDGES = 0
spark = get_spark(app_name="bench_scaling_wcc")
e = rmat_edges(spark, scale={scale}, edgefactor=16, seed=42)
se = (
    symmetrize(e)
    .repartition(spark.sparkContext.defaultParallelism, "src")
    .persist()
)
n = se.count()  # materialize the canonical symmetric form pre-clock
G = Graph(se, directed=False, weighted=True, multi_edge=True,
          assume_symmetric=True, pre_partitioned=True)
G.number_of_vertices()  # warm the memoized V (metadata on a real table)
work = tempfile.mkdtemp(prefix="bench_wcc_")
cp = CheckpointManager(work, "wcc")
kw = dict(check_every=1, mode={mode!r}, block_dir=work + "/blocks")
weakly_connected_components(G, max_iter=1, checkpoint=cp, checkpoint_every=1, **kw).count()
wcc_mod._frontier_threshold = lambda V: 0  # every dataframe superstep dense
ts = []
for _ in range({iters}):
    t = []
    weakly_connected_components(
        G, checkpoint=cp, checkpoint_every=0, resume=True,
        superstep_seconds=t, **kw,
    ).count()
    if len(t) < 2:
        raise SystemExit("labels stable one superstep after the checkpoint: no steady sample")
    ts += t[1:]  # the first superstep carries the call's one-time work
shutil.rmtree(work, ignore_errors=True)
steady = sorted(ts)
median = steady[len(steady) // 2]
print("BENCHJSON " + json.dumps({{
    "n_edges": n, "supersteps": ts,
    "steady_median_sec": median,
    "edges_per_sec_per_superstep": n / median,
}}))
"""


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 22
    ef = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    iters = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    mode = sys.argv[5] if len(sys.argv) > 5 else "dataframe"

    code = WORKER.format(scale=scale, ef=ef, iters=iters, mode=mode)
    a = run_worker(code, n, 3600)
    b = run_worker(code, 4 * n, 3600)

    thr_a = a["edges_per_sec_per_superstep"]
    thr_b = b["edges_per_sec_per_superstep"]
    eff = (thr_b / thr_a) / 4.0
    report = {
        "algo": "wcc",
        "mode": mode,
        "input": f"rmat scale={scale} edgefactor={ef} symmetrized ({a['n_edges']} edges)",
        "cores_A": n, "cores_B": 4 * n,
        "steady_sec_per_superstep_A": round(a["steady_median_sec"], 2),
        "steady_sec_per_superstep_B": round(b["steady_median_sec"], 2),
        "edges_per_sec_per_superstep_A": round(thr_a, 0),
        "edges_per_sec_per_superstep_B": round(thr_b, 0),
        "scaling_efficiency": round(eff, 3),
        "supersteps_A": [round(t, 2) for t in a["supersteps"]],
        "supersteps_B": [round(t, 2) for t in b["supersteps"]],
    }
    print(json.dumps(report, indent=2))
    with open(ROOT / "BENCH" / "wcc_scaling.jsonl", "a") as f:
        f.write(json.dumps(report) + "\n")


if __name__ == "__main__":
    main()
