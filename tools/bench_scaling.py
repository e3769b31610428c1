"""Two-parallelism scaling harness (the sandbox instantiation of the
north rule's N vs 4N executor criterion; see BASELINE.md §3).

Measures STEADY-STATE PageRank superstep throughput (per-superstep
wall clock from inside the loop, first two supersteps discarded as
JIT/cache warm-up) on a seeded power-law RMAT graph big enough that
compute dominates the per-superstep serial overhead — the regime a
real 100 TB cluster run lives in. Identical job + identical input at
local[N] and local[4N]; efficiency = (thr_4N / thr_N) / 4.

Usage: python tools/bench_scaling.py [N] [rmat_scale] [edgefactor]
       (defaults: N=8, scale=23, edgefactor=16 → 134M edges)

Prints one JSON report, with the plan it timed and ``perfbench`` host
markers from before and after the two runs, and writes no file: a run
worth keeping is added to ``BENCH/BASELINE.md`` by hand.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.probe import host_marker  # noqa: E402

WORKER = r"""
import json
from cugraph_spark.session import get_spark
from cugraph_spark.sources.rmat import rmat_edges
from cugraph_spark.graph import Graph
from cugraph_spark.operators.pagerank import pagerank
from cugraph_spark.plans import local_tail

# the harness times the distributed loop: at or under the cutover
# PageRank would run on the driver, so force the distributed plan the
# way the tests do
local_tail.LOCAL_TAIL_EDGES = 0
spark = get_spark(app_name="bench_scaling")
e = rmat_edges(spark, scale={scale}, edgefactor={ef}, seed=42).persist()
n = e.count()
G = Graph(e, directed=True, weighted=True)
ts = []
# a tol no run reaches keeps the one-action-per-superstep loop for all
# {iters} supersteps: this harness's methodology (per-superstep wall
# lists, warm-up discard, noise analysis on the raw lists in
# BENCH/BASELINE.md) needs real per-superstep execution times, which
# the zero-action loop of a tol=0 run does not observe.
pagerank(G, tol=1e-300, max_iter={iters}, superstep_seconds=ts,
         fail_on_nonconvergence=False)[0].count()
assert len(ts) == {iters}, len(ts)
steady = sorted(ts[2:])
median = steady[len(steady) // 2]
print("BENCHJSON " + json.dumps({{
    "plan": "distributed", "n_edges": n, "supersteps": ts,
    "steady_median_sec": median,
    "edges_per_sec_per_superstep": n / median,
}}))
"""


def _sweep_orphan_scratch() -> None:
    """tmpfs shuffle scratch is RAM: a killed JVM's blockmgr dirs under
    /dev/shm silently eat host memory until the NEXT run's heap cannot
    fit (observed: 75 GiB of orphaned blocks + a 48 GiB heap → OOM
    kill). Sweep scratch dirs when no JVM is alive to own them."""
    import shutil
    import subprocess as sp

    try:
        alive = sp.run(["pgrep", "-c", "java"], capture_output=True, text=True)
    except OSError:
        # pgrep missing/unrunnable → zero confidence there is no live
        # JVM; sweeping /tmp here could delete a concurrent Spark job's
        # shuffle scratch. Skip.
        return
    if alive.returncode not in (0, 1):  # 1 = "no processes matched"
        return
    if alive.stdout.strip() not in ("", "0"):
        return
    me = os.getuid()
    for base in ("/dev/shm/spark-graft-local", "/tmp"):
        p = Path(base)
        if not p.is_dir():
            continue
        for d in p.iterdir():
            # only dirs this user owns — never another tenant's scratch
            try:
                if d.stat().st_uid != me:
                    continue
            except OSError:
                continue
            if d.name.startswith(("blockmgr-", "spark-")):
                shutil.rmtree(d, ignore_errors=True)


def run_worker(code: str, cpus: int, timeout: int) -> dict:
    """Run one harness worker script in a new interpreter on
    local[``cpus``] and return the record it prints after
    ``BENCHJSON``. The checkout goes on ``PYTHONPATH``, because Spark's
    Python workers (``rmat_edges``' mapInPandas, the csr kernels) import
    the package too and do not see the script's ``sys.path``."""
    _sweep_orphan_scratch()
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")]))
    env.setdefault("SPARK_DRIVER_MEMORY", "48g")
    # tmpfs shuffle: both parallelism levels share ONE virtual disk
    # here, which a real N-vs-4N cluster would not — routing shuffle to
    # RAM removes that artifact (and is the dir _sweep_orphan_scratch
    # cleans)
    shm = "/dev/shm/spark-graft-local"
    os.makedirs(shm, exist_ok=True)
    env.setdefault("SPARK_LOCAL_DIRS", shm)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env=env, timeout=timeout,
    )
    for line in out.stdout.splitlines():
        if "BENCHJSON" in line:
            return json.loads(line.split("BENCHJSON ", 1)[1])
    raise RuntimeError(f"no result; stderr tail: {out.stderr[-2000:]}")


def pagerank_worker(cpus: int, scale: int, ef: int, iters: int) -> dict:
    """Per-superstep PageRank walls on RMAT-``scale`` at local[``cpus``]."""
    return run_worker(WORKER.format(scale=scale, ef=ef, iters=iters), cpus, 3000)


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 23
    ef = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    iters = 12

    host = {"before": host_marker()}
    a = pagerank_worker(n, scale, ef, iters)
    b = pagerank_worker(4 * n, scale, ef, iters)

    thr_a = a["edges_per_sec_per_superstep"]
    thr_b = b["edges_per_sec_per_superstep"]
    eff = (thr_b / thr_a) / 4.0
    report = {
        "input": f"rmat scale={scale} edgefactor={ef} ({a['n_edges']} edges)",
        "plan": a["plan"],
        "cores_A": n, "cores_B": 4 * n,
        "steady_sec_per_superstep_A": round(a["steady_median_sec"], 2),
        "steady_sec_per_superstep_B": round(b["steady_median_sec"], 2),
        "edges_per_sec_per_superstep_A": round(thr_a, 0),
        "edges_per_sec_per_superstep_B": round(thr_b, 0),
        "scaling_efficiency": round(eff, 3),
        "supersteps_A": [round(t, 2) for t in a["supersteps"]],
        "supersteps_B": [round(t, 2) for t in b["supersteps"]],
        "host": {**host, "after": host_marker()},
    }
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
