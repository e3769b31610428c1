"""A/B: round-5 LPA levers at a chosen RMAT scale — same JVM, same
cached input, same prep protocol as tools/ab_frontier.py.

Two variants, max_iter=12 (the round-4 A/B budget):

- ``r4``        — dataframe plan, detect_cycle=False (round-4 behavior:
                  the synchronous 2-cycle burns every remaining
                  superstep re-deciding the same vertices);
- ``cycle``     — dataframe plan, detect_cycle=True (default): the
                  period-2 cycle is detected inside the changed-count
                  action and the run stops early with labels
                  bit-identical to the full max_iter run (parity rule).

Label equality across both is asserted (the cycle stop is
semantics-preserving).

Usage: PYTHONPATH=<repo> python tools/ab_lpa_r5.py [cpus] [reps] [scale]
"""
import sys, time, json, os
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from cugraph_spark.session import get_spark
from cugraph_spark.sources.rmat import rmat_edges
from cugraph_spark.graph import Graph, symmetrize
from cugraph_spark.operators.label_propagation import label_propagation
from pyspark.sql import functions as F

cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
scale = int(sys.argv[3]) if len(sys.argv) > 3 else 23

os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
spark = get_spark(app_name="ab_lpa_r5",
                  extra_conf={"spark.cleaner.periodicGC.interval": "45s"})

e = rmat_edges(spark, scale=scale, edgefactor=16, seed=42)
se = (
    symmetrize(e)
    .repartition(spark.sparkContext.defaultParallelism, "src")
    .persist()
)
n = se.count()
G = Graph(se, directed=False, weighted=True, multi_edge=True,
          assume_symmetric=True, pre_partitioned=True)
V = G.number_of_vertices()
print(f"edges={n} V={V}", flush=True)

VARIANTS = {
    "r4": {"detect_cycle": False},
    "cycle": {"detect_cycle": True},
}

out = {}
sigs = {}
for name, kw in VARIANTS.items():
    walls, metrics = [], []
    for rep in range(reps):
        sm = []
        t0 = time.perf_counter()
        res = label_propagation(G, max_iter=12, superstep_metrics=sm, **kw)
        if rep == 0:
            # order-insensitive signature for the equality assertion
            sig = res.agg(
                F.sum(F.col("vertex") * F.col("labels")).alias("a"),
                F.sum(F.col("labels")).alias("b"),
                F.count("*").alias("c"),
            ).first()
            sigs[name] = (int(sig["a"]), int(sig["b"]), int(sig["c"]))
        else:
            res.count()
        walls.append(round(time.perf_counter() - t0, 2))
        metrics.append([
            {k: (round(v, 2) if isinstance(v, float) else v)
             for k, v in m.items()} for m in sm
        ])
        spark.sparkContext._jvm.System.gc()
        time.sleep(2.0)
    out[name] = {"walls": walls, "min": min(walls),
                 "supersteps_run": len(metrics[-1]), "metrics": metrics}
    print("AB " + json.dumps({name: {"walls": walls, "min": min(walls),
                                     "supersteps": len(metrics[-1])}}),
          flush=True)
    print("STEPS " + json.dumps(metrics[-1]), flush=True)

assert len(set(sigs.values())) == 1, f"label signatures diverged: {sigs}"
print("SIGS-EQUAL " + json.dumps({k: list(v) for k, v in sigs.items()}),
      flush=True)
print("ABJSON " + json.dumps(
    {"cpus": cpus, "V": V, "edges": n, "scale": scale, "max_iter": 12,
     **out}), flush=True)
