"""A/B harness: one operator, one seeded input, several arms, same JVM.

Usage: python tools/ab.py <operator> <scale> <arm>... [--cpus N]
                          [--reps N] [--input rmat|caterpillar]

``operator`` is wcc, lpa, bfs or pagerank. ``scale`` is the RMAT scale
(edge factor 16, seed 42), or ``LxK`` for ``--input caterpillar``: a
spine path of L vertices, each carrying K leaves — diameter ≈ L, so
hundreds of tiny-delta frontier supersteps follow the dense phase.
WCC and LPA run on the symmetrized graph hash-partitioned on src and
declared pre-partitioned; bfs and pagerank on the directed RMAT graph.

An arm is a preset name, or ``name:key=value,...``. Keys are the
operator's public keyword arguments (``mode``, ``block_dir``,
``check_every``, ``max_iter``, ``tol``, …) plus
the plan cutovers the tests patch, set for the arm's runs only:

  frontier=N   the operator's ``_frontier_threshold`` returns N
               (wcc, lpa; 0 = every superstep dense)
  broadcast=N  ``strategy.NARROW_STATE_BROADCAST_LIMIT``, the
               broadcast-state cutover (wcc, lpa; 0 = shuffle-hash)
  tail=N       ``local_tail.LOCAL_TAIL_EDGES``, the driver-placement
               cutover (0 = no call runs on the driver)

All three shape only dataframe plans: a wcc arm with ``mode=csr``
rejects them.

``N`` may be ``always`` (10**18). ``block_dir=fresh`` packs into a new
directory per run (pack in the wall); ``block_dir=shared`` reuses one
directory packed before the first timed run, its transposed ``T/`` set
included (stored blocks). Presets:

  dataframe  tail=0                     the automatic Catalyst plan
  csr        mode=csr,block_dir=fresh
  stored     mode=csr,block_dir=shared
  dense      frontier=0,tail=0
  frontier   frontier=always,tail=0     frontier from superstep 1

(below the cutover default PageRank and WCC run the block plan on the
driver, so the Catalyst presets set ``tail=0``).

Before any timed run, the first arm is called once untimed and its
result discarded (a ``fresh`` warm-up packs into a directory of its
own, removed after): the session's first call pays its warm-up — JIT,
the first Python workers — which would otherwise land in the first
arm's first rep. The timed reps then run round-robin over the arms,
the arm order reversed every round (``a b``, ``b a``, ``a b``, …): the
session keeps getting cheaper for many calls after its first, so an
arm whose reps all ran after another arm's would read cheaper. Each
run is timed in wall and process-tree CPU seconds
(``perfbench/probe.py``); its result is reduced to an order-insensitive
signature, and all arms must give the same one. The last line is
``ABJSON {cpus, operator, input, scale, V, edges, host, warmup, <arm>:
{walls, min, cpu_s, jobs, signature, metrics (wcc, lpa) | steps
(pagerank)}}`` — the shape of the ``BENCH/ab_*.json`` records;
``warmup`` names the arm of the untimed call. ``host`` holds
``perfbench`` host markers from before and after.
``jobs`` counts the Spark jobs each run's call started before it
returned (a job group around the call; a lazy result's terminal job
runs in the signature, outside the count), so a plan's jobs per
superstep can be read off two runs with different ``max_iter``.

The one-off scripts this replaces, as invocations (their defaults):

  ab_bfs_csr.py 32 23        bfs 23 dataframe csr stored --reps 1
  ab_frontier.py 32 2 23     wcc 23 dense dataframe;
                             lpa 23 dense dataframe
  ab_highdiam.py 32 512 K    wcc 512xK dataframe csr --input caterpillar --reps 1
  ab_lpa_cutover.py 32 23 3  wcc 23 shuffle_hash_4M:broadcast=4000000,check_every=2
                                    broadcast_dst_8M:broadcast=8000000,check_every=2 --reps 3;
                             lpa 23 shuffle_hash_4M:broadcast=4000000,max_iter=4,check_every=4
                                    broadcast_dst_8M:broadcast=8000000,max_iter=4,check_every=4 --reps 3
  ab_lpa_r5.py 32 2 23       lpa 23 dataframe  (its no-cycle-stop arm is gone
                             with the option; the record is
                             BENCH/ab_lpa_r5_rmat23.json)
  ab_pagerank_csr.py 32 2 21 pagerank 21 dataframe csr
  ab_wcc_csr.py 32 2 23      wcc 23 dataframe csr
  ab_wcc_mode.py 32 2 24     wcc 24 shuffle_hash:broadcast=0,check_every=2
                                    broadcast:broadcast=always,check_every=2

(all with ``--cpus 32``). lpa runs 12 supersteps unless an arm sets
``max_iter``; pagerank runs 10 supersteps of the convergence-checked
loop at a tol no run reaches (``tol=1e-300``), so every superstep
ends in its action and ``steps`` holds real superstep walls.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import math
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.probe import cpu_seconds, host_marker  # noqa: E402

ALWAYS = 10**18

PRESETS = {
    "dataframe": {"tail": 0},
    "csr": {"mode": "csr", "block_dir": "fresh"},
    "stored": {"mode": "csr", "block_dir": "shared"},
    "dense": {"frontier": 0, "tail": 0},
    "frontier": {"frontier": ALWAYS, "tail": 0},
}

# operator -> (module, function, default kwargs, per-superstep out-list kwarg)
OPERATORS = {
    "wcc": ("wcc", "weakly_connected_components", {"max_iter": 2000},
            "superstep_metrics"),
    "lpa": ("label_propagation", "label_propagation", {"max_iter": 12},
            "superstep_metrics"),
    "bfs": ("traversal", "bfs", {"source": 0}, None),
    "pagerank": ("pagerank", "pagerank",
                 {"tol": 1e-300, "max_iter": 10,
                  "fail_on_nonconvergence": False}, "superstep_seconds"),
}
TRACE_KEY = {"superstep_metrics": "metrics", "superstep_seconds": "steps"}
PATCH_KEYS = ("frontier", "broadcast", "tail")
# the operators each patch key applies to (tail=0 keeps any operator
# off the driver, so every one takes it)
PATCHABLE = {"frontier": ("wcc", "lpa"), "broadcast": ("wcc", "lpa"), "tail": tuple(OPERATORS)}


def _value(text: str):
    if text == "always":
        return ALWAYS
    for cast in (int, float):
        try:
            return cast(text)
        except ValueError:
            pass
    return {"True": True, "False": False, "true": True, "false": False}.get(text, text)


def parse_arm(token: str, operator: str) -> tuple[str, dict]:
    """``name`` (a preset) or ``name:key=value,...``."""
    name, _, spec = token.partition(":")
    if not spec:
        if name not in PRESETS:
            raise SystemExit(f"unknown arm {name!r}; presets: {', '.join(PRESETS)}")
        settings = dict(PRESETS[name])
    else:
        settings = {k: _value(v) for k, v in (kv.split("=", 1) for kv in spec.split(","))}
    for key in PATCH_KEYS:
        if key in settings and operator not in PATCHABLE[key]:
            raise SystemExit(f"{key}= does not apply to {operator}")
        if key in settings and operator == "wcc" and settings.get("mode") == "csr":
            raise SystemExit(f"{key}= does not apply to wcc mode=csr")
    return name, settings


@contextlib.contextmanager
def patched(module, settings: dict):
    """Set the arm's plan cutovers for the block; restore them after."""
    from cugraph_spark.plans import local_tail, strategy

    targets = {
        "frontier": (module, "_frontier_threshold"),
        "broadcast": (strategy, "NARROW_STATE_BROADCAST_LIMIT"),
        "tail": (local_tail, "LOCAL_TAIL_EDGES"),
    }
    saved = []
    try:
        for key in PATCH_KEYS:
            if key not in settings:
                continue
            mod, name = targets[key]
            old = getattr(mod, name)
            saved.append((mod, name, old))
            value = settings[key]
            setattr(mod, name, (lambda *a, v=value: v) if callable(old) else value)
        yield
    finally:
        for mod, name, old in reversed(saved):
            setattr(mod, name, old)


def load_graph(spark, operator: str, scale: str, source: str):
    """The input graph and ``(V, edges)`` — prepared and cached before
    any timed run."""
    from pyspark.sql import functions as F

    from cugraph_spark.graph import Graph, symmetrize
    from cugraph_spark.sources.rmat import rmat_edges

    undirected = operator in ("wcc", "lpa")
    if source == "caterpillar":
        L, K = (int(x) for x in scale.split("x"))
        spine = spark.range(L - 1).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        leaves = spark.range(L * K).select(
            (F.col("id") / K).cast("long").alias("src"), (F.col("id") + L).alias("dst"))
        e = spine.unionByName(leaves).withColumn("weight", F.lit(1.0))
    else:
        e = rmat_edges(spark, scale=int(scale), edgefactor=16, seed=42)
    if undirected:
        e = symmetrize(e).repartition(spark.sparkContext.defaultParallelism, "src")
    e = e.persist()
    n = e.count()
    G = Graph(e, directed=not undirected, weighted=True, multi_edge=True,
              assume_symmetric=undirected, pre_partitioned=undirected)
    return G, G.number_of_vertices(), n


def signature(operator: str, df) -> tuple:
    """Order-insensitive reduction of one run's result."""
    from pyspark.sql import functions as F

    if operator == "bfs":
        cols = [F.sum(F.when(F.col("distance") >= 0, 1).otherwise(0)),
                F.sum("distance"), F.max("distance")]
    elif operator == "pagerank":
        cols = [F.count("*"), F.sum("pagerank"), F.sum(F.col("pagerank") * F.col("vertex"))]
    else:
        cols = [F.count("*"), F.sum("labels"), F.sum(F.col("vertex") * F.col("labels"))]
    return tuple(df.agg(*cols).first())


def _same(a: tuple, b: tuple) -> bool:
    return all(x == y if isinstance(x, int) else math.isclose(x, y, rel_tol=1e-9)
               for x, y in zip(a, b))


def run(spark, operator: str, scale: str, arms: list[str], reps: int = 2,
        source: str = "rmat", block_root: str | None = None) -> dict:
    """Run every arm ``reps`` times; return the ABJSON record."""
    modname, fn, defaults, trace_kw = OPERATORS[operator]
    module = importlib.import_module(f"cugraph_spark.operators.{modname}")
    op = getattr(module, fn)
    G, V, n = load_graph(spark, operator, str(scale), source)
    print(f"edges={n} V={V}", flush=True)
    root = tempfile.mkdtemp(prefix="ab_", dir=block_root or _block_root())
    out = {"cpus": spark.sparkContext.defaultParallelism, "operator": operator,
           "input": source, "scale": scale, "V": V, "edges": n,
           "host": {"before": host_marker()}}
    sigs = {}
    sc = spark.sparkContext
    shared = os.path.join(root, "shared")

    def call(name: str, settings: dict, tag: str):
        """One call of an arm, timed: ``(wall, cpu_s, jobs, trace,
        signature)``. A ``fresh`` arm packs into a directory of its own,
        removed after the call."""
        kw = {**defaults, **{k: v for k, v in settings.items() if k not in PATCH_KEYS}}
        if kw.get("block_dir") == "shared" and not os.path.exists(shared):
            _pack(G, shared, weighted=operator == "pagerank")
        blocks = kw.get("block_dir")
        if blocks == "fresh":
            kw["block_dir"] = os.path.join(root, f"{name}_{tag}")
        elif blocks == "shared":
            kw["block_dir"] = shared
        trace: list = []
        if trace_kw:
            kw[trace_kw] = trace
        source_v = kw.pop("source", None)
        group = f"ab_{name}_{tag}"
        sc.setJobGroup(group, f"{operator} {name}")
        c0, t0 = cpu_seconds(), time.perf_counter()
        try:
            with patched(module, settings):
                res = op(G, source_v, **kw) if operator == "bfs" else op(G, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        if isinstance(res, tuple):
            res = res[0]
        sig = signature(operator, res)
        wall, cpu = round(time.perf_counter() - t0, 2), round(cpu_seconds() - c0, 2)
        if blocks == "fresh":
            shutil.rmtree(kw["block_dir"], ignore_errors=True)
        spark.sparkContext._jvm.System.gc()
        time.sleep(2.0)
        return wall, cpu, jobs, trace, sig

    try:
        # the session's warm-up (JIT, first Python workers, first
        # Arrow batches) lands in its first call: one untimed call of
        # the first arm takes it, so no arm's first rep pays it
        parsed = [parse_arm(token, operator) for token in arms]
        out["warmup"], settings = parsed[0]
        call(out["warmup"], settings, "warmup")
        recs = {}
        for name, _ in parsed:
            recs[name] = {"walls": [], "cpu_s": [], "jobs": []}
            if trace_kw:
                recs[name][TRACE_KEY[trace_kw]] = []
        # reps run round-robin over the arms, the order reversed every
        # round, so the session's slow drift falls on every arm alike
        out["order"] = []
        for rep in range(reps):
            for name, settings in parsed if rep % 2 == 0 else parsed[::-1]:
                out["order"].append(name)
                rec = recs[name]
                wall, cpu, jobs, trace, sig = call(name, settings, str(rep))
                rec["walls"].append(wall)
                rec["cpu_s"].append(cpu)
                rec["jobs"].append(jobs)
                if trace_kw == "superstep_metrics":
                    rec["metrics"].append([{k: round(v, 2) if isinstance(v, float) else v
                                            for k, v in m.items()} for m in trace])
                elif trace_kw:
                    rec["steps"].append([round(s, 2) for s in trace])
                if not _same(sigs.setdefault(name, sig), sig):
                    raise RuntimeError(f"{name}: result changed between reps")
        for name, rec in recs.items():
            rec["min"] = min(rec["walls"])
            rec["signature"] = list(sigs[name])
            out[name] = rec
            print("AB " + json.dumps({name: {"walls": rec["walls"], "min": rec["min"],
                                             "cpu_s": rec["cpu_s"], "jobs": rec["jobs"]}}),
                  flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        G.edges.unpersist()
    first = next(iter(sigs.values()))
    if not all(_same(s, first) for s in sigs.values()):
        raise RuntimeError(f"arm results diverged: {sigs}")
    out["host"]["after"] = host_marker()
    return out


def _pack(G, block_dir: str, weighted: bool) -> None:
    """Pack the stored-blocks arm's directory once, outside the clock,
    with the partition count the operators resolve by default: the
    primary set and the transposed one the pull plans read (free on an
    undirected graph)."""
    from cugraph_spark.plans.csr_blocks import CsrBlocks
    from cugraph_spark.plans.strategy import resolve_partitions

    with CsrBlocks(G, resolve_partitions(None, G.edges), block_dir, weighted=weighted) as blocks:
        blocks.transposed()


def _block_root() -> str:
    """tmpfs when there is one: a single-box stand-in for the design's
    page-cache-resident shared storage (a disk dir adds seconds of
    write/read variance a deployment's page cache never pays)."""
    return "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("operator", choices=sorted(OPERATORS))
    p.add_argument("scale")
    p.add_argument("arms", nargs="+")
    p.add_argument("--cpus", type=int, default=32)
    p.add_argument("--reps", type=int, default=2)
    p.add_argument("--input", choices=("rmat", "caterpillar"), default="rmat")
    a = p.parse_args(argv)
    for token in a.arms:
        parse_arm(token, a.operator)  # fail before the session starts
    os.environ["SPARK_GRAFT_CPUS"] = str(a.cpus)
    from cugraph_spark.session import get_spark

    spark = get_spark(app_name=f"ab_{a.operator}",
                      extra_conf={"spark.cleaner.periodicGC.interval": "45s"})
    out = run(spark, a.operator, a.scale, a.arms, a.reps, a.input)
    print("ABJSON " + json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
