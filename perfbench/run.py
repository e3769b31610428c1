"""Link-graph benchmark: one workload per run, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload codegraph --seed 1 --seconds 20 --trace 0

Run from the repository root. The run starts a ``local[4]`` Spark session
(fewer threads if the host has fewer cores) and, for a workload that runs
pandas UDFs, its Python workers; writes the workload's seeded input
(several times; set-up time counts the median), then times the gated
pass through the public API, checks every output against an oracle, and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of the gated pass;
``--trace 1`` runs the same pass with every call in its own Spark job
group, then the layer tour (the calls that cover the remaining layers),
reports the per-layer metrics read back from Spark's status stores, and
writes the spans as JSONL under ``.perfbench_out/``. The line before the
last one carries the host-load marker and per-pass details. README.md
lists the metrics.

All files are written under the repository root (``.perfbench_work/``,
removed at exit, and ``.perfbench_out/``); the JVM and its Python
workers are stopped before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETUP_REPS = 3
MAX_CORES = 4

CALL_METRICS = [("wall_s", "s"), ("jobs", "count"), ("task_busy_s", "s"),
                ("driver_s", "s"), ("gc_s", "s"), ("shuffle_read_mb", "MB"),
                ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]
PY_METRICS = [("python_s", "s"), ("arrow_sent_mb", "MB"), ("arrow_recv_mb", "MB")]
SUPERSTEPS = [("supersteps", "count"), ("superstep0_s", "s"),
              ("superstep_steady_s", "s")]
# layer → (has call metrics, extra metrics); a layer a workload does not
# call reports zeros (jobs = 0 says so)
LAYERS = {
    "session": (False, [("start_s", "s"), ("python_worker_start_s", "s")]),
    "sources.code_repo": (True, [("rows_out", "count"), ("sha_mismatch", "count")]),
    "graph.renumber": (True, [("V", "count"), ("E", "count")]),
    "graph.build": (True, [("V", "count"), ("E", "count")]),
    "plans.csr_blocks": (True, PY_METRICS + [("block_mb", "MB"),
                                             ("peak_exec_mem_mb", "MB")]),
    "operators.pagerank": (True, PY_METRICS + SUPERSTEPS),
    "operators.wcc": (True, PY_METRICS + SUPERSTEPS + [("changed_frac", "ratio")]),
    "operators.label_propagation": (True, [("supersteps", "count"),
                                           ("superstep_steady_s", "s"),
                                           ("changed_frac", "ratio")]),
    "operators.triangle_count": (True, [("peak_exec_mem_mb", "MB")]),
    "operators.traversal": (True, PY_METRICS + [("levels", "count")]),
    "streaming.incremental": (True, [("bytes_written_mb", "MB"), ("supersteps", "count")]),
    "plans.checkpoint": (False, [("bytes_written_mb", "MB")]),
    "host": (False, [("loadavg_1m", "load"), ("calib_s", "s"), ("steal_frac", "ratio")]),
    "bench": (False, [("total_s", "s"), ("tour_s", "s"), ("trace_read_s", "s"),
                      ("peak_rss_mb", "MB"), ("peak_jvm_rss_mb", "MB"),
                      ("jvm_live_heap_mb", "MB")]),
}
END_TO_END = [("setup_s", "s"), ("pagerank_edges_per_cpu_s", "edges/cpu_s"),
              ("total_cpu_s", "s"), ("peak_worker_pss_mb", "MB")]


def per_layer_units() -> dict[str, str]:
    out = {}
    for layer, (has_call, extras) in LAYERS.items():
        for name, unit in (CALL_METRICS if has_call else []) + extras:
            out[f"{layer}.{name}"] = unit
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("codegraph", "rmat-stored"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and make the
    package importable by the executors' Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # 2 GB driver heap: the workloads need ~1 GB; the host has 15 GB
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, str(ROOT))


def start_session(work: Path, cores: int, trace: bool):
    from cugraph_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job of a run readable by job group: the defaults
        # (1000 stages) evict early calls during long iterative runs.
        # Untraced runs keep the defaults; the cost of retaining
        # everything is part of the tracing overhead.
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, then wait for every process this
    run started (Python workers are the JVM's children)."""
    from pyspark import SparkContext

    from perfbench.probe import descendants

    left = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - must not leave it running
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in left if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def layer_metrics(p, reader, cores: int) -> dict:
    """Sum each layer's call metrics over its calls in the pass."""
    out = {k: 0.0 for k in per_layer_units()
           if not k.startswith(("session.", "host.", "bench."))}
    for c in p.calls:
        vals = dict(reader.call_metrics(c["group"]), wall_s=c["wall_s"], **c["extras"])
        c["metrics"] = vals
        _, extras = LAYERS[c["layer"]]
        for name, _ in CALL_METRICS + extras:
            key = f"{c['layer']}.{name}"
            if name in ("driver_s", "peak_exec_mem_mb") or name not in vals:
                continue
            v = vals[name]
            out[key] = None if v is None or out[key] is None else out[key] + v
        mem = vals.get("peak_exec_mem_mb")
        key = f"{c['layer']}.peak_exec_mem_mb"
        if key in out:
            out[key] = None if mem is None or out[key] is None else max(out[key], mem)
    for layer, (has_call, _) in LAYERS.items():
        if has_call:
            busy = out[f"{layer}.task_busy_s"]
            out[f"{layer}.driver_s"] = (
                None if busy is None else out[f"{layer}.wall_s"] - busy / cores)
    for layer, notes in p.notes.items():
        for name, v in notes.items():
            out[f"{layer}.{name}"] = v
    return out


def run(args, work: Path) -> tuple[dict, dict]:
    from perfbench.probe import (RssSampler, StatusReader, StealMeter, Tracer, cpu_seconds,
                                 host_marker, jvm_live_heap_mb)
    from perfbench.workloads import WORKLOADS, Pass

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    info = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "host_before": host_marker()}
    rss = RssSampler()
    rss.start()
    t0, cpu0 = time.perf_counter(), cpu_seconds()
    spark = start_session(work, cores, bool(args.trace))
    try:
        start = (time.perf_counter() - t0, cpu_seconds() - cpu0)
        w = WORKLOADS[args.workload](spark, args.seed, work, cores, bool(args.trace))
        worker = (0.0, 0.0)  # set-up starts no workers for a pass without pandas UDFs
        if w.python_workers:
            worker = _measure(lambda: spark.range(0, cores, 1, cores).mapInPandas(
                lambda batches: batches, schema="id long").count())
        reps = [_measure(w.set_up) for _ in range(SETUP_REPS)]
        setup = [a + b + statistics.median(r[i] for r in reps)
                 for i, (a, b) in enumerate(zip(start, worker))]

        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id, bool(args.trace))
        p = Pass(tracer)
        rss.reset()
        steal = StealMeter()
        try:
            steal.start()
            cpu0 = cpu_seconds()
            with tracer.span("bench", "pass"):
                e2e = w.run_pass(p)
            e2e.update(total_cpu_s=cpu_seconds() - cpu0, steal_frac=steal.stop())
            e2e.update(rss.peaks_mb(), jvm_live_heap_mb=jvm_live_heap_mb(spark))
            if args.trace:
                with tracer.span("bench", "tour"):
                    e2e.update(w.tour(p))
        except Exception:  # noqa: BLE001 - an operator failed: report it
            traceback.print_exc()
            p.check(f"pass raised: {traceback.format_exc().splitlines()[-1]}")
            e2e = {}
        else:
            t0 = time.perf_counter()
            w.check(p)
            e2e["check_s"] = time.perf_counter() - t0
        e2e["calls"] = _call_times(p)
        info["host_after"] = host_marker()
        info.update({"pass": e2e, "failures": p.failures,
                     "setup_wall_s": setup[0], "setup_cpu_s": setup[1],
                     "start_s": start, "python_worker_start_s": worker,
                     "setup_reps_s": reps, "failed_frac": len(p.failures) / p.attempted})
        if "total_s" not in e2e:
            metrics = {}  # the pass raised: nothing to report
        elif args.trace:
            t0 = time.perf_counter()
            values = layer_metrics(p, StatusReader(spark), cores)
            values.update({
                "session.start_s": start[0], "session.python_worker_start_s": worker[0],
                "host.loadavg_1m": info["host_after"]["loadavg_1m"],
                "host.steal_frac": e2e["steal_frac"],
                "host.calib_s": info["host_after"]["calib_s"],
                "bench.total_s": e2e["total_s"],
                "bench.tour_s": e2e["tour_s"],
                "bench.trace_read_s": time.perf_counter() - t0,
            })
            values.update({f"bench.{k}": e2e[k]
                           for k in ("peak_rss_mb", "peak_jvm_rss_mb", "jvm_live_heap_mb")})
            metrics = {k: {"value": values.get(k), "unit": u}
                       for k, u in per_layer_units().items()}
            info["spans"] = write_spans(tracer, args)
        else:
            values = dict(e2e, setup_s=setup[1])
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
        result = {"correct": not p.failures, "attempted": p.attempted,
                  "failed": len(p.failures), "metrics": metrics}
        return result, info
    finally:
        rss.close()
        t0 = time.perf_counter()
        stop_session(spark)
        info["stop_s"] = time.perf_counter() - t0


def _measure(fn) -> tuple[float, float]:
    """Wall and CPU seconds of ``fn()``."""
    from perfbench.probe import cpu_seconds

    t0, cpu0 = time.perf_counter(), cpu_seconds()
    fn()
    return time.perf_counter() - t0, cpu_seconds() - cpu0


def _call_times(p) -> list:
    return [(c["layer"], c["name"], round(c["wall_s"], 3), round(c["cpu_s"], 2),
             c["extras"].get("supersteps")) for c in p.calls]


def write_spans(tracer, args) -> str:
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    path = out / f"spans-{args.workload}-seed{args.seed}.jsonl"
    with open(path, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps(s, default=str) + "\n")
    return str(path.relative_to(ROOT))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "cugraph_spark" / "__init__.py").is_file():
        print(f"perfbench: no cugraph_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    prepare_environment(work)
    try:
        result, info = run(args, work)
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work dir is still there
    info["run_s"] = time.perf_counter() - t_start
    print(json.dumps({"perfbench": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
