"""The benchmark's workloads: inputs made from the seed, the gated pass
and the traced runs' layer tour through the public API, and the output
checks.

``codegraph`` is the north-star pipeline on string ids, its tour adding
the undirected operators and an append-and-refresh tail;
``rmat-stored`` is the stored packed-CSR regime. README.md says why each
was chosen, how big it is, and why the tour runs only when traced.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from cugraph_spark.graph import Graph, renumber
from cugraph_spark.operators.label_propagation import label_propagation
from cugraph_spark.operators.pagerank import pagerank
from cugraph_spark.operators.traversal import bfs
from cugraph_spark.operators.triangle_count import triangle_count
from cugraph_spark.operators.wcc import weakly_connected_components
from cugraph_spark.plans.checkpoint import CheckpointManager
from cugraph_spark.plans.csr_blocks import pack_edges, read_meta
from cugraph_spark.sources.code_repo import (
    extract_import_edges,
    generate_code_repo_table,
    verify_content_sha,
    with_content_sha,
)
from cugraph_spark.sources.rmat import rmat_edges
from cugraph_spark.streaming.incremental import EdgeLog, incremental_pagerank

from . import oracles
from .probe import cpu_seconds, dir_mb

ALPHA = 0.85


class Pass:
    """One timed pass: the calls it made (with their spans) and the
    output checks that count toward ``attempted`` / ``failed``."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.calls: list[dict] = []
        self.notes: dict[str, dict] = {}
        self.attempted = 0
        self.failures: list[str] = []

    @contextmanager
    def call(self, layer: str, name: str):
        extras: dict = {}
        cpu0 = cpu_seconds()
        with self.tracer.span(layer, name) as rec:
            yield extras
        rec["cpu_s"] = cpu_seconds() - cpu0
        rec["extras"] = extras
        self.calls.append(rec)

    def note(self, layer: str, **extras) -> None:
        """Layer numbers measured after the pass, outside any call."""
        self.notes.setdefault(layer, {}).update(extras)

    def wall(self, layer: str) -> float:
        return sum(c["wall_s"] for c in self.calls if c["layer"] == layer)

    def cpu(self, layer: str) -> float:
        return sum(c["cpu_s"] for c in self.calls if c["layer"] == layer)

    def check(self, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failures.append(err)


def _materialize(df):
    df = df.persist()
    df.count()
    return df


def _steady(seconds: list[float]) -> float | None:
    return statistics.median(seconds[1:]) if len(seconds) > 1 else None


def _changed_frac(metrics: list[dict], n_vertices: int) -> float | None:
    if not metrics or not n_vertices:
        return None
    return sum(m["changed"] for m in metrics) / (n_vertices * len(metrics))


def _pass_numbers(p: Pass, edge_steps: int, ingest_s: float, total_s: float) -> dict:
    """The gated pass's PageRank throughput, per wall second and per CPU
    second, beside its stage times."""
    return {
        "ingest_s": ingest_s,
        "pagerank_s": p.wall("operators.pagerank"),
        "pagerank_cpu_s": p.cpu("operators.pagerank"),
        "pagerank_edges_per_s": edge_steps / p.wall("operators.pagerank"),
        "pagerank_edges_per_cpu_s": edge_steps / p.cpu("operators.pagerank"),
        "total_s": total_s,
    }


def _pdf(df, *cols):
    return df.select(*cols).toPandas()


class Workload:
    """Set-up writes the seeded input; ``run_pass`` times the gated pass
    and returns its end-to-end numbers; ``tour`` (traced runs only) then
    runs the calls that cover the remaining layers; ``check`` compares
    every output made with the oracles, computed once per input.

    ``python_workers`` says whether the gated pass runs pandas UDFs; only
    then does set-up start the Python workers."""

    name = ""
    TOL = 1e-6
    python_workers = False

    def __init__(self, spark, seed: int, work: Path, cores: int, trace: bool):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores
        self.trace = trace
        self.input = None
        self.outputs: dict = {}
        self._n_setups = 0

    def set_up(self) -> None:
        self._n_setups += 1
        path = self.work / "input" / f"rep{self._n_setups}"
        self.write_input(str(path))
        if self.input is not None:
            shutil.rmtree(self.input, ignore_errors=True)
        self.input = str(path)


class CodeGraph(Workload):
    """Gated pass: code-repo table → import edges → renumbered graph →
    PageRank on the default plan. Tour: undirected build, label
    propagation and triangle count; the base edges and then the new
    files' edges appended to an ``EdgeLog``, and ranks refreshed from
    the gated pass's PageRank."""

    name = "codegraph"
    N_REPOS = 8
    FILES_PER_REPO = 150
    # the last NEW_FILES modules of every repo are committed after the
    # base graph is analysed: they form the appended delta batch
    NEW_FILES = 5

    def write_input(self, path: str) -> None:
        table = generate_code_repo_table(
            self.spark, n_repos=self.N_REPOS, files_per_repo=self.FILES_PER_REPO,
            seed=self.seed)
        with_content_sha(table).write.parquet(path)

    def _first_new_path(self) -> str:
        return "src/mod%05d.src" % (self.FILES_PER_REPO - self.NEW_FILES)

    def _is_new(self, path):
        return path.startswith("src/mod") & (path >= F.lit(self._first_new_path()))

    def run_pass(self, p: Pass) -> dict:
        files = self.spark.read.parquet(self.input)
        # the new files' edges (either end in a new file) are the delta
        # batch; the rest is the base graph
        touches_new = (self._is_new(F.substring_index("src", ":", -1))
                       | self._is_new(F.substring_index("dst", ":", -1)))
        t0 = time.perf_counter()
        with p.call("sources.code_repo", "extract_import_edges") as x:
            x["sha_mismatch"] = verify_content_sha(files)
            raw = _materialize(extract_import_edges(files))
            x["rows_out"] = raw.count()
        with p.call("graph.renumber", "renumber") as x:
            edges, mapping = renumber(raw.withColumn("new", touches_new))
            mapping = _materialize(mapping)
            edges = _materialize(edges)
            G = Graph(edges.filter(~F.col("new")), directed=True, weighted=True,
                      renumbered_mapping=mapping)
            G.edges = _materialize(G.edges)
            x["V"], x["E"] = G.vertex_stats()[0], G.edges.count()
        ingest_s = time.perf_counter() - t0
        n_edges = x["E"]
        ss: list[float] = []
        with p.call("operators.pagerank", "pagerank") as x:
            pr = _materialize(pagerank(G, alpha=ALPHA, tol=self.TOL, max_iter=200,
                                       superstep_seconds=ss))
        total_s = time.perf_counter() - t0
        x.update(supersteps=len(ss), superstep0_s=ss[0], superstep_steady_s=_steady(ss))
        self.outputs = dict(files=files, raw=raw, edges=edges, G=G, mapping=mapping, pr=pr,
                            sha=p.calls[0]["extras"]["sha_mismatch"])
        return _pass_numbers(p, n_edges * len(ss), ingest_s, total_s)

    def tour(self, p: Pass) -> dict:
        spark, d, o = self.spark, self.work / "pass", self.outputs
        G = o["G"]
        t0 = time.perf_counter()
        with p.call("graph.build", "Graph(directed=False)") as x:
            U = Graph(G.edges, directed=False, weighted=True)
            U.edges = _materialize(U.edges)
            x["V"], x["E"] = U.vertex_stats()[0], U.edges.count()
        n_vertices = x["V"]
        sm: list[dict] = []
        with p.call("operators.label_propagation", "label_propagation") as x:
            lp = _materialize(label_propagation(U, superstep_metrics=sm))
        x.update(supersteps=len(sm), superstep_steady_s=_steady([m["seconds"] for m in sm]),
                 changed_frac=_changed_frac(sm, n_vertices))
        with p.call("operators.triangle_count", "triangle_count"):
            tc = _materialize(triangle_count(U))
        log = EdgeLog(str(d / "log"))
        with p.call("streaming.incremental", "EdgeLog.append"):
            log.append(G.edges, 0)
        with p.call("streaming.incremental", "EdgeLog.append"):
            delta = _materialize(o["edges"].filter(F.col("new")).drop("new"))
            log.append(delta, 1)
        ck = CheckpointManager(str(d / "checkpoint"), "pagerank")
        ss: list[float] = []
        with p.call("streaming.incremental", "incremental_pagerank") as x:
            pr2 = _materialize(incremental_pagerank(
                spark, log, o["pr"], alpha=ALPHA, tol=self.TOL, max_iter=200,
                checkpoint=ck, superstep_seconds=ss))
            x["supersteps"] = len(ss)
        p.note("streaming.incremental", bytes_written_mb=dir_mb(log.root))
        p.note("plans.checkpoint", bytes_written_mb=dir_mb(ck.base))
        o.update(U=U, lp=lp, tc=tc, log=log, delta=delta, pr2=pr2)
        return {"tour_s": time.perf_counter() - t0,
                "refresh_s": p.calls[-1]["wall_s"]}

    def check(self, p: Pass) -> None:
        o = self.outputs
        spark = self.spark
        files = _pdf(o["files"], "repo", "path", "content")
        is_new = (files["path"].str.startswith("src/mod")
                  & (files["path"] >= self._first_new_path()))
        base = oracles.import_edges(files[~is_new])
        full = oracles.import_edges(files)
        mapping = o["mapping"].toPandas().set_index("id")["external"]
        ge = _pdf(o["G"].edges, "src", "dst", "weight")
        p.check(None if not o["sha"] else f"content sha mismatches: {o['sha']}")
        p.check(oracles.check_edges(_pdf(o["raw"], "src", "dst", "weight"), full,
                                    "extract_import_edges"))
        p.check(oracles.check_edges(_unrenumber(ge, mapping), base, "renumber (base)"))
        p.check(oracles.check_pagerank(
            _pdf(o["pr"], "vertex", "pagerank"),
            oracles.pagerank(ge.src.to_numpy(), ge.dst.to_numpy(), ge.weight.to_numpy())))
        if "U" not in o:
            return
        delta = full.merge(base[["src", "dst"]], how="left", indicator=True)
        delta = delta[delta["_merge"] == "left_only"].drop(columns="_merge")
        p.check(oracles.check_edges(
            _unrenumber(_pdf(o["delta"], "src", "dst", "weight"), mapping), delta,
            "renumber (delta)"))
        ue = _pdf(o["U"].edges, "src", "dst", "weight")
        us, ud = ue.src.to_numpy(), ue.dst.to_numpy()
        p.check(oracles.check_edges(ue, _symmetrized(ge), "symmetrize"))
        p.check(oracles.check_exact(
            _pdf(o["lp"], "vertex", "labels"), "labels",
            oracles.label_propagation(us, ud, ue.weight.to_numpy()), "label_propagation"))
        total, per_vertex = oracles.triangles(us, ud)
        tc = _pdf(o["tc"], "vertex", "counts")
        p.check(oracles.check_exact(tc, "counts", per_vertex, "triangle_count")
                or (None if tc["counts"].sum() == 3 * total
                    else f"triangle_count: sum {tc['counts'].sum()} != 3 x {total}"))
        batches = o["log"].committed_batches()
        le = _pdf(o["log"].read(spark), "src", "dst", "weight")
        p.check(None if batches == [0, 1] else f"edge log batches {batches}")
        p.check(oracles.check_edges(_unrenumber(le, mapping), full, "edge log"))
        p.check(oracles.check_pagerank(
            _pdf(o["pr2"], "vertex", "pagerank"),
            oracles.pagerank(le.src.to_numpy(), le.dst.to_numpy(), le.weight.to_numpy())))


def _unrenumber(edges: pd.DataFrame, mapping: pd.Series) -> pd.DataFrame:
    return pd.DataFrame({
        "src": mapping.loc[edges["src"].to_numpy()].to_numpy(),
        "dst": mapping.loc[edges["dst"].to_numpy()].to_numpy(),
        "weight": edges["weight"].to_numpy(),
    })


def _symmetrized(edges: pd.DataFrame) -> pd.DataFrame:
    """Both directions, one row per (src, dst), minimum weight."""
    both = pd.concat([edges, edges.rename(columns={"src": "dst", "dst": "src"})])
    return both.groupby(["src", "dst"], as_index=False)["weight"].min()


class RmatStored(Workload):
    """Gated pass: Graph500 RMAT edges → symmetrized graph → packed CSR
    blocks → PageRank with ``mode="csr"`` on those stored blocks. Tour:
    WCC and BFS with ``mode="csr"`` on the same blocks."""

    name = "rmat-stored"
    SCALE = 14
    EDGE_FACTOR = 16
    BFS_SOURCE = 0  # the RMAT hub (a=0.57 sends most edges to vertex 0)
    python_workers = True

    def write_input(self, path: str) -> None:
        rmat_edges(self.spark, self.SCALE, self.EDGE_FACTOR, seed=self.seed).write.parquet(path)

    @property
    def block_dir(self) -> str:
        return str(self.work / "pass" / "blocks")

    def run_pass(self, p: Pass) -> dict:
        P = self.cores
        raw = self.spark.read.parquet(self.input)
        t0 = time.perf_counter()
        with p.call("graph.build", "Graph(directed=False)") as x:
            G = Graph(raw, directed=False, weighted=True)
            G.edges = _materialize(G.edges)
            V, lo, hi = G.vertex_stats()
            x["V"], x["E"] = V, G.edges.count()
        ingest_s = time.perf_counter() - t0
        n_edges = x["E"]
        # packed from G.edges (deduplicated), never from the raw frame
        with p.call("plans.csr_blocks", "pack_edges"):
            manifest = pack_edges(G.edges, self.block_dir, P, weight="weight",
                                  id_bounds=(lo, hi))
        ss: list[float] = []
        with p.call("operators.pagerank", "pagerank(mode=csr)") as x:
            pr = _materialize(pagerank(G, alpha=ALPHA, tol=self.TOL, max_iter=300, mode="csr",
                                       block_dir=self.block_dir, num_partitions=P,
                                       superstep_seconds=ss))
        total_s = time.perf_counter() - t0
        x.update(supersteps=len(ss), superstep0_s=ss[0], superstep_steady_s=_steady(ss))
        p.note("plans.csr_blocks", block_mb=dir_mb(self.block_dir))
        self.outputs = dict(raw=raw, G=G, manifest=manifest, meta=read_meta(self.block_dir),
                            pr=pr)
        return _pass_numbers(p, n_edges * len(ss), ingest_s, total_s)

    def tour(self, p: Pass) -> dict:
        P, G, V = self.cores, self.outputs["G"], p.calls[0]["extras"]["V"]
        t0 = time.perf_counter()
        sm: list[dict] = []
        ws: list[float] = []
        with p.call("operators.wcc", "weakly_connected_components(mode=csr)") as x:
            cc = _materialize(weakly_connected_components(
                G, mode="csr", block_dir=self.block_dir, num_partitions=P,
                superstep_seconds=ws, superstep_metrics=sm))
        x.update(supersteps=len(ws), superstep0_s=ws[0], superstep_steady_s=_steady(ws),
                 changed_frac=_changed_frac(sm, V))
        with p.call("operators.traversal", "bfs(mode=csr)") as x:
            bf = _materialize(bfs(G, self.BFS_SOURCE, mode="csr", block_dir=self.block_dir,
                                  num_partitions=P))
        tour_s = time.perf_counter() - t0
        x["levels"] = bf.agg(F.max("distance")).first()[0]
        self.outputs.update(cc=cc, bf=bf)
        return {"tour_s": tour_s}

    def check(self, p: Pass) -> None:
        o = self.outputs
        ge = _pdf(o["G"].edges, "src", "dst", "weight")
        raw = _pdf(o["raw"], "src", "dst", "weight")
        s, d = ge.src.to_numpy(), ge.dst.to_numpy()
        p.check(oracles.check_edges(
            ge, _symmetrized(raw.groupby(["src", "dst"], as_index=False)["weight"].min()),
            "symmetrize"))
        packed = sum(o["manifest"].values())
        p.check(None if packed == len(ge) and o["meta"]["weighted"]
                else f"pack_edges: {packed} edges packed, graph has {len(ge)}")
        p.check(oracles.check_pagerank(_pdf(o["pr"], "vertex", "pagerank"),
                                       oracles.pagerank(s, d, ge.weight.to_numpy())))
        if "cc" not in o:
            return
        p.check(oracles.check_exact(_pdf(o["cc"], "vertex", "labels"), "labels",
                                    oracles.wcc(s, d), "wcc"))
        p.check(oracles.check_bfs(_pdf(o["bf"], "vertex", "distance", "predecessor"),
                                  oracles.bfs(s, d, self.BFS_SOURCE)))


WORKLOADS = {w.name: w for w in (CodeGraph, RmatStored)}
