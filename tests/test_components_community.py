"""WCC / label propagation / triangle count vs the numpy golden oracles
(reference validation contracts: SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest

from cugraph_spark import (
    Graph,
    label_propagation,
    triangle_count,
    edge_triangle_count,
    weakly_connected_components,
)
from .conftest import edges_df, make_edges, sym_tuples
from .oracles import lpa_ref, triangle_ref, wcc_ref


def _as_map(rows, k="vertex", v="labels"):
    return {r[k]: r[v] for r in rows}


@pytest.mark.parametrize("kind", ["tiny_social", "disjoint", "line", "hub"])
def test_wcc_matches_oracle(spark, kind):
    edges = make_edges(kind)
    G = Graph(edges_df(spark, edges), directed=False)
    got = _as_map(weakly_connected_components(G).collect())
    ref = wcc_ref(edges)
    present = sorted(got)
    assert got == {v: int(ref[v]) for v in present}


def test_wcc_requires_undirected(spark):
    G = Graph(edges_df(spark, make_edges("tiny_social")), directed=True)
    with pytest.raises(ValueError):
        weakly_connected_components(G)


def test_wcc_self_loops_ok(spark):
    edges = make_edges("self_loops")
    G = Graph(edges_df(spark, edges), directed=False)
    got = _as_map(weakly_connected_components(G).collect())
    ref = wcc_ref(edges)
    assert got == {v: int(ref[v]) for v in sorted(got)}


def test_wcc_min_iter_identical(spark):
    """min_iter forces extra supersteps past the fixpoint (the scaling
    bench's steady-state sampling mode); labels must be unchanged and
    the superstep walls must show the forced rounds actually ran."""
    for kind in ("tiny_social", "disjoint", "hub"):
        edges = make_edges(kind)
        G = Graph(edges_df(spark, edges), directed=False)
        a = _as_map(weakly_connected_components(G).collect())
        walls: list[float] = []
        b = _as_map(
            weakly_connected_components(
                G, min_iter=6, superstep_seconds=walls
            ).collect()
        )
        assert a == b, kind
        assert len(walls) == 6, kind


@pytest.mark.parametrize("kind", ["tiny_social", "disjoint", "line", "hub"])
def test_wcc_frontier_mode_identical(spark, kind):
    """Frontier/delta supersteps (announce-only-changed + partial
    pointer jump) must produce the exact dense-mode labels — forced on
    from superstep 1 (huge threshold), at the auto threshold, and
    forced off."""
    edges = make_edges(kind)
    G = Graph(edges_df(spark, edges), directed=False)
    dense = _as_map(
        weakly_connected_components(G, frontier_threshold=0).collect()
    )
    auto = _as_map(weakly_connected_components(G).collect())
    forced = _as_map(
        weakly_connected_components(G, frontier_threshold=10**9).collect()
    )
    assert dense == auto == forced
    ref = wcc_ref(edges)
    assert dense == {v: int(ref[v]) for v in sorted(dense)}


def test_wcc_frontier_long_path_converges(spark):
    """A diameter-heavy path under forced-frontier mode: the partial
    jump only accelerates changed rows, so this exercises many frontier
    supersteps; labels must still reach the exact fixpoint."""
    p = [(i, i + 1, 1.0) for i in range(300)]
    edges = p + [(b, a, w) for a, b, w in p]
    G = Graph(edges_df(spark, edges), directed=False)
    got = _as_map(
        weakly_connected_components(G, frontier_threshold=10**9).collect()
    )
    assert got == {v: 0 for v in range(301)}


@pytest.mark.parametrize("kind", ["tiny_social", "disjoint", "hub"])
def test_lpa_frontier_mode_identical(spark, kind):
    """Affected-set frontier supersteps recompute the argmax exactly
    for vertices with a changed neighbor — labels must equal the dense
    synchronous update iteration-for-iteration (checked at convergence
    AND at a truncated budget, where any per-iteration divergence
    would surface)."""
    edges = make_edges(kind)
    G = Graph(edges_df(spark, edges), directed=False)
    for kw in ({"max_iter": 20}, {"max_iter": 3}):
        dense = _as_map(
            label_propagation(G, frontier_threshold=0, **kw).collect()
        )
        forced = _as_map(
            label_propagation(G, frontier_threshold=10**9, **kw).collect()
        )
        auto = _as_map(label_propagation(G, **kw).collect())
        assert dense == forced == auto, (kind, kw)


def test_wcc_superstep_metrics_contract(spark):
    """superstep_metrics emits one dict per checking action with the
    measured shuffle deltas, changed-count, wall, and mode — and
    frontier mode actually engages when forced."""
    edges = make_edges("tiny_social")
    G = Graph(edges_df(spark, edges), directed=False)
    m: list = []
    weakly_connected_components(
        G, frontier_threshold=10**9, superstep_metrics=m
    ).count()
    assert m, "no metrics emitted"
    for entry in m:
        assert set(entry) >= {
            "iteration", "mode", "changed", "seconds",
            "shuffle_read", "shuffle_write",
        }
        assert entry["mode"] in ("dense", "frontier")
        assert entry["seconds"] >= 0
    assert m[0]["mode"] == "dense"  # superstep 0 has no measured delta
    assert any(e["mode"] == "frontier" for e in m[1:])
    assert m[-1]["changed"] == 0


def test_tc_packed_closing_leg_identical(spark, monkeypatch):
    """Force the mid-size closing-leg paths (packed-long broadcast and
    packed-long shuffle join) on small graphs; counts must match the
    default both-legs-broadcast path. Also pin the non-compacted
    (long-id) fallback, where packing must NOT be used."""
    import sys

    import cugraph_spark.operators.triangle_count  # noqa: F401

    tc_mod = sys.modules["cugraph_spark.operators.triangle_count"]

    def _counts(G):
        return {r["vertex"]: r["counts"] for r in triangle_count(G).collect()}

    for kind in ("tiny_social", "hub", "self_loops"):
        edges = make_edges(kind)
        G = Graph(edges_df(spark, edges), directed=False)
        base = _counts(G)
        monkeypatch.setattr(tc_mod, "_BROADCAST_EDGE_LIMIT", 0)
        got_bcast = _counts(G)  # packed long key, broadcast closing leg
        monkeypatch.setattr(tc_mod, "_BROADCAST_CLOSING_LEG_LIMIT", 0)
        got_shuffle = _counts(G)  # packed long key, shuffled closing join
        monkeypatch.undo()
        assert got_bcast == base, kind
        assert got_shuffle == base, kind

    # long ids beyond int32: packing would collide, so the two-column
    # closing join must be used — a triangle on huge ids stays exact
    big = 1 << 33
    tri_edges = [(big + 1, big + 2), (big + 2, big + 3), (big + 1, big + 3)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in tri_edges], "src long, dst long, weight double"
    )
    G = Graph(df, directed=False)
    base = _counts(G)
    assert base == {big + 1: 1, big + 2: 1, big + 3: 1}
    monkeypatch.setattr(tc_mod, "_BROADCAST_EDGE_LIMIT", 0)
    assert _counts(G) == base
    monkeypatch.undo()


def test_wcc_dst_partitioned_broadcast_mode_identical(spark, monkeypatch):
    """The broadcast-mode dst-partitioned layout (taken when
    _DST_PARTITION_MIN_V ≤ V ≤ broadcast_limit) must produce labels
    identical to the default path — exercised here by dropping the
    threshold so the sf-test-size graphs take the big-V branch, at two
    partition counts (partitioning invariance)."""
    from cugraph_spark.operators import wcc as wcc_mod

    for kind in ("tiny_social", "disjoint", "hub", "self_loops"):
        edges = make_edges(kind)
        G = Graph(edges_df(spark, edges), directed=False)
        base = _as_map(weakly_connected_components(G).collect())
        monkeypatch.setattr(wcc_mod, "_DST_PARTITION_MIN_V", 1)
        got8 = _as_map(
            weakly_connected_components(G, num_partitions=8).collect()
        )
        got3 = _as_map(
            weakly_connected_components(G, num_partitions=3).collect()
        )
        monkeypatch.undo()
        assert got8 == base, kind
        assert got3 == base, kind


def test_wcc_shuffle_mode_forced_identical(spark):
    """broadcast_limit=0 forces the shuffle-hash path on graphs that
    would otherwise broadcast; labels must match."""
    for kind in ("tiny_social", "hub"):
        edges = make_edges(kind)
        G = Graph(edges_df(spark, edges), directed=False)
        base = _as_map(weakly_connected_components(G).collect())
        forced = _as_map(
            weakly_connected_components(G, broadcast_limit=0).collect()
        )
        assert forced == base, kind


def test_lpa_dst_partitioned_broadcast_mode_identical(spark, monkeypatch):
    """Same layout-invariance contract as WCC's: dropping the dst-
    partition threshold so small graphs take the big-V broadcast branch
    must not change labels, at two partition counts; forcing the
    shuffle path (broadcast_limit=0) must not either."""
    import sys

    import cugraph_spark.operators.label_propagation  # noqa: F401

    # the operators package re-exports the function under the module's
    # own name, so attribute-style imports resolve to the function —
    # grab the real module from sys.modules
    lpa_mod = sys.modules["cugraph_spark.operators.label_propagation"]

    for kind in ("tiny_social", "weighted", "hub"):
        edges = make_edges(kind)
        G = Graph(edges_df(spark, edges), directed=False)
        base = _as_map(label_propagation(G, max_iter=20).collect())
        monkeypatch.setattr(lpa_mod, "DST_PARTITION_MIN_V", 1)
        got8 = _as_map(
            label_propagation(G, max_iter=20, num_partitions=8).collect()
        )
        got3 = _as_map(
            label_propagation(G, max_iter=20, num_partitions=3).collect()
        )
        monkeypatch.undo()
        forced = _as_map(
            label_propagation(G, max_iter=20, broadcast_limit=0).collect()
        )
        assert got8 == base, kind
        assert got3 == base, kind
        assert forced == base, kind


@pytest.mark.parametrize("kind", ["tiny_social", "weighted", "disjoint"])
def test_lpa_matches_oracle(spark, kind):
    edges = make_edges(kind)
    G = Graph(edges_df(spark, edges), directed=False)
    got = _as_map(label_propagation(G, max_iter=20).collect())
    ref, _ = lpa_ref(sym_tuples(edges))
    assert got == {v: int(ref[v]) for v in sorted(got)}


def test_wcc_check_every_identical(spark):
    """Batched WCC convergence checks must not change labels: a stable
    labeling is a fixpoint of hash-min + pointer-jump, so overshooting
    convergence inside a lazy chain is a no-op."""
    for kind in ("tiny_social", "disjoint", "line", "hub"):
        edges = make_edges(kind)
        G = Graph(edges_df(spark, edges), directed=False)
        a = _as_map(weakly_connected_components(G).collect())
        b = _as_map(weakly_connected_components(G, check_every=3).collect())
        assert a == b, kind


def test_lpa_check_every_identical(spark):
    """Batched convergence checks must not change labels: a stable
    labeling is a fixpoint of the synchronous update, so overshooting
    convergence inside a chain is a no-op."""
    for kind in ("tiny_social", "weighted", "disjoint"):
        edges = make_edges(kind)
        G = Graph(edges_df(spark, edges), directed=False)
        a = _as_map(label_propagation(G, max_iter=20).collect())
        b = _as_map(label_propagation(G, max_iter=20, check_every=4).collect())
        assert a == b, kind


@pytest.mark.parametrize("kind", ["triangle_mesh", "tiny_social", "hub", "disjoint"])
def test_triangle_count_matches_oracle(spark, kind):
    edges = make_edges(kind)
    G = Graph(edges_df(spark, edges), directed=False)
    got = {r["vertex"]: r["counts"] for r in triangle_count(G).collect()}
    ref = triangle_ref(edges)
    assert got == {v: int(ref[v]) for v in sorted(got)}


def test_triangle_count_start_list(spark):
    edges = make_edges("triangle_mesh")
    G = Graph(edges_df(spark, edges), directed=False)
    sl = spark.createDataFrame([(0,), (4,)], "vertex long")
    got = {r["vertex"]: r["counts"] for r in triangle_count(G, start_list=sl).collect()}
    ref = triangle_ref(edges)
    assert got == {0: int(ref[0]), 4: int(ref[4])}


def test_edge_triangle_count_k4(spark):
    # K4: every edge has exactly 2 common neighbors
    edges = [(a, b, 1.0) for a in range(4) for b in range(a + 1, 4)]
    G = Graph(edges_df(spark, edges), directed=False)
    got = {(r["src"], r["dst"]): r["counts"] for r in edge_triangle_count(G).collect()}
    assert got == {(a, b): 2 for a in range(4) for b in range(a + 1, 4)}


def test_total_triangles_is_sum_over_three(spark):
    edges = make_edges("tiny_social")
    G = Graph(edges_df(spark, edges), directed=False)
    counts = np.array([r["counts"] for r in triangle_count(G).collect()])
    assert counts.sum() % 3 == 0


def test_wcc_large_ids_use_long_path(spark):
    """Vertex ids beyond int32 range must skip the narrow-id compaction
    and still produce correct min-id labels (the compact branch is
    bounds-checked, simpleGraph.py:253-258 analog)."""
    big = 5_000_000_000  # > 2^31 - 1
    rows = [(big, big + 1, 1.0), (big + 1, big + 2, 1.0), (7, 8, 1.0)]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    G = Graph(df, directed=False)
    got = _as_map(weakly_connected_components(G).collect())
    assert got[big] == big and got[big + 1] == big and got[big + 2] == big
    assert got[7] == 7 and got[8] == 7
    # output schema stays long either way
    out = weakly_connected_components(G)
    assert dict(out.dtypes) == {"vertex": "bigint", "labels": "bigint"}


# ---------------------------------------------------------------- round 5


@pytest.mark.parametrize("kind", ["tiny_social", "disjoint", "line", "hub"])
def test_wcc_csr_mode_identical(spark, kind, tmp_path):
    """mode='csr' (packed mmap blocks, np.minimum.at supersteps) must
    produce the exact dataframe-mode labels — at the auto frontier
    threshold, forced-frontier from superstep 1, and forced-dense; on
    the dense-id blocks the operator packs itself AND on dictionary
    blocks (packed externally without id_bounds, reused via
    block_dir)."""
    from cugraph_spark.plans.csr_blocks import pack_edges

    edges = make_edges(kind)
    G = Graph(edges_df(spark, edges), directed=False)
    base = _as_map(weakly_connected_components(G).collect())
    dict_dir = str(tmp_path / "dict_blocks")
    pack_edges(G.edges, dict_dir, 8)
    for kw in (
        {},
        {"frontier_threshold": 10**9},
        {"frontier_threshold": 0},
        {"block_dir": dict_dir, "num_partitions": 8},
        {"block_dir": dict_dir, "num_partitions": 8, "frontier_threshold": 10**9},
    ):
        got = _as_map(
            weakly_connected_components(G, mode="csr", **kw).collect()
        )
        assert got == base, (kind, kw)
    ref = wcc_ref(edges)
    assert base == {v: int(ref[v]) for v in sorted(base)}


def test_wcc_csr_frontier_engages_and_long_path(spark):
    """csr frontier supersteps (indptr-sliced, frontier-sized lookups)
    must engage when forced and still reach the exact fixpoint on a
    diameter-heavy path — the case the O(E) probe floor used to pay
    per superstep."""
    p = [(i, i + 1, 1.0) for i in range(300)]
    edges = p + [(b, a, w) for a, b, w in p]
    G = Graph(edges_df(spark, edges), directed=False)
    m: list = []
    got = _as_map(
        weakly_connected_components(
            G, mode="csr", frontier_threshold=10**9, superstep_metrics=m
        ).collect()
    )
    assert got == {v: 0 for v in range(301)}
    assert m[0]["mode"] == "csr-dense"
    assert any(
        e["mode"] == "csr-frontier" and e["changed"] > 0 for e in m[1:]
    )


def test_csr_block_manifest_and_missing_block_raises(spark, tmp_path):
    """pack_edges returns a manifest of packed pids and validated
    metadata; a manifest-listed block whose file is missing RAISES at
    read time instead of silently contributing zeros (torn-deployment
    guard); a stale state slice that does not cover the block's srcs
    raises; and a block_dir packed with a different P is rejected."""
    import numpy as np

    from cugraph_spark.plans.csr_blocks import (
        load_block,
        pack_edges,
        read_meta,
        scatter_state_for_srcs,
        state_values_for_srcs,
    )

    df = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)],
        "src long, dst long, weight double",
    )
    # dict format (no id_bounds)
    bdir = str(tmp_path / "blocks_dict")
    manifest = pack_edges(df, bdir, 4, weight="weight")
    assert sum(manifest.values()) == 3
    meta = read_meta(bdir, expect_P=4)
    assert meta["ids"] == "dict"
    with pytest.raises(RuntimeError, match="P=4"):
        read_meta(bdir, expect_P=8)
    pid = next(iter(manifest))
    blk = load_block(bdir, pid, meta)
    assert len(blk["dc"]) == int(blk["indptr"][-1]) == len(blk["w"])
    # dense format (id bounds provided and small)
    bd2 = str(tmp_path / "blocks_dense")
    man2 = pack_edges(df, bd2, 4, weight="weight", id_bounds=(1, 3))
    meta2 = read_meta(bd2, expect_P=4)
    assert meta2["ids"] == "dense" and meta2["hi1"] == 4
    pid2 = next(iter(man2))
    blk2 = load_block(bd2, pid2, meta2)
    assert len(blk2["dr"]) == int(blk2["indptr"][-1])
    assert (meta2["n_edges"], meta2["lo"], meta2["hi"]) == (3, 1, 3)
    # torn state: slice missing one of the block's srcs (both mappers)
    su = np.asarray(blk["su"])
    with pytest.raises(RuntimeError, match="does not match"):
        state_values_for_srcs(su[:0], np.zeros(0), su)
    with pytest.raises(RuntimeError, match="does not match"):
        scatter_state_for_srcs(
            np.asarray([], dtype=np.int64),
            np.asarray([], dtype=np.int64),
            np.asarray(blk2["su"]),
            meta2["hi1"],
        )
    # torn deployment: manifest-listed file gone
    import os

    os.remove(os.path.join(bdir, f"{pid}.su.npy"))
    with pytest.raises(RuntimeError, match="missing"):
        load_block(bdir, pid, meta)
    # torn pack: a truncated block file raises the same error
    path = os.path.join(bd2, f"{pid2}.dr.npy")
    os.truncate(path, os.path.getsize(path) - 1)
    with pytest.raises(RuntimeError, match="missing or unreadable"):
        load_block(bd2, pid2, meta2)


def test_lpa_cycle_stop_parity_exact(spark):
    """A 4-cycle oscillates forever under the synchronous min-tie rule;
    detect_cycle must stop early AND return bit-identical labels to the
    full fixed-iteration run for every max_iter parity."""
    sq = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 0, 1.0)]
    edges = sq + [(b, a, w) for a, b, w in sq]
    G = Graph(edges_df(spark, edges), directed=False)
    for mi in (3, 4, 5, 6, 7, 8):
        full = _as_map(
            label_propagation(G, max_iter=mi, detect_cycle=False).collect()
        )
        fast = _as_map(
            label_propagation(G, max_iter=mi, detect_cycle=True).collect()
        )
        assert fast == full, mi
    m: list = []
    label_propagation(G, max_iter=12, superstep_metrics=m).count()
    assert any(e.get("cycle_detected") for e in m)
    assert len(m) < 12  # stopped early


def test_lpa_hold_tie_damps_oscillation(spark):
    """tie_break='hold' (keep the current label when it ties the max
    weight) converges on a fixture where the min-tie rule 2-cycles;
    the default path's labels are unchanged by the flag's existence."""
    e5 = [(0, 3, 1.0), (1, 2, 1.0), (1, 3, 1.0), (1, 4, 1.0), (2, 3, 1.0)]
    edges = e5 + [(b, a, w) for a, b, w in e5]
    G = Graph(edges_df(spark, edges), directed=False)
    m_min: list = []
    label_propagation(G, max_iter=12, superstep_metrics=m_min).count()
    assert any(e.get("cycle_detected") for e in m_min)  # min rule cycles
    m_hold: list = []
    hold = _as_map(
        label_propagation(
            G, max_iter=12, tie_break="hold", superstep_metrics=m_hold
        ).collect()
    )
    assert m_hold[-1]["changed"] == 0  # genuinely converged
    assert hold == {v: 1 for v in range(5)}  # brute-force oracle
    with pytest.raises(ValueError):
        label_propagation(G, tie_break="nope")


def test_lpa_frontier_engages_with_changed_rows(spark, monkeypatch):
    """The affected-set frontier path must actually ENGAGE (mode ==
    'frontier' with changed > 0) under a forced threshold — not only at
    the final changed==0 superstep (ADVICE r4: the equality check was
    near-vacuous without this)."""
    import importlib

    # the operators package re-exports the function under the module's
    # name, so attribute-style import resolves to the function
    lp_mod = importlib.import_module(
        "cugraph_spark.operators.label_propagation"
    )
    monkeypatch.setattr(lp_mod, "_FRONTIER_CAND_FRAC_DEN", 1)
    edges = make_edges("hub")
    G = Graph(edges_df(spark, edges), directed=False)
    dense = _as_map(
        label_propagation(G, frontier_threshold=0, max_iter=20).collect()
    )
    m: list = []
    forced = _as_map(
        label_propagation(
            G,
            frontier_threshold=10**9,
            max_iter=20,
            superstep_metrics=m,
        ).collect()
    )
    assert forced == dense
    assert any(
        e["mode"] == "frontier" and e["changed"] > 0 for e in m
    ), [(e["mode"], e["changed"]) for e in m]


def test_wcc_csr_pre_partitioned_zero_shuffle_pack(spark):
    """On a loop-prepped cache (hash-partitioned P-ways on src, declared
    pre_partitioned) csr WCC labels must equal dataframe mode."""
    edges = make_edges("tiny_social")
    sym = edges + [(b, a, w) for a, b, w in edges]
    df = (
        spark.createDataFrame(sym, "src long, dst long, weight double")
        .repartition(4, "src")
        .persist()
    )
    df.count()
    G = Graph(
        df, directed=False, assume_symmetric=True, pre_partitioned=True
    )
    base = _as_map(
        weakly_connected_components(G, num_partitions=4).collect()
    )
    got = _as_map(
        weakly_connected_components(G, num_partitions=4, mode="csr").collect()
    )
    assert got == base
    df.unpersist()


def test_tc_start_list_hub_and_broadcast_gate(spark, monkeypatch):
    """start_list masking levers: a hub start whose N[S] covers > half
    the vertex set must SKIP the mask (pure overhead) and still return
    exact per-start counts; a start set above the broadcast cutover
    must take the un-hinted semi join and stay exact."""
    import importlib

    tc_mod = importlib.import_module(
        "cugraph_spark.operators.triangle_count"
    )
    edges = make_edges("hub")
    G = Graph(edges_df(spark, edges), directed=False)
    full = {r["vertex"]: r["counts"] for r in triangle_count(G).collect()}

    hub_start = spark.createDataFrame([(0,)], "vertex long")  # the hub
    got = {
        r["vertex"]: r["counts"]
        for r in triangle_count(G, start_list=hub_start).collect()
    }
    assert got == {0: full[0]}

    # force the non-broadcast start path (ADVICE r4 gate)
    monkeypatch.setattr(tc_mod, "_START_BROADCAST_LIMIT", 0)
    sl = spark.createDataFrame([(0,), (1,), (2,)], "vertex long")
    got2 = {
        r["vertex"]: r["counts"]
        for r in triangle_count(G, start_list=sl).collect()
    }
    assert got2 == {v: full[v] for v in (0, 1, 2)}
    # force the mask OFF entirely for a non-hub start — counts unchanged
    monkeypatch.setattr(tc_mod, "_MASK_KEEP_FRAC_DEN", 10**9)
    got3 = {
        r["vertex"]: r["counts"]
        for r in triangle_count(G, start_list=sl).collect()
    }
    assert got3 == got2


def test_csr_block_reuse_across_runs_and_operators(spark, tmp_path):
    """A block_dir that already holds a pack of THIS graph is REUSED
    (pack once per stored graph): wcc, pagerank and bfs on one
    pre-packed weighted dir return the same results as the dataframe
    plans, and none of them repacks (meta.json mtime unchanged). A dir
    packed from a different graph whose ids are a subset of this
    graph's (same id bounds, fewer edges), or whose meta.json lacks the
    graph fields, is rejected instead of silently reused."""
    import json
    import os

    from pyspark.sql import functions as F

    from cugraph_spark import pagerank
    from cugraph_spark.operators.traversal import bfs
    from cugraph_spark.plans.csr_blocks import pack_edges

    edges = make_edges("tiny_social")
    sym = edges + [(b, a, w) for a, b, w in edges]
    df = spark.createDataFrame(sym, "src long, dst long, weight double")
    G = Graph(df, directed=False, assume_symmetric=True)

    def _bfs(**kw):
        rows = bfs(G, 1, num_partitions=4, **kw).collect()
        return {r["vertex"]: (r["distance"], r["predecessor"]) for r in rows}

    def _pr(**kw):
        rows = pagerank(G, tol=0.0, max_iter=5, num_partitions=4, **kw).collect()
        return {r["vertex"]: r["pagerank"] for r in rows}

    base_wcc = _as_map(weakly_connected_components(G, num_partitions=4).collect())
    base_pr = _pr()
    base_bfs = _bfs()

    bd = str(tmp_path / "shared_blocks")
    # external pack, weighted, int-compacted ids (what wcc's csr path
    # would produce itself for this graph)
    ei = df.select(
        F.col("src").cast("int").alias("src"),
        F.col("dst").cast("int").alias("dst"),
        "weight",
    )
    lo = min(min(a, b) for a, b, _ in sym)
    hi = max(max(a, b) for a, b, _ in sym)
    pack_edges(ei, bd, 4, weight="weight", id_bounds=(lo, hi),
               hash_type="int")
    meta_path = os.path.join(bd, "meta.json")
    meta_mtime = os.path.getmtime(meta_path)

    got_wcc = _as_map(
        weakly_connected_components(
            G, num_partitions=4, mode="csr", block_dir=bd
        ).collect()
    )
    assert got_wcc == base_wcc
    got_pr = _pr(mode="csr", block_dir=bd)
    assert got_pr.keys() == base_pr.keys()
    for v, r in base_pr.items():
        assert got_pr[v] == pytest.approx(r, abs=1e-12)
    assert _bfs(mode="csr", block_dir=bd) == base_bfs
    # no run re-packed, and the user-owned dir is never cleaned up
    assert os.path.getmtime(meta_path) == meta_mtime

    # wrong graph: drop one undirected edge away from the id bounds
    a, b = next((a, b) for a, b, _ in edges if {a, b}.isdisjoint({lo, hi}))
    sub = str(tmp_path / "subgraph_blocks")
    pack_edges(ei.filter(~F.col("src").isin(a, b) | ~F.col("dst").isin(a, b)),
               sub, 4, weight="weight", id_bounds=(lo, hi), hash_type="int")
    with pytest.raises(RuntimeError, match="different graph"):
        weakly_connected_components(G, num_partitions=4, mode="csr", block_dir=sub)
    # stale meta.json from before the graph fields existed
    with open(meta_path) as f:
        meta = json.load(f)
    for k in ("n_edges", "lo", "hi"):
        del meta[k]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(RuntimeError, match="stale"):
        bfs(G, 1, num_partitions=4, mode="csr", block_dir=bd)


def test_bfs_csr_mode_identical(spark, tmp_path):
    """bfs(mode='csr') — packed-block frontier gather per level — must
    equal the dataframe BFS exactly: distances, min-id predecessors,
    unreachable sentinels; directed and symmetrized graphs; dense-id
    AND dictionary blocks; num_partitions="auto" in both modes; block
    reuse across calls."""
    from cugraph_spark.operators.traversal import bfs
    from cugraph_spark.plans.csr_blocks import pack_edges

    def _m(rows):
        return {r["vertex"]: (r["distance"], r["predecessor"]) for r in rows}

    # directed with unreachable part
    ed = [(0, 1), (0, 2), (1, 3), (2, 4), (4, 5), (7, 8)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in ed], "src long, dst long, weight double"
    )
    G = Graph(df, directed=True)
    want = _m(bfs(G, 0).collect())
    assert _m(bfs(G, 0, mode="csr").collect()) == want
    # dictionary blocks (packed without id_bounds); P=1 puts the
    # frontier's edges in one block with dsts it does not reach, which
    # must never surface as reached with a sentinel predecessor
    dict_dir = str(tmp_path / "dict_blocks")
    pack_edges(G.edges, dict_dir, 1)
    got = bfs(G, 0, mode="csr", block_dir=dict_dir, num_partitions=1)
    assert _m(got.collect()) == want
    for mode in ("dataframe", "csr"):
        assert _m(bfs(G, 0, num_partitions="auto", mode=mode).collect()) == want
    # symmetrized + depth limit + block reuse
    edges = make_edges("tiny_social")
    sym = edges + [(b, a, w) for a, b, w in edges]
    G2 = Graph(
        spark.createDataFrame(sym, "src long, dst long, weight double"),
        directed=False,
    )
    import tempfile

    with tempfile.TemporaryDirectory() as bd:
        a = _m(bfs(G2, 1, max_depth=2).collect())
        b = _m(bfs(G2, 1, max_depth=2, mode="csr", block_dir=bd).collect())
        c = _m(bfs(G2, 1, max_depth=2, mode="csr", block_dir=bd).collect())
        assert a == b == c  # second csr call reuses the blocks
    with pytest.raises(ValueError):
        bfs(G2, 1, mode="nope")
