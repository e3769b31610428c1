"""Reference answers the benchmark checks the engine's outputs against.

Each oracle is computed once per input, outside the timed part, from
edges collected to the driver: numpy power iteration for PageRank,
numpy min-label union-find for WCC, numpy level-synchronous BFS, a
numpy synchronous label propagation with the engine's tie-break, and
DuckDB for triangles. Every check returns ``None`` on success or a
one-line reason on failure.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd

PR_ATOL = 1e-6
PR_SUM_TOL = 1e-9


def _index(src: np.ndarray, dst: np.ndarray):
    """Dense indices over the sorted vertex ids (index order = id order,
    so a min over indices is a min over ids)."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return verts, inv[: len(src)], inv[len(src):]


def pagerank(src, dst, w, alpha: float = 0.85) -> pd.Series:
    """Fixed point of the engine's update (dangling mass spread
    uniformly), iterated to an L1 change below 1e-13."""
    verts, s, d = _index(src, dst)
    n = len(verts)
    ows = np.bincount(s, weights=w, minlength=n)
    dangling = ows == 0
    scale = np.where(dangling, 0.0, 1.0 / np.where(dangling, 1.0, ows))
    r = np.full(n, 1.0 / n)
    for _ in range(10_000):
        new = alpha * np.bincount(d, weights=(r * scale)[s] * w, minlength=n)
        new += (alpha * r[dangling].sum() + 1.0 - alpha) / n
        done = np.abs(new - r).sum() < 1e-13
        r = new
        if done:
            break
    return pd.Series(r, index=verts)


def wcc(src, dst) -> pd.Series:
    """Min vertex id of each weakly connected component."""
    verts, s, d = _index(src, dst)
    lab = np.arange(len(verts))
    while True:
        m = np.minimum(lab[s], lab[d])
        new = lab.copy()
        np.minimum.at(new, s, m)
        np.minimum.at(new, d, m)
        new = new[new]
        if np.array_equal(new, lab):
            return pd.Series(verts[lab], index=verts)
        lab = new


def label_propagation(src, dst, w, max_iter: int = 20) -> pd.Series:
    """Synchronous LPA: each vertex takes the label of largest incident
    weight, ties to the smallest label, for ``max_iter`` supersteps or
    until nothing changes. The engine's cycle stop returns exactly the
    labels of the full run, so this is its reference."""
    verts, s, d = _index(src, dst)
    n = len(verts)
    lab = np.arange(n)
    for _ in range(max_iter):
        key, inv = np.unique(d.astype(np.int64) * n + lab[s], return_inverse=True)
        score = np.bincount(inv, weights=w)
        kd, kc = key // n, key % n
        order = np.lexsort((kc, -score, kd))
        first = order[np.r_[True, kd[order][1:] != kd[order][:-1]]]
        new = lab.copy()
        new[kd[first]] = kc[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return pd.Series(verts[lab], index=verts)


def bfs(src, dst, source) -> pd.DataFrame:
    """Distance and min-id predecessor at the level of first reach;
    unreachable vertices get -1 for both."""
    verts, s, d = _index(src, dst)
    n = len(verts)
    dist = np.full(n, -1, dtype=np.int64)
    start = np.searchsorted(verts, source)
    if start < n and verts[start] == source:
        dist[start] = 0
        level = 0
        while True:
            hit = (dist[s] == level) & (dist[d] == -1)
            if not hit.any():
                break
            level += 1
            dist[np.unique(d[hit])] = level
    pred = np.full(n, np.iinfo(np.int64).max)
    tree = (dist[s] >= 0) & (dist[d] == dist[s] + 1)
    np.minimum.at(pred, d[tree], verts[s[tree]])
    pred[dist <= 0] = -1
    return pd.DataFrame({"distance": dist, "predecessor": pred}, index=verts)


def triangles(src, dst) -> tuple[int, pd.Series]:
    """(total triangles, per-vertex counts) of the undirected simple
    graph, by DuckDB."""
    pairs = pd.DataFrame({"a": np.minimum(src, dst), "b": np.maximum(src, dst)})
    pairs = pairs[pairs.a != pairs.b].drop_duplicates()
    verts = np.unique(np.concatenate([src, dst]))
    con = duckdb.connect()
    try:
        con.register("e", pairs)
        con.execute(
            "CREATE TEMP TABLE tri AS SELECT e1.a x, e1.b y, e2.b z FROM e e1 "
            "JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b "
            "JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b"
        )
        total = con.execute("SELECT count(*) FROM tri").fetchone()[0]
        per = con.execute(
            "SELECT v, count(*) c FROM (SELECT x v FROM tri UNION ALL "
            "SELECT y FROM tri UNION ALL SELECT z FROM tri) GROUP BY v"
        ).df()
    finally:
        con.close()
    counts = pd.Series(0, index=verts, dtype=np.int64)
    counts.loc[per["v"].to_numpy()] = per["c"].to_numpy()
    return int(total), counts


IMPORT_RE = re.compile(r"import (repo\d+:[\w/.]+)")


def import_edges(files: pd.DataFrame) -> pd.DataFrame:
    """(src, dst, weight) import edges of a code-repo table, by Python
    regex: self-imports dropped, unknown targets dropped, weight = the
    number of times the target is imported."""
    ids = files["repo"] + ":" + files["path"]
    known = set(ids)
    rows = {}
    for sid, content in zip(ids, files["content"]):
        for tgt in IMPORT_RE.findall(content):
            if tgt != sid and tgt in known:
                rows[(sid, tgt)] = rows.get((sid, tgt), 0) + 1
    return pd.DataFrame(
        [(s, t, float(c)) for (s, t), c in rows.items()],
        columns=["src", "dst", "weight"],
    )


# ---------------------------------------------------------------- checks


def _aligned(got: pd.Series, want: pd.Series, what: str):
    if len(got) != len(want) or not got.index.equals(want.index):
        return None, f"{what}: vertex set differs ({len(got)} vs {len(want)})"
    return got, None


def check_pagerank(got: pd.DataFrame, want: pd.Series) -> str | None:
    g, err = _aligned(got.set_index("vertex")["pagerank"].sort_index(), want, "pagerank")
    if err:
        return err
    total = float(g.sum())
    if abs(total - 1.0) > PR_SUM_TOL:
        return f"pagerank: ranks sum to {total!r}"
    worst = float(np.abs(g.to_numpy() - want.to_numpy()).max())
    if worst > PR_ATOL:
        return f"pagerank: max abs error {worst:.3g} > {PR_ATOL}"
    return None


def check_exact(got: pd.DataFrame, col: str, want: pd.Series, what: str) -> str | None:
    g, err = _aligned(got.set_index("vertex")[col].sort_index(), want, what)
    if err:
        return err
    bad = int((g.to_numpy() != want.to_numpy()).sum())
    return f"{what}: {bad} vertices differ" if bad else None


def check_bfs(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    g = got.set_index("vertex").sort_index()
    if not g.index.equals(want.index):
        return "bfs: vertex set differs"
    for col in ("distance", "predecessor"):
        bad = int((g[col].to_numpy() != want[col].to_numpy()).sum())
        if bad:
            return f"bfs: {bad} vertices differ in {col}"
    return None


def check_edges(got: pd.DataFrame, want: pd.DataFrame, what: str) -> str | None:
    """Exact equality of two (src, dst, weight) edge sets."""
    cols = ["src", "dst", "weight"]
    a = got[cols].sort_values(cols[:2]).reset_index(drop=True)
    b = want[cols].sort_values(cols[:2]).reset_index(drop=True)
    if len(a) != len(b):
        return f"{what}: {len(a)} edges, expected {len(b)}"
    if not a.equals(b.astype(a.dtypes.to_dict())):
        return f"{what}: edge sets differ"
    return None
