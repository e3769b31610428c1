"""Smoke test of the A/B harness (``tools/ab.py``): two arm sets on a
tiny RMAT graph, run in the test session."""

from __future__ import annotations

import importlib.util
from pathlib import Path


def _ab():
    path = Path(__file__).resolve().parents[1] / "tools" / "ab.py"
    spec = importlib.util.spec_from_file_location("ab_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _modes(rec):
    return [m["mode"] for m in rec["metrics"][0]]


def test_ab_harness_wcc_arms(spark, tmp_path):
    """Each arm reaches the plan it forces (the superstep mode tags)
    and all arms give the same labels; the first arm's untimed warm-up
    call is recorded, and the timed reps run round-robin over the arms,
    the order reversed every round."""
    ab = _ab()
    by_layout = ab.run(spark, "wcc", 8, ["dataframe", "csr"], reps=1, block_root=str(tmp_path))
    by_frontier = ab.run(spark, "wcc", 8, ["dense", "frontier"], reps=2, block_root=str(tmp_path))
    for out, arms, reps in ((by_layout, ("dataframe", "csr"), 1),
                            (by_frontier, ("dense", "frontier"), 2)):
        a, b = (out[arm] for arm in arms)
        assert a["signature"] == b["signature"] and a["signature"][0] == out["V"]
        for rec in (a, b):
            assert len(rec["walls"]) == len(rec["cpu_s"]) == reps
    assert (by_layout["warmup"], by_frontier["warmup"]) == ("dataframe", "dense")
    assert by_layout["order"] == ["dataframe", "csr"]
    assert by_frontier["order"] == ["dense", "frontier", "frontier", "dense"]
    assert set(_modes(by_layout["csr"])) == {"csr"}
    assert "csr" not in _modes(by_layout["dataframe"])
    assert set(_modes(by_frontier["dense"])) == {"dense"}
    fr = _modes(by_frontier["frontier"])
    assert fr[0] == "dense" and set(fr[1:]) == {"frontier"}
