"""Data-scale growth evidence: same job, same parallelism, doubling
input sizes.

Complements `bench_scaling.py` (N vs 4N cores at fixed input): here the
cores stay fixed and the RMAT input doubles per step, so a flat
edges/sec/superstep column is direct evidence the superstep plan has no
super-linear term (no all-pairs blowup, no driver-side collect that
grows with E, no per-round planning cost growth) — i.e. the property
that lets the same plan survive a 100× scale-up onto a real cluster.

Usage: python tools/bench_datascale.py [cores] [scales...] [--iters K]
       (defaults: cores=32, scales=22 23 24 25)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from bench_scaling import ROOT, pagerank_worker  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    iters = 10
    if "--iters" in argv:
        i = argv.index("--iters")
        if i + 1 >= len(argv):
            raise SystemExit("--iters needs a value")
        iters = int(argv[i + 1])
        # remove exactly the flag and its value BY POSITION — filtering
        # by string equality would also strip a cores/scale arg that
        # happens to equal the iters value
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if not a.startswith("--")]
    cores = int(args[0]) if args else 32
    scales = [int(s) for s in args[1:]] or [22, 23, 24, 25]

    rows = []
    for scale in scales:
        r = pagerank_worker(cores, scale, 16, iters)
        rows.append(
            {
                "scale": scale,
                "plan": r["plan"],
                "n_edges": r["n_edges"],
                "steady_median_sec": round(r["steady_median_sec"], 2),
                "edges_per_sec_per_superstep": round(
                    r["edges_per_sec_per_superstep"], 0
                ),
                "supersteps": [round(t, 2) for t in r["supersteps"]],
            }
        )
        print(json.dumps(rows[-1]))

    base = rows[0]["edges_per_sec_per_superstep"]
    report = {
        "cores": cores,
        "rows": rows,
        "throughput_vs_smallest": [
            round(r["edges_per_sec_per_superstep"] / base, 3) for r in rows
        ],
    }
    out = ROOT / "BENCH" / f"datascale_{cores}c.json"
    out.write_text(json.dumps(report, indent=2))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
