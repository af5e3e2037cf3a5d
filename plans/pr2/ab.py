"""Interleaved A/B of two checkouts on one perfbench workload.

    python plans/pr2/ab.py A_DIR B_DIR --workload bam_read --seeds 201-210 [--trace 1]

Each seed runs ``perfbench/run.py`` once in each checkout, alternating
which goes first, so host drift hits both sides alike. Prints one JSON
line per run (side, seed, wall, metrics) and, at the end, per metric the
medians, the A quartile spread and how many pairs B won.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def run_once(repo: str, workload: str, seed: int, trace: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "3", "--trace", str(trace)],
        cwd=repo, capture_output=True, text=True,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    res = json.loads(lines[-1]) if lines else {"error": out.stderr[-2000:]}
    res["run_wall_s"] = round(time.time() - t0, 1)
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))

    pairs = []
    for k, seed in enumerate(range(lo, hi + 1)):
        order = [("A", args.a), ("B", args.b)] if k % 2 == 0 else [("B", args.b), ("A", args.a)]
        pair = {}
        for side, repo in order:
            res = run_once(repo, args.workload, seed, args.trace)
            print(json.dumps({"side": side, "seed": seed, **res}), flush=True)
            pair[side] = {m: v["value"] for m, v in res.get("metrics", {}).items()}
        pairs.append(pair)

    with open(f"{args.a}/BENCHMARK.json") as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    for m in sorted(pairs[0]["A"]):
        a = [p["A"][m] for p in pairs if m in p.get("A", {})]
        b = [p["B"][m] for p in pairs if m in p.get("B", {})]
        if len(a) < 2 or len(b) < 2:
            continue
        q = statistics.quantiles(a, n=4)
        lower = better[m] == "lower"
        wins = sum((pb < pa) if lower else (pb > pa)
                   for pa, pb in ((p["A"][m], p["B"][m]) for p in pairs))
        print(json.dumps({"metric": m, "A_median": statistics.median(a),
                          "B_median": statistics.median(b), "A_iqr": q[2] - q[0],
                          "B_wins": f"{wins}/{len(pairs)}"}), flush=True)


if __name__ == "__main__":
    main()
