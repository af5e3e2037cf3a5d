"""Interleaved A/B of perfbench's single-core kernel replays alone, no Spark.

    python plans/pr3/replay_ab.py A_DIR B_DIR --workload bam_read --seeds 431-436

For each seed, builds the workload's inputs and runs ``wl.replays()`` in
a fresh interpreter in each checkout, alternating which goes first.
Prints one JSON line per run and, per ``*_per_s_core`` rate, both
medians and how many pairs B won. A traced perfbench run does the same
replays on its driver after the Spark session stops; this isolates them
from whatever the run left behind.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

CHILD = """
import json, sys, tempfile
sys.path.insert(0, ".")
from perfbench.workloads import WORKLOADS
wl = WORKLOADS[sys.argv[1]]()
with tempfile.TemporaryDirectory() as root:
    wl.build(root, int(sys.argv[2]))
    print(json.dumps(wl.replays()))
"""


def run_once(repo: str, workload: str, seed: int) -> dict:
    out = subprocess.run([sys.executable, "-c", CHILD, workload, str(seed)],
                         cwd=repo, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    pairs = []
    for k, seed in enumerate(range(lo, hi + 1)):
        order = [("A", args.a), ("B", args.b)] if k % 2 == 0 else [("B", args.b), ("A", args.a)]
        pair = {}
        for side, repo in order:
            pair[side] = run_once(repo, args.workload, seed)
            print(json.dumps({"side": side, "seed": seed, **pair[side]}), flush=True)
        pairs.append(pair)
    for m in sorted(k for k in pairs[0]["A"] if k.endswith("_per_s_core")):
        a = [p["A"][m] for p in pairs]
        b = [p["B"][m] for p in pairs]
        wins = sum(pb > pa for pa, pb in zip(a, b))
        print(json.dumps({"metric": m, "A_median": statistics.median(a),
                          "B_median": statistics.median(b), "B_wins": f"{wins}/{len(pairs)}"}),
              flush=True)


if __name__ == "__main__":
    main()
