"""Run one perfbench workload with the worker-phase probe and summarize it.

    python plans/pr3/worker_probe.py REPO_DIR --workload bam_read --seed 401

Runs ``perfbench/run.py --trace 0`` in REPO_DIR with ``probe/`` (a
``sitecustomize``) on ``PYTHONPATH``, then prints one JSON line per
phase: task count, median and p90 in ms, over all tasks and split into
each worker's first task versus its later ones.
"""

from __future__ import annotations

import argparse
import collections
import glob
import json
import os
import statistics
import subprocess
import sys
import tempfile

PROBE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "probe")
PHASES = ("setup_spark_files", "invalidate_caches", "read_udfs", "first_batch", "first_batch_since_setup")


def _stats(xs: list[float]) -> dict:
    if not xs:
        return {"n": 0}
    xs = sorted(xs)
    return {"n": len(xs), "p50_ms": round(1e3 * statistics.median(xs), 2),
            "p90_ms": round(1e3 * xs[min(len(xs) - 1, int(0.9 * len(xs)))], 2)}


def summarize(out_dir: str) -> list[dict]:
    # (pid, task) -> phase -> seconds
    tasks: dict[tuple, dict] = collections.defaultdict(dict)
    for path in glob.glob(os.path.join(out_dir, "*.jsonl")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                key = (e["pid"], e["task"])
                tasks[key][e["ev"]] = tasks[key].get(e["ev"], 0.0) + e["dur"]
                if e["ev"] == "first_batch":
                    tasks[key]["first_batch_since_setup"] = e["since_setup"]
    rows = []
    for phase in PHASES:
        every = [t[phase] for t in tasks.values() if phase in t]
        first = [t[phase] for (pid, n), t in tasks.items() if phase in t and n == 1]
        later = [t[phase] for (pid, n), t in tasks.items() if phase in t and n > 1]
        rows.append({"phase": phase, "all": _stats(every),
                     "first_task": _stats(first), "later_tasks": _stats(later)})
    rows.append({"workers": len({pid for pid, _ in tasks}), "tasks": len(tasks)})
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=401)
    args = ap.parse_args()
    with tempfile.TemporaryDirectory() as out_dir:
        pp = os.environ.get("PYTHONPATH", "")
        env = dict(os.environ, PROBE_OUT=out_dir,
                   PYTHONPATH=PROBE_DIR + (os.pathsep + pp if pp else ""))
        run = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", "3", "--trace", "0"],
            cwd=args.repo, env=env, capture_output=True, text=True,
        )
        lines = [ln for ln in run.stdout.splitlines() if ln.startswith("{")]
        res = json.loads(lines[-1]) if lines else {"error": run.stderr[-2000:]}
        print(json.dumps({"repo": args.repo, "workload": args.workload, "seed": args.seed,
                          "op_p50_s": res.get("metrics", {}).get("op_p50_s", {}).get("value"),
                          "error": res.get("error")}), flush=True)
        for row in summarize(out_dir):
            print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
