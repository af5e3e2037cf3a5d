"""Registry-wide serialized-stage sweep (round 11).

The round-11 verify-tier fix (OPTIMIZATION_r11.md §2.5) found a
15k-pair Levenshtein DP running on ONE task because AQE's byte-based
coalescing saw a few MB and folded the CPU-heavy stage to a single
post-shuffle partition.  This tool hunts for the same signature
anywhere else in the 233-gate registry: it executes every declared
query Spark-side with the event log enabled and one job-description
label per gate, then flags every stage that ran on a single task for
>= --min-sec wall (and, separately, stages whose slowest task is
>= 4x the median — the skew signature).

Spark-side only (no DuckDB oracle): this is a performance probe, not
a correctness gate.  Run on a quiet box.

Usage: python tools/stage_sweep.py [--sf DIR] [--min-sec 0.5] [query ...]
Prints one JSON line per flagged stage plus a summary; exits 0.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--min-sec", type=float, default=0.5)
    ap.add_argument(
        "--twice",
        action="store_true",
        help="run every query twice and report only second-run (JIT-warm, "
        "cache-cold) stages — first runs mix in codegen/JIT compile walls",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_SF_DIR"] = args.sf
    evdir = tempfile.mkdtemp(prefix="sweep_ev_")

    from disq_spark.operators.dedup import release_caches
    from disq_spark.queries import all_queries
    from disq_spark.session import get_session

    spark = get_session(
        "disq_spark_stage_sweep",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    qs = all_queries()
    names = args.queries or list(qs)

    walls: dict[str, float] = {}
    errs: dict[str, str] = {}
    passes = ("@1", "@2") if args.twice else ("",)
    for name in names:
        for tag in passes:
            sc.setJobDescription(name + tag)
            t0 = time.time()
            try:
                qs[name](spark, args.sf).collect()
            except Exception as e:  # noqa: BLE001 - probe records, moves on
                errs[name] = repr(e)
                break
            walls[name + tag] = round(time.time() - t0, 2)
            release_caches(spark)
            spark.catalog.clearCache()
    sc.setJobDescription(None)
    app_id = sc.applicationId
    spark.stop()

    # ---- parse the event log -------------------------------------------
    path = os.path.join(evdir, app_id)
    stage_to_desc: dict[int, str] = {}
    flagged = []
    with open(path) as fh:
        events = [json.loads(line) for line in fh]
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description", "?")
            for sid in ev.get("Stage IDs", []):
                stage_to_desc[sid] = desc
    # per-stage task max/median from task-end events
    task_times: dict[tuple[int, int], list[float]] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerTaskEnd":
            si, sa = ev["Stage ID"], ev["Stage Attempt ID"]
            info = ev.get("Task Info") or {}
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
            task_times.setdefault((si, sa), []).append(dur)
    for ev in events:
        if ev.get("Event") != "SparkListenerStageCompleted":
            continue
        si = ev["Stage Info"]
        sid = si["Stage ID"]
        ntasks = si.get("Number of Tasks", 0)
        sub = si.get("Submission Time")
        comp = si.get("Completion Time")
        if sub is None or comp is None:
            continue
        wall = (comp - sub) / 1e3
        tt = sorted(task_times.get((sid, si.get("Stage Attempt ID", 0)), []))
        tmax = tt[-1] if tt else 0.0
        tmed = tt[len(tt) // 2] if tt else 0.0
        gate = stage_to_desc.get(sid, "?")
        if args.twice and not gate.endswith("@2"):
            continue
        if ntasks == 1 and wall >= args.min_sec:
            flagged.append(
                {
                    "kind": "single_task",
                    "gate": gate,
                    "stage": sid,
                    "wall_s": round(wall, 2),
                    "stage_name": si.get("Stage Name", "")[:80],
                }
            )
        elif ntasks >= 4 and tmax >= args.min_sec and tmed > 0 and tmax / tmed >= 4:
            flagged.append(
                {
                    "kind": "skew",
                    "gate": gate,
                    "stage": sid,
                    "tasks": ntasks,
                    "task_max_s": round(tmax, 2),
                    "task_med_s": round(tmed, 2),
                    "stage_name": si.get("Stage Name", "")[:80],
                }
            )
    flagged.sort(key=lambda d: -(d.get("wall_s") or d.get("task_max_s") or 0))
    for f in flagged:
        print(json.dumps(f))
    print(
        json.dumps(
            {
                "metric": "stage_sweep",
                "sf": args.sf,
                "queries_run": len(names),
                "errors": errs,
                "flagged": len(flagged),
                "top_walls": dict(
                    sorted(walls.items(), key=lambda kv: -kv[1])[:15]
                ),
                "event_log": path,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
