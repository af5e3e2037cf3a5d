"""Cold-floor attribution for bench.py's headline queries (round 9).

The cold headline total has drifted from the r1 baseline 18.37 s to
~1.1-1.2x canary-normalized across EVERY query (no single regressor),
which reads as per-query fixed overhead rather than a plan problem.
This profiler splits each headline query's first-run wall into:

- build_s : Python DataFrame construction (lazy — operator code,
            driver-side collects a gate needs, closure setup)
- plan_s  : Catalyst analysis + optimization + physical planning,
            forced via queryExecution().executedPlan() with no action
- exec_s  : the first count() (includes codegen compile + JVM JIT of
            the generated classes + actual execution)
- rerun_s : a second count() after clearCache + release_caches —
            JIT/codegen-warm but cache-cold, so
            exec_s - rerun_s ~ one-time compile/JIT cost and rerun_s
            ~ steady-state compute

Run on a QUIET box; one cold JVM per invocation (fresh session, same
config as bench.py's child). Prints one JSON line; recorded in
SCALE.md §r9.

Usage: python tools/cold_profile.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t_imp0 = time.time()
    from bench import HEADLINE

    from disq_spark.operators.dedup import release_caches
    from disq_spark.queries import all_queries
    from disq_spark.session import get_session

    t_import = time.time() - t_imp0
    t_sess0 = time.time()
    spark = get_session("disq_spark_cold_profile")
    t_session = time.time() - t_sess0
    qs = all_queries()

    out: dict = {
        "metric": "cold_profile",
        "sf_dir": sf_dir,
        "import_s": round(t_import, 3),
        "session_s": round(t_session, 3),
    }
    per: dict = {}
    for name in HEADLINE:
        fn = qs[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        t_build = time.time() - t0
        t0 = time.time()
        df._jdf.queryExecution().executedPlan()
        t_plan = time.time() - t0
        t0 = time.time()
        df.count()
        t_exec = time.time() - t0
        release_caches(blocking=False)
        spark.catalog.clearCache()
        # rebuild: a cached DataFrame object would reuse its resolved
        # plan; the rerun must repeat build+plan+exec with warm JIT
        t0 = time.time()
        df2 = fn(spark, sf_dir)
        df2.count()
        t_rerun = time.time() - t0
        release_caches(blocking=False)
        spark.catalog.clearCache()
        per[name] = {
            "build_s": round(t_build, 3),
            "plan_s": round(t_plan, 3),
            "exec_s": round(t_exec, 3),
            "rerun_s": round(t_rerun, 3),
        }
        print(f"# {name}: build={t_build:.2f} plan={t_plan:.2f} "
              f"exec={t_exec:.2f} rerun={t_rerun:.2f}", file=sys.stderr)
    out["queries"] = per
    for k in ("build_s", "plan_s", "exec_s", "rerun_s"):
        out["total_" + k] = round(sum(v[k] for v in per.values()), 3)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
