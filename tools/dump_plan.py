"""Dump the formatted physical plan of registered gates to files.

Twin of tools/explain.py that writes plans to files. Both resolve the
repo root from their own location, so a historical worktree imports its
own code, not HEAD's — the mistake a before/after plan comparison cannot
afford.

Usage:
    python tools/dump_plan.py --sf DIR --out-dir plans/r11 --suffix _after \
        dedup_verified dedup_edit_distance ...
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--suffix", required=True)
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_SF_DIR"] = args.sf
    from disq_spark.session import get_session

    import __spark_entry__ as entry

    spark = get_session("dump_plan")
    registry = entry.queries()
    os.makedirs(args.out_dir, exist_ok=True)
    for name in args.queries:
        df = registry[name](spark, args.sf)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out_dir, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
