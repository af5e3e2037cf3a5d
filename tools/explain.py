"""Print the physical plan of any registered gate query.

Usage:
    python tools/explain.py q3_shipping_priority [more ...] [--sf DIR]
    python tools/explain.py --all            # plan-shape summary line per query

The summary line flags the properties the plan tests lock down:
exchanges, broadcasts, cartesian products, Python evals (mapInPandas),
and whole-stage-codegen coverage.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df, mode: str) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def summarize(plan: str) -> str:
    marks = []
    n_ex = plan.count("Exchange")
    n_bc = plan.count("BroadcastExchange")
    marks.append(f"exchanges={n_ex - n_bc}")
    marks.append(f"broadcasts={n_bc}")
    if "CartesianProduct" in plan:
        marks.append("CARTESIAN!")
    if "MapInPandas" in plan or "ArrowEvalPython" in plan:
        marks.append("python-stage")
    marks.append(f"codegen-spans={plan.count('WholeStageCodegen')}")
    return " ".join(marks)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--mode", default="formatted", choices=["formatted", "simple", "extended"])
    args = ap.parse_args()

    from disq_spark.session import get_session

    import __spark_entry__ as entry

    spark = get_session("explain")
    registry = entry.queries()
    # building these executes real work (streaming runs to completion /
    # files get written), and the plan of the post-hoc select is not the
    # interesting one anyway — skip them in the --all sweep
    side_effectful = {n for n in registry if n.startswith("streaming_")} | {
        "genomics_idxstats"
    }
    if args.all:
        names = sorted(set(registry) - side_effectful)
        for n in sorted(side_effectful):
            print(f"{n}: skipped (side-effectful build; explain it explicitly)")
    else:
        names = args.queries
    for name in names:
        if name not in registry:
            print(f"{name}: not registered", file=sys.stderr)
            continue
        try:
            df = registry[name](spark, args.sf)
        except Exception as e:  # runtime-only queries (fixtures etc.)
            print(f"{name}: build failed: {e}", file=sys.stderr)
            continue
        if args.all:
            print(f"{name}: {summarize(plan_of(df, 'simple'))}")
        else:
            print(f"== {name} ==")
            print(plan_of(df, args.mode))


if __name__ == "__main__":
    main()
