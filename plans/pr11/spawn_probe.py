"""Python workers started per Spark action of a perfbench workload.

    python plans/pr11/spawn_probe.py REPO_DIR --workload write_roundtrip --ops 3

Builds the workload's inputs (seed 1) in a temporary directory, starts a
session as ``perfbench/run.py`` does, runs ``--ops`` operations in this
process and prints, per plan/run step, its wall, the Python worker
processes that appeared and left during it, and how many there are
after it. Worker processes are those whose command line names the
Python daemon module (``pyspark.daemon`` or ``disq_spark.daemon``) —
the daemon itself and its forks.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager


def workers() -> set[int]:
    out = subprocess.run(["ps", "-eo", "pid,args"], capture_output=True, text=True).stdout
    return {int(line.split()[0]) for line in out.splitlines()[1:]
            if "pyspark.daemon" in line or "disq_spark.daemon" in line}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo")
    ap.add_argument("--workload", default="write_roundtrip", choices=["bam_read", "write_roundtrip"])
    ap.add_argument("--ops", type=int, default=3)
    args = ap.parse_args()

    root = os.path.abspath(args.repo)
    run_dir = tempfile.mkdtemp(prefix="spawn_probe-")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, root)
    os.chdir(root)
    from perfbench import run as prun
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    rows = []

    class Acts(prun.Acts):
        @contextmanager
        def __call__(self, phase, step):
            w0, t0 = workers(), time.perf_counter()
            with super().__call__(phase, step) as part:
                yield part
            w1 = workers()
            rows.append((self.label, phase, step, round(time.perf_counter() - t0, 2),
                         len(w1 - w0), len(w0 - w1), len(w1)))

    try:
        wl = WORKLOADS[args.workload]()
        inputs = os.path.join(run_dir, "inputs")
        os.makedirs(inputs)
        spark = prun.start_session(run_dir, None, len(os.sched_getaffinity(0)))
        wl.build(inputs, 1)
        wl.warmup(spark)
        print(f"after warmup: {len(workers())} daemon + worker processes")
        for k in range(args.ops):
            wl.op(spark, Acts(spark, Tracer(False), f"op{k}", False))
        print("op phase step wall_s started exited processes")
        for row in rows:
            print(*row)
        prun.shutdown(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
