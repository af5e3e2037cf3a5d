"""Split ``bam_read``'s ``setup_s`` into its input build and its warmup query.

    TMPDIR=/tmp/x python plans/pr10/setup_probe.py REPO

Run with REPO as the working directory. Starts one session the way
``perfbench/run.py`` does, then eight times builds the ``bam_read`` input
(seeds 3001-3008: reads, BAM with ``.sbi``/``.bai`` through ``encode_part``
and ``finalize_single``, oracles) and runs its warmup (one ``.bai``-pruned
region query), timing each. Prints both lists and their medians.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time


def main() -> None:
    repo = os.path.abspath(sys.argv[1])
    sys.path.insert(0, repo)
    os.chdir(repo)
    from perfbench import run as prun
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS["bam_read"]()
    spark = prun.start_session(tempfile.mkdtemp(), None, 4)
    build, warmup = [], []
    for k in range(8):
        root = tempfile.mkdtemp()
        t = time.perf_counter()
        wl.build(root, 3001 + k)
        build.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup(spark)
        warmup.append(time.perf_counter() - t)
        shutil.rmtree(root)
    print(os.path.basename(repo), "build", [round(x, 3) for x in build],
          "warmup", [round(x, 3) for x in warmup],
          "median", round(statistics.median(build), 3), round(statistics.median(warmup), 3))
    prun.shutdown(spark)


if __name__ == "__main__":
    main()
