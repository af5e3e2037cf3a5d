"""Sort-and-write probe: jobs, stages and output bytes of
``write_bam(coordinate_sort(read_bam(...)))`` on one checkout.

    python plans/pr16/sort_probe.py REPO [RUNS]

Run with REPO as the working directory, so Spark's Python workers import
the same tree. Builds the ``write_roundtrip`` BAM input (seed 7: 8,080
unsorted reads with placed and unplaced unmapped ones, ``.sbi`` at
granularity 64), reads it at a 300 KiB split, sorts into 4 partitions
and writes a single-file BAM with ``.sbi``/``.bai`` RUNS times (default
3). Prints one JSON line per run: the Spark jobs and stages the write ran,
its wall, the sha256 of the BAM and of its indexes, and whether the
re-read content checksum equals the generator's. A last line says
whether every run wrote the same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time


def main() -> None:
    repo = os.path.abspath(sys.argv[1])
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sys.path.insert(0, repo)
    from perfbench import gen

    from disq_spark import read_bam, write_bam
    from disq_spark.headers import SamHeader
    from disq_spark.operators.genomics import coordinate_sort
    from disq_spark.session import get_session

    work = tempfile.mkdtemp(prefix="sort_probe_")
    cols = gen.shuffled(gen.make_reads(7, 4000), 7)
    src = os.path.join(work, "unsorted.bam")
    gen.write_bam_file(src, cols, "unsorted")
    oracle = gen.reads_checksum(cols)
    spark = get_session("sort_probe", shuffle_partitions=8)
    tracker = spark.sparkContext.statusTracker()

    def sha(p):
        with open(p, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()[:16]

    seen = []
    for k in range(runs):
        out = os.path.join(work, f"sorted{k}.bam")
        group = f"sort{k}"
        spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        df, h = read_bam(spark, src, split_size=300 * 1024)
        header = SamHeader(text=h.text.replace("SO:unsorted", "SO:coordinate"))
        write_bam(coordinate_sort(df, header, 4), header, out)
        wall = time.perf_counter() - t0
        jobs = tracker.getJobIdsForGroup(group)
        stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
        back, _ = read_bam(spark, out)
        rows = back.mapInPandas(gen.checksum_partitions("reads"), "n long, h long").collect()
        hashes = {ext: sha(out + ext) for ext in ("", ".sbi", ".bai")}
        seen.append(hashes[""])
        print(json.dumps({"run": k, "jobs": len(jobs), "stages": stages, "wall_s": round(wall, 3),
                          "sha256": hashes, "checksum_ok": gen.combine(rows) == oracle}),
              flush=True)
    print(json.dumps({"same_bytes_every_run": len(set(seen)) == 1}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
