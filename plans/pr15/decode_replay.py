"""Single-core decode time of the ``bam_read`` input, per checkout.

Usage: python plans/pr15/decode_replay.py PARENT_REPO CHANGE_REPO [ROUNDS]

Writes the ``bam_read`` input (``make_reads(1, 10_000)``, with
``.sbi``/``.bai``) once, then for ROUNDS rounds (default 5) runs one
subprocess per checkout, alternating which goes first. Each subprocess
plans the file at the workload's 700 KiB and 80 KiB splits and times
``decode_chunk_cols`` over every chunk (median of 7 passes, full and
``flags``-only columns). Prints one TSV row per run and the median per
checkout and case.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

CHILD = r"""
import json, statistics, sys, time
sys.path.insert(0, sys.argv[1])
from disq_spark.sources import bam_source as bs
path = sys.argv[2]
_h, refs, voff = bs.read_bam_header(path)
out = {}
for split in (700 * 1024, 80 * 1024):
    chunks = bs.plan_bam_chunks(path, split, refs, voff)
    for name, kw in (("full", {}), ("flags", dict(with_seq=False, with_qual=False, with_tags=False))):
        walls = []
        for _ in range(7):
            t0 = time.perf_counter()
            for vs, ve in chunks:
                bs.decode_chunk_cols(path, refs, vs, ve, **kw)
            walls.append(time.perf_counter() - t0)
        out[f"{name}_{split // 1024}k"] = statistics.median(walls)
print(json.dumps(out))
"""


def main(parent: str, change: str, rounds: int) -> None:
    sys.path[:0] = [change, os.path.join(change, "perfbench")]
    import gen

    work = tempfile.mkdtemp(prefix="decode_replay_")
    path = os.path.join(work, "reads.bam")
    gen.write_bam_file(path, gen.make_reads(1, 10_000), "coordinate")
    runs = {"parent": [], "change": []}
    for i in range(rounds):
        order = [("parent", parent), ("change", change)]
        for side, repo in order if i % 2 == 0 else order[::-1]:
            res = subprocess.run(
                [sys.executable, "-c", CHILD, repo, path], capture_output=True, text=True,
                check=True, env={**os.environ, "OMP_NUM_THREADS": "1"},
            )
            row = json.loads(res.stdout.splitlines()[-1])
            runs[side].append(row)
            print(side, i, "\t".join(f"{k}={v:.4f}" for k, v in row.items()), sep="\t")
    shutil.rmtree(work)
    for side, rows in runs.items():
        print(side, "median", "\t".join(
            f"{k}={statistics.median(r[k] for r in rows):.4f}" for k in rows[0]), sep="\t")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 5)
