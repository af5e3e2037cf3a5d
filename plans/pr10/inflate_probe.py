"""BGZF blocks ``build_bai`` inflates per planned chunk.

    python plans/pr10/inflate_probe.py REPO [--split 65536]

Imports ``disq_spark`` from REPO and writes a 3,000-read coordinate-sorted
BAM (seed 42, the ``planned_inputs`` shape) through ``encode_part`` and
``finalize_single`` on the driver. It then runs ``build_bai`` with its
Spark job replaced by an in-process loop over the plan rows (partition id
= plan row, as in ``plan_frame``), counting ``bgzf.decompress_block``
calls per chunk. Prints one JSON line per chunk (BGZF blocks starting in
the chunk, blocks inflated) and a summary line; the built ``.bai`` is
checked against the one ``build_bai`` returns normally. No Spark session
is started.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo")
    ap.add_argument("--split", type=int, default=64 * 1024)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.repo))

    import pandas as pd
    import pyspark

    from disq_spark.formats import bgzf
    from disq_spark.headers import SamHeader
    from disq_spark.sinks import bam as bamsink
    from disq_spark.sources import bam_source, plan

    work = tempfile.mkdtemp(prefix="inflate_probe_")
    rng = random.Random(42)
    text = "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:1000000\n@SQ\tSN:c2\tLN:1000000\n"
    header = SamHeader(text=text)
    refs = header.sequences
    rows = [
        {
            "name": f"r{i:05d}", "flags": 0, "contig": "c1",
            "start": i * 40 + 1, "end": i * 40 + 100, "mapq": 60, "cigar": "100M",
            "mate_contig": None, "mate_start": None, "template_len": 0,
            "seq": "".join(rng.choice("ACGT") for _ in range(100)),
            "qual": "".join(rng.choice("#+5?AI") for _ in range(100)),
            "tags": None, "read_group": None,
        }
        for i in range(3000)
    ]
    path = os.path.join(work, "reads.bam")
    parts_dir = path + ".parts"
    os.makedirs(parts_dir)
    part = os.path.join(parts_dir, "part-00000")
    bamsink.encode_part(iter(rows), part, {n: i for i, (n, _l) in enumerate(refs)}, 4096, False)
    bamsink.finalize_single(path, parts_dir, header, refs, [part], False, False)
    block_starts = [b.pos for b in bgzf.scan_blocks(path)]

    calls = [0]
    real_inflate = bgzf.decompress_block

    def counted(f, pos):
        calls[0] += 1
        return real_inflate(f, pos)

    pid = [0]

    class Ctx:
        @staticmethod
        def partitionId():
            return pid[0]

    per_chunk = []

    class Frame:
        def __init__(self, plan_rows, fn):
            self.plan_rows, self.fn = plan_rows, fn

        def collect(self):
            out = []
            for i, (key, start, end) in enumerate(self.plan_rows):
                pid[0], calls[0] = i, 0
                for pdf in self.fn(key, start, end):
                    out.extend(pdf.itertuples(index=False, name="Row"))
                blocks = sum(1 for b in block_starts if start >> 16 <= b < end >> 16)
                per_chunk.append({"chunk": i, "blocks": blocks, "inflated": calls[0]})
            return out

    def fake_plan_frame(_spark, plan_rows, fn, _schema):
        return Frame(list(plan_rows), fn)

    assert pd is not None
    bgzf.decompress_block = counted
    for mod in (plan, bam_source):
        if hasattr(mod, "plan_frame"):
            setattr(mod, "plan_frame", fake_plan_frame)
    pyspark.TaskContext.get = staticmethod(lambda: Ctx)
    try:
        built = bam_source.build_bai(None, path, split_size=args.split)
        with open(built, "rb") as f:
            bai_bytes = f.read()
    finally:
        bgzf.decompress_block = real_inflate
    for row in per_chunk:
        print(json.dumps(row))
    n_blocks = sum(r["blocks"] for r in per_chunk)
    n_inflated = sum(r["inflated"] for r in per_chunk)
    import hashlib

    print(json.dumps({
        "repo": os.path.abspath(args.repo), "split": args.split, "chunks": len(per_chunk),
        "blocks": n_blocks, "inflated": n_inflated, "inflated_per_block": round(n_inflated / n_blocks, 2),
        "bai_sha256": hashlib.sha256(bai_bytes).hexdigest()[:16],
    }))
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
