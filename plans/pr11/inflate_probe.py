"""BGZF blocks inflated per chunk by the BAM decode, ``build_bai`` and
``build_tbi`` (extends ``plans/pr10/inflate_probe.py``).

    python plans/pr11/inflate_probe.py REPO [--splits 81920,307200,716800]

Imports ``disq_spark`` and ``perfbench/gen.py`` from REPO and writes the
``bam_read`` input (``make_reads(1, 10_000)``: 20,200 reads, with
``.sbi``/``.bai``), an index-less copy of it, and a 4,000-site BGZF VCF
(``make_variants(1, 4000)``). For each split size it then runs, in this
process with no Spark session (``plan_frame`` replaced by a loop over the
plan rows):

- ``decode``: ``decode_chunk_cols`` over every chunk ``plan_bam_chunks``
  gives for the indexed BAM (the ``bam_read`` plan);
- ``build_bai``: ``build_bai`` on the index-less copy (guesser plan);
- ``build_tbi``: ``build_tbi`` on the VCF (block-aligned byte ranges).

Inflates are counted at the one inflate call site: ``bgzf.inflate`` when
the checkout has it, else ``bgzf.decompress_block``. Each inflated block
is identified by its bytes, so a chunk reports the blocks it owns
(``blocks``: for a BAM chunk the blocks from the one holding its start to
the one holding its end, for a VCF range the blocks starting in it), the
blocks it inflated, and how many of those lie before its first block
(``before``) or after its last (``after``: what a record or line
straddling the end needs). Prints one JSON line per chunk and one summary
line per (mode, split) with the sha256 of the built index.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo")
    ap.add_argument("--splits", default="81920,307200,716800")
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, os.path.join(repo, "perfbench"))
    sys.path.insert(0, repo)

    import pyspark

    import gen
    from disq_spark.formats import bgzf
    from disq_spark.sources import bam_source, plan, variants

    work = tempfile.mkdtemp(prefix="inflate_probe_")
    bam = os.path.join(work, "reads.bam")
    gen.write_bam_file(bam, gen.make_reads(1, 10_000), "coordinate")
    bare = os.path.join(work, "bare.bam")
    shutil.copy(bam, bare)
    vcf = os.path.join(work, "sites.vcf.bgz")
    gen.write_vcf_file(vcf, gen.make_variants(1, 4000))
    if os.path.exists(vcf + ".tbi"):
        os.remove(vcf + ".tbi")

    where: dict[str, dict[bytes, int]] = {}  # input -> block bytes -> file offset
    for path in (bam, bare, vcf):
        with open(path, "rb") as f:
            where[path] = {f.read(b.c_size): b.pos for b in bgzf.scan_blocks(path) if f.seek(b.pos) >= 0}
    block_pos = {p: [b.pos for b in bgzf.scan_blocks(p)] for p in (bam, bare, vcf)}
    inflated: list[int] = []

    if hasattr(bgzf, "inflate"):
        real, site = bgzf.inflate, "inflate"

        def counted(block):
            inflated.append(where.get(current.get("path"), {}).get(bytes(block), -1))
            return real(block)
    else:
        real, site = bgzf.decompress_block, "decompress_block"

        def counted(f, pos):
            inflated.append(pos)
            return real(f, pos)

    pid = [0]

    class Ctx:
        @staticmethod
        def partitionId():
            return pid[0]

    rows: list[dict] = []

    def owned(path, start, end, virtual):
        """File offsets of the chunk's own blocks."""
        pos = block_pos[path]
        if not virtual:
            return [b for b in pos if start <= b < end]
        c0, c1 = start >> 16, end >> 16
        return [b for b in pos if c0 <= b < c1 or (b == c1 and end & 0xFFFF)]

    def run_chunk(mode, split, i, path, start, end, fn, virtual=True):
        pid[0], current["path"] = i, path
        del inflated[:]
        out = list(fn(path, start, end))
        mine = owned(path, start, end, virtual)
        lo, hi = (mine[0], mine[-1]) if mine else (start >> 16 if virtual else start, -1)
        rows.append({
            "mode": mode, "split": split, "chunk": i, "blocks": len(mine), "inflated": len(inflated),
            "before": sum(1 for p in inflated if p < lo), "after": sum(1 for p in inflated if p > hi),
        })
        return out

    class Frame:
        def __init__(self, mode, split, plan_rows, fn):
            self.mode, self.split, self.plan_rows, self.fn = mode, split, plan_rows, fn

        def collect(self):
            out = []
            for i, (key, start, end) in enumerate(self.plan_rows):
                virtual = self.mode != "build_tbi"
                for pdf in run_chunk(self.mode, self.split, i, key, start, end, self.fn, virtual):
                    out.extend(pdf.itertuples(index=False, name="Row"))
            return out

    current = {}

    def fake_plan_frame(_spark, plan_rows, fn, _schema):
        return Frame(current["mode"], current["split"], list(plan_rows), fn)

    setattr(bgzf, site, counted)
    plan.plan_frame = fake_plan_frame
    bam_source.plan_frame = fake_plan_frame
    pyspark.TaskContext.get = staticmethod(lambda: Ctx)
    summaries = []
    try:
        _h, refs, voff = bam_source.read_bam_header(bam)
        for split in [int(s) for s in args.splits.split(",")]:
            current.update(mode="decode", split=split)
            chunks = bam_source.plan_bam_chunks(bam, split, refs, voff)
            for i, (vs, ve) in enumerate(chunks):
                run_chunk("decode", split, i, bam, vs, ve,
                          lambda p, s, e: [bam_source.decode_chunk_cols(p, refs, s, e)])
            summaries.append(("decode", split, None))
            for mode, path, build in (
                ("build_bai", bare, bam_source.build_bai),
                ("build_tbi", vcf, variants.build_tbi),
            ):
                current.update(mode=mode, split=split)
                built = build(None, path, split_size=split)
                with open(built, "rb") as f:
                    digest = hashlib.sha256(f.read()).hexdigest()[:16]
                os.remove(built)
                summaries.append((mode, split, digest))
    finally:
        setattr(bgzf, site, real)
    for row in rows:
        print(json.dumps(row))
    for mode, split, digest in summaries:
        sel = [r for r in rows if r["mode"] == mode and r["split"] == split]
        out = {
            "repo": repo, "site": site, "mode": mode, "split": split, "chunks": len(sel),
            "blocks": sum(r["blocks"] for r in sel), "inflated": sum(r["inflated"] for r in sel),
            "before": sum(r["before"] for r in sel), "after": sum(r["after"] for r in sel),
            "max_after": max((r["after"] for r in sel), default=0),
        }
        if digest:
            out["index_sha256"] = digest
        print(json.dumps(out))
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
