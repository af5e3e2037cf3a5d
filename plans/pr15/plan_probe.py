"""Driver planning cost of an index-less BAM, per checkout, no Spark job.

Usage: python plans/pr15/plan_probe.py REPO WORKDIR

Builds two BAMs in WORKDIR with ``perfbench/gen.py`` (reused when they
exist) and prints TSV rows for the checkout at REPO:

- ``plan``: ``scan_bam(bam, split, pair_atomic=...).plan()`` on
  ``make_reads(7, 50_000)`` (13.1 MB, 329 BGZF blocks, no ``.sbi``):
  median wall of 3 plans, BGZF blocks inflated (counted at the one
  ``bgzf.inflate`` call site) and the chunk count, at 1 MiB, 256 KiB
  and 64 KiB splits, with and without ``pair_atomic``;
- ``zeroed_bin``: ``make_reads(3, 40_000)`` with every record's bin
  field set to 0 (10.5 MB): wall of planning and decoding all chunks at
  a quarter-file split, the record count, whether the records equal
  the whole-file walk, and each chunk's first record (``c:u``) against
  the exact boundary, the first record starting in the first block at
  or after the split.
"""

from __future__ import annotations

import os
import shutil
import statistics
import struct
import sys
import time


def main(repo: str, work: str) -> None:
    sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
    import gen

    from disq_spark.formats import bgzf
    from disq_spark.formats.bam import parse_bam_header
    from disq_spark.sources import bam_source as bs

    os.makedirs(work, exist_ok=True)
    bam = os.path.join(work, "reads7.bam")
    if not os.path.exists(bam):
        gen.write_bam_file(bam, gen.make_reads(7, 50_000), "coordinate")
        for ext in (".sbi", ".bai"):
            os.remove(bam + ext)
    zeroed = os.path.join(work, "zeroed3.bam")
    if not os.path.exists(zeroed):
        src = os.path.join(work, "reads3.bam")
        gen.write_bam_file(src, gen.make_reads(3, 40_000), "coordinate")
        data = bytearray(bgzf.read_range(src, 0, os.path.getsize(src)))
        off = parse_bam_header(bytes(data))[2]
        while off + 4 <= len(data):
            struct.pack_into("<H", data, off + 14, 0)
            off += 4 + struct.unpack_from("<i", data, off)[0]
        with open(zeroed, "wb") as f:
            f.write(bgzf.compress_all(bytes(data)))

    inflates = [0]
    real = bgzf.inflate

    def counting(block):
        inflates[0] += 1
        return real(block)

    bgzf.inflate = counting
    print("case\tsplit\tpair_atomic\tmedian_s\tinflates\tchunks")
    for split in (1 << 20, 256 << 10, 64 << 10):
        for pair in (False, True):
            scan = bs.scan_bam(bam, split, pair_atomic=pair)
            walls = []
            for _ in range(3):
                inflates[0] = 0
                t0 = time.perf_counter()
                plan = scan.plan()
                walls.append(time.perf_counter() - t0)
            print(f"plan\t{split}\t{pair}\t{statistics.median(walls):.4f}\t{inflates[0]}\t{len(plan)}")

    _h, refs, voff = bs.read_bam_header(zeroed)
    size = os.path.getsize(zeroed)
    split = -(-size // 4)
    t0 = time.perf_counter()
    chunks = bs.plan_bam_chunks(zeroed, split, refs, voff)
    counts, got = [], []
    for vs, ve in chunks:
        rows = bs.decode_chunk(zeroed, refs, vs, ve) or []
        counts.append(len(rows))
        got.extend(rows)
    wall = time.perf_counter() - t0
    whole = bs.decode_chunk(zeroed, refs, voff, size << 16)
    # every record start of the file, as data offsets of one reader
    with bgzf.BlockReader(zeroed) as r:
        r.fill()
    offs, off = [], r.buffer_offsets([voff])[0]
    while off < len(r.data):
        offs.append(off)
        off += 4 + struct.unpack_from("<i", r.data, off)[0]

    def cu(i):
        v = r.virtual_offsets([offs[i]])[0]
        return f"{v >> 16}:{v & 0xFFFF}"

    firsts, n = [], 0
    for c in counts:
        if c:
            firsts.append(cu(n))
        n += c
    exact = [cu(0)]
    for k in range(1, 4):
        u = r.u_start[next(i for i, c in enumerate(r.c_pos) if c >= k * split)]
        exact.append(cu(next(i for i, o in enumerate(offs) if o >= u)))
    print(f"zeroed_bin\t{split}\t-\t{wall:.4f}\t{len(got)}/{len(whole)} equal={got == whole}"
          f"\tstarts={','.join(firsts)} exact={','.join(exact)}")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
