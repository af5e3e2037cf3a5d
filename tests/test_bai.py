"""BAI binning index: build/write/read round-trip, distributed merge
correctness, and .bai-driven interval partition pruning.

Models BaiMergingTest.java:84-112 (the reference demands the merged index
equal a serially-built one; we assert semantic equality — identical bins,
chunks, linear index, metadata — between the distributed merge and a
single-pass serial build of the same file) and the traversal matrix of
HtsjdkReadsRddTest.java:312-459 (differential: pruned interval read ==
brute-force filter).
"""

import os

import pytest
from pyspark.sql import functions as F

from disq_spark.formats import bai as baimod
from disq_spark.formats.bam import _reg2bin
from disq_spark.functions.intervals import Interval, overlaps
from disq_spark.sinks.bam import write_bam
from disq_spark.sources.bam_source import (
    _chunk_may_match,
    plan_bam_chunks,
    read_bam,
    read_bam_header,
)

N_RECORDS = 4917


def _serial_bai(path: str) -> baimod.BaiIndex:
    """Single-pass ground-truth index of a finished BAM file."""
    import struct

    from disq_spark.formats import bam as bamcodec
    from disq_spark.formats import bgzf

    header, refs, voff = read_bam_header(path)
    ref_index = {name: i for i, (name, _l) in enumerate(refs)}
    b = baimod.BaiBuilder(len(refs))
    with bgzf.BlockReader(path) as r:
        r.fill()
    off = r.buffer_offsets([voff])[0]
    while off is not None and off + 4 <= len(r.data):
        row, nxt = bamcodec.decode_record(r.data, off, refs)
        block_size = struct.unpack_from("<i", r.data, off)[0]
        assert nxt == off + 4 + block_size
        # a record ending exactly at end-of-data ends at (end of data
        # blocks << 16), i.e. the position of the BGZF EOF terminator
        v_start, v_end = r.virtual_offsets([off, nxt])
        name, flags, contig, start, end = row[0], row[1], row[2], row[3], row[4]
        if contig is None or start is None:
            b.add(-1, -1, -1, 0, v_start, v_end, False)
        else:
            pos0, end0 = start - 1, end if end is not None else start
            b.add(
                ref_index[contig],
                pos0,
                end0,
                _reg2bin(pos0, max(end0, pos0 + 1)),
                v_start,
                v_end,
                flags & 4 == 0,
            )
        off = nxt
        if off >= len(r.data):
            break
    return b.build()


def test_bai_write_read_roundtrip(tmp_path):
    b = baimod.BaiBuilder(2)
    b.add(0, 100, 200, _reg2bin(100, 200), 0 << 16 | 10, 0 << 16 | 90, True)
    b.add(0, 150, 250, _reg2bin(150, 250), 0 << 16 | 90, 1 << 16 | 0, True)
    b.add(1, 70000, 70100, _reg2bin(70000, 70100), 5 << 16 | 0, 5 << 16 | 77, False)
    b.add(-1, -1, -1, 0, 6 << 16 | 0, 6 << 16 | 50, False)
    idx = b.build()
    p = str(tmp_path / "t.bai")
    baimod.write_bai(p, idx)
    back = baimod.read_bai(p)
    assert back.n_no_coor == 1
    assert len(back.refs) == 2
    r0, r1 = back.refs
    assert r0.n_mapped == 2 and r0.n_unmapped == 0
    assert r1.n_mapped == 0 and r1.n_unmapped == 1
    assert r0.bins == idx.refs[0].bins
    # on-disk final convention stores uncovered windows as 0
    assert r0.linear == [max(v, 0) for v in idx.refs[0].linear]
    # adjacent same-bin chunks coalesced
    assert list(r0.bins.values())[0] == [(0 << 16 | 10, 1 << 16 | 0)]


def test_distributed_bai_equals_serial(spark, fixtures_dir, tmp_path):
    """Write with >1 partition, merge part .bais, compare against a
    serial single-pass index of the final file (BaiMergingTest analog)."""
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=200_000)  # multiple partitions
    out = str(tmp_path / "indexed.bam")
    write_bam(df, header, out, write_bai=True)
    assert os.path.exists(out + ".bai")

    merged = baimod.read_bai(out + ".bai")
    serial = _serial_bai(out)

    assert merged.n_no_coor == serial.n_no_coor
    assert len(merged.refs) == len(serial.refs)
    for m, s in zip(merged.refs, serial.refs):
        assert m.n_mapped == s.n_mapped
        assert m.n_unmapped == s.n_unmapped
        assert m.ref_beg == s.ref_beg and m.ref_end == s.ref_end
        assert m.bins == s.bins
        # normalize: merged came off disk (absent == 0), serial is in-memory (-1)
        assert m.linear == [max(v, 0) for v in s.linear]

    total = sum(r.n_mapped + r.n_unmapped for r in merged.refs) + (merged.n_no_coor or 0)
    assert total == N_RECORDS


# fixture coverage: all 4917 reads on contig "1" at 24,795,478..24,981,705
@pytest.mark.parametrize(
    "ivs",
    [
        [Interval("1", 24_800_000, 24_850_000)],
        [Interval("1", 24_795_478, 24_795_478)],  # single-base, first read
        [Interval("1", 24_900_000, 24_920_000), Interval("2", 1, 10_000_000)],
        [Interval("1", 1, 1_000_000)],  # covered contig, empty region
        [Interval("99", 1, 2)],  # contig absent from the data
    ],
)
def test_interval_read_pruned_equals_filtered(spark, fixtures_dir, tmp_path, ivs):
    """read_bam(intervals) with a .bai == brute-force residual filter
    (traversal matrix differential, HtsjdkReadsRddTest.java:312-459)."""
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=200_000)
    out = str(tmp_path / "q.bam")
    write_bam(df, header, out, write_bai=True)

    pruned, _ = read_bam(spark, out, split_size=100_000, intervals=ivs)
    full, _ = read_bam(spark, out, split_size=100_000)
    brute = full.filter(overlaps(ivs))
    cols = ["name", "flags", "contig", "start", "end"]
    assert sorted(map(tuple, pruned.select(cols).collect())) == sorted(
        map(tuple, brute.select(cols).collect())
    )


def test_pruning_actually_drops_partitions(spark, fixtures_dir, tmp_path):
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=200_000)
    out = str(tmp_path / "p.bam")
    write_bam(df, header, out, write_bai=True, sbi_granularity=1)

    header2, refs2, voff2 = read_bam_header(out)
    chunks = plan_bam_chunks(out, 50_000, refs2, voff2)
    assert len(chunks) > 3
    kept = _chunk_may_match(
        out + ".bai", refs2, chunks, [Interval("1", 24_800_000, 24_810_000)], False
    )
    assert 0 < len(kept) < len(chunks)

    # empty region on a covered contig prunes everything too
    assert _chunk_may_match(out + ".bai", refs2, chunks, [Interval("1", 1, 1000)], False) == []

    # nothing survives for an absent contig
    none_kept = _chunk_may_match(out + ".bai", refs2, chunks, [Interval("zz", 1, 2)], False)
    assert none_kept == []


def test_idxstats_matches_full_scan(spark, fixtures_dir, tmp_path):
    """O(index) idxstats == O(data) groupBy over the decoded records."""
    from disq_spark.sources.bam_source import bam_idxstats

    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=200_000)
    out = str(tmp_path / "indexed.bam")
    write_bam(df, header, out, write_bai=True)

    got = {r.contig: r for r in bam_idxstats(spark, out).collect()}

    from pyspark.sql import functions as F

    scan = (
        df.withColumn("c", F.coalesce(F.col("contig"), F.lit("*")))
        .groupBy("c")
        .agg(
            F.sum((F.col("flags").bitwiseAND(4) == 0).cast("long")).alias("m"),
            F.sum((F.col("flags").bitwiseAND(4) != 0).cast("long")).alias("u"),
        )
        .collect()
    )
    lengths = dict(header.sequences)
    for r in scan:
        if r.c == "*":
            assert got["*"].n_unmapped == r.u
        else:
            assert got[r.c].n_mapped == r.m
            assert got[r.c].n_unmapped == r.u
            assert got[r.c].length == lengths[r.c]
    # contigs with no reads still appear, zeroed
    assert len(got) == len(lengths) + 1


def test_bai_build_refuses_unsorted_records():
    """A header can claim coordinate sort while rows are not; the
    builder must refuse rather than silently corrupt the index
    (htsjdk BAMIndexer's record-out-of-order error)."""
    import pytest

    from disq_spark.formats.bai import BaiBuilder

    b = BaiBuilder(2)
    b.add(0, 1000, 1100, 4681, 0, 100, True)
    with pytest.raises(ValueError, match="coordinate-sorted"):
        b.add(0, 500, 600, 4681, 100, 200, True)

    b2 = BaiBuilder(2)
    b2.add(1, 1000, 1100, 4681, 0, 100, True)
    with pytest.raises(ValueError, match="coordinate-sorted"):
        b2.add(0, 2000, 2100, 4681, 100, 200, True)


def test_bai_merge_refuses_globally_interleaved_parts(spark, fixtures_dir, tmp_path):
    """Per-part-sorted but globally-interleaved parts (each part
    internally ordered, ranges overlapping across parts) must be refused
    at merge time — within-part guards alone cannot see this."""
    import pytest

    from disq_spark.sinks.bam import write_bam
    from disq_spark.sources.bam_source import read_bam

    df, header = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    # 4 hash partitions, each sorted within itself: every part spans
    # nearly the whole coordinate range -> interleaved globally
    bad = df.repartition(4).sortWithinPartitions("contig", "start")
    with pytest.raises(Exception, match="globally coordinate-sorted"):
        write_bam(bad, header, str(tmp_path / "bad.bam"), write_bai=True)
