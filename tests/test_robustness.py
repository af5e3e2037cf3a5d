"""Robustness parity with the reference suite: overwrite semantics
(HtsjdkReadsRddTest.java:483-498, AnySamSinkMultiple.java:74-78), empty
inputs (testEmpty.vcf), corrupted inputs (:564-582)."""

import os

import pytest

from disq_spark.sinks.bam import write_bam
from disq_spark.sinks.variants import write_vcf
from disq_spark.sources.bam_source import read_bam
from disq_spark.sources.variants import read_vcf


def test_sharded_overwrite_removes_stale_parts(spark, fixtures_dir, tmp_path):
    """A smaller re-write must not leave shards from the bigger first
    write behind (stale part-NNNNN files would silently inflate reads)."""
    src = os.path.join(fixtures_dir, "1.bam")
    df, header = read_bam(spark, src)
    out = str(tmp_path / "shards")
    write_bam(df.repartition(6), header, out, single_file=False)
    assert len([f for f in os.listdir(out) if f.endswith(".bam")]) == 6

    write_bam(df.repartition(2), header, out, single_file=False)
    assert len([f for f in os.listdir(out) if f.endswith(".bam")]) == 2
    back, _ = read_bam(spark, out)
    assert back.count() == df.count()


def test_single_file_overwrite_removes_stale_index(spark, fixtures_dir, tmp_path):
    """Rewriting without indexes must delete the previous write's .sbi/
    .bai — a stale index mis-plans every subsequent read."""
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=300_000)
    out = str(tmp_path / "o.bam")
    write_bam(df, header, out, write_sbi=True, write_bai=True)
    assert os.path.exists(out + ".sbi") and os.path.exists(out + ".bai")

    half = df.limit(1000)
    write_bam(half, header, out, write_sbi=False, write_bai=False)
    assert not os.path.exists(out + ".sbi")
    assert not os.path.exists(out + ".bai")
    back, _ = read_bam(spark, out)
    assert back.count() == 1000


def test_empty_vcf_roundtrip(spark, fixtures_dir, tmp_path):
    """Header-only VCF: zero rows in, legal header-only file out
    (testEmpty.vcf fixture)."""
    src = os.path.join(fixtures_dir, "testEmpty.vcf")
    df, header = read_vcf(spark, src)
    assert df.count() == 0
    out = str(tmp_path / "empty.vcf")
    write_vcf(df, header, out)
    assert os.path.exists(out)
    back, header2 = read_vcf(spark, out)
    assert back.count() == 0
    assert header2.samples == header.samples


def test_empty_bam_write(spark, fixtures_dir, tmp_path):
    src = os.path.join(fixtures_dir, "1.bam")
    df, header = read_bam(spark, src)
    out = str(tmp_path / "empty.bam")
    write_bam(df.limit(0), header, out)
    back, header2 = read_bam(spark, out)
    assert back.count() == 0
    assert header2.text == header.text


def test_corrupted_bam_raises(spark, tmp_path):
    """Garbage bytes are not a BAM (HtsjdkReadsRddTest corrupted-input
    cases): the reader must fail loudly, not return partial junk."""
    bad = str(tmp_path / "garbage.bam")
    with open(bad, "wb") as f:
        f.write(b"\x00garbage" * 1000)
    with pytest.raises(Exception):
        read_bam(spark, bad)


def test_truncated_bam_detected(spark, fixtures_dir, tmp_path):
    """A BAM cut mid-block yields only the records of intact blocks —
    never an exception-free silent full count."""
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    data = open(src, "rb").read()
    cut = str(tmp_path / "cut.bam")
    with open(cut, "wb") as f:
        f.write(data[: len(data) // 2 + 137])  # mid-block cut
    df, _ = read_bam(spark, cut, split_size=100_000)
    n = df.count()
    assert 0 < n < 4917


@pytest.mark.parametrize("field, error", [("crc32", "incorrect data check"), ("isize", "incorrect length check")])
def test_flipped_block_trailer_raises(spark, planned_inputs, tmp_path, field, error):
    """One flipped byte in a data block's CRC32 or ISIZE trailer makes
    ``read_bam`` and the BGZF ``read_vcf`` raise: every block inflate
    goes through zlib's gzip wrapper, which checks both."""
    from disq_spark.formats import bgzf

    for key, read in (("bam", read_bam), ("vcf", read_vcf)):
        src = planned_inputs[key]
        blocks = list(bgzf.scan_blocks(src))
        blk = blocks[len(blocks) // 2]  # a data block, not the header's
        with open(src, "rb") as f:
            data = bytearray(f.read())
        data[blk.end - (8 if field == "crc32" else 4)] ^= 0xFF
        bad = str(tmp_path / f"{field}_{os.path.basename(src)}")
        with open(bad, "wb") as f:
            f.write(bytes(data))
        with pytest.raises(Exception, match=error):
            read(spark, bad)[0].count()
