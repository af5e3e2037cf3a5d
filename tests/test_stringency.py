"""Validation stringency (STRICT/LENIENT/SILENT reader modes — htsjdk
ValidationStringency parity) and the record-guesser diagnostic check
(BamRecordGuesserChecker analog: guesser decisions vs the granularity-1
.sbi ground truth, BamRecordGuesserCheckerTest.java:41-75)."""

import os

import pytest

from disq_spark.sources.reads import read_sam
from disq_spark.sources.variants import read_vcf

BAD_SAM = "broken\trecord\n"
BAD_VCF = "chr1\tnotanint\t.\tA\tT\t.\t.\t.\n"


@pytest.fixture()
def sam_with_garbage(fixtures_dir, tmp_path):
    src = os.path.join(fixtures_dir, "test.sam")
    dst = str(tmp_path / "garbled.sam")
    with open(src) as f:
        lines = f.readlines()
    n_records = sum(1 for ln in lines if not ln.startswith("@"))
    # splice a malformed record after the header
    hdr_end = next(i for i, ln in enumerate(lines) if not ln.startswith("@"))
    lines.insert(hdr_end, BAD_SAM)
    with open(dst, "w") as f:
        f.writelines(lines)
    return dst, n_records


def test_sam_strict_raises(spark, sam_with_garbage):
    path, _ = sam_with_garbage
    df, _h = read_sam(spark, path, mode="STRICT")
    with pytest.raises(Exception, match="malformed SAM record"):
        df.count()


def test_sam_silent_and_lenient_skip(spark, sam_with_garbage):
    path, n_records = sam_with_garbage
    for mode in ("SILENT", "LENIENT"):
        df, _h = read_sam(spark, path, mode=mode)
        assert df.count() == n_records


def test_vcf_strict_raises_silent_skips(spark, fixtures_dir, tmp_path):
    src = os.path.join(fixtures_dir, "test.vcf")
    dst = str(tmp_path / "garbled.vcf")
    with open(src) as f:
        lines = f.readlines()
    n_records = sum(1 for ln in lines if not ln.startswith("#"))
    hdr_end = next(i for i, ln in enumerate(lines) if not ln.startswith("#"))
    lines.insert(hdr_end, BAD_VCF)
    with open(dst, "w") as f:
        f.writelines(lines)

    df, _h = read_vcf(spark, dst, mode="STRICT")
    with pytest.raises(Exception, match="malformed VCF record"):
        df.count()
    df, _h = read_vcf(spark, dst, mode="SILENT")
    assert df.count() == n_records


def test_sam_interval_filter(spark, fixtures_dir):
    """SAM brute-force interval filter (no index, SamSource.java:93-102)."""
    from disq_spark.functions.intervals import Interval, overlaps

    path = os.path.join(fixtures_dir, "test.sam")
    full, _ = read_sam(spark, path)
    row = full.filter(full.start.isNotNull()).first()
    ivs = [Interval(row.contig, row.start, row.start + 100)]
    filtered, _ = read_sam(spark, path, intervals=ivs)
    assert filtered.count() == full.filter(overlaps(ivs)).count() > 0


@pytest.mark.parametrize("source", ["fixture", "generated"])
def test_guesser_matches_sbi_ground_truth(fixtures_dir, request, tmp_path, source):
    """Every granularity-1 .sbi offset must validate as a record start;
    offsets 1..8 bytes past a true start must not chain-validate
    (FALSE_POSITIVE / FALSE_NEGATIVE classification of
    BamRecordGuesserChecker.java:107-177)."""
    from disq_spark.formats import bgzf
    from disq_spark.formats import sbi as sbimod
    from disq_spark.sources.bam_source import (
        _check_record,
        read_bam_header,
    )

    if source == "fixture":
        bam = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    else:
        # the sink's own granularity-1 .sbi over the self-made BAM
        from disq_spark.sinks.bam import write_bam
        from disq_spark.sources.bam_source import read_bam

        spark = request.getfixturevalue("spark")
        df, header = read_bam(spark, request.getfixturevalue("planned_inputs")["bam"])
        bam = str(tmp_path / "g1.bam")
        write_bam(df, header, bam, sbi_granularity=1)
    idx = sbimod.read_sbi(bam + ".sbi")
    _h, refs, _v = read_bam_header(bam)
    n_ref = len(refs)
    ref_lens = [l for _n, l in refs]

    with bgzf.BlockReader(bam) as r:
        r.fill()

    def validates(buf_off: int, depth: int = 5) -> bool:
        off = buf_off
        for done in range(depth):
            nxt = _check_record(r.data, off, n_ref, ref_lens)
            if nxt is None:
                return False
            if nxt == -1:  # ran off the data: accept what we verified, as
                # the guesser does — a first record overrunning the file is bogus
                return done > 0
            off = nxt
        return True

    starts = idx.offsets[:-1]
    # no false negatives: every true record start validates
    sampled = starts[:: max(len(starts) // 500, 1)]
    for vo, off in zip(sampled, r.buffer_offsets(sampled)):
        assert off is not None and validates(off), f"false negative at voff {vo}"

    # no false positives in the neighborhood of true starts
    fp = 0
    true_starts = set(r.buffer_offsets(starts[:2000]))
    for off in r.buffer_offsets(sampled[:100]):
        for delta in range(1, 9):
            if off + delta in true_starts:
                continue
            if validates(off + delta):
                fp += 1
    assert fp == 0, f"{fp} false positives"
