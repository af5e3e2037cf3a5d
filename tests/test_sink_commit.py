"""Speculative-execution / retry safety of the single-file sink commit.

The reference gets attempt isolation for free from Hadoop's
OutputCommitter (BamSink.java:82-94: saveAsNewAPIHadoopFile stages each
task attempt in its own attempt directory and commits only the winner).
The facade sinks must give the same guarantee: task attempts stage to
attempt-unique part names, and the driver finalizes ONLY from the part
names the successful attempts returned — never from a directory listing,
which would include losing speculative attempts, stale impostors from a
previous failed job, and orphaned .tmp files.

The same commit owns failure cleanup for every single-file sink: a failed
task or a refused order check leaves the pre-existing target untouched
and removes ``<path>.parts``.

Self-contained: inputs come from the ``planned_inputs`` fixture, the
library's own sinks and ``fixtures/``.
"""

import os

import pytest

from disq_spark import fs as _dfs
from disq_spark.sinks import merge

REF_FA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "ref.fa"
)


def _mk_row(i, part):
    return {
        "name": f"r{part}_{i}", "flags": 0, "contig": "c1",
        "start": 100 * part + i + 1, "end": 100 * part + i + 10,
        "mapq": 60, "cigar": "10M", "mate_contig": None, "mate_start": None,
        "template_len": 0, "seq": "ACGTACGTAC", "qual": "IIIIIIIIII",
        "tags": None, "read_group": None,
    }


HEADER_TEXT = "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:100000\n"


def test_bam_single_file_excludes_impostor_and_tmp_orphan(spark, tmp_path):
    """Plant a stale canonical-named impostor part and a .tmp orphan in
    the parts dir before the write; the merged file must contain exactly
    the real records and none of the impostor bytes."""
    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sources.bam_source import read_bam

    out = str(tmp_path / "out.bam")
    parts_dir = out + ".parts"
    _dfs.makedirs(parts_dir)
    impostor = b"IMPOSTOR-STALE-PART-BYTES" * 10
    with open(os.path.join(parts_dir, "part-00000"), "wb") as f:
        f.write(impostor)
    with open(os.path.join(parts_dir, "part-00001.tmp"), "wb") as f:
        f.write(b"ORPHANED-TMP" * 10)

    header = SamHeader(text=HEADER_TEXT)
    rows = [_mk_row(i, p) for p in (0, 1) for i in range(20)]
    df = spark.createDataFrame(rows, READS_SCHEMA).repartition(2)
    # .bai needs global coordinate order; keep it off for this hash-
    # partitioned input — the point here is the concat set
    write_bam(df, header, out, write_bai=False)

    data = open(out, "rb").read()
    assert b"IMPOSTOR" not in data and b"ORPHANED" not in data
    back, _ = read_bam(spark, out)
    assert back.count() == 40
    assert sorted(r.name for r in back.select("name").collect()) == sorted(
        r["name"] for r in rows
    )
    assert not os.path.exists(parts_dir)  # cleaned up


def test_vcf_single_file_excludes_impostor(spark, planned_inputs, tmp_path):
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.variants import read_vcf

    df, header = read_vcf(spark, planned_inputs["plain_vcf"])
    out = str(tmp_path / "out.vcf")
    parts_dir = out + ".parts"
    _dfs.makedirs(parts_dir)
    with open(os.path.join(parts_dir, "part-00000"), "wb") as f:
        f.write(b"##IMPOSTOR-LINE\n" * 5)

    write_vcf(df.repartition(2), header, out)
    text = open(out, "rb").read()
    assert b"IMPOSTOR" not in text
    back, _ = read_vcf(spark, out)
    assert back.count() == df.count()


def test_sam_single_file_excludes_impostor(spark, planned_inputs, tmp_path):
    from disq_spark.sinks.reads import write_sam
    from disq_spark.sources.bam_source import read_bam
    from disq_spark.sources.reads import read_sam

    df, header = read_bam(spark, planned_inputs["bam"])
    out = str(tmp_path / "out.sam")
    parts_dir = out + ".parts"
    _dfs.makedirs(parts_dir)
    with open(os.path.join(parts_dir, "part-00000"), "w") as f:
        f.write("IMPOSTOR\tLINE\n")

    write_sam(df.repartition(2), header, out)
    assert "IMPOSTOR" not in open(out).read()
    back, _ = read_sam(spark, out)
    assert back.count() == df.count()


def test_attempt_unique_staging_two_attempts_one_winner(tmp_path):
    """Simulate speculation at the encode_part level: two attempts of the
    same partition write under DIFFERENT names (so neither interleaves
    the other); finalize from only the winner's name merges only the
    winner and ignores the loser's part + index fragments."""
    from disq_spark.formats import sbi as sbimod
    from disq_spark.headers import SamHeader
    from disq_spark.sinks.bam import encode_part, finalize_single

    parts_dir = str(tmp_path / "y.bam.parts")
    _dfs.makedirs(parts_dir)
    refs = [("c1", 100_000)]
    ref_index = {"c1": 0}

    rows = [_mk_row(i, 0) for i in range(25)]
    winner = os.path.join(parts_dir, "part-00000-aaaaaaaa")
    loser = os.path.join(parts_dir, "part-00000-bbbbbbbb")
    for p in (winner, loser):
        n = encode_part(iter(rows), p, ref_index, granularity=1, with_bai=True)
        assert n == 25
    assert len(merge.list_parts(parts_dir)) == 2  # both attempts on disk

    out = str(tmp_path / "y.bam")
    header = SamHeader(text=HEADER_TEXT)
    finalize_single(out, parts_dir, header, refs, [winner],
                    with_sbi=True, with_bai=True)
    idx = sbimod.read_sbi(out + ".sbi")
    assert idx.total_records == 25  # one attempt's records, not two
    assert idx.granularity == 1  # the parts' own, not finalize_single's default


def test_bam_missing_order_sidecar_refused(tmp_path):
    """A part in the finalize set whose .order sidecar is missing can only
    be a partially-failed attempt or a foreign file — the .bai merge must
    refuse it rather than silently pass (and must leave nothing behind)."""
    from disq_spark.headers import SamHeader
    from disq_spark.sinks.bam import encode_part, finalize_single

    parts_dir = str(tmp_path / "z.bam.parts")
    _dfs.makedirs(parts_dir)
    refs = [("c1", 100_000)]
    part = os.path.join(parts_dir, "part-00000-aaaaaaaa")
    n = encode_part(iter([_mk_row(i, 0) for i in range(10)]), part,
                    {"c1": 0}, granularity=1, with_bai=True)
    assert n == 10
    os.remove(os.path.join(parts_dir, ".part-00000-aaaaaaaa.order"))

    out = str(tmp_path / "z.bam")
    with pytest.raises(ValueError, match="order sidecar"):
        finalize_single(out, parts_dir, SamHeader(text=HEADER_TEXT), refs,
                        [part], with_sbi=True, with_bai=True)
    # failed finalize leaves no partial target, no index, no parts dir
    assert not os.path.exists(out)
    assert not os.path.exists(out + ".bai")
    assert not os.path.exists(parts_dir)


def test_bam_failed_finalize_leaves_nothing(tmp_path):
    """Globally-interleaved parts: the order check fires BEFORE any
    target byte is written and the failure path removes the parts dir."""
    from disq_spark.headers import SamHeader
    from disq_spark.sinks.bam import encode_part, finalize_single

    parts_dir = str(tmp_path / "w.bam.parts")
    _dfs.makedirs(parts_dir)
    refs = [("c1", 100_000)]
    # part B starts before part A ended -> interleaved
    pa = os.path.join(parts_dir, "part-00000-aaaaaaaa")
    pb = os.path.join(parts_dir, "part-00001-bbbbbbbb")
    encode_part(iter([_mk_row(i, 5) for i in range(10)]), pa, {"c1": 0}, 1, True)
    encode_part(iter([_mk_row(i, 0) for i in range(10)]), pb, {"c1": 0}, 1, True)

    out = str(tmp_path / "w.bam")
    with pytest.raises(ValueError, match="coordinate-sorted"):
        finalize_single(out, parts_dir, SamHeader(text=HEADER_TEXT), refs,
                        [pa, pb], with_sbi=True, with_bai=True)
    assert not os.path.exists(out)
    assert not os.path.exists(parts_dir)


def test_cram_unsorted_header_skips_crai(spark, tmp_path):
    """A non-coordinate header with the default write_crai=True writes a
    valid CRAM with NO .crai instead of raising mid-finalize (the .crai
    is a coordinate index; htsjdk also only writes it for coordinate
    order)."""
    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA
    from disq_spark.sinks.cram import write_cram
    from disq_spark.sources.cram_source import read_cram

    rows = [dict(_mk_row(i, p), seq=None, qual=None, cigar=None,
                 contig=None, start=None, end=None, mapq=None,
                 flags=4) for p in (0, 1) for i in range(5)]
    header = SamHeader(
        text="@HD\tVN:1.6\tSO:queryname\n@SQ\tSN:c1\tLN:100000\n"
    )
    df = spark.createDataFrame(rows, READS_SCHEMA).repartition(2)
    out = str(tmp_path / "u.cram")
    write_cram(df, header, out)  # default write_crai=True
    assert os.path.exists(out)
    assert not os.path.exists(out + ".crai")
    back, _ = read_cram(spark, out)
    assert back.count() == 10
    assert not os.path.exists(out + ".parts")


def test_rejected_overwrite_preserves_existing_target(spark, tmp_path):
    """A write_bam over an EXISTING good BAM whose new parts fail the
    cross-part order validation must leave yesterday's file and its
    indexes byte-for-byte untouched (the failure happens before the old
    target is deleted), and must clean up its parts dir."""
    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA
    from disq_spark.sinks.bam import write_bam

    out = str(tmp_path / "keep.bam")
    header = SamHeader(text=HEADER_TEXT)
    good = [_mk_row(i, 0) for i in range(20)]
    df = spark.createDataFrame(good, READS_SCHEMA).coalesce(1)
    write_bam(df, header, out)  # coordinate header -> .sbi + .bai
    want = {p: open(p, "rb").read() for p in (out, out + ".sbi", out + ".bai")}

    # per-part-sorted but globally-interleaved input: each partition is
    # internally ordered, so the task-side builder guard passes and the
    # failure surfaces at the driver's cross-part check
    bad = [_mk_row(i, p) for p in (5, 0) for i in range(10)]
    bad_df = (
        spark.createDataFrame(bad, READS_SCHEMA)
        .repartition(2, "start")
        .sortWithinPartitions("start")
    )
    with pytest.raises(ValueError):
        write_bam(bad_df, header, out)

    for p, content in want.items():
        assert os.path.exists(p) and open(p, "rb").read() == content
    assert not os.path.exists(out + ".parts")


def test_build_sbi_excludes_losing_attempt_fragment(spark, planned_inputs, tmp_path):
    """READ-side distributed index construction (build_sbi) has the same
    attempt-isolation obligation as the write sinks above: a losing
    speculative/zombie attempt's fragment (attempt-unique name, already
    on disk) must never reach the merge — the driver merges ONLY the
    fragment paths reported by collected winning tasks. Plant a
    plausible-named garbage fragment before the build and require the
    built index byte-identical to a clean build."""
    import shutil

    from disq_spark.formats.sbi import SbiIndex, write_sbi
    from disq_spark.sources.bam_source import build_sbi

    src = planned_inputs["bam"]
    split = planned_inputs["bam_split"]
    clean = str(tmp_path / "clean.bam")
    shutil.copyfile(src, clean)
    truth = open(
        build_sbi(spark, clean, split_size=split, granularity=1), "rb"
    ).read()

    dirty = str(tmp_path / "dirty.bam")
    shutil.copyfile(src, dirty)
    parts_dir = dirty + ".sbi.parts"
    _dfs.makedirs(parts_dir)
    # a well-formed .sbi fragment of the part name attempt_part_path
    # gives chunk 0, sorting first: garbage virtual offsets
    write_sbi(
        os.path.join(parts_dir, ".part-0000000000-00000000.sbi"), SbiIndex(0, 4, 1, [1, 2, 3, 4])
    )

    out = build_sbi(spark, dirty, split_size=split, granularity=1)
    assert open(out, "rb").read() == truth
    assert not os.path.exists(parts_dir)  # staging cleaned up


def test_build_bai_excludes_losing_attempt_fragment(spark, planned_inputs, tmp_path):
    """Same guarantee for build_bai's per-chunk .bai fragments: a stale
    losing-attempt fragment AND its order sidecar planted in the parts
    dir must not perturb the merged index (merge set = collected task
    reports, never a directory listing)."""
    import shutil

    from disq_spark.sinks.bam import write_bam
    from disq_spark.sources.bam_source import build_bai, read_bam

    split = planned_inputs["bam_split"]
    df, header = read_bam(spark, planned_inputs["bam"], split_size=split)
    sorted_bam = str(tmp_path / "sorted.bam")
    write_bam(df.coalesce(1), header, sorted_bam, write_bai=False)

    clean = str(tmp_path / "clean.bam")
    shutil.copyfile(sorted_bam, clean)
    truth = open(build_bai(spark, clean, split_size=split), "rb").read()

    dirty = str(tmp_path / "dirty.bam")
    shutil.copyfile(sorted_bam, dirty)
    parts_dir = dirty + ".bai.parts"
    _dfs.makedirs(parts_dir)
    impostor = "part-0000000000-00000000"  # sorts before every real base
    with open(os.path.join(parts_dir, f".{impostor}.bai"), "wb") as f:
        f.write(b"NOT-A-BAI-FRAGMENT" * 8)
    merge.write_order_sidecar(
        parts_dir, impostor, {"first": [0, 0], "last": [0, 1], "unplaced": False}
    )

    built = build_bai(spark, dirty, split_size=split)
    assert open(built, "rb").read() == truth
    assert not os.path.exists(parts_dir)


def test_collected_parts_follow_partition_order_past_five_digits(monkeypatch, tmp_path):
    """``attempt_part_path`` names sort in partition order for every
    partition id, so ``collected_parts`` merges chunks in file order even
    past 99,999 partitions (a 5-digit pad put ``part-100000`` between
    ``part-10000`` and ``part-10001``)."""
    from collections import namedtuple

    import pyspark

    class FakeContext:
        def __init__(self, pid):
            self.pid = pid

        def partitionId(self):
            return self.pid

    pids = [0, 9, 10000, 10001, 99998, 99999, 100000, 100001, 1000000, 2**31 - 1]
    names = {}
    for pid in pids:
        monkeypatch.setattr(pyspark.TaskContext, "get", classmethod(lambda cls, p=pid: FakeContext(p)))
        names[pid] = merge.attempt_part_path(str(tmp_path))
    Row = namedtuple("Row", "part n")
    rows = [Row(names[pid], 1) for pid in reversed(pids)] + [Row("", 0)]
    assert merge.collected_parts(rows) == [names[pid] for pid in pids]


def _chrA_rows(n, first, unplaced=0):
    """``n`` 10-base reads on fixtures/ref.fa's chrA from ``first`` on,
    then ``unplaced`` unplaced unmapped reads."""
    placed = [
        dict(_mk_row(i, 0), name=f"a{first + i}", contig="chrA",
             start=first + i, end=first + i + 9)
        for i in range(n)
    ]
    return placed + [
        dict(_mk_row(i, 0), name=f"u{first + i}", flags=4, contig=None, start=None,
             end=None, mapq=None, cigar=None)
        for i in range(unplaced)
    ]


CHRA_HEADER = "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chrA\tLN:30000\n"


def _sink_case(spark, planned_inputs, fmt, tmp_path):
    """(frame, write(frame, path), target path, index sidecars) for one
    single-file sink."""
    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sinks.cram import write_cram
    from disq_spark.sinks.reads import write_sam
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.fastq import read_fastq, write_fastq
    from disq_spark.sources.variants import read_vcf

    if fmt == "vcf":
        df, vheader = read_vcf(spark, planned_inputs["plain_vcf"])
        return (df, lambda d, p: write_vcf(d, vheader, p, write_tbi=True),
                str(tmp_path / "out.vcf.bgz"), (".tbi",))
    if fmt == "fastq":
        fastq = os.path.join(os.path.dirname(REF_FA), "sample.fastq")
        return read_fastq(spark, fastq), write_fastq, str(tmp_path / "out.fastq"), ()
    header = SamHeader(text=CHRA_HEADER)
    df = spark.createDataFrame(_chrA_rows(40, 1), READS_SCHEMA)
    write, idx = {
        "bam": (lambda d, p: write_bam(d, header, p), (".sbi", ".bai")),
        "cram": (lambda d, p: write_cram(d, header, p, reference_path=REF_FA), (".crai",)),
        "sam": (lambda d, p: write_sam(d, header, p), ()),
    }[fmt]
    return df, write, str(tmp_path / f"out.{fmt}"), idx


def _failing(df):
    """``df`` over two partitions whose second task fails."""
    from pyspark.sql import functions as F

    c = df.columns[0]
    return df.repartition(2).withColumn(
        c, F.when(F.spark_partition_id() == 1, F.raise_error("task failure")).otherwise(F.col(c))
    )


@pytest.mark.parametrize("fmt", ["bam", "vcf", "cram", "sam", "fastq"])
def test_failed_task_keeps_existing_target(spark, planned_inputs, tmp_path, fmt):
    """A single-file write whose job fails must leave yesterday's file
    and its indexes byte-for-byte in place: the old target is deleted
    only in the commit, after every task has succeeded."""
    df, write, out, idx = _sink_case(spark, planned_inputs, fmt, tmp_path)
    write(df.coalesce(1), out)
    want = {p: open(p, "rb").read() for p in [out] + [out + e for e in idx]}

    with pytest.raises(Exception, match="task failure"):
        write(_failing(df), out)
    for p, content in want.items():
        assert os.path.exists(p) and open(p, "rb").read() == content


@pytest.mark.parametrize("fmt", ["bam", "vcf", "cram", "sam", "fastq"])
def test_failed_task_removes_parts_dir(spark, planned_inputs, tmp_path, fmt):
    """A failed job leaves no ``<path>.parts`` behind, the parts the
    successful tasks staged included."""
    df, write, out, _idx = _sink_case(spark, planned_inputs, fmt, tmp_path)
    with pytest.raises(Exception, match="task failure"):
        write(_failing(df), out)
    assert not os.path.exists(out + ".parts")
    assert not os.path.exists(out)


@pytest.mark.parametrize("fmt", ["bam", "cram"])
def test_placed_part_after_unplaced_reads_refused(spark, tmp_path, fmt):
    """Part 0 = [chrA:1-5, 3 unplaced], part 1 = [chrA:101-105]: each part
    is sorted, but the file would hold unplaced reads mid-way. BAM and
    CRAM share one cross-part order rule and refuse it before any target
    byte is written."""
    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sinks.cram import write_cram

    sc = spark.sparkContext
    rdd = sc.parallelize(_chrA_rows(5, 1, unplaced=3), 1).union(
        sc.parallelize(_chrA_rows(5, 101), 1)
    )
    df = spark.createDataFrame(rdd, READS_SCHEMA)
    header = SamHeader(text=CHRA_HEADER)
    out = str(tmp_path / f"bad.{fmt}")
    with pytest.raises(ValueError, match="unplaced reads last"):
        if fmt == "bam":
            write_bam(df, header, out)
        else:
            write_cram(df, header, out, reference_path=REF_FA)
    assert not os.path.exists(out)
    assert not os.path.exists(out + (".bai" if fmt == "bam" else ".crai"))
    assert not os.path.exists(out + ".parts")
