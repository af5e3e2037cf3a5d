"""Tabix split pruning: parity with TribbleIndexIntervalFiltering
(pruned read == full read + filter; fewer splits scanned)."""

import gzip
import os

import pytest

from conftest import fixture, needs_reference, upstream
from disq_spark.formats.tabix import chunks_for_interval, read_tbi, split_overlaps_intervals
from disq_spark.functions.intervals import Interval, overlaps
from disq_spark.sources.variants import read_vcf


def _vcfs(gen_variants):
    """Each BGZF VCF (with .tbi) a test reads: the generated one, and
    the upstream HiSeq.10000.vcf.bgz where it exists."""
    return [gen_variants["bgz"]] + upstream(fixture("HiSeq.10000.vcf.bgz"))


def _contig_of(path):
    with gzip.open(path, "rt") as f:
        for line in f:
            if not line.startswith("#"):
                return line.split("\t", 1)[0]


def test_read_tbi(gen_variants):
    for path in _vcfs(gen_variants):
        idx = read_tbi(path + ".tbi")
        assert idx.names
        contig = _contig_of(path)
        assert contig in idx.names
        chunks = chunks_for_interval(idx, contig, 1, 10_000_000)
        assert chunks
        assert chunks_for_interval(idx, "no_such_contig", 1, 100) == []


def test_pruned_read_equals_filtered_read(spark, gen_variants):
    for path in _vcfs(gen_variants):
        contig = _contig_of(path)
        ivs = [Interval(contig, 800_000, 900_000)]

        full, _ = read_vcf(spark, path, split_size=64 * 1024)
        expect = full.filter(overlaps(ivs)).count()

        pruned, _ = read_vcf(spark, path, split_size=64 * 1024, intervals=ivs)
        assert pruned.count() == expect
        assert expect > 0

        # pruning actually dropped splits: the planned partition count must be
        # smaller than the unpruned plan for a narrow interval
        assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()


def test_split_overlap_primitive(gen_variants):
    for path in _vcfs(gen_variants):
        idx = read_tbi(path + ".tbi")
        contig = _contig_of(path)
        size = os.path.getsize(path)
        triples = [(contig, 1, 5_000_000_000)]
        # the whole file overlaps a whole-contig interval
        assert split_overlaps_intervals(idx, 0, size, triples)
        # a range past EOF cannot
        assert not split_overlaps_intervals(idx, size + 10, size + 20, [(contig, 1, 2)])


# ---------------------------------------------------------------------------
# distributed .tbi write + merge (HeaderlessVcfOutputFormat + TbiMerger
# analog of TbiMergingTest.java: distributed merge == serial single-pass
# build of the final file, and the index actually works for pruning)
# ---------------------------------------------------------------------------
def _serial_tbi(path):
    """Ground-truth tabix index: single pass over the finished BGZF VCF."""
    from disq_spark.formats import bgzf
    from disq_spark.formats.tabix import TbiBuilder

    b = TbiBuilder()
    blocks = list(bgzf.scan_blocks(path))
    # walk records with exact virtual offsets (line by line across blocks)
    with open(path, "rb") as f:
        carry = b""
        carry_voff = None
        for blk in blocks:
            data = bgzf.decompress_block(f, blk.pos)
            off = 0
            while True:
                nl = data.find(b"\n", off)
                if nl < 0:
                    if off < len(data):
                        if not carry:
                            carry_voff = (blk.pos << 16) | off
                        carry += data[off:]
                    break
                if carry:
                    line = carry + data[off : nl + 1]
                    v_start = carry_voff
                    carry = b""
                else:
                    line = data[off : nl + 1]
                    v_start = (blk.pos << 16) | off
                nxt = nl + 1
                v_end = (blk.end << 16) if nxt >= len(data) else ((blk.pos << 16) | nxt)
                if not line.startswith(b"#"):
                    fld = line.split(b"\t", 4)
                    contig, pos, ref = fld[0].decode(), int(fld[1]), fld[3].decode()
                    b.add(contig, pos, pos + len(ref) - 1, v_start, v_end)
                off = nxt
    return b.build()


def test_written_tbi_matches_serial_build(spark, gen_variants, tmp_path):
    for i, src in enumerate(_vcfs(gen_variants)):
        _check_written_tbi(spark, src, str(tmp_path / f"out{i}.vcf.bgz"))


def _check_written_tbi(spark, src, out):
    from disq_spark.formats.tabix import read_tbi as _read
    from disq_spark.sinks.variants import write_vcf

    df, header = read_vcf(spark, src, split_size=64 * 1024)  # multi-partition
    write_vcf(df, header, out, write_tbi=True)
    assert os.path.exists(out + ".tbi")

    merged = _read(out + ".tbi")
    serial = _serial_tbi(out)
    assert merged.names == serial.names
    assert merged.bins == serial.bins
    assert merged.stats == serial.stats

    # merged came off disk (absent windows carry forward per
    # hts_idx_finish); apply the same fill to the in-memory serial build
    def fill(lin):
        out_l, prev = [], 0
        for v in lin:
            prev = v if v >= 0 else prev
            out_l.append(prev)
        return out_l

    assert merged.linear == [fill(lin) for lin in serial.linear]


@needs_reference
def test_build_tbi_bytes_match_tabix_fixture(spark, fixtures_dir, tmp_path):
    """Distributed .tbi construction over the htsjdk-shipped BGZF VCF
    reproduces the shipped tabix-built index BYTE-FOR-BYTE — raw file
    bytes, compression included (the reference's own hardest index bar,
    TbiMergingTest.java-style assertArrayEquals). Covers khash bin
    layout, the metadata pseudo-bin, linear fill-forward, htslib voff
    normalization at block boundaries, and the n_no_coor trailer."""
    import shutil

    from disq_spark.sources.variants import build_tbi

    for name in ("HiSeq.10000.vcf.bgz", "HiSeq.10000.vcf.bgzf.gz"):
        src = os.path.join(fixtures_dir, name)
        local = str(tmp_path / name)
        shutil.copy(src, local)
        out = build_tbi(spark, local, split_size=64 * 1024)
        with open(out, "rb") as f:
            mine = f.read()
        with open(src + ".tbi", "rb") as f:
            want = f.read()
        assert mine == want, f"{name}: built .tbi differs from fixture"


def test_build_tbi_split_invariant(spark, gen_variants, tmp_path):
    """The built index must not depend on the split plan: per-split
    fragments merged in file order == one-split serial scan."""
    import shutil

    from disq_spark.sources.variants import build_tbi

    for i, src in enumerate(_vcfs(gen_variants)):
        a = str(tmp_path / f"a{i}.vcf.bgz")
        b = str(tmp_path / f"b{i}.vcf.bgz")
        shutil.copy(src, a)
        shutil.copy(src, b)
        out_a = build_tbi(spark, a, split_size=16 * 1024)  # ~26 splits upstream
        out_b = build_tbi(spark, b, split_size=1 << 30)  # single split
        with open(out_a, "rb") as f:
            bytes_a = f.read()
        with open(out_b, "rb") as f:
            bytes_b = f.read()
        assert bytes_a == bytes_b


def test_written_tbi_prunes_correctly(spark, gen_variants, tmp_path):
    from disq_spark.sinks.variants import write_vcf

    for i, src in enumerate(_vcfs(gen_variants)):
        df, header = read_vcf(spark, src, split_size=64 * 1024)
        out = str(tmp_path / f"q{i}.vcf.bgz")
        write_vcf(df, header, out, write_tbi=True)

        contig = _contig_of(src)
        ivs = [Interval(contig, 800_000, 900_000)]
        full, _ = read_vcf(spark, out, split_size=64 * 1024)
        expect = sorted(
            map(tuple, full.filter(overlaps(ivs)).select("contig", "start", "ref").collect())
        )
        pruned, _ = read_vcf(spark, out, split_size=64 * 1024, intervals=ivs)
        got = sorted(map(tuple, pruned.select("contig", "start", "ref").collect()))
        assert got == expect and len(got) > 0
        assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()


def test_tbi_build_refuses_unsorted_input():
    """Indexing unsorted records would produce a silently-corrupt index
    (regions pruned that DO contain data); the builder must refuse,
    matching htsjdk TabixIndexCreator's features-out-of-order error."""
    import pytest

    from disq_spark.formats.tabix import TbiBuilder

    b = TbiBuilder()
    b.add("20", 1000, 1010, 0, 100)
    with pytest.raises(ValueError, match="coordinate-sorted"):
        b.add("20", 500, 510, 100, 200)

    b2 = TbiBuilder()
    b2.add("20", 1000, 1010, 0, 100)
    b2.add("21", 50, 60, 100, 200)
    with pytest.raises(ValueError, match="contig-grouped"):
        b2.add("20", 2000, 2010, 200, 300)


def test_tbi_merge_refuses_globally_interleaved_parts(spark, planned_inputs, tmp_path):
    """Per-part-sorted but globally-interleaved VCF parts must be
    refused at merge time (cross-part analog of the builder guard).
    The generated input holds one contig, so the contig-grouping guard
    does not refuse first."""
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.variants import read_vcf

    for i, src in enumerate([planned_inputs["vcf"]] + upstream(fixture("HiSeq.10000.vcf.bgz"))):
        df, header = read_vcf(spark, src)
        bad = df.repartition(3).sortWithinPartitions("contig", "start")
        with pytest.raises(Exception, match="globally coordinate-sorted"):
            write_vcf(bad, header, str(tmp_path / f"bad{i}.vcf.bgz"), write_tbi=True)


def test_tbi_cross_part_check_sees_interior_contigs(tmp_path):
    """The two holes from review: (1) a later part revisiting a contig
    INTERIOR to an earlier part, (2) a part whose own LAST contig
    revisits an earlier one — both must be refused; a legal continuation
    must pass."""
    import pytest

    from disq_spark.sinks import merge
    from disq_spark.sinks.variants import _check_cross_part_order

    d = str(tmp_path)

    def sidecar(base, contigs, first, last):
        merge.write_order_sidecar(d, base, {"contigs": contigs, "first": first, "last": last})
        return base

    # hole 1: chr2 is interior to part0, revisited by part1
    p0 = sidecar("part-00000", ["chr1", "chr2", "chr3"], ["chr1", 100], ["chr3", 50])
    p1 = sidecar("part-00001", ["chr2"], ["chr2", 10], ["chr2", 99])
    with pytest.raises(ValueError, match="contig-grouped"):
        _check_cross_part_order(d, [p0, p1])

    # hole 2: part1's LAST contig revisits part0's first
    p0 = sidecar("part-00010", ["chr1", "chr2"], ["chr1", 5], ["chr2", 9])
    p1 = sidecar("part-00011", ["chr2", "chr1"], ["chr2", 20], ["chr1", 3])
    with pytest.raises(ValueError, match="contig-grouped"):
        _check_cross_part_order(d, [p0, p1])

    # legal: same-contig continuation then a fresh contig
    p0 = sidecar("part-00020", ["chr1"], ["chr1", 5], ["chr1", 50])
    p1 = sidecar("part-00021", ["chr1", "chr2"], ["chr1", 50], ["chr2", 10])
    _check_cross_part_order(d, [p0, p1])

    # position regression on the open contig
    p1 = sidecar("part-00022", ["chr1"], ["chr1", 40], ["chr1", 90])
    with pytest.raises(ValueError, match="coordinate-sorted"):
        _check_cross_part_order(d, [p0, p1])
