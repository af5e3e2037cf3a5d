"""CRAM: planning layer + pure-Python record decode (HtsjdkReadsRddTest
CRAM rows, :74-77 — read valid.cram with valid.fasta)."""

import os

import pytest
from pyspark.sql import functions as F

from disq_spark.formats.cram import (
    plan_cram_containers,
    read_crai,
    read_itf8,
    read_ltf8,
    scan_containers,
)
from disq_spark.sources.cram_source import plan_cram, read_cram

N_RECORDS = 8  # valid.cram ground truth (sum of container record counts)
REF_FA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "ref.fa")


def test_itf8_roundtrip_points():
    # spot values across the encoding tiers
    assert read_itf8(bytes([0x05]), 0) == (5, 1)
    assert read_itf8(bytes([0x80 | 0x01, 0x02]), 0) == (0x0102, 2)
    assert read_itf8(bytes([0xC0 | 0x01, 0x02, 0x03]), 0) == (0x010203, 3)
    # 5-byte negative (-1)
    v, n = read_itf8(bytes([0xFF, 0xFF, 0xFF, 0xFF, 0x0F]), 0)
    assert v == -1 and n == 5
    assert read_ltf8(bytes([0x7F]), 0) == (0x7F, 1)


def test_scan_containers_full_coverage(fixtures_dir):
    for name in ("valid.cram", "valid_no_index.cram"):
        p = os.path.join(fixtures_dir, name)
        cs = scan_containers(p)
        assert cs[-1].end == os.path.getsize(p)
        assert cs[-1].is_eof
        assert sum(c.n_records for c in cs) == N_RECORDS
        for a, b in zip(cs, cs[1:]):
            assert a.end == b.offset


def test_crai_offsets_match_scan(fixtures_dir):
    p = os.path.join(fixtures_dir, "valid.cram")
    offsets = {c.offset for c in scan_containers(p)}
    for entry in read_crai(p + ".crai"):
        assert entry[3] in offsets


def test_plan_prefers_crai(fixtures_dir):
    plan = plan_cram(os.path.join(fixtures_dir, "valid.cram"), split_size=1000)
    assert plan  # (path, start, end) triples from the index
    assert all(s < e for _p, s, e in plan)
    plan2 = plan_cram_containers(
        os.path.join(fixtures_dir, "valid_no_index.cram"), split_size=1000
    )
    assert plan2


def test_read_cram_decodes(spark, fixtures_dir):
    df, header = read_cram(
        spark,
        os.path.join(fixtures_dir, "valid.cram"),
        reference_path=os.path.join(fixtures_dir, "valid.fasta"),
    )
    rows = df.collect()
    assert len(rows) == N_RECORDS
    assert header.sort_order == "coordinate"
    mapped = [r for r in rows if r.contig is not None]
    assert all(r.seq is not None and len(r.seq) == 101 for r in rows)
    assert all(r.start <= r.end for r in mapped)
    # a record with indels keeps cigar arithmetic consistent
    gapped = [r for r in mapped if "D" in (r.cigar or "") or "I" in (r.cigar or "")]
    assert gapped
    from disq_spark.formats.sam import cigar_reference_length

    for r in gapped:
        assert r.end - r.start + 1 == cigar_reference_length(r.cigar)


def test_cram_indexless_equals_indexed(spark, fixtures_dir):
    """valid.cram (.crai planning) and valid_no_index.cram (header-walk
    planning) hold the same records — decode must agree."""
    fasta = os.path.join(fixtures_dir, "valid.fasta")
    a, _ = read_cram(spark, os.path.join(fixtures_dir, "valid.cram"), reference_path=fasta)
    b, _ = read_cram(
        spark, os.path.join(fixtures_dir, "valid_no_index.cram"), reference_path=fasta
    )
    cols = ["name", "flags", "contig", "start", "end", "cigar", "seq", "qual"]
    assert sorted(map(tuple, a.select(cols).collect())) == sorted(
        map(tuple, b.select(cols).collect())
    )


def test_cram_interval_filter(spark, fixtures_dir):
    from disq_spark.functions.intervals import Interval

    df, _ = read_cram(
        spark,
        os.path.join(fixtures_dir, "valid.cram"),
        reference_path=os.path.join(fixtures_dir, "valid.fasta"),
        intervals=[Interval("chr7", 1, 150)],
    )
    rows = df.collect()
    assert rows and all(r.contig == "chr7" and r.start <= 150 for r in rows)


def test_cram_to_bam_roundtrip(spark, fixtures_dir, tmp_path):
    """CRAM -> reads DataFrame -> single-file BAM -> re-read: the decoded
    records survive the BAM codec unchanged (cross-format consistency)."""
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sources.bam_source import read_bam

    df, header = read_cram(
        spark,
        os.path.join(fixtures_dir, "valid.cram"),
        reference_path=os.path.join(fixtures_dir, "valid.fasta"),
    )
    out = str(tmp_path / "from_cram.bam")
    write_bam(df, header, out)
    back, _ = read_bam(spark, out)
    cols = ["name", "flags", "contig", "start", "mapq", "cigar", "seq", "qual"]
    assert sorted(map(tuple, df.select(cols).collect())) == sorted(
        map(tuple, back.select(cols).collect())
    )


def test_bigger_real_file(fixtures_dir):
    p = os.path.join(fixtures_dir, "CEUTrio.HiSeq.WGS.b37.NA12878.20.21.10m-10m100.cram")
    cs = scan_containers(p)
    assert sum(c.n_records for c in cs) == 654
    assert cs[-1].end == os.path.getsize(p)


def test_rans_v3_real_world_decode(spark, fixtures_dir):
    """CRAM 3.0 + rANS (htsjdk default): the real-world GATK fixture
    decodes structurally — 654 records, exact CIGAR/position/length
    arithmetic (RealWorldFilesIT analog; reference FASTA not vendored,
    so sequences use the N-placeholder mode)."""
    import re

    from disq_spark.sources.cram_source import read_cram

    p = os.path.join(fixtures_dir, "CEUTrio.HiSeq.WGS.b37.NA12878.20.21.10m-10m100.cram")
    df, header = read_cram(spark, p, reference_path=None, missing_ref_as_n=True)
    rows = df.collect()
    assert len(rows) == 654
    assert {r.contig for r in rows} == {"20", "21"}
    cig = re.compile(r"(\d+)([MIDNSHP=X])")
    for r in rows:
        if r.contig and r.cigar:
            ref_len = sum(int(n) for n, op in cig.findall(r.cigar) if op in "MDN=X")
            assert r.end - r.start + 1 == ref_len
            read_len = sum(int(n) for n, op in cig.findall(r.cigar) if op in "MIS=X")
            assert read_len == len(r.seq)


def test_cram_write_roundtrip_single_file(spark, fixtures_dir, tmp_path):
    """CRAM sink: distributed single-file write + merged .crai, re-read
    with our own reader — value-identical records (CramSink analog)."""
    from disq_spark.sinks.cram import write_cram

    import pytest

    from disq_spark.operators.genomics import coordinate_sort

    fasta = os.path.join(fixtures_dir, "valid.fasta")
    df, header = read_cram(spark, os.path.join(fixtures_dir, "valid.cram"), reference_path=fasta)
    out = str(tmp_path / "out.cram")
    # hash repartition scrambles order under the SO:coordinate header:
    # the per-record guard must refuse (it used to silently write a
    # .crai over out-of-order containers)
    with pytest.raises(Exception, match="coordinate-sorted records"):
        write_cram(df.repartition(3), header, str(tmp_path / "bad.cram"), reference_path=fasta)
    write_cram(coordinate_sort(df, header, num_partitions=3), header, out, reference_path=fasta)
    assert os.path.exists(out) and os.path.exists(out + ".crai")

    back, header2 = read_cram(spark, out, reference_path=fasta)
    assert header2.sequences == header.sequences
    cols = ["name", "flags", "contig", "start", "end", "mapq", "cigar",
            "mate_contig", "mate_start", "seq", "qual"]
    assert sorted(map(tuple, back.select(cols).collect())) == sorted(
        map(tuple, df.select(cols).collect())
    )
    # container structure sane: scan agrees with the .crai offsets
    cs = scan_containers(out)
    assert cs[-1].is_eof
    offsets = {c.offset for c in cs}
    for e in read_crai(out + ".crai"):
        assert e[3] in offsets


def test_cram_write_sharded(spark, fixtures_dir, tmp_path):
    from disq_spark.sinks.cram import write_cram

    fasta = os.path.join(fixtures_dir, "valid.fasta")
    df, header = read_cram(spark, os.path.join(fixtures_dir, "valid.cram"), reference_path=fasta)
    out = str(tmp_path / "cram_shards")
    write_cram(df.repartition(2), header, out, reference_path=fasta, single_file=False)
    shards = [f for f in os.listdir(out) if f.endswith(".cram")]
    assert len(shards) == 2
    back, _ = read_cram(spark, out, reference_path=fasta)
    assert back.count() == N_RECORDS


def _bgzip_with_gzi(tmp_path) -> str:
    """``fixtures/ref.fa`` as BGZF blocks of 4,000 bytes (so slices cross
    blocks) with its ``.fai`` and a ``.gzi`` listing every block after the
    first, as ``bgzip -i`` writes it."""
    import shutil
    import struct

    from disq_spark.formats import bgzf

    with open(REF_FA, "rb") as f:
        text = f.read()
    gz = str(tmp_path / "ref.fa.gz")
    blocks = [bgzf.compress_block(text[i : i + 4000]) for i in range(0, len(text), 4000)]
    with open(gz, "wb") as f:
        f.write(b"".join(blocks) + bgzf.EOF_BLOCK)
    entries = [(sum(map(len, blocks[:i])), 4000 * i) for i in range(1, len(blocks))]
    with open(gz + ".gzi", "wb") as f:
        f.write(struct.pack("<Q", len(entries)) + b"".join(struct.pack("<QQ", c, u) for c, u in entries))
    shutil.copy(REF_FA + ".fai", gz + ".fai")
    return gz


@pytest.mark.parametrize("source", ["fixture", "generated"])
def test_gzi_indexed_reference(fixtures_dir, tmp_path, source):
    """Bgzipped reference + .gzi/.fai random access
    (CramReferenceSourceBuilder.java:50-59): slices equal the plain
    FASTA, reading only covering blocks."""
    from disq_spark.formats.cram_decode import FastaReference
    from disq_spark.formats.gzi import IndexedBgzfFasta, open_reference

    if source == "fixture":
        fasta, gz = os.path.join(fixtures_dir, "valid.fasta"), os.path.join(fixtures_dir, "valid.fasta.gz")
        contigs = (("chr1", 101), ("chr7", 404), ("chr8", 202))
    else:
        fasta, gz = REF_FA, _bgzip_with_gzi(tmp_path)
        contigs = (("chrA", 30000), ("chrB", 21000), ("chrM", 1200))
    plain = FastaReference(fasta)
    idx = IndexedBgzfFasta(gz)
    for contig, ln in contigs:
        assert idx.get(contig, 1, ln) == plain.get(contig, 1, ln)
        assert idx.get(contig, 5, 37) == plain.get(contig, 5, 37)
        assert idx.get(contig, ln - 3, ln) == plain.get(contig, ln - 3, ln)
    # dispatch picks the indexed path for .gz + sidecars
    ref = open_reference(gz)
    assert isinstance(ref, IndexedBgzfFasta)


def test_cram_decode_with_bgzipped_reference(spark, fixtures_dir):
    """read_cram accepts a bgzipped reference (gzip whole-file load or
    .gzi random access) and produces the same rows as the plain FASTA."""
    a, _ = read_cram(
        spark,
        os.path.join(fixtures_dir, "valid.cram"),
        reference_path=os.path.join(fixtures_dir, "valid.fasta"),
    )
    b, _ = read_cram(
        spark,
        os.path.join(fixtures_dir, "valid.cram"),
        reference_path=os.path.join(fixtures_dir, "valid.fasta.gz"),
    )
    cols = ["name", "flags", "contig", "start", "seq"]
    assert sorted(map(tuple, a.select(cols).collect())) == sorted(
        map(tuple, b.select(cols).collect())
    )


def test_crai_interval_partition_pruning(spark, fixtures_dir):
    """With a .crai, interval planning must drop containers whose slice
    spans miss the query (AbstractBinarySamSource BAI-clip analog for
    CRAM) — and prune to ZERO partitions for an empty region — while
    matching the brute-force residual filter exactly."""
    from disq_spark.functions.intervals import Interval
    from disq_spark.sources.cram_source import plan_cram, read_cram
    from disq_spark.formats.cram_decode import read_cram_header

    path = os.path.join(fixtures_dir, "valid.cram")
    ref = os.path.join(fixtures_dir, "valid.fasta")
    _t, refs = read_cram_header(path)

    full = plan_cram(path)
    hit = plan_cram(path, intervals=[Interval("chr7", 1, 150)], refs=refs)
    miss = plan_cram(path, intervals=[Interval("chr7", 90_000_000, 90_000_100)], refs=refs)
    assert 0 < len(hit) <= len(full)
    assert miss == []  # empty region -> zero tasks

    pruned, _ = read_cram(
        spark, path, reference_path=ref, intervals=[Interval("chr7", 1, 150)]
    )
    brute, _ = read_cram(spark, path, reference_path=ref)
    from disq_spark.functions.intervals import overlaps

    want = sorted(
        (r.name, r.start) for r in brute.filter(overlaps([Interval("chr7", 1, 150)])).collect()
    )
    got = sorted((r.name, r.start) for r in pruned.collect())
    assert got == want and got


def test_build_crai_matches_fixture_index(fixtures_dir, tmp_path):
    """Indexing an existing CRAM reproduces the htsjdk-shipped
    ``valid.cram.crai`` exactly (decompressed content byte-identical;
    the gzip envelope itself is deflate-implementation-defined)."""
    import gzip

    from disq_spark.sources.cram_source import build_crai

    src = os.path.join(fixtures_dir, "valid.cram")
    out = build_crai(src, out=str(tmp_path / "built.crai"))
    with gzip.open(out, "rb") as f:
        mine = f.read()
    with gzip.open(src + ".crai", "rb") as f:
        want = f.read()
    assert mine == want

    # and the built index round-trips through our own reader/planner
    entries = read_crai(out)
    offsets = {c.offset for c in scan_containers(src) if c.n_records > 0}
    assert {e[3] for e in entries} == offsets


def test_rans_compress_roundtrip_and_fixture_parity(fixtures_dir):
    """The order-0 rans4x8 ENCODER: synthetic round-trips across shapes,
    plus parity on real data — every rANS block payload in the GATK
    CRAM 3.0 fixture (decoded by our decoder, i.e. fixture-derived
    ground truth) re-compresses with our encoder and decodes back
    byte-identical."""
    import random

    from disq_spark.formats import rans
    from disq_spark.formats.cram import scan_containers
    from disq_spark.formats.cram_decode import read_block

    rng = random.Random(3)
    cases = [
        b"", b"A", b"AAAA" * 100, bytes(range(256)) * 20,
        bytes(rng.randrange(256) for _ in range(10000)),
        bytes(rng.choice(b"ACGT") for _ in range(50000)),
        bytes(min(255, max(0, int(rng.gauss(30, 5)))) for _ in range(50000)),
    ]
    for d in cases:
        assert rans.uncompress(rans.compress(d)) == d

    from disq_spark.formats.cram import parse_file_definition

    p = os.path.join(
        fixtures_dir, "CEUTrio.HiSeq.WGS.b37.NA12878.20.21.10m-10m100.cram"
    )
    data = open(p, "rb").read()
    major, _minor, _hdr = parse_file_definition(data)
    from disq_spark.formats.cram_decode import read_itf8

    n_rans = 0
    sizes = {0: [0, 0], 1: [0, 0]}  # order -> [htsjdk bytes, our bytes]
    for c in scan_containers(p, data):
        if c.is_eof:
            continue
        off = c.offset + c.header_len
        while off < c.end:
            blk = read_block(data, off, major=major)
            if blk.method == 4:  # fixture-written rANS block
                n_rans += 1
                assert rans.uncompress(rans.compress(blk.data)) == blk.data
                # re-encode with htsjdk's own order choice: size parity
                q = off + 2
                _, q = read_itf8(data, q)
                csize, q = read_itf8(data, q)
                _, q = read_itf8(data, q)
                order = data[q]
                ours = rans.compress_o1(blk.data) if order == 1 else rans.compress(blk.data)
                assert rans.uncompress(ours) == blk.data
                sizes[order][0] += csize
                sizes[order][1] += len(ours)
            off = blk.end
    assert n_rans > 0  # htsjdk really writes rANS blocks here
    assert sizes[1][0] > 0  # htsjdk writes order-1 (quality series) here
    for order, (hts, ours) in sizes.items():
        if hts:  # within 2% of htsjdk's bytes for the same order choice
            assert ours <= hts * 1.02, (order, ours, hts)


def test_cram_write_rans_smaller_than_gzip(spark, fixtures_dir, tmp_path):
    """The pick-smaller BA/QS strategy must produce a file strictly
    smaller than the gzip-only baseline on real reads (the codec-parity
    storage gap this closes), while staying decodable by our reader."""
    import random

    from disq_spark.formats import cram_encode as CE
    from disq_spark.schemas import READS_SCHEMA
    from disq_spark.sinks.cram import write_cram
    from disq_spark.sources.cram_source import read_cram

    # realistic-scale unmapped reads (seq/qual ride the BA/QS series
    # verbatim, no reference FASTA needed); tiny fixtures never reach
    # the corpus sizes where entropy coding wins
    rng = random.Random(11)
    rows = [
        {
            "name": f"r{i}", "flags": 4, "contig": None, "start": None,
            "end": None, "mapq": None, "cigar": None, "mate_contig": None,
            "mate_start": None, "template_len": 0,
            "seq": "".join(rng.choice("ACGT") for _ in range(100)),
            "qual": "".join(chr(33 + max(0, min(40, int(rng.gauss(30, 5))))) for _ in range(100)),
            "tags": None, "read_group": None,
        }
        for i in range(2000)
    ]
    header_text = "@HD\tVN:1.6\tSO:unsorted\n@SQ\tSN:c1\tLN:1000\n"
    from disq_spark.headers import SamHeader

    header = SamHeader(text=header_text)
    df = spark.createDataFrame(rows, READS_SCHEMA).coalesce(1)

    out = str(tmp_path / "rans.cram")
    write_cram(df, header, out, write_crai=False)

    # block-level audit of the written file: the bulk series actually
    # chose rANS, and each rANS block strictly beats its gzip encoding
    # (pick-smaller makes the whole file < the gzip-only baseline by
    # exactly the sum of these per-block savings)
    import zlib

    from disq_spark.formats.cram import parse_file_definition, scan_containers
    from disq_spark.formats.cram_decode import read_block

    data = open(out, "rb").read()
    major, _minor, _hdr = parse_file_definition(data)
    n_rans = 0
    saved = 0
    for c in scan_containers(out, data):
        if c.is_eof:
            continue
        off = c.offset + c.header_len
        while off < c.end:
            blk = read_block(data, off, major=major)
            if blk.method == 4:
                n_rans += 1
                from disq_spark.formats import rans

                comp = zlib.compressobj(6, zlib.DEFLATED, 15 + 16)
                gz_len = len(comp.compress(blk.data) + comp.flush())
                rans_len = min(len(rans.compress(blk.data)), len(rans.compress_o1(blk.data)))
                assert rans_len < gz_len, (rans_len, gz_len)
                saved += gz_len - rans_len
            off = blk.end
    assert n_rans > 0 and saved > 0, "no series chose rANS"

    back, _ = read_cram(spark, out)
    assert back.count() == 2000
    got = {r.name: r for r in back.collect()}
    for r in rows[:50]:
        assert got[r["name"]].seq == r["seq"] and got[r["name"]].qual == r["qual"]


def test_cram_write_quality_series_picks_order1(spark, tmp_path):
    """Context-correlated quality strings (a bounded random walk — the
    real-world shape) must make the QS series land on rans4x8 ORDER-1,
    beating both gzip and order-0 (htsjdk also writes quality order-1);
    the file stays decodable by our reader with values intact."""
    import random
    import zlib

    from disq_spark.formats import rans
    from disq_spark.formats.cram import parse_file_definition, scan_containers
    from disq_spark.formats.cram_decode import read_block, read_itf8
    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA
    from disq_spark.sinks.cram import write_cram
    from disq_spark.sources.cram_source import read_cram

    rng = random.Random(7)
    rows = []
    for i in range(3000):
        v, q = 30, []
        for _ in range(100):
            v = max(2, min(40, v + rng.choice((-2, -1, 0, 0, 0, 1, 2))))
            q.append(chr(33 + v))
        rows.append(
            {
                "name": f"r{i}", "flags": 4, "contig": None, "start": None,
                "end": None, "mapq": None, "cigar": None, "mate_contig": None,
                "mate_start": None, "template_len": 0,
                "seq": "".join(rng.choice("ACGT") for _ in range(100)),
                "qual": "".join(q), "tags": None, "read_group": None,
            }
        )
    header = SamHeader(text="@HD\tVN:1.6\tSO:unsorted\n@SQ\tSN:c1\tLN:1000\n")
    df = spark.createDataFrame(rows, READS_SCHEMA).coalesce(1)
    out = str(tmp_path / "o1.cram")
    write_cram(df, header, out, write_crai=False)

    data = open(out, "rb").read()
    major, _minor, _hdr = parse_file_definition(data)
    n_o1 = 0
    for c in scan_containers(out, data):
        if c.is_eof:
            continue
        off = c.offset + c.header_len
        while off < c.end:
            blk = read_block(data, off, major=major)
            if blk.method == 4:
                q2 = off + 2
                _, q2 = read_itf8(data, q2)
                csize, q2 = read_itf8(data, q2)
                _, q2 = read_itf8(data, q2)
                if data[q2] == 1:  # order byte inside the stream
                    n_o1 += 1
                    comp = zlib.compressobj(6, zlib.DEFLATED, 15 + 16)
                    gz_len = len(comp.compress(blk.data) + comp.flush())
                    assert csize < gz_len and csize < len(rans.compress(blk.data))
            off = blk.end
    assert n_o1 > 0, "no block chose rans order-1"

    back, _ = read_cram(spark, out)
    got = {r.name: r.qual for r in back.collect()}
    assert len(got) == 3000
    for r in rows[:50]:
        assert got[r["name"]] == r["qual"]


def test_cram_whole_file_parity_valid_fixture(spark, fixtures_dir, tmp_path):
    """Whole-pipeline storage parity on the one fixture whose reference
    FASTA is vendored (valid.cram + valid.fasta, htsjdk-written): our
    sink's output must be no larger than the htsjdk file and re-read
    value-identical including tags. The block-level codec-parity number
    (0.9927 on CEUTrio, BASELINE.md) is pinned separately in
    test_rans_roundtrip_and_size_parity; this guards the end-to-end
    write path (container layout + per-block method choice)."""
    import os

    from disq_spark.sinks.cram import write_cram
    from disq_spark.sources.cram_source import read_cram

    src = os.path.join(fixtures_dir, "valid.cram")
    ref = os.path.join(fixtures_dir, "valid.fasta")
    df, header = read_cram(spark, src, reference_path=ref)
    out = str(tmp_path / "ours.cram")
    write_cram(df, header, out, reference_path=ref)
    assert os.path.getsize(out) <= os.path.getsize(src)

    back, _ = read_cram(spark, out, reference_path=ref)
    cols = ["name", "flags", "contig", "start", "mapq", "cigar", "seq", "qual", "tags"]
    want = sorted((tuple(r[:-1]) + (sorted((r[-1] or {}).items()),)) for r in df.select(cols).collect())
    got = sorted((tuple(r[:-1]) + (sorted((r[-1] or {}).items()),)) for r in back.select(cols).collect())
    assert want == got


def test_cram_samtools_cross_validation(spark):
    """External-decoder parity for OUR CRAM writer (reference test
    style: SamtoolsTestUtil.java, HtsjdkReadsRddTest.java:151-153).
    Skips when samtools is absent (this container today); the day the
    binary appears, this asserts samtools view count + core-field md5
    parity on our encoding of the CEUTrio fixture. One command stands
    ready: python tools/xval_cram.py"""
    import shutil as _sh

    import pytest as _pt

    if _sh.which("samtools") is None:
        _pt.skip("samtools not on PATH — xval recipe ready in tools/xval_cram.py")
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from xval_cram import run_xval

    msg = run_xval(spark)
    assert msg.startswith("PASS"), msg
