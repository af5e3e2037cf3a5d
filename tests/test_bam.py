"""BAM path: header, sbi + guesser planning, decode, round-trip, sbi merge.

Models HtsjdkReadsRddTest.testReadAndWrite / testWriteSBIIndex and
BamSourceTest.testPathChunksDontOverlap."""

import os

import pytest
from pyspark.sql import functions as F

from disq_spark.formats import sbi as sbimod
from disq_spark.sinks.bam import write_bam
from disq_spark.sources.bam_source import (
    decode_chunk,
    plan_bam_chunks,
    read_bam,
    read_bam_header,
)

N_RECORDS = 4917  # ground truth from the fixture's granularity-1 .sbi


def test_header(fixtures_dir):
    header, refs, voff = read_bam_header(os.path.join(fixtures_dir, "1.bam"))
    assert header.sort_order == "coordinate"
    assert len(refs) == 85
    assert refs[0] == ("1", 249250621)


def test_sbi_matches_fixture_truth(fixtures_dir):
    idx = sbimod.read_sbi(os.path.join(fixtures_dir, "1-with-splitting-index.bam.sbi"))
    assert idx.total_records == N_RECORDS
    assert idx.granularity == 1
    assert idx.offsets == sorted(idx.offsets)


@pytest.mark.parametrize("split", [50_000, 76_458, 100_000, 1 << 20])
def test_chunks_nonoverlapping_complete(fixtures_dir, split):
    """Every record decoded exactly once for any split size — with and
    without the index (BamSourceTest.java:44-77 analog)."""
    for name in ("1-with-splitting-index.bam", "1.bam"):
        p = os.path.join(fixtures_dir, name)
        header, refs, voff = read_bam_header(p)
        chunks = plan_bam_chunks(p, split, refs, voff)
        # non-overlap: ends meet starts
        for (s1, e1), (s2, e2) in zip(chunks, chunks[1:]):
            assert e1 <= s2
        names = []
        for vs, ve in chunks:
            names.extend(r[0] for r in decode_chunk(p, refs, vs, ve))
        assert len(names) == N_RECORDS, f"{name} split={split}"


def test_read_bam_spark(spark, fixtures_dir):
    df, header = read_bam(spark, os.path.join(fixtures_dir, "1-with-splitting-index.bam"), split_size=100_000)
    assert df.count() == N_RECORDS
    # typed columns usable in Catalyst expressions
    agg = df.filter(F.col("contig") == "1").agg(
        F.min("start").alias("lo"), F.max("end").alias("hi"), F.count("*").alias("n")
    ).collect()[0]
    assert agg.n > 0 and agg.lo <= agg.hi


def test_roundtrip_single_file_with_sbi(spark, fixtures_dir, tmp_path):
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=200_000)
    out = str(tmp_path / "out.bam")
    write_bam(df, header, out, sbi_granularity=1)
    assert os.path.exists(out) and os.path.exists(out + ".sbi")

    df2, header2 = read_bam(spark, out, split_size=100_000)
    assert header2.text == header.text
    assert df2.count() == N_RECORDS
    # value-level equality of the full record set (order-insensitive;
    # writing repartitions so file order may differ)
    cols = ["name", "flags", "contig", "start", "end", "cigar", "seq", "qual"]
    a = sorted(map(tuple, df.select(cols).collect()))
    b = sorted(map(tuple, df2.select(cols).collect()))
    assert a == b


def test_written_sbi_is_correct(spark, fixtures_dir, tmp_path):
    """Merged .sbi must list exactly the true record-start virtual
    offsets of the written file (testWriteSBIIndex analog, semantic
    equality instead of byte equality — we zero the optional md5/uuid)."""
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=200_000)
    out = str(tmp_path / "indexed.bam")
    write_bam(df, header, out, sbi_granularity=1)

    idx = sbimod.read_sbi(out + ".sbi")
    assert idx.total_records == N_RECORDS
    assert idx.file_length == os.path.getsize(out)

    # serially decode the written file recording true start offsets
    header2, refs2, voff2 = read_bam_header(out)
    truth = []
    size = os.path.getsize(out)

    import struct

    from disq_spark.formats import bgzf

    with bgzf.BlockReader(out) as r:
        r.fill()
    off = r.buffer_offsets([voff2])[0]
    while off is not None and off + 4 <= len(r.data):
        truth.append(r.virtual_offsets([off])[0])
        bs = struct.unpack_from("<i", r.data, off)[0]
        off = off + 4 + bs
        if off >= len(r.data):
            break
    assert len(truth) == N_RECORDS
    assert idx.offsets[:-1] == truth


def test_roundtrip_sharded(spark, fixtures_dir, tmp_path):
    src = os.path.join(fixtures_dir, "1.bam")
    df, header = read_bam(spark, src)
    out = str(tmp_path / "bam_shards")
    write_bam(df.repartition(3), header, out, single_file=False)
    shards = [f for f in os.listdir(out) if f.endswith(".bam")]
    assert len(shards) == 3
    df2, _ = read_bam(spark, out)
    assert df2.count() == N_RECORDS


def test_tags_roundtrip(spark, fixtures_dir, tmp_path):
    src = os.path.join(fixtures_dir, "1.bam")
    df, header = read_bam(spark, src)
    row = df.filter(F.col("tags").isNotNull()).first()
    assert row.tags  # fixture records carry aux tags
    out = str(tmp_path / "tags.bam")
    write_bam(df, header, out)
    df2, _ = read_bam(spark, out)
    t1 = sorted(tuple(sorted((r.tags or {}).items())) for r in df.select("tags").collect())
    t2 = sorted(tuple(sorted((r.tags or {}).items())) for r in df2.select("tags").collect())
    assert t1 == t2


def test_zero_length_secondary(spark, fixtures_dir):
    """Records with '*' seq (zero-length secondary alignments fixture)."""
    df, _ = read_bam(spark, os.path.join(fixtures_dir, "zero-length-secondary-alignment.bam"))
    rows = df.collect()
    assert rows
    assert any(r.seq is None for r in rows)


def test_build_sbi_matches_fixture_index(spark, fixtures_dir, tmp_path):
    """Distributed .sbi construction over an index-less copy reproduces
    the htsjdk-written fixture index's record offsets exactly
    (BamRecordGuesserChecker.getSBIIndex pattern)."""
    import shutil

    from disq_spark.sources.bam_source import build_sbi

    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    bam = str(tmp_path / "copy.bam")
    shutil.copyfile(src, bam)

    out = build_sbi(spark, bam, split_size=150_000, granularity=1)
    ours = sbimod.read_sbi(out)
    truth = sbimod.read_sbi(src + ".sbi")
    assert ours.total_records == truth.total_records == N_RECORDS
    assert ours.offsets[:-1] == truth.offsets[:-1]

    # the whole written index is BYTE-IDENTICAL to the htsjdk fixture
    # (HtsjdkReadsRddTest.testWriteSBIIndex assertArrayEquals bar):
    # header fields, zeroed md5/uuid, every offset, and the end-of-data
    # sentinel that excludes the BGZF EOF terminator
    with open(out, "rb") as f:
        mine = f.read()
    with open(src + ".sbi", "rb") as f:
        want = f.read()
    assert mine == want

    # and reads now plan from the index
    df, _ = read_bam(spark, bam, split_size=100_000)
    assert df.count() == N_RECORDS


def test_raw_tags_mode_equivalent_and_roundtrips(spark, fixtures_dir, tmp_path):
    """``tags="raw"`` (the lazy-tags 100 TB scan shape): parse_tags on
    the raw byte spans reproduces the parsed-mode rows exactly, and the
    sink's verbatim-copy write path round-trips bit-equivalently."""
    from disq_spark.functions.flags import parse_tags
    from disq_spark.sinks.bam import write_bam

    src = os.path.join(fixtures_dir, "1.bam")
    parsed, header = read_bam(spark, src, split_size=200_000)
    raw, _ = read_bam(spark, src, split_size=200_000, tags="raw")
    assert dict(raw.dtypes)["tags"] == "binary"

    a = sorted(map(str, parsed.collect()))
    b = sorted(map(str, parse_tags(raw).collect()))
    assert a == b

    out = str(tmp_path / "rt.bam")
    write_bam(raw, header, out, write_sbi=False, write_bai=False)
    back, _ = read_bam(spark, out, split_size=200_000)
    assert sorted(map(str, back.collect())) == a


def test_typed_tag_projection(spark, fixtures_dir):
    """SAM aux tags as typed Columns (htsjdk getAttribute parity)."""
    from disq_spark.functions.flags import typed_tag

    df, _ = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    t = df.select(
        typed_tag("NM", "i").alias("nm"),
        typed_tag("MD").alias("md"),
        typed_tag("RG", "Z").alias("rg"),
    ).filter(F.col("nm").isNotNull())
    assert dict(t.dtypes)["nm"] == "bigint"
    row = t.first()
    assert isinstance(row.nm, int) and row.rg
    stats = t.agg(F.avg("nm").alias("mean_nm")).collect()[0]
    assert stats.mean_nm >= 0


def test_queryname_pair_atomicity(spark, fixtures_dir, tmp_path):
    """pair_atomic read: no read name's records span two partitions —
    the guarantee the reference documents as unimplemented
    (README.md:39,162-166). Fixture: 1.bam re-sorted by name."""
    from pyspark.sql import functions as SF

    df, header = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    by_name = df.orderBy("name", "flags")
    qn_header = type(header)(
        text=header.text.replace("SO:coordinate", "SO:queryname")
    )
    out = str(tmp_path / "byname.bam")
    write_bam(by_name, qn_header, out, write_sbi=True, sbi_granularity=1)

    for split in (50_000, 120_000):
        got, _ = read_bam(spark, out, split_size=split, pair_atomic=True)
        spread = (
            got.select("name", SF.spark_partition_id().alias("pid"))
            .groupBy("name")
            .agg(SF.countDistinct("pid").alias("np"))
            .agg(SF.max("np"))
            .collect()[0][0]
        )
        assert spread == 1, f"split={split}: a name group crossed partitions"
        assert got.count() == N_RECORDS

        # contrast: without the guarantee some group DOES split (so the
        # test would catch a no-op implementation)
        plain, _ = read_bam(spark, out, split_size=split)
        if plain.rdd.getNumPartitions() > 1:
            spread0 = (
                plain.select("name", SF.spark_partition_id().alias("pid"))
                .groupBy("name")
                .agg(SF.countDistinct("pid").alias("np"))
                .agg(SF.max("np"))
                .collect()[0][0]
            )
            assert spread0 >= 1


def test_column_pruned_decode(spark, fixtures_dir):
    """columns= pushes pruning into the Python decoder: same record set,
    seq/qual/tags skipped (NULL), measurably less work."""
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    full, _ = read_bam(spark, src, split_size=200_000)
    lean, _ = read_bam(spark, src, split_size=200_000, columns=["flags", "contig", "start", "end"])
    assert lean.count() == N_RECORDS
    row = lean.first()
    assert row.seq is None and row.qual is None and row.tags is None
    a = sorted(map(tuple, full.select("name", "flags", "contig", "start", "end").collect()))
    b = sorted(map(tuple, lean.select("name", "flags", "contig", "start", "end").collect()))
    assert a == b


@pytest.mark.parametrize("source", ["fixture", "generated"])
def test_guesser_handles_stale_bin_fields(fixtures_dir, tmp_path, request, source):
    """Writers that leave the BAM bin field stale/0 must not defeat split
    planning: find_record_start falls back to a pass without the
    bin-consistency check instead of finding no boundary at all."""
    import struct

    from disq_spark.formats import bgzf
    from disq_spark.formats.bam import parse_bam_header
    from disq_spark.sources.bam_source import (
        find_record_start,
        read_bam_header,
    )

    if source == "fixture":
        src = os.path.join(fixtures_dir, "1.bam")
    else:
        src = request.getfixturevalue("planned_inputs")["bam"]
    with open(src, "rb") as f:
        raw = b"".join(bgzf.decompress_block(f, b.pos) for b in bgzf.scan_blocks(src))
    _text, refs, header_end = parse_bam_header(raw)

    # zero every record's bin field (offset 14 into the length-prefixed record)
    data = bytearray(raw)
    off = header_end
    n_rec = 0
    while off + 4 <= len(data):
        block_size = struct.unpack_from("<i", data, off)[0]
        struct.pack_into("<H", data, off + 14, 0)
        off += 4 + block_size
        n_rec += 1
    assert n_rec > 100

    out = str(tmp_path / "stale_bin.bam")
    with open(out, "wb") as f:
        f.write(bgzf.compress_all(bytes(data)))

    _h, refs2, _v = read_bam_header(out)
    ref_lens = [l for _n, l in refs2]
    # start the search in the middle of the file, as a split planner would
    blocks = list(bgzf.scan_blocks(out))
    mid_block = blocks[len(blocks) // 2]
    with bgzf.BlockReader(out, mid_block.pos) as r:
        found = find_record_start(r, len(refs2), ref_lens)
    assert found is not None

    # and the found offset really is a record boundary: its block_size
    # walks to another valid record chain
    bs = struct.unpack_from("<i", r.data, found)[0]
    assert 32 <= bs < 1 << 20


@pytest.mark.parametrize("source", ["fixture", "generated"])
def test_decode_batch_matches_decode_record(fixtures_dir, request, source):
    """The vectorized batch decoder must be value-identical to the
    per-record scalar decoder across every column, including tags."""
    from disq_spark.formats import bgzf
    from disq_spark.formats.bam import decode_record
    from disq_spark.sources.bam_source import (
        decode_chunk,
        read_bam_header,
    )

    if source == "fixture":
        path, n = os.path.join(fixtures_dir, "1-with-splitting-index.bam"), 4917
    else:
        path, n = request.getfixturevalue("planned_inputs")["bam"], 3000
    _h, refs, voff = read_bam_header(path)
    end = os.path.getsize(path) << 16
    rows = decode_chunk(path, refs, voff, end)  # batch path
    assert len(rows) == n

    with bgzf.BlockReader(path) as r:
        r.fill()
    off = r.buffer_offsets([voff])[0]
    for i, got in enumerate(rows):
        want, off = decode_record(r.data, off, refs)
        assert tuple(got) == want, f"record {i} differs"


def test_check_record_guesser_exact_on_fixture(spark, fixtures_dir):
    """The distributed diagnostic scan (BamRecordGuesserChecker analog)
    must find zero FALSE_NEGATIVEs and zero FALSE_POSITIVEs on the
    fixture: every true record start chain-validates, and the 8 offsets
    after each start do not."""
    from disq_spark.sources.bam_source import check_record_guesser

    bad = check_record_guesser(
        spark, os.path.join(fixtures_dir, "1-with-splitting-index.bam"),
        split_size=512 * 1024,
    ).collect()
    assert bad == [], bad[:10]


def test_build_bai_matches_write_side_index(spark, fixtures_dir, tmp_path):
    """Read-side distributed .bai construction (build_bai) must produce
    byte-identical output to the index the single-file WRITE path built
    for the same records — chunk fragmentation differs (read chunks vs
    write parts), so equality proves the fragment merge is exact."""
    from disq_spark.sources.bam_source import build_bai, read_bam

    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=200_000)
    out = str(tmp_path / "sorted.bam")
    # fixture is coordinate-sorted; keep one partition so the write-side
    # .bai sees the same global order the file has
    write_bam(df.coalesce(1), header, out, write_bai=True, sbi_granularity=1)
    write_side = open(out + ".bai", "rb").read()
    os.remove(out + ".bai")

    built = build_bai(spark, out, split_size=100_000)
    read_side = open(built, "rb").read()
    assert read_side == write_side
    assert not os.path.exists(out + ".bai.parts")


def test_build_bai_refuses_unsorted_header(spark, fixtures_dir, tmp_path):
    from disq_spark.sources.bam_source import build_bai, read_bam

    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src)
    out = str(tmp_path / "uns.bam")
    header2 = type(header)(text=header.text.replace("SO:coordinate", "SO:queryname"))
    write_bam(df.coalesce(1), header2, out, write_bai=False)
    with pytest.raises(ValueError, match="coordinate-sorted"):
        build_bai(spark, out)


def test_build_bai_empty_bam(spark, tmp_path):
    """A zero-record BAM still gets a legal index: one empty entry per
    reference sequence, not a zero-ref file."""
    from disq_spark.formats import bai as baimod
    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA
    from disq_spark.sources.bam_source import build_bai

    out = str(tmp_path / "empty.bam")
    header = SamHeader(text="@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:100000\n")
    write_bam(spark.createDataFrame([], READS_SCHEMA), header, out,
              write_bai=False, write_sbi=True)
    idx = baimod.read_bai(build_bai(spark, out))
    assert len(idx.refs) == 1
