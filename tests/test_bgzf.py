"""BGZF layer: block discovery, split realignment, round-trip, sniffing.

Models BgzfBlockSourceTest.testFindAllBlocks and the codec tests."""

import gzip
import os
import random

import pytest

from conftest import fixture, needs_reference, upstream
from disq_spark.formats import bgzf


def _bgzf_input(source: str, name: str, fixtures_dir: str, tmp_path) -> str:
    """The named reference fixture, or a generated BgzfWriter file of
    random text lines: about 20 blocks plus the EOF terminator."""
    if source == "fixture":
        return os.path.join(fixtures_dir, name)
    rng = random.Random(5)
    lines = ("".join(rng.choice("ACGT") for _ in range(rng.randint(1, 200))) for _ in range(12_000))
    path = str(tmp_path / "generated.bgz")
    with open(path, "wb") as f:
        w = bgzf.BgzfWriter(f, terminate=True)
        w.write(("\n".join(lines) + "\n").encode())
        w.close()
    return path


@pytest.mark.parametrize("source", [pytest.param("fixture", marks=needs_reference), "generated"])
def test_scan_all_blocks_covers_file(fixtures_dir, tmp_path, source):
    path = _bgzf_input(source, "test.vcf.bgz", fixtures_dir, tmp_path)
    size = os.path.getsize(path)
    blocks = list(bgzf.scan_blocks(path))
    assert blocks
    # contiguous, non-overlapping, covering the whole file
    pos = 0
    for b in blocks:
        assert b.pos == pos
        pos = b.end
    assert pos == size
    # last block is the EOF terminator (empty payload)
    assert blocks[-1].u_size == 0


@pytest.mark.parametrize("source", [pytest.param("fixture", marks=needs_reference), "generated"])
def test_split_realignment_no_dup_no_loss(fixtures_dir, tmp_path, source):
    """Any byte-split partition of the file must see each block exactly
    once (BamSourceTest.testPathChunksDontOverlap analog for BGZF)."""
    path = _bgzf_input(source, "HiSeq.10000.vcf.bgz", fixtures_dir, tmp_path)
    all_blocks = [b.pos for b in bgzf.scan_blocks(path)]
    size = os.path.getsize(path)
    for split in (1024, 4096, 76458, 100_000):
        seen = []
        start = 0
        while start < size:
            end = min(start + split, size)
            seen.extend(b.pos for b in bgzf.scan_blocks(path, start, end))
            start = end
        assert seen == all_blocks, f"split={split}"


@pytest.mark.parametrize("source", [pytest.param("fixture", marks=needs_reference), "generated"])
def test_decompressed_equals_gzip_module(fixtures_dir, tmp_path, source):
    path = _bgzf_input(source, "test.vcf.bgz", fixtures_dir, tmp_path)
    ours = bgzf.read_range(path, 0, os.path.getsize(path))
    with gzip.open(path, "rb") as f:
        ref = f.read()
    assert ours == ref


def test_roundtrip_write(tmp_path):
    payload = (b"line-%d with some repetitive content\n" % 7) * 20000  # > 1 block
    out = tmp_path / "x.bgz"
    with open(out, "wb") as f:
        w = bgzf.BgzfWriter(f, terminate=True)
        w.write(payload)
        w.close()
    # readable by the stock gzip module (BGZF is valid multi-member gzip)
    with gzip.open(out, "rb") as f:
        assert f.read() == payload
    # our scanner agrees and sees > 1 block + terminator
    blocks = list(bgzf.scan_blocks(str(out)))
    assert len(blocks) >= 3
    assert blocks[-1].u_size == 0
    assert bgzf.read_range(str(out), 0, os.path.getsize(out)) == payload


def test_terminatorless_parts_concat_legal(tmp_path):
    """Parts without terminators + one terminator == legal BGZF whole."""
    a, b = b"A" * 100_000, b"B" * 50_000
    out = tmp_path / "joined.bgz"
    with open(out, "wb") as f:
        for chunk in (a, b):
            w = bgzf.BgzfWriter(f, terminate=False)
            w.write(chunk)
            w.close()
        f.write(bgzf.EOF_BLOCK)
    with gzip.open(out, "rb") as f:
        assert f.read() == a + b


def test_sniffing(gen_variants, tmp_path):
    small = gen_variants["small"]
    cases = [(small["bgz"], small["bgzf_gz"], small["gz"])]
    cases += upstream(tuple(fixture(n) for n in ("test.vcf.bgz", "test.vcf.bgzf.gz", "test.vcf.gz")))
    for bgz, bgzf_gz, true_gz in cases:
        assert bgzf.is_bgzf(bgz)
        assert bgzf.is_bgzf(bgzf_gz)
        # true-gzip VCF is gzip but NOT bgzf (BGZFEnhancedGzipCodec sniff)
        assert bgzf.is_gzip(true_gz)
        assert not bgzf.is_bgzf(true_gz)
    plain = tmp_path / "p.txt"
    plain.write_text("hello")
    assert not bgzf.is_gzip(str(plain))


def test_virtual_offset_tracking(tmp_path):
    with open(tmp_path / "v.bgz", "wb") as f:
        w = bgzf.BgzfWriter(f, terminate=False)
        assert w.virtual_offset == 0
        w.write(b"x" * 10)
        assert w.virtual_offset == 10  # still buffered: coffset 0, uoffset 10
        w.write(b"y" * bgzf.MAX_PAYLOAD)
        voff = w.virtual_offset
        assert (voff >> 16) > 0  # a block was flushed
        w.close()


def test_invalid_block_rejected(tmp_path):
    bad = tmp_path / "bad.bgz"
    bad.write_bytes(b"\x1f\x8b\x08\x04" + b"\x00" * 40)
    with pytest.raises(ValueError):
        with open(bad, "rb") as f:
            bgzf.decompress_block(f, 0)


def test_block_reader_range_and_offset_maps(tmp_path):
    """``BlockReader``: ``fill`` inflates the blocks starting in its range
    (a mid-block start realigns to the next block), ``next_block`` goes
    on past the range, and the data <-> virtual offset maps follow both
    conventions at a mid-file empty block."""
    blocks = [bgzf.compress_block(p) for p in (b"a" * 10, b"", b"b" * 5, b"c" * 7)] + [bgzf.EOF_BLOCK]
    pos = [sum(len(b) for b in blocks[:i]) for i in range(len(blocks))]
    path = tmp_path / "r.bgz"
    path.write_bytes(b"".join(blocks))
    with bgzf.BlockReader(str(path), 1, pos[3]) as r:
        assert r.fill().c_pos == pos[1:3] and r.data == b"bbbbb"
        assert r.next_block() and r.data == b"bbbbbccccccc"
    with bgzf.BlockReader(str(path)) as r:
        r.fill()
    assert r.c_pos == pos and r.u_start == [0, 10, 10, 15, 22]
    # offset 10 ends block 0 and starts the empty block 1 and block 2
    assert r.virtual_offsets([0, 9, 10, 12, 22]) == [0, 9, pos[2] << 16, pos[2] << 16 | 2, pos[4] << 16]
    assert r.virtual_offsets([10, 12, 22], "left") == [pos[1] << 16, pos[2] << 16 | 2, pos[4] << 16]
    assert r.buffer_offsets([5, pos[1] << 16, pos[2] << 16 | 2, pos[4] << 16]) == [5, 10, 12, 22]
    # the end of a partial read maps to the next block, inflated or not
    for stop in (pos[1], pos[2]):
        with bgzf.BlockReader(str(path), 0, stop) as r:
            r.fill()
        assert r.virtual_offsets([10]) == r.virtual_offsets([10], "left") == [pos[1] << 16]
