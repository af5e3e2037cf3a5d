"""BGZF (blocked gzip) machinery, pure Python.

BGZF = concatenated gzip members, each <= 64 KiB, carrying their own
compressed size in a gzip EXTRA subfield (SI 'BC') — which is what makes
byte-range splitting possible: any offset can be realigned to the next
block boundary by scanning for a valid block header.

Re-expresses (behavioral parity, no code):
- block discovery inside arbitrary splits — BgzfBlockGuesser.java:101-174
  (magic 0x04088b1f at :38) and BGZFSplitCompressionInputStream.java:39-131
- content sniffing BGZF-vs-plain-gzip — BGZFEnhancedGzipCodec.java:66-101
- terminatorless part writing — TerminatorlessBlockCompressedOutputStream.java:34-49,
  BGZFCompressionOutputStream.java:67-70

Virtual offsets are htsjdk-style: (compressed_offset << 16) | intra_block_offset.

Every BGZF read goes through one block reader, ``BlockReader`` (the
role of BGZFSplitCompressionInputStream.java:39-131 and htsjdk's
BlockCompressedInputStream): one open file, block boundaries from the
header walk (realigned with ``find_block_start`` when a range starts at
a byte offset), compressed bytes in sequential reads of up to
``READ_AHEAD`` bounded by the range end plus one maximal block, and
block-by-block inflate on demand through ``inflate``, zlib's gzip
wrapper, which checks each block's CRC32 and ISIZE. It exposes the
inflated data, its block table and the data <-> virtual offset maps.
The BAM record walk, header read and split guesser, the VCF line owner
(read and ``build_tbi``) and the ``.gzi`` slice reader are its callers.
``read_range`` joins the inflated blocks of the same block stream
(``_raw_blocks``); ``scan_blocks`` lists them without inflating.
"""

from __future__ import annotations

import itertools
import struct
import zlib
from dataclasses import dataclass
from typing import BinaryIO, Iterator

import numpy as np

from disq_spark import fs

# gzip magic + CM=8 (deflate) + FLG=4 (FEXTRA) — the 4-byte BGZF block prelude
MAGIC = b"\x1f\x8b\x08\x04"
# Fixed 28-byte BGZF EOF marker (empty final block) — the "terminator" the
# single-file sinks append exactly once (BamSink.java:101-104)
EOF_BLOCK = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)
MAX_BLOCK_SIZE = 0x10000  # 64 KiB
# Max uncompressed payload per block, leaving room for headers (htsjdk uses
# 64K - 28; any value < 64K that compresses into one block works)
MAX_PAYLOAD = 0xFF00
# Compressed bytes per sequential read inside a range (BlockReader)
READ_AHEAD = 1 << 20


@dataclass(frozen=True)
class BgzfBlock:
    """Physical block: compressed position/size + uncompressed size.

    Mirrors the reference's block struct (BgzfBlockGuesser.java:53-97):
    (pos, c_size, u_size, end).
    """

    pos: int
    c_size: int
    u_size: int

    @property
    def end(self) -> int:
        return self.pos + self.c_size


def _parse_block_header(buf: bytes, off: int) -> int | None:
    """If a valid BGZF block starts at buf[off:], return its compressed
    size (BSIZE+1), else None. Validates magic + XLEN + BC subfield walk."""
    if len(buf) - off < 18:
        return None
    if buf[off : off + 4] != MAGIC:
        return None
    xlen = struct.unpack_from("<H", buf, off + 10)[0]
    if xlen < 6:
        return None
    # walk EXTRA subfields looking for SI1=66 SI2=67 SLEN=2
    p = off + 12
    end = p + xlen
    if end > len(buf):
        return None
    bsize = None
    while p + 4 <= end:
        si1, si2, slen = buf[p], buf[p + 1], struct.unpack_from("<H", buf, p + 2)[0]
        if si1 == 66 and si2 == 67 and slen == 2:
            if p + 6 > end:
                return None
            bsize = struct.unpack_from("<H", buf, p + 4)[0] + 1
        p += 4 + slen
    if bsize is None or bsize > MAX_BLOCK_SIZE:
        return None
    return bsize


def is_bgzf(path: str) -> bool:
    """Content sniff: first bytes form a valid BGZF block header
    (BGZFEnhancedGzipCodec.java:72 semantics — gzip files that are not
    BGZF are legal gzip but lack the BC subfield)."""
    with fs.open_input(path) as f:
        head = f.read(MAX_BLOCK_SIZE)
    return _parse_block_header(head, 0) is not None


def is_gzip(path: str) -> bool:
    with fs.open_input(path) as f:
        return f.read(2) == b"\x1f\x8b"


def find_block_start(buf: bytes, base_offset: int = 0, require_next: bool = True) -> int | None:
    """Scan ``buf`` for the first valid block boundary; returns offset
    relative to ``base_offset``'s file position, or None.

    A candidate is accepted if its header parses AND (when the buffer
    holds enough bytes) the following block's header also parses or the
    block ends the buffer — the same double-check the reference's guesser
    uses to reject random 0x04088b1f occurrences.
    """
    i = 0
    n = len(buf)
    while True:
        j = buf.find(MAGIC, i)
        if j < 0:
            return None
        bsize = _parse_block_header(buf, j)
        if bsize is not None:
            if not require_next:
                return base_offset + j
            nxt = j + bsize
            if nxt >= n:  # can't disprove; accept
                return base_offset + j
            if buf[nxt : nxt + 4] == MAGIC and _parse_block_header(buf, nxt) is not None:
                return base_offset + j
            if buf[nxt : nxt + len(EOF_BLOCK)] == EOF_BLOCK:
                return base_offset + j
        i = j + 1


def _raw_blocks(f: BinaryIO, pos: int, stop: int) -> Iterator[tuple[int, bytes]]:
    """``(offset, block bytes)`` of each whole block from ``pos`` on, for
    as long as the caller pulls. ``pos > 0`` is first realigned to the
    next block boundary within two maximal blocks (split semantics). The
    compressed bytes come in sequential reads of up to READ_AHEAD that
    reach no further than ``stop`` plus one maximal block, and past that
    one maximal block at a time. Ends at end of file, trailing garbage or
    a truncated final block."""
    f.seek(pos)
    buf, i = b"", 0
    if pos > 0:
        buf = f.read(2 * MAX_BLOCK_SIZE)
        rel = find_block_start(buf)
        if rel is None:
            return
        i, pos = rel, pos + rel
    at_eof = False
    while True:
        have = len(buf) - i
        if have < MAX_BLOCK_SIZE and not at_eof:
            more = f.read(max(min(READ_AHEAD, stop + MAX_BLOCK_SIZE - pos) - have, MAX_BLOCK_SIZE - have))
            at_eof = not more
            buf, i = buf[i:] + more, 0
        bsize = _parse_block_header(buf, i)
        if bsize is None or i + bsize > len(buf):
            return
        yield pos, buf[i : i + bsize]
        i += bsize
        pos += bsize


def scan_blocks(path: str, start: int = 0, end: int | None = None) -> Iterator[BgzfBlock]:
    """Yield all blocks whose start lies in [start, end). Realigns
    ``start`` to the next block boundary first (split semantics)."""
    with fs.open_input(path) as f:
        end = fs.getsize(path) if end is None else end
        for pos, block in _raw_blocks(f, start, end):
            if pos >= end:
                return
            yield BgzfBlock(pos, len(block), struct.unpack_from("<I", block, len(block) - 4)[0])


def inflate(block: bytes) -> bytes:
    """Payload of one whole block. zlib's gzip wrapper checks the block's
    CRC32 and ISIZE trailer (raw ``-15`` inflate would not)."""
    return zlib.decompressobj(15 + 16).decompress(block)


def decompress_block(f: BinaryIO, pos: int) -> bytes:
    f.seek(pos)
    head = f.read(MAX_BLOCK_SIZE)
    bsize = _parse_block_header(head, 0)
    if bsize is None:
        raise ValueError(f"not a BGZF block at {pos}")
    data = head[:bsize]
    if len(data) < bsize:
        data += f.read(bsize - len(data))
    return inflate(data)


class BlockReader:
    """The inflated blocks of one file from compressed offset ``start``
    (realigned to the next block boundary when > 0), over one open file
    and one sequential read stream (``_raw_blocks``).

    ``data`` is the payload of every block inflated so far, in file
    order; the block table gives each block's file offset (``c_pos``)
    and ``data`` offset (``u_start``). Blocks are inflated on demand:
    ``fill`` inflates the range's blocks (those starting before
    ``stop``), ``next_block`` one more, in the range or past it (a
    record or line straddling the range end). ``virtual_offsets`` and
    ``buffer_offsets`` map between ``data`` offsets and virtual offsets.
    Use as a context manager; ``data`` and the table outlive the file.
    """

    def __init__(self, path: str, start: int = 0, stop: int | None = None):
        self._stop = fs.getsize(path) if stop is None else stop
        self._f = fs.open_input(path)
        self._blocks = _raw_blocks(self._f, start, self._stop)
        self._ahead: tuple[int, bytes] | tuple[()] | None = None
        self.data = bytearray()
        self.c_pos: list[int] = []
        self.u_start: list[int] = []
        self._c_end = start  # file offset just past the last inflated block

    def __enter__(self) -> "BlockReader":
        return self

    def __exit__(self, *exc) -> None:
        self._f.close()

    def _peek(self) -> tuple[int, bytes] | tuple[()]:
        """The next block, read but not inflated; ``()`` at the end."""
        if self._ahead is None:
            self._ahead = next(self._blocks, ())
        return self._ahead

    def next_block(self) -> bool:
        """Inflate the next block; False when there is none."""
        if not self._peek():
            return False
        pos, block = self._ahead
        self._ahead = None
        self.c_pos.append(pos)
        self.u_start.append(len(self.data))
        self.data += inflate(block)
        self._c_end = pos + len(block)
        return True

    def fill(self) -> "BlockReader":
        """Inflate every block that starts before ``stop``."""
        while self._peek() and self._ahead[0] < self._stop:
            self.next_block()
        return self

    def _table(self) -> tuple[np.ndarray, np.ndarray]:
        """(data offsets, file offsets) of the inflated blocks plus the
        position after the last one."""
        return (
            np.array(self.u_start + [len(self.data)], dtype=np.int64),
            np.array(self.c_pos + [self._c_end], dtype=np.int64),
        )

    def virtual_offsets(self, offs, side: str = "right") -> list[int]:
        """Virtual offset of each ``data`` offset in ``offs``. An offset on
        a block boundary maps to offset 0 of a block starting there: the
        last one with ``side="right"`` (the non-empty block holding the
        byte, as a record start is read), the first one with
        ``side="left"`` (empty blocks included: htslib's ``tell()`` after
        a whole block, which .tbi offsets use). The end of ``data`` maps
        to the first block starting there, else to the block after the
        last one inflated."""
        starts, c_pos = self._table()
        offs = np.asarray(offs, dtype=np.int64)
        first = np.searchsorted(starts, offs, side="left")
        if side == "right":
            i = np.where(offs < starts[-1], np.searchsorted(starts, offs, side="right") - 1, first)
        else:
            i = np.where(starts[np.minimum(first, len(starts) - 1)] == offs, first, first - 1)
        return ((c_pos[i] << 16) | (offs - starts[i])).tolist()

    def buffer_offsets(self, voffs) -> list[int]:
        """``data`` offset of each virtual offset in ``voffs``; one that
        points into no inflated block maps to the start of the first block
        after it (or the end of ``data``), so ``b < buffer_offsets([v])[0]``
        exactly when the byte at ``b`` lies before ``v``."""
        starts, c_pos = self._table()
        voffs = np.asarray(voffs, dtype=np.int64)
        c, u = voffs >> 16, voffs & 0xFFFF
        i = np.minimum(np.searchsorted(c_pos, c, side="left"), len(c_pos) - 1)
        return (starts[i] + np.where(c_pos[i] == c, u, 0)).tolist()


def data_end(path: str) -> int:
    """Byte offset where a BGZF file's data ends: before its trailing EOF
    block, or the file size when it has none — the position htsjdk's
    SBIIndexWriter records as the end-of-data sentinel."""
    size = fs.getsize(path)
    with fs.open_input(path) as f:
        f.seek(max(size - len(EOF_BLOCK), 0))
        has_eof = f.read(len(EOF_BLOCK)) == EOF_BLOCK
    return size - len(EOF_BLOCK) if has_eof else size


def read_range(path: str, start: int, end: int) -> bytes:
    """Decompressed bytes of every block starting in [start, end)."""
    with fs.open_input(path) as f:
        blocks = itertools.takewhile(lambda pb: pb[0] < end, _raw_blocks(f, start, end))
        return b"".join(inflate(block) for _pos, block in blocks)


def compress_block(payload: bytes, level: int = 6) -> bytes:
    """One complete BGZF block for <= MAX_PAYLOAD bytes of payload."""
    if len(payload) > MAX_PAYLOAD:
        raise ValueError("payload too large for one BGZF block")
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    cdata = co.compress(payload) + co.flush()
    bsize = len(cdata) + 26  # 12 header + 6 extra + 8 trailer
    header = MAGIC + b"\x00\x00\x00\x00\x00\xff" + struct.pack("<H", 6) + b"BC" + struct.pack(
        "<HH", 2, bsize - 1
    )
    trailer = struct.pack("<II", zlib.crc32(payload) & 0xFFFFFFFF, len(payload))
    return header + cdata + trailer


class BgzfWriter:
    """Streaming BGZF writer. ``terminate=False`` writes a terminatorless
    part file (single-file sink parts are concatenated and the terminator
    appended once at the end)."""

    def __init__(self, sink: BinaryIO, terminate: bool = True, level: int = 6):
        self._sink = sink
        self._terminate = terminate
        self._level = level
        self._buf = bytearray()
        self._blocks_written = 0
        self.compressed_len = 0

    def write(self, data: bytes) -> None:
        self._buf.extend(data)
        while len(self._buf) >= MAX_PAYLOAD:
            self._flush_block(MAX_PAYLOAD)

    @property
    def virtual_offset(self) -> int:
        """Current write position as a virtual offset."""
        return (self.compressed_len << 16) | (len(self._buf) & 0xFFFF)

    def _flush_block(self, n: int) -> None:
        payload = bytes(self._buf[:n])
        del self._buf[:n]
        block = compress_block(payload, self._level)
        self._sink.write(block)
        self.compressed_len += len(block)
        self._blocks_written += 1

    def close(self) -> None:
        if self._buf:
            self._flush_block(len(self._buf))
        if self._terminate:
            self._sink.write(EOF_BLOCK)
            self.compressed_len += len(EOF_BLOCK)


def compress_all(payload: bytes, terminate: bool = True, level: int = 6) -> bytes:
    """Whole-buffer convenience encoder."""
    import io

    out = io.BytesIO()
    w = BgzfWriter(out, terminate=terminate, level=level)
    w.write(payload)
    w.close()
    return out.getvalue()
