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
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass
from typing import BinaryIO, Iterator

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


def scan_blocks(path: str, start: int = 0, end: int | None = None) -> Iterator[BgzfBlock]:
    """Yield all blocks whose start lies in [start, end). Realigns
    ``start`` to the next block boundary first (split semantics)."""
    with fs.open_input(path) as f:
        f.seek(0, 2)
        flen = f.tell()
        end = flen if end is None else min(end, flen)
        pos = start
        if pos > 0:
            # realign: scan up to 64K past start for a boundary
            f.seek(pos)
            window = f.read(2 * MAX_BLOCK_SIZE)
            rel = find_block_start(window, 0)
            if rel is None:
                return
            pos = start + rel
        while pos < end:
            f.seek(pos)
            head = f.read(18)
            if len(head) < 18:
                return
            bsize = None
            if head[:4] == MAGIC:
                f.seek(pos)
                buf = f.read(MAX_BLOCK_SIZE)
                bsize = _parse_block_header(buf, 0)
            if bsize is None or pos + bsize > flen:
                return  # trailing garbage or a truncated final block
            f.seek(pos + bsize - 4)
            tail = f.read(4)
            if len(tail) < 4:
                return
            isize = struct.unpack("<I", tail)[0]
            yield BgzfBlock(pos, bsize, isize)
            pos += bsize


def decompress_block(f: BinaryIO, pos: int) -> bytes:
    f.seek(pos)
    head = f.read(MAX_BLOCK_SIZE)
    bsize = _parse_block_header(head, 0)
    if bsize is None:
        raise ValueError(f"not a BGZF block at {pos}")
    data = head[:bsize]
    if len(data) < bsize:
        data += f.read(bsize - len(data))
    return zlib.decompressobj(15 + 16).decompress(data)


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
    out = []
    with fs.open_input(path) as f:
        for blk in scan_blocks(path, start, end):
            out.append(decompress_block(f, blk.pos))
    return b"".join(out)


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
