"""SBI (BAM splitting index) read / write / merge.

Format (htsjdk SBIIndex, verified against the reference fixture
``1-with-splitting-index.bam.sbi``): little-endian
  magic 'SBI\\x01', fileLength:i64, md5:16B, uuid:16B,
  totalNumberOfRecords:i64, granularity:i64, numOffsets:i64,
  then numOffsets x virtualOffset:i64 (ascending; the last offset is the
  virtual end-of-data position).

Distributed build-and-merge parity (SURVEY.md §2.4): each written part,
or each planned chunk of an existing file, writes its own index
fragment; ``merge_sbi`` streams them into one index, shifting every
virtual offset by the cumulative compressed length of preceding parts
(SbiMerger.java:39-64 + htsjdk SBIIndexMerger semantics; zero for chunks).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from disq_spark import fs

MAGIC = b"SBI\x01"


@dataclass
class SbiIndex:
    file_length: int
    total_records: int
    granularity: int
    offsets: list[int]  # virtual offsets, ascending; last = end of data

    def chunk(self, byte_start: int, byte_end: int) -> tuple[int, int] | None:
        """First record-start virtual offset within compressed byte range
        [byte_start, byte_end) -> (vStart, vEnd) or None (the
        SBIIndex.getChunk(start, end) operation, BamSource.java:99-119)."""
        lo = byte_start << 16
        hi = byte_end << 16
        starts = self.offsets[:-1]
        # binary search for first offset >= lo
        import bisect

        i = bisect.bisect_left(starts, lo)
        if i >= len(starts) or starts[i] >= hi:
            return None
        j = bisect.bisect_left(starts, hi)
        v_end = self.offsets[j] if j < len(self.offsets) else self.offsets[-1]
        return starts[i], v_end


def read_sbi(path: str) -> SbiIndex:
    with fs.open_input(path) as f:
        data = f.read()
    if data[:4] != MAGIC:
        raise ValueError("not an SBI index")
    file_length, = struct.unpack_from("<q", data, 4)
    nrec, gran, noff = struct.unpack_from("<qqq", data, 44)
    offsets = list(struct.unpack_from(f"<{noff}q", data, 68))
    return SbiIndex(file_length, nrec, gran, offsets)


def write_sbi(path: str, index: SbiIndex) -> None:
    with fs.open_output(path) as f:
        f.write(MAGIC)
        f.write(struct.pack("<q", index.file_length))
        f.write(b"\x00" * 32)  # md5 + uuid (optional integrity fields)
        f.write(struct.pack("<qqq", index.total_records, index.granularity, len(index.offsets)))
        f.write(struct.pack(f"<{len(index.offsets)}q", *index.offsets))


def merge_sbi(
    path: str,
    fragments: list[str],
    part_lengths: list[int],
    granularity: int,
    base_offset: int = 0,
    buf_offsets: int = 1 << 20,
) -> None:
    """Write ``path + '.sbi'`` for ``path``, the concatenation of parts
    whose ``.sbi`` fragments are ``fragments``, by STREAMING their offsets.

    ``part_lengths[i]`` is the compressed byte length of part i in
    ``path`` and ``base_offset`` the bytes before the first part (the
    header): each part's offsets shift by the bytes before it
    (IndexFileMerger.java:48-105 semantics; all zeros when the fragments
    index chunks of ``path`` itself). Each fragment's end sentinel is
    dropped and ``path``'s end of data appended. The fragments' own
    granularity is recorded; ``granularity`` is the one requested for
    the parts, recorded when no part held a record. The offsets are copied
    ``buf_offsets`` at a time, so driver memory is bounded by that buffer
    whatever the record count (10^12 records at granularity 1 would be
    ~8 TB of offsets)."""
    import numpy as np

    from disq_spark.formats import bgzf

    heads = []
    for frag in fragments:
        with fs.open_input(frag) as f:
            head = f.read(68)
        if head[:4] != MAGIC:
            raise ValueError(f"not an SBI index: {frag}")
        heads.append(struct.unpack_from("<qqq", head, 44))
    with fs.open_output(path + ".sbi") as out:
        out.write(MAGIC)
        out.write(struct.pack("<q", fs.getsize(path)))
        out.write(b"\x00" * 32)  # md5 + uuid (optional integrity fields)
        n_offsets = sum(noff - 1 for _n, _g, noff in heads) + 1
        granularity = heads[0][1] if heads else granularity
        out.write(struct.pack("<qqq", sum(n for n, _g, _o in heads), granularity, n_offsets))
        shift = base_offset
        for frag, (_n, _g, noff), plen in zip(fragments, heads, part_lengths):
            with fs.open_input(frag) as f:
                f.read(68)
                left = noff - 1
                while left:
                    k = min(left, buf_offsets)
                    block = np.frombuffer(f.read(8 * k), dtype="<i8")
                    out.write((block + (shift << 16)).astype("<i8").tobytes())
                    left -= k
            shift += plen
        out.write(struct.pack("<q", bgzf.data_end(path) << 16))
