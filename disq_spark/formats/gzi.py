"""GZI (bgzip index) reader + random-access bgzipped-FASTA support.

Re-expresses CramReferenceSourceBuilder.java:44-69: a CRAM reference may
be a bgzipped FASTA with a `.fai` (sequence index) and `.gzi` (bgzip
block index). The .gzi maps uncompressed offsets -> compressed block
offsets, so a contig slice costs O(slice) block decompressions instead
of inflating the whole genome — the difference between a 3 GB driver
load and a few KB per task at 100 TB.

.gzi layout (bgzip spec, little-endian):
  n_entries:u64, then per entry (compressed_offset:u64,
  uncompressed_offset:u64) — one entry per BGZF block AFTER the first
  (block 0 is implicit at offset 0/0).

.fai layout (samtools faidx): name, seq_len, byte_offset_of_first_base,
  bases_per_line, bytes_per_line (tab-separated) — byte offsets are into
  the UNCOMPRESSED text.
"""

from __future__ import annotations

import bisect
import io
import struct
from dataclasses import dataclass

from disq_spark.formats import bgzf

from disq_spark import fs


@dataclass
class GziIndex:
    comp_offsets: list[int]  # compressed block offsets (incl. implicit 0)
    uncomp_offsets: list[int]  # matching uncompressed offsets (incl. 0)


def read_gzi(path: str) -> GziIndex:
    with fs.open_input(path) as f:
        data = f.read()
    n = struct.unpack_from("<Q", data, 0)[0]
    comp = [0]
    uncomp = [0]
    for i in range(n):
        c, u = struct.unpack_from("<QQ", data, 8 + 16 * i)
        comp.append(c)
        uncomp.append(u)
    return GziIndex(comp, uncomp)


@dataclass
class FaiEntry:
    name: str
    length: int
    offset: int  # uncompressed byte offset of first base
    line_bases: int
    line_bytes: int


def read_fai(path: str) -> dict[str, FaiEntry]:
    out: dict[str, FaiEntry] = {}
    with io.TextIOWrapper(fs.open_input(path)) as f:
        for line in f:
            if not line.strip():
                continue
            name, ln, off, lb, lw = line.split("\t")[:5]
            out[name] = FaiEntry(name, int(ln), int(off), int(lb), int(lw))
    return out


class IndexedBgzfFasta:
    """Random-access reference over (fasta.gz, .fai, .gzi) — reads only
    the BGZF blocks covering the requested slice."""

    def __init__(self, fasta_gz: str, fai_path: str | None = None, gzi_path: str | None = None):
        self.path = fasta_gz
        self.fai = read_fai(fai_path or fasta_gz + ".fai")
        self.gzi = read_gzi(gzi_path or fasta_gz + ".gzi")

    def _read_uncompressed(self, u_start: int, u_end: int) -> bytes:
        """Uncompressed bytes [u_start, u_end): one block reader over the
        .gzi entries from the block holding ``u_start`` to the last block
        starting before ``u_end``."""
        gz = self.gzi
        i = bisect.bisect_right(gz.uncomp_offsets, u_start) - 1
        j = bisect.bisect_left(gz.uncomp_offsets, u_end)
        stop = gz.comp_offsets[j] if j < len(gz.comp_offsets) else None
        with bgzf.BlockReader(self.path, gz.comp_offsets[i], stop) as r:
            data = r.fill().data
        rel = u_start - gz.uncomp_offsets[i]
        return bytes(data[rel : rel + (u_end - u_start)])

    def get(self, contig: str, start1: int, end1: int) -> str:
        """1-based closed slice of a contig, newline-stripped, uppercase."""
        e = self.fai[contig]
        start0, end0 = start1 - 1, min(end1, e.length)
        # uncompressed text offsets, accounting for line terminators
        u_from = e.offset + (start0 // e.line_bases) * e.line_bytes + (start0 % e.line_bases)
        last0 = end0 - 1
        u_to = e.offset + (last0 // e.line_bases) * e.line_bytes + (last0 % e.line_bases) + 1
        raw = self._read_uncompressed(u_from, u_to)
        return raw.replace(b"\n", b"").replace(b"\r", b"").decode("ascii").upper()


def open_reference(path: str):
    """Reference source dispatch (CramReferenceSourceBuilder semantics):
    plain FASTA -> whole-file loader; bgzipped + .gzi -> block-indexed
    random access; bgzipped without .gzi -> whole-file gzip load."""
    import os

    if path.endswith(".gz") and fs.exists(path + ".gzi") and fs.exists(path + ".fai"):
        return IndexedBgzfFasta(path)
    from disq_spark.formats.cram_decode import FastaReference

    return FastaReference(path)


class IndexedPlainFasta:
    """Random-access over an UNCOMPRESSED fasta + .fai: the .fai line
    arithmetic gives exact byte offsets, so a slice is one seek + one
    bounded read — never a whole-contig load (FastaReference's whole-
    file dict is fine for CRAM's small test refs, wrong for a 3 GB
    genome read by hundreds of window tasks)."""

    def __init__(self, fasta: str, fai_path: str | None = None):
        self.path = fasta
        self.fai = read_fai(fai_path or fasta + ".fai")

    def get(self, contig: str, start1: int, end1: int) -> str:
        e = self.fai[contig]
        start0, end0 = start1 - 1, min(end1, e.length)
        u_from = e.offset + (start0 // e.line_bases) * e.line_bytes + (start0 % e.line_bases)
        last0 = end0 - 1
        u_to = e.offset + (last0 // e.line_bases) * e.line_bytes + (last0 % e.line_bases) + 1
        with fs.open_input(self.path) as f:
            f.seek(u_from)
            raw = f.read(u_to - u_from)
        return raw.replace(b"\n", b"").replace(b"\r", b"").decode("ascii").upper()


def open_indexed_reference(path: str):
    """Window-scan reference dispatch: .fai-seek for plain files,
    .gzi+.fai block lookup for bgzip — both O(slice) per access."""
    if path.endswith(".gz"):
        return IndexedBgzfFasta(path)
    return IndexedPlainFasta(path)
