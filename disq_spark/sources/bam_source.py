"""BAM -> reads DataFrame (the reference's flagship path, SURVEY.md §3.1).

Driver-side planning (no Spark jobs, unlike the reference which runs
planning as distributed jobs — with an index the plan is pure metadata):

1. read header (+ sequence dictionary) from the first BGZF blocks
   (AbstractSamSource.java:54-71).
2. with ``.sbi``: byte splits -> record-start virtual-offset chunks via
   the index, one flatMap-equivalent done driver-side
   (BamSource.java:99-119).
3. without: byte splits realign to the next BGZF block boundary, then a
   record-start guesser validates candidate offsets by checking ~10
   consecutive records' field invariants (BamSource.java:120-139 +
   BamRecordGuesser.java:60-226, READS_TO_CHECK=10, MAX_READ_SIZE cap).

Executors decode their virtual-offset span into Arrow batches via
mapInPandas. Non-overlap invariant: a partition decodes exactly the
records whose start virtual offset lies in [vStart, vEnd)
(AbstractBinarySamSource.java:95-98 one-chunk-per-partition analog).
"""

from __future__ import annotations

from disq_spark import fs as _dfs

import os
import struct as _struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from disq_spark.formats import bam as bamcodec
from disq_spark.formats import bgzf
from disq_spark.formats import sbi as sbimod
from disq_spark.headers import SamHeader
from disq_spark.schemas import READS_COLUMNS, READS_SCHEMA, READS_SCHEMA_RAW_TAGS
from disq_spark.sources.plan import DEFAULT_SPLIT_SIZE, plan_frame, resolve_paths

BAM_EXTENSIONS = (".bam",)
READS_TO_CHECK = 10  # BamRecordGuesser.java:42
MAX_SEARCH_BYTES = 10 * 1024 * 1024  # MAX_READ_SIZE, BamSource.java:74


class _BlockBuffer:
    """Decompressed view of a run of BGZF blocks with virtual-offset maps."""

    def __init__(self, path: str, c_start: int, min_bytes: int):
        self.path = path
        self.blocks: list[tuple[int, int, int]] = []  # (c_pos, buf_start, u_size)
        chunks = []
        total = 0
        with _dfs.open_input(path) as f:
            for blk in bgzf.scan_blocks(path, c_start):
                data = bgzf.decompress_block(f, blk.pos)
                self.blocks.append((blk.pos, total, len(data)))
                chunks.append(data)
                total += len(data)
                if total >= min_bytes:
                    break
        self.data = b"".join(chunks)

    def extend(self, min_extra: int) -> bool:
        """Append more blocks; False if at EOF."""
        if not self.blocks:
            return False
        last_c, last_b, last_u = self.blocks[-1]
        with _dfs.open_input(self.path) as f:
            added = 0
            chunks = [self.data]
            for blk in bgzf.scan_blocks(self.path, last_c):
                if blk.pos == last_c:
                    continue
                data = bgzf.decompress_block(f, blk.pos)
                self.blocks.append((blk.pos, len(self.data) + added, len(data)))
                chunks.append(data)
                added += len(data)
                if added >= min_extra:
                    break
            if added == 0:
                return False
            self.data = b"".join(chunks)
            return True

    def buf_offset(self, c_pos: int, u_off: int) -> int | None:
        for c, b, u in self.blocks:
            if c == c_pos:
                return b + u_off
        return None

    def virtual_offset(self, buf_off: int) -> int:
        """Virtual offset of a record starting at this buffer offset."""
        for c, b, u in reversed(self.blocks):
            if buf_off >= b:
                if buf_off >= b + u:
                    continue  # block end == start of next block (or EOF)
                return (c << 16) | (buf_off - b)
        raise ValueError("offset outside buffer")


def read_bam_header(path: str) -> tuple[SamHeader, list[tuple[str, int]], int]:
    """(header, refs, first_record_virtual_offset)."""
    buf = _BlockBuffer(path, 0, 1 << 20)
    while True:
        try:
            text, refs, off = bamcodec.parse_bam_header(buf.data)
            break
        except (_struct.error, IndexError):  # header spans more blocks
            if not buf.extend(1 << 20):
                raise
    try:
        voff = buf.virtual_offset(off)
    except ValueError:
        # header-only file: the "first record" position is end-of-data,
        # i.e. the start of the block right after the header (EOF block)
        nxt = [c for c, b, _u in buf.blocks if b == off]
        voff = (nxt[0] << 16) if nxt else (_dfs.getsize(path) << 16)
    return SamHeader(text=text), refs, voff


def _check_record(
    data: bytes, off: int, n_ref: int, ref_lens: list[int], check_bin: bool = True
) -> int | None:
    """Validate one candidate record start; return next offset or None.

    Ports the field-invariant checks of BamRecordGuesser.java:105-226:
    bounded block_size, refID/pos in range, NUL-terminated name, valid
    cigar operators, internal length arithmetic.
    """
    if off + 36 > len(data):
        return -1  # insufficient data (not a failure)
    block_size = _struct.unpack_from("<i", data, off)[0]
    if block_size < 32 or block_size > 8 * 1024 * 1024:
        return None
    base = off + 4
    if base + block_size > len(data):
        return -1
    ref_id, pos = _struct.unpack_from("<ii", data, base)
    if ref_id < -1 or ref_id >= n_ref:
        return None
    if pos < -1 or (ref_id >= 0 and pos > ref_lens[ref_id]):
        return None
    l_read_name = data[base + 8]
    if l_read_name == 0:
        return None
    n_cigar = _struct.unpack_from("<H", data, base + 12)[0]
    l_seq = _struct.unpack_from("<i", data, base + 16)[0]
    if l_seq < 0:
        return None
    next_ref, next_pos = _struct.unpack_from("<ii", data, base + 20)
    if next_ref < -1 or next_ref >= n_ref:
        return None
    if next_pos < -1 or (next_ref >= 0 and next_pos > ref_lens[next_ref]):
        return None
    fixed = 32 + l_read_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
    if fixed > block_size:
        return None
    # NUL-terminated name exactly at l_read_name
    if data[base + 32 + l_read_name - 1] != 0:
        return None
    name_bytes = data[base + 32 : base + 32 + l_read_name - 1]
    if b"\x00" in name_bytes:
        return None
    if any(b < 0x21 or b > 0x7E for b in name_bytes):  # printable, no spaces
        return None
    # cigar ops valid; accumulate reference length for the bin check
    ref_len = 0
    for i in range(n_cigar):
        c = _struct.unpack_from("<I", data, base + 32 + l_read_name + 4 * i)[0]
        op = c & 0xF
        if op > 8:
            return None
        if op in (0, 2, 3, 7, 8):  # M D N = X consume reference
            ref_len += c >> 4
    # bin consistency (standard writers set bin = reg2bin of the span) —
    # the extra discriminator that kills the false positives the
    # reference's guesser was historically prone to. Some writers leave
    # the field stale or 0, so callers can disable it (find_record_start
    # retries without it rather than degrading to a single partition).
    if check_bin and ref_id >= 0 and pos >= 0 and n_cigar > 0:
        from disq_spark.formats.bam import _reg2bin

        bin_field = _struct.unpack_from("<H", data, base + 10)[0]
        if bin_field != _reg2bin(pos, pos + max(ref_len, 1)):
            return None
    # qual bytes plausible: phred 0..93 or the 0xFF missing marker
    qoff = base + 32 + l_read_name + 4 * n_cigar + (l_seq + 1) // 2
    qual = data[qoff : qoff + min(l_seq, 64)]
    if qual and qual[0] != 0xFF and any(q > 93 for q in qual):
        return None
    return off + 4 + block_size


def find_record_start(
    buf: _BlockBuffer, n_ref: int, ref_lens: list[int], search_limit: int = MAX_SEARCH_BYTES
) -> int | None:
    """First buffer offset that begins a run of READS_TO_CHECK valid
    records (BamRecordGuesser.checkRecordStart semantics).

    The bin-consistency discriminator assumes standard writers
    (bin = reg2bin of the alignment span); writers that leave bin stale
    or 0 would fail every candidate chain and collapse planning to one
    partition. So: strict pass first, then a retry without the bin check
    — false positives remain vanishingly unlikely because the other ~10
    field invariants must hold for READS_TO_CHECK consecutive records.
    """
    for check_bin in (True, False):
        cand = _scan_for_record_start(buf, n_ref, ref_lens, search_limit, check_bin)
        if cand is not None:
            return cand
    return None


def _scan_for_record_start(
    buf: _BlockBuffer,
    n_ref: int,
    ref_lens: list[int],
    search_limit: int,
    check_bin: bool,
) -> int | None:
    cand = 0
    while cand < min(len(buf.data), search_limit):
        off = cand
        validated = 0
        ok = True
        while validated < READS_TO_CHECK:
            nxt = _check_record(buf.data, off, n_ref, ref_lens, check_bin)
            while nxt == -1:
                # candidate record overruns the buffer: fetch more blocks;
                # at EOF a first record overrunning the file is bogus, but
                # a chain that already validated >= 1 real record just hit
                # the end of data — accept it
                if not buf.extend(1 << 22):
                    nxt = None if validated == 0 else -2
                    break
                nxt = _check_record(buf.data, off, n_ref, ref_lens, check_bin)
            if nxt is None:
                ok = False
                break
            if nxt == -2:
                break
            validated += 1
            off = nxt
        if ok and validated > 0:
            return cand
        cand += 1
    return None


def plan_bam_chunks(
    path: str, split_size: int, refs: list[tuple[str, int]], first_voff: int
) -> list[tuple[int, int]]:
    """[(vStart, vEnd)] per split. Uses .sbi when present; else the
    block-realign + record-guess fallback, all driver-side."""
    size = _dfs.getsize(path)
    sbi_path = path + ".sbi"
    chunks: list[tuple[int, int]] = []
    if _dfs.exists(sbi_path):
        index = sbimod.read_sbi(sbi_path)
        start = 0
        while start < size:
            c = index.chunk(start, min(start + split_size, size))
            if c is not None and c[0] < c[1]:
                chunks.append(c)
            start += split_size
        return chunks

    n_ref = len(refs)
    ref_lens = [l for _n, l in refs]
    starts: list[int] = []
    pos = 0
    while pos < size:
        if pos == 0:
            starts.append(first_voff)
        else:
            buf = _BlockBuffer(path, pos, 1 << 20)
            if buf.blocks:
                rec = find_record_start(buf, n_ref, ref_lens)
                if rec is not None:
                    starts.append(buf.virtual_offset(rec))
        pos += split_size
    # dedupe + pair into [vStart, vEnd)
    starts = sorted(set(starts))
    end_voff = size << 16
    for i, s in enumerate(starts):
        e = starts[i + 1] if i + 1 < len(starts) else end_voff
        if s < e:
            chunks.append((s, e))
    return chunks


def decode_chunk(
    path: str,
    refs: list[tuple[str, int]],
    v_start: int,
    v_end: int,
    with_seq: bool = True,
    with_qual: bool = True,
    with_tags: bool = True,
):
    """Decode all records whose start virtual offset is in [v_start, v_end)."""
    cols = decode_chunk_cols(
        path, refs, v_start, v_end, with_seq=with_seq, with_qual=with_qual, with_tags=with_tags
    )
    if cols is None:
        return
    return list(zip(*[cols[c] for c in READS_COLUMNS]))


def decode_chunk_cols(
    path: str,
    refs: list[tuple[str, int]],
    v_start: int,
    v_end: int,
    with_seq: bool = True,
    with_qual: bool = True,
    with_tags: bool = True,
    raw_tags: bool = False,
):
    """Column-dict variant of decode_chunk: a cheap offsets walk (one
    struct.unpack per record) followed by the numpy batch decoder — the
    hot read path feeding Arrow batches in mapInPandas."""
    c_start, u_start = v_start >> 16, v_start & 0xFFFF
    buf = _BlockBuffer(path, c_start, 1 << 22)
    off = buf.buf_offset(c_start, u_start)
    if off is None:
        return None
    rec_offs: list[int] = []
    unpack = _struct.unpack_from
    bi = 0  # monotone block cursor: record offsets only move forward, so
    # the voff boundary check is O(1) amortized instead of a per-record
    # scan over the block table
    while True:
        if off + 4 > len(buf.data):
            if not buf.extend(1 << 22):
                break
        while bi < len(buf.blocks) and off >= buf.blocks[bi][1] + buf.blocks[bi][2]:
            bi += 1
        if bi >= len(buf.blocks):
            break
        c_pos, b_start, _u = buf.blocks[bi]
        voff = (c_pos << 16) | (off - b_start)
        if voff >= v_end:
            break
        # ensure whole record in buffer
        while off + 4 > len(buf.data) or off + 4 + unpack("<i", buf.data, off)[0] > len(buf.data):
            if not buf.extend(1 << 22):
                break
        if off + 4 > len(buf.data) or off + 4 + unpack("<i", buf.data, off)[0] > len(buf.data):
            break  # truncated final record (file cut mid-block)
        rec_offs.append(off)
        off += 4 + unpack("<i", buf.data, off)[0]
        if off >= len(buf.data):
            # might be exactly at end-of-data
            if not buf.extend(1 << 22):
                break
    return bamcodec.decode_batch(
        buf.data,
        rec_offs,
        refs,
        with_seq=with_seq,
        with_qual=with_qual,
        with_tags=with_tags,
        raw_tags=raw_tags,
    )


def _advance_past_name_run(path: str, voff: int) -> int | None:
    """First record-start voff at/after ``voff`` whose name differs from
    the name at ``voff`` — the boundary snap that keeps a queryname group
    inside one partition. Returns None at end-of-data."""
    c_start, u_start = voff >> 16, voff & 0xFFFF
    buf = _BlockBuffer(path, c_start, 1 << 20)
    off = buf.buf_offset(c_start, u_start)
    if off is None:
        return None
    first_name = None
    while True:
        while off + 36 > len(buf.data):
            if not buf.extend(1 << 20):
                return None
        block_size = _struct.unpack_from("<i", buf.data, off)[0]
        while off + 4 + block_size > len(buf.data):
            if not buf.extend(1 << 20):
                return None
        l_name = buf.data[off + 4 + 8]
        name = buf.data[off + 4 + 32 : off + 4 + 32 + l_name - 1]
        if first_name is None:
            first_name = name
        elif name != first_name:
            return buf.virtual_offset(off)
        off += 4 + block_size


def adjust_chunks_for_queryname_groups(
    path: str, chunks: list[tuple[int, int]]
) -> list[tuple[int, int]]:
    """Snap every chunk boundary forward past the name run it lands in,
    so no queryname group spans two partitions — the pair-processing
    guarantee the reference documents as unimplemented (README.md:39,
    162-166). Requires queryname-grouped input (groups contiguous);
    driver-side, reads a few KB per boundary."""
    if len(chunks) <= 1:
        return chunks
    starts = [chunks[0][0]]
    for vs, _ve in chunks[1:]:
        snapped = _advance_past_name_run(path, vs)
        if snapped is not None:
            starts.append(snapped)
    starts = sorted(set(starts))
    end = chunks[-1][1]
    out = []
    for i, s in enumerate(starts):
        e = starts[i + 1] if i + 1 < len(starts) else end
        if s < e:
            out.append((s, e))
    return out


def scan_record_voffs(path: str, refs: list[tuple[str, int]], v_start: int, v_end: int) -> list[int]:
    """Record-start virtual offsets in [v_start, v_end) — walks block_size
    fields without decoding record bodies (an index scan, not a data scan)."""
    c_start, u_start = v_start >> 16, v_start & 0xFFFF
    buf = _BlockBuffer(path, c_start, 1 << 22)
    off = buf.buf_offset(c_start, u_start)
    if off is None:
        return []
    out = []
    while True:
        while off + 4 > len(buf.data):
            if not buf.extend(1 << 22):
                return out
        try:
            voff = buf.virtual_offset(off)
        except ValueError:
            return out
        if voff >= v_end:
            return out
        block_size = _struct.unpack_from("<i", buf.data, off)[0]
        out.append(voff)
        off += 4 + block_size
        while off > len(buf.data):
            if not buf.extend(1 << 22):
                return out


def build_sbi(
    spark: SparkSession, path: str, split_size: int = DEFAULT_SPLIT_SIZE, granularity: int = 1
) -> str:
    """Distributed .sbi construction for an existing (index-less) BAM —
    the BamRecordGuesserChecker.getSBIIndex pattern (:82-95) done as one
    Spark job: guesser-planned chunks scan their record starts in
    parallel and write them as packed-int64 FRAGMENT FILES task-side;
    the driver streams the fragments into ``path + '.sbi'`` in chunk
    order. Driver peak memory is O(#chunks + io buffer) — independent of
    record count (10^12 records at granularity 1 is terabytes of
    offsets; no single heap should ever hold them). Subsequent reads
    plan from the index (no guessing).
    """
    import numpy as _np
    import pandas as pd_  # local alias to avoid shadowing

    from disq_spark.sinks import merge as _merge

    header, refs, first_voff = read_bam_header(path)
    chunks = plan_bam_chunks(path, split_size, refs, first_voff)
    gran = granularity
    parts_dir = path + ".sbi.parts"
    _dfs.makedirs(parts_dir)

    def scan(p, v_start, v_end):
        # One OUTPUT ROW PER CHUNK, not per record: each task subsamples
        # its own offsets at `granularity` (phase restarting per chunk —
        # the same semantics the write-side per-part fragment merge
        # produces, sinks/bam.py) and writes them to an attempt-unique
        # fragment file (speculation/retry-safe). Driver traffic is one
        # row per chunk; the offset bytes stay on the filesystem.
        voffs = scan_record_voffs(p, refs, v_start, v_end)
        packed = _np.asarray(voffs[::gran], dtype="<i8").tobytes()
        frag = ""
        if packed:
            frag = _merge.attempt_part_path(parts_dir, prefix="frag")
            with _dfs.open_output(frag) as f:
                f.write(packed)
        yield pd_.DataFrame(
            {"chunk": [v_start], "n": [len(voffs)], "frag": [frag], "n_offsets": [len(packed) // 8]}
        )

    try:
        rows = plan_frame(
            spark, [(path, vs, ve) for vs, ve in chunks], scan,
            "chunk long, n long, frag string, n_offsets long",
        ).collect()
        rows.sort(key=lambda r: r.chunk)  # chunks are disjoint & ordered -> no global sort
        total = sum(r.n for r in rows)
        num_offsets = sum(r.n_offsets for r in rows) + 1  # + end sentinel
        size = _dfs.getsize(path)
        # end-of-data sentinel: htsjdk's SBIIndexWriter records the virtual
        # position BEFORE the 28-byte BGZF EOF terminator (verified
        # byte-for-byte against 1-with-splitting-index.bam.sbi)
        with _dfs.open_input(path) as f:
            f.seek(size - len(bgzf.EOF_BLOCK))
            has_eof = f.read(len(bgzf.EOF_BLOCK)) == bgzf.EOF_BLOCK
        end_of_data = size - len(bgzf.EOF_BLOCK) if has_eof else size
        sbimod.write_sbi_stream(
            path + ".sbi",
            file_length=size,
            total_records=total,
            granularity=granularity,
            num_offsets=num_offsets,
            blob_paths=[r.frag for r in rows if r.frag],
            tail_offset=end_of_data << 16,
        )
    finally:
        _dfs.rmtree(parts_dir)
    return path + ".sbi"


def build_bai(
    spark: SparkSession, path: str, split_size: int = DEFAULT_SPLIT_SIZE
) -> str:
    """Distributed .bai construction for an existing coordinate-sorted
    (index-less) BAM — the read-side counterpart of the write-path
    builder (sinks/bam.py) and the .bai sibling of ``build_sbi``. The
    reference only builds .sbi for existing files
    (BamRecordGuesserChecker.java:82-95) and defers .bai to htsjdk's
    single-threaded BAMIndexer; here each planned chunk builds its
    fragment in parallel and the driver merges with zero offset shift
    (record voffs are already absolute). Byte-identical to the index the
    single-file write path would have produced for the same records
    (differential-tested), so interval planners can't tell the
    difference. Writes ``path + '.bai'`` and returns it.
    """
    import pandas as pd_

    from disq_spark.formats import bai as baimod
    from disq_spark.formats.bam import _reg2bin
    from disq_spark.schemas import FLAG_UNMAPPED
    from disq_spark.sinks import merge as _merge
    from disq_spark.sinks.bam import _check_cross_part_order

    header, refs, first_voff = read_bam_header(path)
    if header.sort_order != "coordinate":
        raise ValueError("build_bai requires a coordinate-sorted BAM header")
    chunks = plan_bam_chunks(path, split_size, refs, first_voff)
    size = _dfs.getsize(path)
    with _dfs.open_input(path) as f:
        f.seek(size - len(bgzf.EOF_BLOCK))
        has_eof = f.read(len(bgzf.EOF_BLOCK)) == bgzf.EOF_BLOCK
    end_of_data_voff = (size - len(bgzf.EOF_BLOCK) if has_eof else size) << 16

    parts_dir = path + ".bai.parts"
    _dfs.makedirs(parts_dir)
    ref_index = {name: i for i, (name, _l) in enumerate(refs)}
    n_ref = len(refs)

    def scan(p, vs, ve):
        # write-side parity: the file's final end voff is the
        # end-of-data position (pre-EOF-block), like the write
        # path's dangling-end patch target
        ve_eff = min(ve, end_of_data_voff)
        voffs = scan_record_voffs(p, refs, vs, ve)
        n = len(voffs)
        base = ""
        if n:
            cols = decode_chunk_cols(
                p, refs, vs, ve,
                with_seq=False, with_qual=False, with_tags=False,
            )
            b = baimod.BaiBuilder(n_ref)
            ends_v = voffs[1:] + [ve_eff]
            first_key = last_key = None
            unplaced = False
            for i in range(n):
                contig, start = cols["contig"][i], cols["start"][i]
                if contig is None or start is None or pd_.isna(start):
                    b.add(-1, -1, -1, 0, voffs[i], ends_v[i], False)
                    unplaced = True
                else:
                    if unplaced:
                        raise ValueError(
                            "build_bai requires coordinate-sorted "
                            "records: placed record after unplaced"
                        )
                    pos0 = int(start) - 1
                    e = cols["end"][i]
                    end0 = int(e) if e is not None and not pd_.isna(e) else pos0 + 1
                    b.add(
                        ref_index[contig], pos0, end0,
                        _reg2bin(pos0, max(end0, pos0 + 1)),
                        voffs[i], ends_v[i],
                        int(cols["flags"][i]) & FLAG_UNMAPPED == 0,
                    )
                    last_key = (ref_index[contig], pos0)
                    if first_key is None:
                        first_key = last_key
            # attempt-unique base (uuid8): a speculative/zombie
            # retry of this chunk stages to a DIFFERENT name, so
            # it can never re-truncate a fragment the driver is
            # reading during merge; the driver merges only the
            # bases reported by collected (winning) tasks. The
            # zero-padded v_start prefix keeps lexicographic sort
            # == chunk order. Same scheme as build_sbi / the sinks.
            import uuid as _uuid

            base = f"part-{vs:020d}-{_uuid.uuid4().hex[:8]}"
            baimod.write_bai(
                os.path.join(parts_dir, f".{base}.bai"), b.build(), fragment=True
            )
            _merge.write_order_sidecar(
                parts_dir, base,
                {"first": first_key, "last": last_key, "unplaced": unplaced},
            )
        yield pd_.DataFrame({"part": [base], "n": [n]})

    try:
        rows = plan_frame(
            spark, [(path, vs, ve) for vs, ve in chunks], scan, "part string, n long"
        ).collect()
        bases = sorted(r.part for r in rows if r.part)
        _check_cross_part_order(parts_dir, bases)
        frags = [
            baimod.read_bai(os.path.join(parts_dir, f".{b}.bai"), fragment=True)
            for b in bases
        ]
        if frags:
            merged = baimod.merge_bai(frags, [0] * len(frags), base_offset=0)
        else:
            # zero-record BAM: a legal index still carries one empty
            # entry per reference sequence
            merged = baimod.BaiBuilder(n_ref).build()
        baimod.write_bai(path + ".bai", merged)
    finally:
        _dfs.rmtree(parts_dir)
    return path + ".bai"


def read_bam(
    spark: SparkSession,
    path: str,
    split_size: int = DEFAULT_SPLIT_SIZE,
    intervals: list | None = None,
    traverse_unplaced_unmapped: bool = False,
    pair_atomic: bool = False,
    columns: list[str] | None = None,
    tags: str = "parsed",
) -> tuple[DataFrame, SamHeader]:
    """Load BAM (file, dir, or glob) as a reads DataFrame + header.

    ``columns``: manual pushdown of column pruning into the decoder —
    seq/qual/tags are most of the bytes; omitting them from this list
    skips their decode entirely (the columns still exist, as NULLs).
    The schema stays READS_SCHEMA either way.

    ``tags="raw"``: aux tags ride as the undecoded BAM byte span
    (BinaryType ``tags`` column, ``read_group`` NULL) — one slice per
    record instead of per-tag Python string/dict assembly, the 100 TB
    scan shape. ``functions.flags.parse_tags`` restores the map form on
    demand; ``write_bam`` copies raw tags verbatim (bit-exact, faster
    writes too). Default ``"parsed"`` keeps the map<tag, "TYPE:value">
    schema.

    ``intervals``/``traverse_unplaced_unmapped`` mirror the reference's
    HtsjdkReadsTraversalParameters surface: a residual Column predicate
    (always correct) plus .bai-driven partition pruning when the index
    exists (AbstractBinarySamSource.java:111-158 — but unlike the
    reference we do not *require* an index, :112-116; index-less input
    degrades to filter-only).

    ``pair_atomic``: for queryname-grouped input, snap partition
    boundaries so a read name's records never split across partitions —
    the guarantee the reference lists as unimplemented (README.md:39).
    """
    if tags not in ("parsed", "raw"):
        raise ValueError(f"tags must be 'parsed' or 'raw', got {tags!r}")
    df, header = _read_bam_all(
        spark,
        path,
        split_size,
        intervals,
        traverse_unplaced_unmapped,
        pair_atomic,
        columns,
        raw_tags=(tags == "raw"),
    )
    if intervals is not None or traverse_unplaced_unmapped:
        from disq_spark.functions.intervals import filter_intervals

        df = filter_intervals(df, intervals, traverse_unplaced_unmapped)
    return df, header


def _chunk_may_match(
    bai_path: str,
    refs: list[tuple[str, int]],
    chunks: list[tuple[int, int]],
    intervals: list | None,
    unplaced_unmapped: bool,
) -> list[tuple[int, int]]:
    """Drop planned (vStart, vEnd) chunks the .bai proves irrelevant.

    A chunk survives if it overlaps any interval's file span, or (for the
    unplaced-unmapped tail) extends past the last indexed offset
    (AbstractBinarySamSource.java:117-157). Pure metadata pruning — the
    residual record filter keeps correctness regardless.
    """
    from disq_spark.formats import bai as baimod

    idx = baimod.read_bai(bai_path)
    ref_id = {name: i for i, (name, _l) in enumerate(refs)}
    spans: list[tuple[int, int]] = []
    for iv in intervals or []:
        spans.extend(baimod.chunks_for_interval(idx, ref_id.get(iv.contig, -1), iv.start, iv.end))
    tail_voff = baimod.last_indexed_voff(idx) if unplaced_unmapped else None
    out = []
    for v_start, v_end in chunks:
        keep = any(cb < v_end and ce > v_start for cb, ce in spans)
        if not keep and tail_voff is not None:
            keep = v_end > tail_voff
        if keep:
            out.append((v_start, v_end))
    return out


def _read_bam_all(
    spark: SparkSession,
    path: str,
    split_size: int = DEFAULT_SPLIT_SIZE,
    intervals: list | None = None,
    traverse_unplaced_unmapped: bool = False,
    pair_atomic: bool = False,
    columns: list[str] | None = None,
    raw_tags: bool = False,
) -> tuple[DataFrame, SamHeader]:
    paths = resolve_paths(path, BAM_EXTENSIONS)
    header, refs, first_voff = read_bam_header(paths[0])
    schema = READS_SCHEMA_RAW_TAGS if raw_tags else READS_SCHEMA

    plan: list[tuple[str, int, int]] = []
    for p in paths:
        _h, p_refs, p_voff = (header, refs, first_voff) if p == paths[0] else read_bam_header(p)
        p_chunks = plan_bam_chunks(p, split_size, p_refs, p_voff)
        if pair_atomic:
            p_chunks = adjust_chunks_for_queryname_groups(p, p_chunks)
        if (intervals is not None or traverse_unplaced_unmapped) and _dfs.exists(p + ".bai"):
            p_chunks = _chunk_may_match(
                p + ".bai", p_refs, p_chunks, intervals, traverse_unplaced_unmapped
            )
        for v_start, v_end in p_chunks:
            plan.append((p, v_start, v_end))

    w_seq = columns is None or "seq" in columns
    w_qual = columns is None or "qual" in columns
    w_tags = columns is None or "tags" in columns or "read_group" in (columns or [])

    def decode(p: str, v_start: int, v_end: int) -> Iterator[pd.DataFrame]:
        cols = decode_chunk_cols(
            p, refs, v_start, v_end,
            with_seq=w_seq, with_qual=w_qual, with_tags=w_tags, raw_tags=raw_tags,
        )
        if cols and cols["flags"]:
            yield pd.DataFrame(cols, columns=READS_COLUMNS)

    return plan_frame(spark, plan, decode, schema), header


def check_record_guesser(
    spark: SparkSession,
    path: str,
    split_size: int = DEFAULT_SPLIT_SIZE,
    neighborhood: int = 8,
) -> DataFrame:
    """Distributed diagnostic scan of the record-start guesser — the
    BamRecordGuesserChecker.java:107-177 analog, exposed as a DataFrame.

    Ground truth per partition is the sequential record walk (the same
    walk the decoder trusts); each task then re-judges every true start
    with the chain guesser (a miss is a FALSE_NEGATIVE) and probes the
    ``neighborhood`` byte offsets after each start, which must all fail
    (a pass is a FALSE_POSITIVE — the class of bug that corrupted
    Hadoop-BAM splits historically). Returns only disagreements
    (voff: long, kind: string); an empty result means the guesser is
    exact on this file at this granularity.
    """
    import pandas as pd_

    header, refs, first_voff = read_bam_header(path)
    chunks = plan_bam_chunks(path, split_size, refs, first_voff)
    n_ref = len(refs)
    ref_lens = [l for _n, l in refs]

    def chain_ok(data: bytes, off: int) -> bool:
        validated = 0
        while validated < READS_TO_CHECK:
            nxt = _check_record(data, off, n_ref, ref_lens)
            if nxt is None:
                return False
            if nxt == -1:  # ran off the buffer: accept what we verified
                return validated > 0
            off = nxt
            validated += 1
        return True

    def scan(p, v_start, v_end):
        c_start, u_start = v_start >> 16, v_start & 0xFFFF
        buf = _BlockBuffer(p, c_start, 1 << 22)
        off = buf.buf_offset(c_start, u_start)
        if off is None:
            return
        bad: list[tuple[int, str]] = []
        bi = 0
        while True:
            if off + 4 > len(buf.data) and not buf.extend(1 << 22):
                break
            while bi < len(buf.blocks) and off >= buf.blocks[bi][1] + buf.blocks[bi][2]:
                bi += 1
            if bi >= len(buf.blocks):
                break
            c_pos, b_start, _u = buf.blocks[bi]
            voff = (c_pos << 16) | (off - b_start)
            if voff >= v_end:
                break
            while off + 4 > len(buf.data) or off + 4 + _struct.unpack_from(
                "<i", buf.data, off
            )[0] > len(buf.data):
                if not buf.extend(1 << 22):
                    break
            if off + 4 > len(buf.data) or off + 4 + _struct.unpack_from(
                "<i", buf.data, off
            )[0] > len(buf.data):
                break
            if not chain_ok(buf.data, off):
                bad.append((voff, "FALSE_NEGATIVE"))
            for d in range(1, neighborhood + 1):
                if off + d + 36 <= len(buf.data) and chain_ok(buf.data, off + d):
                    bad.append((voff + d, "FALSE_POSITIVE"))
            off += 4 + _struct.unpack_from("<i", buf.data, off)[0]
            if off >= len(buf.data) and not buf.extend(1 << 22):
                break
        if bad:
            yield pd_.DataFrame(bad, columns=["voff", "kind"])

    return plan_frame(
        spark, [(path, vs, ve) for vs, ve in chunks], scan, "voff long, kind string"
    )


def bam_idxstats(spark: SparkSession, path: str) -> DataFrame:
    """samtools-idxstats analog: per-contig (contig, length, n_mapped,
    n_unmapped) plus a ``*`` row for no-coordinate reads — read entirely
    from the ``.bai`` metadata pseudo-bins (BAI pseudo-bin 37450 +
    n_no_coor), never touching the data file. O(index size) on the
    driver: the 100 TB answer to "how many reads per contig" is a few
    KB of index reads, zero cluster tasks.

    No reference analog (disq exposes no stats surface); the BAI
    metadata layout is the public hts-specs SAM/BAI convention.
    """
    from disq_spark.formats.bai import read_bai

    _header, seqs, _ = read_bam_header(path)
    idx = read_bai(path + ".bai")
    if len(idx.refs) != len(seqs):
        raise ValueError(
            f"index has {len(idx.refs)} refs, header has {len(seqs)}"
        )
    rows = [
        (name, length, r.n_mapped, r.n_unmapped)
        for (name, length), r in zip(seqs, idx.refs)
    ]
    rows.append(("*", 0, 0, idx.n_no_coor or 0))
    return spark.createDataFrame(
        rows, "contig string, length long, n_mapped long, n_unmapped long"
    )
