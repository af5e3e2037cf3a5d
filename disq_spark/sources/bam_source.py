"""BAM -> reads DataFrame (the reference's flagship path, SURVEY.md §3.1).

Planning is driver-side metadata (no Spark job, and no block inflated
beyond the header):

1. read header (+ sequence dictionary) from the first BGZF blocks
   (AbstractSamSource.java:54-71).
2. with ``.sbi``: byte splits -> record-start virtual-offset chunks via
   the index, one flatMap-equivalent done driver-side
   (BamSource.java:99-119).
3. without: the byte splits themselves, as block-aligned virtual offsets
   (``s << 16``; the file's first row starts at the header's end). Each
   task finds its own first record, as Disq's ``mapPartitionsWithIndex``
   guesser does (BamSource.java:120-139): its walk realigns to the next
   BGZF block and takes the first offset that begins a chain of valid
   records (BamRecordGuesser.java:60-226, READS_TO_CHECK=10,
   MAX_READ_SIZE cap). The guesser is exact, so neighbouring tasks agree
   on every boundary without talking to each other.

Executors decode their virtual-offset span into column dicts that
``plan_frame`` hands to Spark as Arrow batches. Non-overlap invariant: a
partition decodes exactly the records whose start virtual offset lies in
[vStart, vEnd) (AbstractBinarySamSource.java:95-98 one-chunk-per-partition
analog), where a block-aligned vStart names the first record starting in
that block or later.
One record walk (``walk_records``) finds those records for the decode,
the index builders and the guesser check, and applies the one boundary
rule (the guess, and the queryname snap of ``pair_atomic``). Every read
of the file — that walk and the header read — is a
``formats/bgzf.py::BlockReader``: the walk inflates the blocks from its
chunk's start to the one holding its end, plus what its guess, a record
straddling the end or a name run past the end needs.

``build_sbi``/``build_bai`` index an existing BAM on the write path's
index path: each planned chunk feeds its walked records to the BAM
sink's part indexer, and the sink's order check and merges commit the
fragments with zero shift (``sinks/merge.py::build_index``).
"""

from __future__ import annotations

from disq_spark import fs as _dfs

import struct as _struct
from functools import partial
from itertools import groupby
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from disq_spark.formats import bam as bamcodec
from disq_spark.formats import bgzf
from disq_spark.formats import sbi as sbimod
from disq_spark.functions.intervals import as_intervals, interval_mask
from disq_spark.headers import SamHeader
from disq_spark.schemas import READS_COLUMNS, READS_SCHEMA, READS_SCHEMA_RAW_TAGS
from disq_spark.sources.plan import DEFAULT_SPLIT_SIZE, Scan, plan_frame, resolve_paths

BAM_EXTENSIONS = (".bam",)
READS_TO_CHECK = 10  # BamRecordGuesser.java:42
MAX_SEARCH_BYTES = 10 * 1024 * 1024  # MAX_READ_SIZE, BamSource.java:74


def read_bam_header(path: str) -> tuple[SamHeader, list[tuple[str, int]], int]:
    """(header, refs, first_record_virtual_offset), inflating blocks only
    until the header parses and the byte after it is held."""
    with bgzf.BlockReader(path) as r:
        r.next_block()
        while True:
            try:
                text, refs, off = bamcodec.parse_bam_header(r.data)
                break
            except (_struct.error, IndexError, UnicodeDecodeError):  # header spans more blocks
                if not r.next_block():
                    raise
        while len(r.data) <= off and r.next_block():
            pass
        # a header-only file's "first record" is end-of-data: the (EOF)
        # block starting right after the header, else the file's end
        if off < len(r.data) or off in r.u_start:
            voff = r.virtual_offsets([off])[0]
        else:
            voff = _dfs.getsize(path) << 16
    return SamHeader(text=text), refs, voff


# the 36 fixed bytes of a record: block_size, refID, pos, l_read_name,
# mapq, bin, n_cigar_op, flag, l_seq, next_refID, next_pos, tlen
_FIXED = _struct.Struct("<iiiBBHHHiiii")


def _check_record(
    data: bytes, off: int, n_ref: int, ref_lens: list[int], check_bin: bool = True
) -> int | None:
    """Validate one candidate record start; return next offset or None.

    Ports the field-invariant checks of BamRecordGuesser.java:105-226:
    bounded block_size, refID/pos in range, NUL-terminated name, valid
    cigar operators, internal length arithmetic. Every check on the 36
    fixed bytes runs before the record's length is trusted, so garbage
    is rejected without inflating the megabytes its ``block_size`` may
    claim; -1 means the fixed fields pass but ``data`` ends before the
    record does. ``check_bin`` adds ``_bin_ok``.
    """
    if off + 36 > len(data):
        return -1  # insufficient data (not a failure)
    (block_size, ref_id, pos, l_read_name, _mapq, _bin, n_cigar, _flag, l_seq,
     next_ref, next_pos, _tlen) = _FIXED.unpack_from(data, off)
    if block_size < 32 or block_size > 8 * 1024 * 1024:
        return None
    if ref_id < -1 or ref_id >= n_ref or pos < -1 or (ref_id >= 0 and pos > ref_lens[ref_id]):
        return None
    if l_read_name == 0 or l_seq < 0:
        return None
    if next_ref < -1 or next_ref >= n_ref:
        return None
    if next_pos < -1 or (next_ref >= 0 and next_pos > ref_lens[next_ref]):
        return None
    if 32 + l_read_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq > block_size:
        return None
    base = off + 4
    if base + block_size > len(data):
        return -1
    # NUL-terminated name exactly at l_read_name
    if data[base + 32 + l_read_name - 1] != 0:
        return None
    name_bytes = data[base + 32 : base + 32 + l_read_name - 1]
    if any(b < 0x21 or b > 0x7E for b in name_bytes):  # printable, no spaces or NUL
        return None
    cigar = _struct.unpack_from(f"<{n_cigar}I", data, base + 32 + l_read_name)
    if any((c & 0xF) > 8 for c in cigar):
        return None
    if check_bin and not _bin_ok(data, off):
        return None
    # qual bytes plausible: phred 0..93 or the 0xFF missing marker
    qoff = base + 32 + l_read_name + 4 * n_cigar + (l_seq + 1) // 2
    qual = data[qoff : qoff + min(l_seq, 64)]
    if qual and qual[0] != 0xFF and any(q > 93 for q in qual):
        return None
    return base + block_size


def _bin_ok(data: bytes, off: int) -> bool:
    """The bin field of the whole record at ``off`` is reg2bin of its
    alignment span, as standard writers set it — the extra
    discriminator that kills the false positives the reference's
    guesser was historically prone to. Unplaced records and records
    without a cigar carry no span to check."""
    _bs, ref_id, pos, l_read_name, _mapq, bin_field, n_cigar = _FIXED.unpack_from(data, off)[:7]
    if ref_id < 0 or pos < 0 or n_cigar == 0:
        return True
    cigar = _struct.unpack_from(f"<{n_cigar}I", data, off + 36 + l_read_name)
    ref_len = sum(c >> 4 for c in cigar if (c & 0xF) in (0, 2, 3, 7, 8))  # M D N = X
    return bin_field == bamcodec._reg2bin(pos, pos + max(ref_len, 1))


def _chain_ok(r: bgzf.BlockReader, off: int, n_ref: int, ref_lens: list[int]) -> bool:
    """The one record-start rule (BamRecordGuesser.checkRecordStart), for
    the guesser and its diagnostic alike: the records chained from
    ``off`` pass every check for READS_TO_CHECK records, or for twice
    that many when a bin is stale or 0 (some writers leave it so; the
    other field invariants then carry the longer chain). Inflates
    blocks as far as the chain reaches; a chain that runs into the end
    of the file after at least one record passes."""
    data = r.data
    strict = True
    for n in range(2 * READS_TO_CHECK):
        if strict and n == READS_TO_CHECK:
            return True
        nxt = _check_record(data, off, n_ref, ref_lens, check_bin=False)
        while nxt == -1 and r.next_block():
            nxt = _check_record(data, off, n_ref, ref_lens, check_bin=False)
        if nxt is None:
            return False
        if nxt == -1:
            return n > 0
        strict = strict and _bin_ok(data, off)
        off = nxt
    return True


def _guess_record_start(path: str, r: bgzf.BlockReader, n_ref: int, ref_lens: list[int]) -> int | None:
    """The first ``r.data`` offset that begins a record (``_chain_ok``),
    scanning from the first block the reader holds; None when the file
    ends first. A stretch of MAX_SEARCH_BYTES without one is corrupt
    input: ValueError naming the path and the block's virtual offset."""
    data = r.data
    for cand in range(MAX_SEARCH_BYTES):
        if cand >= len(data) and not r.next_block():
            return None
        if _chain_ok(r, cand, n_ref, ref_lens):
            return cand
    raise ValueError(
        f"{path}: no BAM record starts within {MAX_SEARCH_BYTES} bytes"
        f" of virtual offset {r.c_pos[0] << 16}"
    )


def plan_bam_chunks(
    path: str, split_size: int, refs: list[tuple[str, int]], first_voff: int
) -> list[tuple[int, int]]:
    """[(vStart, vEnd)] per split. Uses .sbi when present; else the byte
    splits as block-aligned virtual offsets, the first one starting at
    ``first_voff`` — each task then finds its own first record
    (``walk_records``). Reads no data block either way."""
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
    for start in range(0, size, split_size):
        v_start, v_end = max(start << 16, first_voff), min(start + split_size, size) << 16
        if v_start < v_end:
            chunks.append((v_start, v_end))
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
    pair_atomic: bool = False,
    first_row: bool = False,
):
    """Column-dict variant of decode_chunk: a cheap offsets walk (one
    struct.unpack per record) followed by the numpy batch decoder — the
    hot read path, whose dict ``plan_frame`` hands to Arrow as it is.
    ``pair_atomic``/``first_row`` as in ``walk_records``."""
    walked = walk_records(path, refs, v_start, v_end, pair_atomic, first_row)
    if walked is None:
        return None
    r, rec_offs, _stop = walked
    return bamcodec.decode_batch(
        r.data,
        rec_offs,
        refs,
        with_seq=with_seq,
        with_qual=with_qual,
        with_tags=with_tags,
        raw_tags=raw_tags,
    )


def walk_records(
    path: str,
    refs: list[tuple[str, int]],
    v_start: int,
    v_end: int,
    pair_atomic: bool = False,
    first_row: bool = False,
) -> tuple[bgzf.BlockReader, list[int], int] | None:
    """The one BAM record walk: the block reader over the chunk, the
    ``r.data`` offsets of the whole records whose start virtual offset
    lies in [v_start, v_end) and the offset where the walk stopped (the
    next record's start, or the end of the data; ``r.virtual_offsets``
    maps them). Serves the decode, the index builders and the guesser
    check, so all of them share one boundary rule:

    - a ``v_start`` with in-block offset 0 (a byte split's start) names
      a block, not a record: the first block of the file at or after it,
      and its first record is guessed (``_guess_record_start``). Any other
      ``v_start`` is a record start from an index and is used as is.
    - the walk stops at the first record at or after ``v_end``; for a
      block-aligned ``v_end`` that is the first record of the first block
      at or after it, the next split's guess.
    - ``pair_atomic`` (queryname-grouped input): the chunk drops the name
      run its first record opens, unless ``first_row`` (the file's first
      chunk), and runs on past its stop through the name run the stop
      record opens, so both chunks at a boundary move it to the same
      record and no name spans two chunks.

    Inflates the blocks from ``v_start``'s to the one holding ``v_end``,
    plus those the guess, a record straddling the end or a name run past
    it needs. None when ``v_start`` is not a block of the file."""
    c_start, in_block = v_start >> 16, v_start & 0xFFFF
    # the range ends after the block holding v_end (before it, at offset 0)
    with bgzf.BlockReader(path, c_start, (v_end >> 16) + (v_end & 0xFFFF > 0)) as r:
        r.fill()
        if r.c_pos[:1] != [c_start] and (in_block or not r.c_pos):
            return None
        end = r.buffer_offsets([v_end])[0]
        off = in_block or _guess_record_start(path, r, len(refs), [l for _n, l in refs])
        rec_offs: list[int] = []
        if off is None:
            return r, rec_offs, len(r.data)
        if pair_atomic and not first_row:
            off = _name_run_end(r, off)
        if off >= end:
            return r, rec_offs, off
        off = _walk(r, off, end, rec_offs)
        if pair_atomic:
            off = _walk(r, off, _name_run_end(r, off), rec_offs)
    return r, rec_offs, off


def _walk(r: bgzf.BlockReader, off: int, end: int, rec_offs: list[int]) -> int:
    """Append the offsets of the whole records from ``off`` (a record
    start) while they start before ``end``; return the offset after the
    last one. Stops early at the end of the file or at a truncated final
    record."""
    data, unpack = r.data, _struct.unpack_from
    while off < end:
        if off + 4 > len(data) or off + 4 + unpack("<i", data, off)[0] > len(data):
            if r.next_block():
                continue
            break  # truncated final record (file cut mid-block)
        rec_offs.append(off)
        off += 4 + unpack("<i", data, off)[0]
    return off


def _name_run_end(r: bgzf.BlockReader, off: int) -> int:
    """The offset after the run of whole records from ``off`` that share
    the read name of the record at ``off`` (``off`` itself at the end of
    the data)."""
    data, unpack = r.data, _struct.unpack_from

    def name_at(o: int) -> bytes | None:
        while o + 36 > len(data) or o + 4 + unpack("<i", data, o)[0] > len(data):
            if not r.next_block():
                return None
        return bytes(data[o + 36 : o + 35 + data[o + 12]])

    first = name_at(off)
    while first is not None and name_at(off) == first:
        off += 4 + unpack("<i", data, off)[0]
    return off


def build_sbi(
    spark: SparkSession, path: str, split_size: int = DEFAULT_SPLIT_SIZE, granularity: int = 1
) -> str:
    """Distributed .sbi construction for an existing (index-less) BAM —
    the BamRecordGuesserChecker.getSBIIndex pattern (:82-95) done as one
    Spark job on the write path's index path: each chunk, whose tasks
    find their first records with the guesser, is indexed like a written part (every ``granularity``-th record,
    phase restarting per chunk) and the fragments are streamed into
    ``path + '.sbi'`` in chunk order, so driver memory is one buffer
    whatever the record count. Subsequent reads plan from the index (no
    guessing)."""
    return _build_index(spark, path, split_size, ".sbi", granularity)


def build_bai(
    spark: SparkSession, path: str, split_size: int = DEFAULT_SPLIT_SIZE
) -> str:
    """Distributed .bai construction for an existing coordinate-sorted
    (index-less) BAM — the read-side counterpart of the write-path
    builder (sinks/bam.py) and the .bai sibling of ``build_sbi``. The
    reference only builds .sbi for existing files
    (BamRecordGuesserChecker.java:82-95) and defers .bai to htsjdk's
    single-threaded BAMIndexer; here each planned chunk builds its
    fragment in parallel (one inflate and walk per chunk) and the sink's
    order rule and merge commit them with zero offset shift (record voffs
    are already absolute). Byte-identical to the index the single-file
    write path would have produced for the same records
    (differential-tested), so interval planners can't tell the
    difference. Writes ``path + '.bai'`` and returns it.
    """
    return _build_index(spark, path, split_size, ".bai")


def _build_index(spark: SparkSession, path: str, split_size: int, ext: str, granularity: int = 1) -> str:
    """``build_sbi``/``build_bai``: the sink's ``PartIndexer`` over each
    planned chunk's walked records, committed through ``merge.build_index``."""
    from disq_spark.sinks import bam as bamsink
    from disq_spark.sinks import merge

    header, refs, first_voff = read_bam_header(path)
    with_sbi, with_bai = ext == ".sbi", ext == ".bai"
    if with_bai and header.sort_order != "coordinate":
        raise ValueError("build_bai requires a coordinate-sorted BAM header")
    chunks = plan_bam_chunks(path, split_size, refs, first_voff)
    ref_index = {name: i for i, (name, _l) in enumerate(refs)}

    def index_chunk(p: str, v_start: int, v_end: int):
        walked = walk_records(p, refs, v_start, v_end)
        if walked is None:
            return 0, None
        r, rec_offs, stop = walked
        # the chunk ends where its walk stopped: the next chunk's first
        # record, or for the file's final record the end of data before
        # the EOF block, the end the write path gives it
        voffs = r.virtual_offsets(rec_offs + [stop])
        index = bamsink.PartIndexer(ref_index, granularity, with_sbi, with_bai, "build_bai")
        if with_bai:
            cols = bamcodec.decode_batch(
                r.data, rec_offs, refs, with_seq=False, with_qual=False, with_tags=False
            )
            for fields in zip(
                voffs, voffs[1:], cols["contig"], cols["start"], cols["end"], cols["flags"]
            ):
                index.add(*fields)
        else:
            for v in voffs[:-1]:
                index.add(v, v)
        return index.n, index.sidecars(voffs[-1])

    return merge.build_index(
        spark, path, ext, [(path, vs, ve) for vs, ve in chunks], index_chunk,
        bamsink.layout(header, refs, with_sbi, with_bai, granularity),
    )


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

    ``intervals`` (``Interval``s or (contig, start, end) tuples) and
    ``traverse_unplaced_unmapped`` mirror the reference's
    HtsjdkReadsTraversalParameters surface: a residual overlap filter
    applied to each decoded batch (always correct;
    ``functions.intervals.interval_mask``, the rows ``filter_intervals``
    keeps) plus .bai-driven partition pruning when the index
    exists (AbstractBinarySamSource.java:111-158 — but unlike the
    reference we do not *require* an index, :112-116; index-less input
    degrades to filter-only).

    ``pair_atomic``: for queryname-grouped input, snap partition
    boundaries so a read name's records never split across partitions —
    the guarantee the reference lists as unimplemented (README.md:39).
    Each task moves its own ends past the name run they land in
    (``walk_records``), so planning reads no data; the ``.bai`` then
    prunes no partition, because a moved end can cross the records the
    index places, and the residual filter alone applies ``intervals``.
    """
    if tags not in ("parsed", "raw"):
        raise ValueError(f"tags must be 'parsed' or 'raw', got {tags!r}")
    scan = scan_bam(
        path, split_size, intervals, traverse_unplaced_unmapped, pair_atomic, columns,
        raw_tags=(tags == "raw"),
    )
    if intervals is not None or traverse_unplaced_unmapped:
        scan = scan.filtered(interval_mask(intervals, traverse_unplaced_unmapped))
    return scan.frame(spark), scan.header


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


def scan_bam(
    path: str,
    split_size: int = DEFAULT_SPLIT_SIZE,
    intervals: list | None = None,
    traverse_unplaced_unmapped: bool = False,
    pair_atomic: bool = False,
    columns: list[str] | None = None,
    raw_tags: bool = False,
) -> Scan:
    """The BAM scan: ``.sbi`` or byte-split chunk plan, pruned through
    the ``.bai`` when ``intervals``/``traverse_unplaced_unmapped`` are set
    (and not ``pair_atomic``), and a column-pruned decode of each
    virtual-offset chunk, whose task finds its own first record when the
    plan gave a byte split."""
    paths = resolve_paths(path, BAM_EXTENSIONS)
    header, refs, first_voff = read_bam_header(paths[0])
    intervals = as_intervals(intervals)
    prune = (intervals is not None or traverse_unplaced_unmapped) and not pair_atomic

    def plan() -> list[tuple[str, int, int]]:
        out: list[tuple[str, int, int]] = []
        for p in paths:
            _h, p_refs, p_voff = (header, refs, first_voff) if p == paths[0] else read_bam_header(p)
            p_chunks = plan_bam_chunks(p, split_size, p_refs, p_voff)
            if prune and _dfs.exists(p + ".bai"):
                p_chunks = _chunk_may_match(
                    p + ".bai", p_refs, p_chunks, intervals, traverse_unplaced_unmapped
                )
            out.extend((p, v_start, v_end) for v_start, v_end in p_chunks)
        return out

    w_seq = columns is None or "seq" in columns
    w_qual = columns is None or "qual" in columns
    w_tags = columns is None or "tags" in columns or "read_group" in (columns or [])

    def decode(p: str, v_start: int, v_end: int) -> Iterator[dict]:
        # a file's first chunk starts at its header's end
        first_row = pair_atomic and v_start <= (
            first_voff if p == paths[0] else read_bam_header(p)[2]
        )
        cols = decode_chunk_cols(
            p, refs, v_start, v_end,
            with_seq=w_seq, with_qual=w_qual, with_tags=w_tags, raw_tags=raw_tags,
            pair_atomic=pair_atomic, first_row=first_row,
        )
        if cols and cols["flags"]:
            yield cols

    schema = READS_SCHEMA_RAW_TAGS if raw_tags else READS_SCHEMA
    sampler = None
    if not prune and all(_dfs.exists(p + ".sbi") for p in paths):
        sampler = partial(sample_sort_keys, paths, refs)
    return Scan(schema, header, decode, plan, sampler)


def sample_sort_keys(
    paths: list[str], refs: list[tuple[str, int]], count: int
) -> tuple[list, list]:
    """(contigs, starts) of about ``count`` records at evenly spaced
    ``.sbi`` offsets of ``paths``, as the decode spells them (an unplaced
    record has no contig, a record without a position no start): the
    bounds sample of ``coordinate_sort``, read on the driver from the 12
    bytes after each sampled offset. Each sampled block is inflated once
    (plus the next one when a record's first 12 bytes straddle it)."""
    picks = [(p, v) for p in paths for v in sbimod.read_sbi(p + ".sbi").offsets[:-1]]
    if len(picks) > count:
        picks = [picks[i] for i in np.linspace(0, len(picks) - 1, count).round().astype(int)]
    names = {p: [n for n, _l in (refs if p == paths[0] else read_bam_header(p)[1])]
             for p in dict.fromkeys(p for p, _v in picks)}
    contigs: list = []
    starts: list = []
    for (p, block), group in groupby(picks, key=lambda pv: (pv[0], pv[1] >> 16)):
        with bgzf.BlockReader(p, block, block + 1) as r:
            r.next_block()
            for _p, v in group:
                off = v & 0xFFFF
                while off + 12 > len(r.data) and r.next_block():
                    pass
                ref_id, pos = _struct.unpack_from("<ii", r.data, off + 4)
                contigs.append(names[p][ref_id] if ref_id >= 0 else None)
                starts.append(pos + 1 if ref_id >= 0 and pos >= 0 else None)
    return contigs, starts


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
    with the guesser's own chain rule, ``_chain_ok`` (a miss is a
    FALSE_NEGATIVE), and probes the
    ``neighborhood`` byte offsets after each start, which must all fail
    (a pass is a FALSE_POSITIVE — the class of bug that corrupted
    Hadoop-BAM splits historically). Returns only disagreements
    (voff: long, kind: string); an empty result means the guesser is
    exact on this file at this granularity.
    """
    header, refs, first_voff = read_bam_header(path)
    chunks = plan_bam_chunks(path, split_size, refs, first_voff)
    n_ref = len(refs)
    ref_lens = [l for _n, l in refs]

    def scan(p, v_start, v_end):
        walked = walk_records(p, refs, v_start, v_end)
        if walked is None:
            return
        r, rec_offs, _stop = walked
        bad: list[tuple[int, str]] = []
        for off, voff in zip(rec_offs, r.virtual_offsets(rec_offs)):
            if not _chain_ok(r, off, n_ref, ref_lens):
                bad.append((voff, "FALSE_NEGATIVE"))
            for d in range(1, neighborhood + 1):
                if _chain_ok(r, off + d, n_ref, ref_lens):
                    bad.append((voff + d, "FALSE_POSITIVE"))
        if bad:
            yield dict(zip(("voff", "kind"), zip(*bad)))

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
