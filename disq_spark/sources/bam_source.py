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

Executors decode their virtual-offset span into column dicts that
``plan_frame`` hands to Spark as Arrow batches. Non-overlap invariant: a
partition decodes exactly the records whose start virtual offset lies in
[vStart, vEnd) (AbstractBinarySamSource.java:95-98 one-chunk-per-partition
analog).
One record walk (``walk_records``) finds those records for the decode,
the index builders and the guesser check. Every read of the file —
that walk, the header read, the index-less guesser and the queryname
snap — is a ``formats/bgzf.py::BlockReader``: the walk inflates the
blocks from its chunk's start to the one holding its end, plus what a
record straddling the end needs; the others inflate blocks only as far
as their check reaches.

``build_sbi``/``build_bai`` index an existing BAM on the write path's
index path: each planned chunk feeds its walked records to the BAM
sink's part indexer, and the sink's order check and merges commit the
fragments with zero shift (``sinks/merge.py::build_index``).
"""

from __future__ import annotations

from disq_spark import fs as _dfs

import struct as _struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from disq_spark.formats import bam as bamcodec
from disq_spark.formats import bgzf
from disq_spark.formats import sbi as sbimod
from disq_spark.functions.intervals import as_intervals, filter_intervals
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
    r: bgzf.BlockReader, n_ref: int, ref_lens: list[int], search_limit: int = MAX_SEARCH_BYTES
) -> int | None:
    """First ``r.data`` offset that begins a run of READS_TO_CHECK valid
    records (BamRecordGuesser.checkRecordStart semantics), inflating
    blocks only as far as the candidates and their chains reach.

    The bin-consistency discriminator assumes standard writers
    (bin = reg2bin of the alignment span); writers that leave bin stale
    or 0 would fail every candidate chain and collapse planning to one
    partition. So: strict pass first, then a retry without the bin check
    — false positives remain vanishingly unlikely because the other ~10
    field invariants must hold for READS_TO_CHECK consecutive records.
    """
    for check_bin in (True, False):
        cand = _scan_for_record_start(r, n_ref, ref_lens, search_limit, check_bin)
        if cand is not None:
            return cand
    return None


def _scan_for_record_start(
    r: bgzf.BlockReader,
    n_ref: int,
    ref_lens: list[int],
    search_limit: int,
    check_bin: bool,
) -> int | None:
    data = r.data
    cand = 0
    while cand < search_limit and (cand < len(data) or r.next_block()):
        off = cand
        validated = 0
        ok = True
        while validated < READS_TO_CHECK:
            nxt = _check_record(data, off, n_ref, ref_lens, check_bin)
            while nxt == -1:
                # candidate record overruns the inflated data: inflate the
                # next block; at EOF a first record overrunning the file is
                # bogus, but a chain that already validated >= 1 real
                # record just hit the end of data — accept it
                if not r.next_block():
                    nxt = None if validated == 0 else -2
                    break
                nxt = _check_record(data, off, n_ref, ref_lens, check_bin)
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
            with bgzf.BlockReader(path, pos) as r:
                rec = find_record_start(r, n_ref, ref_lens)
                if rec is not None:
                    starts.append(r.virtual_offsets([rec])[0])
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
    hot read path, whose dict ``plan_frame`` hands to Arrow as it is."""
    walked = walk_records(path, v_start, v_end)
    if walked is None:
        return None
    r, rec_offs = walked
    return bamcodec.decode_batch(
        r.data,
        rec_offs,
        refs,
        with_seq=with_seq,
        with_qual=with_qual,
        with_tags=with_tags,
        raw_tags=raw_tags,
    )


def walk_records(path: str, v_start: int, v_end: int) -> tuple[bgzf.BlockReader, list[int]] | None:
    """The one BAM record walk: the block reader over the chunk and the
    ``r.data`` offsets of the whole records whose start virtual offset
    lies in [v_start, v_end) (``r.virtual_offsets`` gives their virtual
    offsets). Inflates the blocks from ``v_start``'s to the one holding
    ``v_end``, plus those a record straddling the end needs. Serves the
    decode, the index builders and the guesser check; None when
    ``v_start`` is not a block of the file."""
    c_start = v_start >> 16
    # the range ends after the block holding v_end (before it, at offset 0)
    with bgzf.BlockReader(path, c_start, (v_end >> 16) + (v_end & 0xFFFF > 0)) as r:
        r.fill()
        if r.c_pos[:1] != [c_start]:
            return None
        data = r.data
        off, end = v_start & 0xFFFF, r.buffer_offsets([v_end])[0]
        rec_offs: list[int] = []
        unpack = _struct.unpack_from
        while off < end:
            if off + 4 > len(data) or off + 4 + unpack("<i", data, off)[0] > len(data):
                if r.next_block():
                    continue
                break  # truncated final record (file cut mid-block)
            rec_offs.append(off)
            off += 4 + unpack("<i", data, off)[0]
    return r, rec_offs


def _advance_past_name_run(path: str, voff: int) -> int | None:
    """First record-start voff at/after ``voff`` whose name differs from
    the name at ``voff`` — the boundary snap that keeps a queryname group
    inside one partition. Returns None at end-of-data."""
    c_start = voff >> 16
    with bgzf.BlockReader(path, c_start) as r:
        if not r.next_block() or r.c_pos[0] != c_start:
            return None
        data, unpack = r.data, _struct.unpack_from
        off = voff & 0xFFFF
        first_name = None
        while True:
            while off + 36 > len(data) or off + 4 + unpack("<i", data, off)[0] > len(data):
                if not r.next_block():
                    return None
            l_name = data[off + 4 + 8]
            name = data[off + 4 + 32 : off + 4 + 32 + l_name - 1]
            if first_name is None:
                first_name = name
            elif name != first_name:
                return r.virtual_offsets([off])[0]
            off += 4 + unpack("<i", data, off)[0]


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


def build_sbi(
    spark: SparkSession, path: str, split_size: int = DEFAULT_SPLIT_SIZE, granularity: int = 1
) -> str:
    """Distributed .sbi construction for an existing (index-less) BAM —
    the BamRecordGuesserChecker.getSBIIndex pattern (:82-95) done as one
    Spark job on the write path's index path: each guesser-planned chunk
    is indexed like a written part (every ``granularity``-th record,
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
    # write-side parity: the file's final record ends at the end-of-data
    # position (pre-EOF-block), like the write path's dangling-end patch
    end_of_data = bgzf.data_end(path) << 16

    def index_chunk(p: str, v_start: int, v_end: int):
        walked = walk_records(p, v_start, v_end)
        if walked is None:
            return 0, None
        r, rec_offs = walked
        voffs = r.virtual_offsets(rec_offs)
        index = bamsink.PartIndexer(ref_index, granularity, with_sbi, with_bai, "build_bai")
        chunk_end = min(v_end, end_of_data)
        if with_bai:
            cols = bamcodec.decode_batch(
                r.data, rec_offs, refs, with_seq=False, with_qual=False, with_tags=False
            )
            for fields in zip(
                voffs, voffs[1:] + [chunk_end], cols["contig"], cols["start"], cols["end"], cols["flags"]
            ):
                index.add(*fields)
        else:
            for v in voffs:
                index.add(v, v)
        return index.n, index.sidecars(chunk_end)

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
    scan = scan_bam(
        path, split_size, intervals, traverse_unplaced_unmapped, pair_atomic, columns,
        raw_tags=(tags == "raw"),
    )
    df, header = scan.frame(spark), scan.header
    if intervals is not None or traverse_unplaced_unmapped:
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


def scan_bam(
    path: str,
    split_size: int = DEFAULT_SPLIT_SIZE,
    intervals: list | None = None,
    traverse_unplaced_unmapped: bool = False,
    pair_atomic: bool = False,
    columns: list[str] | None = None,
    raw_tags: bool = False,
) -> Scan:
    """The BAM scan: ``.sbi``/guesser chunk plan, pruned through the
    ``.bai`` when ``intervals``/``traverse_unplaced_unmapped`` are set,
    and a column-pruned decode of each virtual-offset chunk."""
    paths = resolve_paths(path, BAM_EXTENSIONS)
    header, refs, first_voff = read_bam_header(paths[0])
    intervals = as_intervals(intervals)

    def plan() -> list[tuple[str, int, int]]:
        out: list[tuple[str, int, int]] = []
        for p in paths:
            _h, p_refs, p_voff = (header, refs, first_voff) if p == paths[0] else read_bam_header(p)
            p_chunks = plan_bam_chunks(p, split_size, p_refs, p_voff)
            if pair_atomic:
                p_chunks = adjust_chunks_for_queryname_groups(p, p_chunks)
            if (intervals is not None or traverse_unplaced_unmapped) and _dfs.exists(p + ".bai"):
                p_chunks = _chunk_may_match(
                    p + ".bai", p_refs, p_chunks, intervals, traverse_unplaced_unmapped
                )
            out.extend((p, v_start, v_end) for v_start, v_end in p_chunks)
        return out

    w_seq = columns is None or "seq" in columns
    w_qual = columns is None or "qual" in columns
    w_tags = columns is None or "tags" in columns or "read_group" in (columns or [])

    def decode(p: str, v_start: int, v_end: int) -> Iterator[dict]:
        cols = decode_chunk_cols(
            p, refs, v_start, v_end,
            with_seq=w_seq, with_qual=w_qual, with_tags=w_tags, raw_tags=raw_tags,
        )
        if cols and cols["flags"]:
            yield cols

    schema = READS_SCHEMA_RAW_TAGS if raw_tags else READS_SCHEMA
    return Scan(schema, header, decode, plan)


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
        walked = walk_records(p, v_start, v_end)
        if walked is None:
            return
        r, rec_offs = walked
        bad: list[tuple[int, str]] = []
        for off, voff in zip(rec_offs, r.virtual_offsets(rec_offs)):
            if not chain_ok(r.data, off):
                bad.append((voff, "FALSE_NEGATIVE"))
            for d in range(1, neighborhood + 1):
                if off + d + 36 <= len(r.data) and chain_ok(r.data, off + d):
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
