"""VCF -> variants DataFrame.

Reference lifecycle being re-expressed (SURVEY.md §3.2): driver reads
header + sniffs compression (VcfSource.java:75-93,106-112); BGZF codecs
make .bgz/.gz text-splittable (VcfSource.java:152-162); executors decode
lines after dropping '#' (VcfSource.java:133-149).

Spark-first shape (``scan_vcf``, read through ``sources.plan.plan_frame``
one range per task):
- plain .vcf -> newline-aligned byte ranges (``sources.plan.read_lines``).
- .bgz / BGZF-content .gz -> driver plans block-aligned byte ranges; the plan rides
  in the UDF closure as numpy columns (20 B per range at 10^6 ranges,
  plus the distinct paths), with no plan DataFrame or PythonRDD in front
  of the decode. Split ownership follows text-split semantics (a
  partition owns lines that *start* after its first newline, reading
  past its end to finish the last line) so every record is decoded
  exactly once.
- plain-gzip .gz -> unsplittable, one range covering the file
  (BGZFEnhancedGzipCodec.java:66-101 sniffing decides which).

``build_tbi`` indexes an existing BGZF VCF on the write path's index
path: each block-aligned split feeds its owned lines to the VCF sink's
part indexer, and the sink's order check and .tbi merge commit the
fragments with zero shift (``sinks/merge.py::build_index``).
"""

from __future__ import annotations

from disq_spark import fs as _dfs

import gzip
import io
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from disq_spark.formats import bgzf
from disq_spark.formats.vcf import parse_vcf_lines
from disq_spark.functions.intervals import as_intervals, overlaps
from disq_spark.headers import VcfHeader
from disq_spark.schemas import VARIANTS_SCHEMA
from disq_spark.sources.plan import (
    DEFAULT_SPLIT_SIZE,
    Scan,
    plan_frame,
    plan_ranges,
    read_lines,
    resolve_paths,
)

VCF_EXTENSIONS = (".vcf", ".vcf.gz", ".vcf.bgz", ".vcf.bgzf.gz")


def _open_text(path: str):
    """Open possibly-gzip'd VCF for driver-side header reading."""
    if bgzf.is_gzip(path):
        return io.TextIOWrapper(gzip.open(_dfs.open_input(path), "rb"), encoding="utf-8")
    return io.TextIOWrapper(_dfs.open_input(path), encoding="utf-8")


def read_header(path: str) -> VcfHeader:
    """Driver-side header parse from the first file
    (VcfSource.getFileHeader:75-83 semantics)."""
    lines = []
    with _open_text(path) as f:
        for line in f:
            if line.startswith("#"):
                lines.append(line)
            else:
                break
    return VcfHeader.from_lines(lines)


def _compression(path: str) -> str:
    if bgzf.is_bgzf(path):
        return "bgzf"
    if bgzf.is_gzip(path):
        return "gzip"
    return "plain"


def read_vcf(
    spark: SparkSession,
    path: str,
    split_size: int = DEFAULT_SPLIT_SIZE,
    intervals: list | None = None,
    mode: str = "STRICT",
    columns: list[str] | None = None,
) -> tuple[DataFrame, VcfHeader]:
    """Load VCF (file, dir, or glob; plain/gzip/BGZF) as a DataFrame.

    ``columns``: omitting "genotypes" prunes the sample-column parse
    entirely (most of a cohort line); the column remains as NULL.

    ``intervals``: list of ``disq_spark.functions.intervals.Interval`` or
    (contig, start, end) tuples.
    When given, splits of .tbi-indexed BGZF files (or .idx-indexed plain
    files) that cannot contain an overlapping record are pruned at plan
    time (VcfSource.java:177-201 semantics) and a residual overlap
    predicate is applied. Unlike the reference (which errors without an
    index, VcfSource.java:184-187), index-less inputs degrade gracefully
    to filter-only.
    """
    with_gt = columns is None or "genotypes" in columns
    scan = scan_vcf(path, split_size, intervals, mode, with_gt)
    df = scan.frame(spark)
    if intervals is not None:
        df = df.filter(overlaps(intervals))
    return df, scan.header


def scan_vcf(
    path: str,
    split_size: int = DEFAULT_SPLIT_SIZE,
    intervals: list | None = None,
    mode: str = "STRICT",
    with_genotypes: bool = True,
) -> Scan:
    """The VCF scan: BGZF files split at block boundaries (``.tbi``
    pruned), plain files at newline-aligned byte offsets (``.idx``
    pruned), plain-gzip files as one whole-file range."""
    paths = resolve_paths(path, VCF_EXTENSIONS)
    header = read_header(paths[0])
    samples = header.samples
    kinds = {p: _compression(p) for p in paths}
    intervals = as_intervals(intervals)
    triples = [(iv.contig, iv.start, iv.end) for iv in intervals or []]

    def plan() -> list[tuple[str, int, int]]:
        out: list[tuple[str, int, int]] = []
        for p in paths:
            if kinds[p] == "gzip":
                out.append((p, 0, _dfs.getsize(p)))
                continue
            p_ranges = plan_ranges([p], split_size)
            idx = p + (".tbi" if kinds[p] == "bgzf" else ".idx")
            if intervals is not None and _dfs.exists(idx):
                from disq_spark.formats import tabix, tribble

                if kinds[p] == "bgzf":
                    fmt, index = tabix, tabix.read_tbi(idx)
                else:
                    fmt, index = tribble, tribble.read_tribble(idx)
                p_ranges = [
                    r for r in p_ranges if fmt.split_overlaps_intervals(index, r.start, r.end, triples)
                ]
            out.extend(p_ranges)
        return out

    def decode(p: str, start: int, end: int) -> Iterator[pd.DataFrame]:
        lines = read_lines(p, start, end) if kinds[p] == "plain" else _range_lines(p, start, end)
        if lines:
            yield parse_vcf_lines(pd.Series(lines, dtype="object"), samples, mode, with_genotypes)

    return Scan(VARIANTS_SCHEMA, header, decode, plan)


def _range_lines(path: str, start: int, end: int) -> list[str]:
    """Text-split ownership over a compressed byte range.

    BGZF: decompress blocks starting in [start, end); if start > 0 the
    first partial line belongs to the previous split (skip to first
    newline — note a block boundary need not be a line boundary), and the
    last line continues into following blocks until its newline.
    Plain gzip: whole file (start must be 0).
    """
    if not bgzf.is_bgzf(path):
        with gzip.open(_dfs.open_input(path), "rt", encoding="utf-8", errors="strict") as f:
            return f.read().splitlines()

    data = bgzf.read_range(path, start, end)
    if not data:
        return []
    text = data.decode("utf-8", errors="strict")
    lines = text.splitlines(keepends=True)
    out: list[str] = []
    # Hadoop text-split ownership: a split with start > 0 always skips its
    # first line (the previous split reads past its end), and symmetric-
    # ally this split reads past `end` to finish/claim its last line.
    idx = 1 if start > 0 else 0
    for i in range(idx, len(lines)):
        ln = lines[i]
        if ln.endswith("\n"):
            out.append(ln.rstrip("\n"))
        else:
            # last line cut at the range end -> finish it from following blocks
            out.append(ln + _read_until_newline(path, end))
    if text.endswith("\n"):
        # data ended exactly on a line boundary: the next split's first
        # line starts at our end and it will skip it -> we own it
        tail = _read_until_newline(path, end)
        if tail:
            out.append(tail)
    return out


def _range_records_voff(
    path: str, start: int, end: int
) -> Iterator[tuple[str, int, int]]:
    """Yield ``(line, v_start, v_end)`` for lines owned by the
    block-aligned compressed split ``[start, end)``.

    Ownership is identical to ``_range_lines``; additionally each line
    carries its tabix virtual offsets. ``v_end`` is the virtual offset
    of the byte after the line's newline, normalized to
    ``next_block << 16 | 0`` at block boundaries (the htslib ``tell()``
    convention after a full-block read — required for byte-parity with
    htsjdk/tabix-built indexes)."""
    import bisect

    bounds_u: list[int] = []  # uncompressed start of each block
    bounds_c: list[tuple[int, int]] = []  # (c_pos, c_size) per block
    data = bytearray()
    with _dfs.open_input(path) as f:
        for blk in bgzf.scan_blocks(path, start, end):
            bounds_u.append(len(data))
            bounds_c.append((blk.pos, blk.c_size))
            data += bgzf.decompress_block(f, blk.pos)
        u_in_range = len(data)
        if u_in_range == 0:
            return
        # extend past the split end until the last owned line's newline
        # (or the claimed next line's, when we end exactly on a boundary)
        for blk in bgzf.scan_blocks(path, bounds_c[-1][0] + bounds_c[-1][1]):
            if data[u_in_range:].find(b"\n") >= 0:
                break
            bounds_u.append(len(data))
            bounds_c.append((blk.pos, blk.c_size))
            data += bgzf.decompress_block(f, blk.pos)

    def voff(u: int) -> int:
        # a position at a block boundary maps to the FIRST block starting
        # there (offset 0) — including an empty/EOF block, whose position
        # is the end-of-data voff htslib reports
        i = bisect.bisect_left(bounds_u, u)
        if i < len(bounds_u) and bounds_u[i] == u:
            return bounds_c[i][0] << 16
        i -= 1
        if u >= len(data) and i == len(bounds_u) - 1:
            # past everything decompressed: end of the last block
            return (bounds_c[i][0] + bounds_c[i][1]) << 16
        return bounds_c[i][0] << 16 | (u - bounds_u[i])

    s = 0
    if start > 0:
        nl = data.find(b"\n")
        if nl < 0:
            return
        s = nl + 1  # first partial line belongs to the previous split
    while s < len(data):
        owns = s < u_in_range or (s == u_in_range and data[s - 1 : s] == b"\n")
        if not owns:
            return
        nl = data.find(b"\n", s)
        raw_end = (nl + 1) if nl >= 0 else len(data)
        line = data[s : nl if nl >= 0 else len(data)].decode("utf-8")
        yield line, voff(s), voff(raw_end)
        if s >= u_in_range:
            return  # the one claimed tail line
        s = raw_end


def build_tbi(
    spark: SparkSession, path: str, split_size: int = DEFAULT_SPLIT_SIZE
) -> str:
    """Distributed .tbi construction for an existing BGZF VCF — the
    ``tabix -p vcf`` analog as one Spark job, on the write path's index
    path (``sinks/merge.py::build_index``): each block-aligned split
    feeds its owned lines, with file-absolute virtual offsets, to the
    sink's part indexer, and the sink's order rule and .tbi merge commit
    the fragments with zero shift. Refuses what ``write_vcf(...,
    write_tbi=True)`` refuses: a non-BGZF file and splits that are each
    sorted but not in order across splits. Byte-parity with the
    htsjdk-built fixture index is asserted in tests/test_tabix.py."""
    from disq_spark.sinks import merge
    from disq_spark.sinks import variants as vsink

    if not bgzf.is_bgzf(path):
        raise ValueError(f"build_tbi requires a BGZF-compressed VCF: {path}")

    def index_split(p: str, start: int, end: int):
        index = vsink.PartIndexer()
        for line, vs, ve in _range_records_voff(p, start, end):
            if line.startswith("#") or not line:
                continue
            fl = line.split("\t", 8)
            contig, pos, ref = fl[0], int(fl[1]), fl[3]
            end_pos = pos + len(ref) - 1
            if len(fl) > 7 and "END=" in fl[7]:
                for kv in fl[7].split(";"):
                    if kv.startswith("END="):
                        end_pos = int(kv[4:])
                        break
            index.add(contig, pos, end_pos, vs, ve)
        return index.n, index.sidecars(end << 16)

    return merge.build_index(
        spark, path, ".tbi", plan_ranges([path], split_size), index_split,
        vsink.layout(read_header(path), compress=True, with_tbi=True),
    )


def _read_until_newline(path: str, from_pos: int) -> str:
    """Decompress blocks from ``from_pos`` until a newline appears."""
    buf = b""
    with _dfs.open_input(path) as f:
        for blk in bgzf.scan_blocks(path, from_pos):
            chunk = bgzf.decompress_block(f, blk.pos)
            buf += chunk
            if b"\n" in chunk:
                break
    return buf.split(b"\n", 1)[0].decode("utf-8")
