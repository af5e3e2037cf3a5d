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
  of the decode. One owner, ``_owned_span`` over a
  ``formats/bgzf.py::BlockReader``, applies text-split semantics (a
  partition owns lines that *start* after its first newline, reading
  past its end to finish the last line) so every record is decoded
  exactly once.
- plain-gzip .gz -> unsplittable, one range covering the file
  (BGZFEnhancedGzipCodec.java:66-101 sniffing decides which).

Every compression splits its lines with the one rule of
``sources.plan.split_lines`` (``\\n`` only, one trailing ``\\r``
stripped, as ``spark.read.text`` does), so a file reads the same as
.vcf, .vcf.bgz and .vcf.gz.

``build_tbi`` indexes an existing BGZF VCF on the write path's index
path: each block-aligned split feeds the lines ``_owned_span`` gives it,
with virtual offsets from the reader's map (``_line_offsets``), to the
VCF sink's part indexer, and the sink's order check and .tbi merge
commit the fragments with zero shift (``sinks/merge.py::build_index``).
"""

from __future__ import annotations

from disq_spark import fs as _dfs

import gzip
import io
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from disq_spark.formats import bgzf
from disq_spark.formats.vcf import parse_vcf_arrow
from disq_spark.functions.intervals import as_intervals, interval_mask
from disq_spark.headers import VcfHeader
from disq_spark.schemas import VARIANTS_SCHEMA
from disq_spark.sources.plan import (
    DEFAULT_SPLIT_SIZE,
    Scan,
    plan_frame,
    plan_ranges,
    read_lines,
    resolve_paths,
    split_lines,
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
    filter is applied to each decoded batch. Unlike the reference (which errors without an
    index, VcfSource.java:184-187), index-less inputs degrade gracefully
    to filter-only.
    """
    with_gt = columns is None or "genotypes" in columns
    scan = scan_vcf(path, split_size, intervals, mode, with_gt)
    if intervals is not None:
        scan = scan.filtered(interval_mask(intervals))
    return scan.frame(spark), scan.header


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

    def decode(p: str, start: int, end: int) -> Iterator:
        if kinds[p] == "plain":
            lines = read_lines(p, start, end)
        elif kinds[p] == "gzip":
            with _dfs.open_input(p) as raw, gzip.open(raw, "rb") as f:
                lines = split_lines(f.read())
        else:
            r, s, e = _owned_span(p, start, end)
            lines = split_lines(r.data[s:e])
        if lines:
            yield parse_vcf_arrow(lines, samples, mode, with_genotypes)

    return Scan(VARIANTS_SCHEMA, header, decode, plan)


def _owned_span(path: str, start: int, end: int) -> tuple[bgzf.BlockReader, int, int]:
    """The one owner of BGZF VCF lines: the block reader over the
    compressed split ``[start, end)`` and the ``r.data`` span
    ``[s, e)`` of the lines the split owns (Hadoop text-split
    semantics). A split with ``start > 0`` leaves the line holding its
    first inflated byte to the previous split (a block boundary need not
    be a line boundary) and reads past its last block to finish its last
    line — or, when its data ends exactly on a line boundary (or the
    first split holds only empty blocks), the next line, which the next
    split skips. The read splits the span with
    ``split_lines``; ``build_tbi`` maps the same line starts and ends
    through ``r.virtual_offsets``."""
    with bgzf.BlockReader(path, start, end) as r:
        data = r.fill().data
        s = 0 if start == 0 else data.find(b"\n") + 1
        if start > 0 and s == 0:
            return r, 0, 0  # no line starts in this split
        nl = -1  # the first newline past the split's blocks ends its last line
        while nl < 0:
            seen = len(data)
            if not r.next_block():
                break
            nl = data.find(b"\n", seen)
    return r, s, (nl + 1 if nl >= 0 else len(data))


def _line_offsets(r: bgzf.BlockReader, s: int, e: int) -> Iterator[tuple[str, int, int]]:
    """``(line, v_start, v_end)`` for each line of the owned span
    ``[s, e)``. ``v_end`` is the virtual offset of the byte after the
    line's newline; both map a block boundary to the first block starting
    there (htslib's ``tell()`` after a whole block, which tabix and
    htsjdk write)."""
    span = r.data[s:e]
    ends = (np.flatnonzero(np.frombuffer(span, dtype=np.uint8) == 10) + s + 1).tolist()
    if e > s and span[-1] != 10:
        ends.append(e)  # the file's last line, without a newline
    starts = r.virtual_offsets([s] + ends[:-1], "left")
    return zip(split_lines(span), starts, r.virtual_offsets(ends, "left"))


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
        for line, vs, ve in _line_offsets(*_owned_span(p, start, end)):
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
