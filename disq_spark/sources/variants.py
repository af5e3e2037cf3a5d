"""VCF -> variants DataFrame.

Reference lifecycle being re-expressed (SURVEY.md §3.2): driver reads
header + sniffs compression (VcfSource.java:75-93,106-112); BGZF codecs
make .bgz/.gz text-splittable (VcfSource.java:152-162); executors decode
lines after dropping '#' (VcfSource.java:133-149).

Spark-first shape:
- plain .vcf  -> ``spark.read.text`` (natively splittable) + mapInPandas
  batch parse.
- .bgz / BGZF-content .gz -> driver plans block-aligned byte ranges and
  ``sources.plan.plan_frame`` decodes one range per task: the plan rides
  in the UDF closure as numpy columns (20 B per range at 10^6 ranges,
  plus the distinct paths), with no plan DataFrame or PythonRDD in front
  of the decode. Split ownership follows text-split semantics (a
  partition owns lines that *start* after its first newline, reading
  past its end to finish the last line) so every record is decoded
  exactly once.
- plain-gzip .gz -> unsplittable, one range covering the file
  (BGZFEnhancedGzipCodec.java:66-101 sniffing decides which).
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
from disq_spark.headers import VcfHeader
from disq_spark.schemas import VARIANTS_SCHEMA
from disq_spark.sources.plan import DEFAULT_SPLIT_SIZE, plan_frame, plan_ranges, resolve_paths

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

    ``intervals``: list of ``disq_spark.functions.intervals.Interval``.
    When given, splits of .tbi-indexed BGZF files that cannot contain an
    overlapping record are pruned at plan time (VcfSource.java:177-201
    semantics) and a residual overlap predicate is applied. Unlike the
    reference (which errors without an index, VcfSource.java:184-187),
    index-less inputs degrade gracefully to filter-only.
    """
    with_gt = columns is None or "genotypes" in columns
    df, header = _read_vcf_all(spark, path, split_size, intervals, mode, with_gt)
    if intervals is not None:
        from disq_spark.functions.intervals import overlaps

        df = df.filter(overlaps(intervals))
    return df, header


def _read_vcf_all(
    spark: SparkSession,
    path: str,
    split_size: int,
    intervals: list | None,
    mode: str = "STRICT",
    with_genotypes: bool = True,
) -> tuple[DataFrame, VcfHeader]:
    paths = resolve_paths(path, VCF_EXTENSIONS)
    header = read_header(paths[0])
    samples = header.samples

    kinds = {p: _compression(p) for p in paths}

    if all(k == "plain" for k in kinds.values()):
        if intervals is not None and all(_dfs.exists(p + ".idx") for p in paths):
            # tribble-indexed plain VCF: prune byte splits whose indexed
            # blocks miss every interval (the .idx counterpart of the
            # .tbi branch below; VcfSource.java:177-201 loads the same
            # index family through IndexFactory)
            return _read_plain_pruned(
                spark, paths, samples, split_size, intervals, mode, with_genotypes
            ), header
        text = spark.read.text(list(paths))
        lines_col = "value"

        def parse_plain(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield parse_vcf_lines(pdf[lines_col], samples, mode, with_genotypes)

        return text.mapInPandas(parse_plain, VARIANTS_SCHEMA), header

    # compressed path: plan byte ranges; BGZF files split at block
    # boundaries, plain-gzip files get one whole-file range. With
    # intervals + a .tbi, non-overlapping splits are dropped at plan time.
    import os

    ranges = []
    for p in paths:
        if kinds[p] == "bgzf":
            p_ranges = [(r.path, r.start, r.end) for r in plan_ranges([p], split_size)]
            tbi = p + ".tbi"
            if intervals is not None and _dfs.exists(tbi):
                from disq_spark.formats.tabix import read_tbi, split_overlaps_intervals

                idx = read_tbi(tbi)
                triples = [(iv.contig, iv.start, iv.end) for iv in intervals]
                p_ranges = [
                    r for r in p_ranges if split_overlaps_intervals(idx, r[1], r[2], triples)
                ]
            ranges.extend(p_ranges)
        else:
            ranges.append((p, 0, _dfs.getsize(p)))

    def decode_range(p: str, start: int, end: int) -> Iterator[pd.DataFrame]:
        lines = _range_lines(p, start, end)
        if lines:
            yield parse_vcf_lines(pd.Series(lines, dtype="object"), samples, mode, with_genotypes)

    return plan_frame(spark, ranges, decode_range, VARIANTS_SCHEMA), header


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
    ``tabix -p vcf`` analog as one Spark job (read-side counterpart of
    the build-during-write index in sinks/variants.py, mirroring the
    reference's build-index-for-existing-file surface,
    BamRecordGuesserChecker.java:82-95 shape). Block-aligned splits scan
    their owned lines with file-absolute virtual offsets in parallel;
    the driver merges the per-split fragments in file order and writes
    ``path + '.tbi'``. Byte-parity with the htsjdk-built fixture index
    is asserted in tests/test_tabix.py."""
    import pickle

    from disq_spark.formats import tabix as tbimod

    ranges = [(r.path, r.start, r.end) for r in plan_ranges([path], split_size)]

    def scan(p: str, start: int, end: int) -> Iterator[pd.DataFrame]:
        b = tbimod.TbiBuilder()
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
            b.add(contig, pos, end_pos, vs, ve)
        frag = pickle.dumps((b.names, b.bins, b.linear, b.stats))
        yield pd.DataFrame({"start": [start], "frag": [frag]})

    rows = plan_frame(spark, ranges, scan, "start long, frag binary").collect()
    rows.sort(key=lambda r: r.start)
    parts = []
    for r in rows:
        names, bins, linear, stats = pickle.loads(r.frag)
        parts.append(tbimod.TabixIndex(names, bins, linear, stats))
    # offsets are already file-absolute: merge with zero shift
    merged = tbimod.merge_tbi(parts, [0] * len(parts), base_offset=0)
    tbimod.write_tbi(path + ".tbi", merged)
    return path + ".tbi"


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


def _read_plain_pruned(
    spark: SparkSession,
    paths: list[str],
    samples: list[str],
    split_size: int,
    intervals: list,
    mode: str,
    with_genotypes: bool,
) -> DataFrame:
    """Plain-text VCF scan over newline-aligned byte splits, with splits
    pruned through the tribble .idx (plan-time; the residual overlap
    predicate in read_vcf keeps exactness)."""
    from disq_spark.formats.tribble import read_tribble, split_overlaps_intervals

    triples = [(iv.contig, iv.start, iv.end) for iv in intervals]
    ranges: list[tuple[str, int, int]] = []
    for p in paths:
        tidx = read_tribble(p + ".idx")
        size = _dfs.getsize(p)
        for s in range(0, max(size, 1), split_size):
            e = min(s + split_size, size)
            if split_overlaps_intervals(tidx, s, e, triples):
                ranges.append((p, s, e))

    def parse_range(p: str, start: int, end: int) -> Iterator[pd.DataFrame]:
        lines: list[str] = []
        with _dfs.open_input(p) as f:
            if start > 0:
                f.seek(start - 1)
                f.readline()  # straddling line belongs to prior split
            while f.tell() < end:
                raw = f.readline()
                if not raw:
                    break
                text = raw.decode("utf-8").rstrip("\n")
                if text and not text.startswith("#"):
                    lines.append(text)
        if lines:
            yield parse_vcf_lines(pd.Series(lines, dtype="object"), samples, mode, with_genotypes)

    return plan_frame(spark, ranges, parse_range, VARIANTS_SCHEMA)
