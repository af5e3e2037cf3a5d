"""SAM/BAM -> reads DataFrame (SAM text path here; BAM in bam_source.py).

SAM lifecycle re-expressed (SamSource.java:61-104): Hadoop text splits ->
skip '@' header lines -> per-record parse. ``scan_sam`` plans
newline-aligned byte ranges (a line belongs to the split holding its
first byte) and each task parses its range in one pandas batch.
"""

from __future__ import annotations

import io

from disq_spark import fs as _dfs

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from disq_spark.formats.sam import parse_sam_lines
from disq_spark.headers import SamHeader
from disq_spark.schemas import READS_SCHEMA
from disq_spark.sources.plan import DEFAULT_SPLIT_SIZE, Scan, plan_ranges, read_lines, resolve_paths

SAM_EXTENSIONS = (".sam",)


def read_sam_header(path: str) -> SamHeader:
    """Driver-side header read from the first file
    (AbstractSamSource.java:54-71 semantics)."""
    lines = []
    with io.TextIOWrapper(_dfs.open_input(path), encoding="utf-8") as f:
        for line in f:
            if line.startswith("@"):
                lines.append(line)
            else:
                break
    return SamHeader(text="".join(lines))


def read_sam(
    spark: SparkSession,
    path: str,
    intervals: list | None = None,
    traverse_unplaced_unmapped: bool = False,
    mode: str = "STRICT",
) -> tuple[DataFrame, SamHeader]:
    """Load SAM (file, dir, or glob) as a reads DataFrame + header.

    ``intervals``: brute-force residual overlap filter on each decoded
    batch — SAM has no index,
    matching the reference (TraversalOverlapDetector.java:34-59 applied at
    SamSource.java:93-102). ``mode``: STRICT/LENIENT/SILENT validation
    stringency (HtsjdkReadsRddStorage.java:85-88).
    """
    scan = scan_sam(path, mode=mode)
    if intervals is not None or traverse_unplaced_unmapped:
        from disq_spark.functions.intervals import interval_mask

        scan = scan.filtered(interval_mask(intervals, traverse_unplaced_unmapped))
    return scan.frame(spark), scan.header


def scan_sam(path: str, split_size: int = DEFAULT_SPLIT_SIZE, mode: str = "STRICT") -> Scan:
    """The SAM scan: newline-aligned byte ranges, one pandas parse each."""
    paths = resolve_paths(path, SAM_EXTENSIONS)

    def decode(p: str, start: int, end: int) -> Iterator[pd.DataFrame]:
        lines = [ln for ln in read_lines(p, start, end) if ln and not ln.startswith("@")]
        if lines:
            yield parse_sam_lines(pd.Series(lines, dtype="object"), mode)

    return Scan(
        READS_SCHEMA, read_sam_header(paths[0]), decode, lambda: plan_ranges(paths, split_size)
    )
