"""Splittable FASTQ source and sink.

Read lifecycle (mirrors the BAM source's shape, applied to text):
  1. plan byte ranges of split_size per plain file (gzip: whole file —
     not splittable),
  2. snap each interior boundary forward to the next chain-validated
     record start (formats/fastq.find_record_start) — the snap runs as a
     SPARK JOB over the boundaries, one small window read each, so
     planning a 100 TB directory never serializes through the driver,
  3. each task parses complete records from [start, end) — ownership is
     by record start, exactly-once across any split size (tested over a
     split matrix).

Write: text parts in parallel -> concat (single-file) or one file per
partition (sharded), through the fs layer like every other sink.
"""

from __future__ import annotations

import io
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from disq_spark import fs as _dfs
from disq_spark.formats import fastq as fq
from disq_spark.sinks import merge
from disq_spark.sources.plan import plan_frame, resolve_paths

FASTQ_EXTENSIONS = (".fastq", ".fq", ".fastq.gz", ".fq.gz")

FASTQ_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("comment", T.StringType(), True),
        T.StructField("seq", T.StringType(), False),
        T.StructField("qual", T.StringType(), False),
    ]
)

#: bytes read per boundary snap — generously above any real read length
#: (a record start must appear within one window for the snap to land).
_SNAP_WINDOW = 1 << 20

DEFAULT_SPLIT_SIZE = 128 * 1024 * 1024


def _snap(path: str, pos: int, size: int) -> int:
    """First record-start offset >= pos (file offset), or ``size``."""
    if pos == 0:
        return 0
    # read from pos-1 so the newline (or not) preceding pos is visible:
    # candidates are then offsets >= pos that provably begin a line —
    # an '@' at pos with a non-newline byte before it is mid-line and
    # must not snap (its suffix can still chain-validate; see
    # find_record_start docstring).
    with _dfs.open_input(path) as f:
        f.seek(pos - 1)
        window = f.read(_SNAP_WINDOW + 1)
    at_eof = pos - 1 + len(window) >= size
    off = fq.find_record_start(window, at_eof)
    if off is None:
        return size
    return pos - 1 + off


def read_fastq(
    spark: SparkSession, path: str, split_size: int | None = None
) -> DataFrame:
    """Load FASTQ (file, dir, or glob; plain splittable, .gz whole-file)
    as (name, comment, seq, qual)."""
    split = split_size or DEFAULT_SPLIT_SIZE
    paths = resolve_paths(path, FASTQ_EXTENSIONS)

    bounds: list[tuple[str, int, int]] = []
    for p in paths:
        size = _dfs.getsize(p)
        if p.endswith(".gz"):
            bounds.append((p, 0, size))
            continue
        nsplits = max(1, (size + split - 1) // split)
        for i in range(nsplits):
            bounds.append((p, i * split, min((i + 1) * split, size)))

    def snap_bounds(p: str, s: int, e: int) -> Iterator[pd.DataFrame]:
        if not p.endswith(".gz"):
            size = _dfs.getsize(p)
            s, e = _snap(p, s, size), _snap(p, e, size)
        yield pd.DataFrame({"path": [p], "start": [s], "end": [e]})

    snapped = plan_frame(
        spark, bounds, snap_bounds, "path string, start long, end long"
    ).toPandas()
    ranges = [
        (p, int(s), int(e))
        for p, s, e in zip(snapped["path"], snapped["start"], snapped["end"])
        if e > s
    ]

    def parse_range(p: str, s: int, e: int) -> Iterator[pd.DataFrame]:
        import gzip

        if p.endswith(".gz"):
            with gzip.open(_dfs.open_input(p), "rt", encoding="ascii") as f:
                lines = f.read().splitlines()
        else:
            with _dfs.open_input(p) as f:
                f.seek(s)
                data = f.read(e - s)
                # the last record owned here may continue past e
                while data and not data.endswith(b"\n"):
                    more = f.read(1 << 16)
                    if not more:
                        break
                    data += more
                # records are owned by their start offset: we may
                # have pulled whole extra records after e; drop
                # any record whose start byte is >= e - s
                lines_b = data.split(b"\n")
                if lines_b and lines_b[-1] == b"":
                    lines_b.pop()
                keep: list[bytes] = []
                off = 0
                for i in range(0, len(lines_b) - len(lines_b) % 4, 4):
                    if off >= e - s:
                        break
                    keep.extend(lines_b[i : i + 4])
                    off += sum(len(x) + 1 for x in lines_b[i : i + 4])
                lines = [x.decode("ascii") for x in keep]
        if lines:
            yield pd.DataFrame(fq.parse_lines(lines))

    return plan_frame(spark, ranges, parse_range, FASTQ_SCHEMA)


def write_fastq(df: DataFrame, path: str, single_file: bool | None = None) -> None:
    """Write (name, comment, seq, qual) as FASTQ: single-file (parts ->
    concat) or sharded directory."""
    if single_file is None:
        single_file = path.endswith((".fastq", ".fq"))
    merge.prepare_overwrite(path)
    if single_file:
        parts_dir = path + ".parts"
        _dfs.makedirs(parts_dir)
    else:
        _dfs.makedirs(path)

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # attempt-unique staging (speculation/retry-safe): single-file
        # parts keep the unique name (finalize uses the collected names);
        # sharded parts publish by rename onto the canonical pid name
        if single_file:
            part_path = merge.attempt_part_path(parts_dir)
            tmp = part_path + ".tmp"
        else:
            part_path = os.path.join(path, f"part-{pid:05d}.fastq")
            tmp = merge.attempt_part_path(path, suffix=".fastq.tmp")
        n = 0
        with io.TextIOWrapper(_dfs.open_output(tmp), encoding="ascii") as f:
            for pdf in batches:
                for name, comment, seq, qual in zip(
                    pdf["name"], pdf["comment"], pdf["seq"], pdf["qual"]
                ):
                    f.write(fq.format_record(name, comment, seq, qual))
                    f.write("\n")
                n += len(pdf)
        if n > 0 or not single_file:
            _dfs.rename(tmp, part_path)
        else:
            _dfs.remove(tmp)
        yield pd.DataFrame({"part": [part_path if (n or not single_file) else ""], "n": [n]})

    rows = df.mapInPandas(write_partition, "part string, n long").collect()
    if single_file:
        merge.concat_parts(path, merge.collected_parts(rows))
        merge.cleanup(parts_dir)


def pair_fastq(r1: DataFrame, r2: DataFrame) -> DataFrame:
    """Join R1/R2 mate files into fragments:
    (name, comment, seq_1, qual_1, seq_2, qual_2).

    Mate names must match after stripping an optional /1 /2 suffix (both
    Illumina conventions: suffixed names, or identical names with the
    mate encoded in the comment). Inner join — orphan reads drop; one
    hash shuffle on the fragment name, which is exactly the co-location
    an aligner feeding step wants anyway.
    """
    strip = lambda c: F.regexp_replace(c, "/[12]$", "")
    a = r1.select(
        strip(F.col("name")).alias("name"),
        F.col("comment"),
        F.col("seq").alias("seq_1"),
        F.col("qual").alias("qual_1"),
    )
    b = r2.select(
        strip(F.col("name")).alias("name"),
        F.col("seq").alias("seq_2"),
        F.col("qual").alias("qual_2"),
    )
    return a.join(b, "name")
