"""Splittable FASTQ source and sink.

Read lifecycle (``scan_fastq``; mirrors the BAM source's shape, applied
to text):
  1. plan raw byte ranges of split_size per plain file (gzip: whole
     file — not splittable); the driver only stats the files,
  2. each task snaps both ends of its range forward to the next
     chain-validated record start (formats/fastq.find_record_start, one
     small window read per end). The snap is deterministic, so adjacent
     tasks agree on their shared boundary,
  3. the task parses the complete records in the snapped range —
     ownership is by record start, exactly-once across any split size
     (tested over a split matrix).

Write: text parts in parallel -> concat (single-file) or one file per
partition (sharded), on the write path every sink shares (sinks/merge.py).
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from disq_spark import fs as _dfs
from disq_spark.formats import fastq as fq
from disq_spark.sinks import merge
from disq_spark.sources.plan import DEFAULT_SPLIT_SIZE, Scan, resolve_paths

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


def _snap(path: str, pos: int, size: int) -> int:
    """First record-start offset >= pos (file offset), or ``size``."""
    if pos == 0 or pos >= size:
        return min(pos, size)
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
    return scan_fastq(path, split_size).frame(spark)


def scan_fastq(path: str, split_size: int | None = None) -> Scan:
    """The FASTQ scan: raw byte ranges, snapped to record starts in the
    decoding task."""
    split = split_size or DEFAULT_SPLIT_SIZE
    paths = resolve_paths(path, FASTQ_EXTENSIONS)

    def plan() -> list[tuple[str, int, int]]:
        out: list[tuple[str, int, int]] = []
        for p in paths:
            size = _dfs.getsize(p)
            if p.endswith(".gz"):
                out.append((p, 0, size))
            else:
                out.extend((p, s, min(s + split, size)) for s in range(0, size, split))
        return out

    def decode(p: str, s: int, e: int) -> Iterator[dict]:
        import gzip

        if p.endswith(".gz"):
            with gzip.open(_dfs.open_input(p), "rt", encoding="ascii") as f:
                lines = f.read().splitlines()
        else:
            size = _dfs.getsize(p)
            s, e = _snap(p, s, size), _snap(p, e, size)
            if e <= s:
                return
            with _dfs.open_input(p) as f:
                f.seek(s)
                lines = f.read(e - s).decode("ascii").split("\n")
            if lines[-1] == "":
                lines.pop()
        if lines:
            yield fq.parse_lines(lines)

    return Scan(FASTQ_SCHEMA, None, decode, plan)


def write_fastq(df: DataFrame, path: str, single_file: bool | None = None) -> None:
    """Write (name, comment, seq, qual) as FASTQ on the shared write path
    (sinks/merge.py): single-file (parts -> concat) or sharded directory.
    FASTQ has no header, terminator or index."""
    if single_file is None:
        single_file = path.endswith((".fastq", ".fq"))
    layout = merge.Layout(ext=".fastq")
    if single_file:
        merge.write_single(df, path, _encode, partial(merge.commit_single, path, layout=layout))
    else:
        merge.write_sharded(df, path, _encode, layout)


def _encode(batches, out):
    """The FASTQ part encoder: 4-line records to ``out``; no sidecars."""
    n = 0
    for batch in batches:
        recs = [(r["name"], r["comment"], r["seq"], r["qual"]) for r in merge.batch_rows([batch])]
        out.write("".join(fq.format_record(*rec) + "\n" for rec in recs).encode("ascii"))
        n += len(recs)
    return n, None


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
