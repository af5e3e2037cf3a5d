"""Distributed FASTA window scan: reference-genome analytics (GC/N
profiles, k-mer scans, motif search) as ordinary DataFrame queries.

Planning reads ONLY the .fai (one line per contig); each task then
random-accesses its window — .fai byte arithmetic on plain files,
.gzi block lookup on bgzip — so a 3 GB genome fans out to
genome/window tasks with O(window) I/O each and nothing ever loads a
whole contig. ``overlap`` extends each window rightward so k-mers
spanning a boundary are seen by exactly one owner (the window whose
body starts the k-mer).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from disq_spark.formats.gzi import open_indexed_reference, read_fai
from disq_spark.sources.plan import Scan

FASTA_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("contig", T.StringType(), False),
        T.StructField("start", T.LongType(), False),  # 1-based inclusive
        T.StructField("end", T.LongType(), False),
        T.StructField("seq", T.StringType(), False),
    ]
)


def read_fasta_windows(
    spark: SparkSession,
    path: str,
    window: int = 1_000_000,
    overlap: int = 0,
) -> DataFrame:
    """(contig, start, end, seq) windows of ``window`` bases (the last
    window of each contig is shorter); ``overlap`` extra bases are
    appended to ``seq`` (end stays the body end) for boundary-spanning
    k-mer ownership."""
    return scan_fasta_windows(path, window, overlap).frame(spark)


def scan_fasta_windows(path: str, window: int = 1_000_000, overlap: int = 0) -> Scan:
    """The FASTA window scan: plan rows are (contig, start, end) windows
    from the .fai; each decode fetches one window."""

    def plan() -> list[tuple[str, int, int]]:
        out: list[tuple[str, int, int]] = []
        for name, e in read_fai(path + ".fai").items():
            s = 1
            while s <= e.length:
                out.append((name, s, min(s + window - 1, e.length)))
                s += window
        return out

    def fetch(c: str, s: int, e: int) -> Iterator[dict]:
        ref = open_indexed_reference(path)
        seq = ref.get(c, s, min(e + overlap, ref.fai[c].length))
        yield {"contig": [c], "start": [s], "end": [e], "seq": [seq]}

    return Scan(FASTA_WINDOW_SCHEMA, None, fetch, plan)
