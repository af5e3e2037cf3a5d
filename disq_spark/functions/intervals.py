"""Genomic interval predicates as Catalyst Column expressions.

The reference's interval traversal (HtsjdkReadsTraversalParameters.java:
38-55, BoundedTraversalUtil.java:35-51, AbstractBinarySamSource.java:
103-158) becomes: (a) partition pruning in the source planner where an
index exists, plus (b) the residual per-record overlap predicate below —
which is all Spark needs for correctness; the index pruning is purely a
physical optimization. The readers apply the residual inside their
decode, to each Arrow batch (``interval_mask``); ``overlaps`` and
``filter_intervals`` are the same predicate as a Column, for any
DataFrame.

Intervals are 1-based closed (contig, start, end), htsjdk-style.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from disq_spark.schemas import FLAG_UNMAPPED


@dataclass(frozen=True)
class Interval:
    contig: str
    start: int  # 1-based inclusive
    end: int  # 1-based inclusive


def as_intervals(intervals) -> list[Interval] | None:
    """``intervals`` as a list of ``Interval``s: each entry an ``Interval``
    or a (contig, start, end) tuple; None stays None. Any other entry
    raises ``TypeError`` naming it."""
    if intervals is None:
        return None
    out = []
    for iv in intervals:
        if isinstance(iv, tuple) and len(iv) == 3:
            iv = Interval(*iv)
        elif not isinstance(iv, Interval):
            raise TypeError(f"interval {iv!r} is neither an Interval nor a (contig, start, end) tuple")
        out.append(iv)
    return out


def merge_intervals(intervals: list[Interval]) -> list[Interval]:
    """Sort + merge overlapping/adjacent intervals per contig — the
    QueryInterval.optimizeIntervals step (BoundedTraversalUtil.java:35-51).
    Entries go through ``as_intervals``, and so do those of ``overlaps``
    and ``filter_intervals``, which merge first."""
    by_key = sorted(as_intervals(intervals), key=lambda iv: (iv.contig, iv.start, iv.end))
    out: list[Interval] = []
    for iv in by_key:
        if out and out[-1].contig == iv.contig and iv.start <= out[-1].end + 1:
            if iv.end > out[-1].end:
                out[-1] = Interval(out[-1].contig, out[-1].start, iv.end)
        else:
            out.append(iv)
    return out


def overlaps(intervals: list[Interval], contig="contig", start="start", end="end") -> Column:
    """Column predicate: record overlaps any interval (1-based closed
    overlap semantics, htsjdk ``contained=false``
    AbstractBinarySamSource.java:136)."""
    if not intervals:
        return F.lit(False)
    pred = None
    for iv in merge_intervals(intervals):
        p = (
            (F.col(contig) == iv.contig)
            & (F.col(start) <= iv.end)
            & (F.col(end) >= iv.start)
        )
        pred = p if pred is None else (pred | p)
    return pred


def is_unplaced_unmapped(flags="flags", start="start") -> Column:
    """Unplaced-unmapped: unmapped flag set and no position
    (AbstractBinarySamSource.java:141-157 tail-traversal semantics)."""
    return (F.col(flags).bitwiseAND(FLAG_UNMAPPED) != 0) & F.col(start).isNull()


def filter_intervals(
    df: DataFrame,
    intervals: list[Interval] | None,
    traverse_unplaced_unmapped: bool = False,
) -> DataFrame:
    """The HtsjdkReadsTraversalParameters surface as a DataFrame filter.

    ``intervals=None`` with ``traverse_unplaced_unmapped=True`` returns
    only unplaced-unmapped reads; both None is an error, mirroring
    AbstractBinarySamSource.java:75-79.
    """
    if intervals is None and not traverse_unplaced_unmapped:
        raise ValueError("intervals and traverse_unplaced_unmapped both unset")
    pred = None
    if intervals is not None:
        pred = overlaps(intervals)
    if traverse_unplaced_unmapped:
        uu = is_unplaced_unmapped()
        pred = uu if pred is None else (pred | uu)
    return df.filter(pred)


def overlap_mask(
    batch, intervals: list[Interval] | None, traverse_unplaced_unmapped: bool = False
):
    """The rows of a decoded Arrow batch that ``filter_intervals`` keeps,
    as a boolean Arrow mask (``intervals`` alone: the rows ``overlaps``
    keeps). A null contig/start/end never overlaps, as in SQL."""
    return interval_mask(intervals, traverse_unplaced_unmapped)(batch)


def interval_mask(intervals: list[Interval] | None, traverse_unplaced_unmapped: bool = False):
    """``overlap_mask`` as a one-argument ``keep(batch) -> mask``, with the
    intervals merged once. Per contig, the record [start, end] overlaps a
    merged (sorted, disjoint) interval exactly when the last interval
    starting at or before ``end`` ends at or after ``start``: one
    ``np.searchsorted`` per batch and contig, whatever the interval count
    (the Column form, one OR per interval, overflows the JVM stack at
    about 1,000)."""
    by_contig: dict[str, tuple] = {}
    for iv in merge_intervals(intervals or []):
        by_contig.setdefault(iv.contig, ([], []))
        by_contig[iv.contig][0].append(iv.start)
        by_contig[iv.contig][1].append(iv.end)
    tables = [(np.array(s, dtype=np.int64), np.array(e, dtype=np.int64)) for s, e in by_contig.values()]
    names = list(by_contig)

    def keep(batch):
        import pyarrow as pa
        import pyarrow.compute as pc

        hit = np.zeros(batch.num_rows, dtype=bool)
        start = batch.column("start")
        if tables:
            code = pc.fill_null(pc.index_in(batch.column("contig"), value_set=pa.array(names, pa.string())), -1)
            code = code.to_numpy(zero_copy_only=False)
            end = batch.column("end")
            valid = pc.and_(pc.is_valid(start), pc.is_valid(end)).to_numpy(zero_copy_only=False)
            s = pc.fill_null(start, 0).to_numpy(zero_copy_only=False)
            e = pc.fill_null(end, 0).to_numpy(zero_copy_only=False)
            for ci, (lo, hi) in enumerate(tables):
                rows = np.flatnonzero(valid & (code == ci))
                i = np.searchsorted(lo, e[rows], "right") - 1
                hit[rows] = (i >= 0) & (hi[np.maximum(i, 0)] >= s[rows])
        if traverse_unplaced_unmapped:
            unmapped = pc.not_equal(pc.bit_wise_and(batch.column("flags"), FLAG_UNMAPPED), 0)
            hit |= pc.and_(unmapped, pc.is_null(start)).to_numpy(zero_copy_only=False)
        return pa.array(hit)

    return keep


def parse_intervals(spec: str) -> list[Interval]:
    """'chr1:100-200,chrX:5-10' -> [Interval] (1-based closed, the
    samtools region-string convention) — the option format the
    registrable DataSources accept, since the Python DataSource API
    carries strings, not objects."""
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        contig, _, rng = part.rpartition(":")
        if not contig:
            raise ValueError(f"bad interval {part!r} (want contig:start-end)")
        lo, _, hi = rng.partition("-")
        out.append(Interval(contig, int(lo), int(hi or lo)))
    return out
