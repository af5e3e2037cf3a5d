"""Genomic relational operators the reference lacks (SURVEY.md §7 M6 —
capability upgrades over disq-bio/disq, which only does I/O):

- interval_join: distributed overlap join via genome binning. Both sides
  explode to fixed-width bins, equi-join on (contig, bin) — a hash
  shuffle Catalyst handles — then a residual overlap filter. The
  classic duplicate-match problem (a pair overlapping in k bins matches
  k times) is solved with the standard assign-to-one-bin trick: a pair
  is kept only in bin max(floor(l.start/W), floor(r.start/W)).
  At 100 TB this is THE way to do reads-x-targets joins: shuffle is
  proportional to data + interval density, never O(n*m).
- coordinate_sort: a range exchange on (contig rank, start) +
  sortWithinPartitions — a total order with no single-reducer
  bottleneck ("This library does not do any sorting" README.md:148 —
  we do). A ``read_bam`` frame over ``.sbi``-indexed inputs takes its
  range bounds from keys sampled at ``.sbi`` offsets on the driver and
  routes each record in its own decode, so the sort decodes its input
  once and runs no sampling job; any other frame uses
  ``repartitionByRange``.
- mark_duplicates: Picard MarkDuplicates semantics — per-library
  template keys built from each end's UNCLIPPED 5' coordinate + strand,
  pair-vs-pair competition on both ends, fragment demotion against
  pairs, best template by summed base-quality score, losers flagged
  0x400 on every record.
- pair_reads: queryname pair atomicity via a name shuffle — the
  reference documents this as an unimplemented goal (README.md:39,162-166).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from disq_spark.headers import SamHeader
from disq_spark.operators.intervals import _events, _islands, _segments
from disq_spark.schemas import (
    FLAG_DUPLICATE,
    FLAG_FAIL_QC,
    FLAG_FIRST_OF_PAIR,
    FLAG_MATE_REVERSE,
    FLAG_MATE_UNMAPPED,
    FLAG_PAIRED,
    FLAG_REVERSE,
    FLAG_SECONDARY,
    FLAG_SUPPLEMENTARY,
    FLAG_UNMAPPED,
)

DEFAULT_BIN_SIZE = 10_000


def _binned(df: DataFrame, start: str, end: str, bin_size: int, side: str) -> DataFrame:
    return df.withColumn(
        f"__bin_{side}",
        F.explode(
            F.sequence(
                (F.col(start) / bin_size).cast("long"), (F.col(end) / bin_size).cast("long")
            )
        ),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    contig: str = "contig",
    start: str = "start",
    end: str = "end",
    right_prefix: str = "r_",
    bin_size: int = DEFAULT_BIN_SIZE,
) -> DataFrame:
    """Overlap (inner) join on 1-based closed intervals.

    ``right`` columns are prefixed with ``right_prefix`` in the output.
    """
    r = right
    for c in r.columns:
        r = r.withColumnRenamed(c, right_prefix + c)
    rc, rs, re_ = right_prefix + contig, right_prefix + start, right_prefix + end

    lb = _binned(left, start, end, bin_size, "l")
    rb = _binned(r, rs, re_, bin_size, "r")
    joined = lb.join(
        rb,
        (F.col(contig) == F.col(rc)) & (F.col("__bin_l") == F.col("__bin_r")),
        "inner",
    )
    anchor = F.greatest(
        (F.col(start) / bin_size).cast("long"), (F.col(rs) / bin_size).cast("long")
    )
    return (
        joined.filter(
            (F.col(start) <= F.col(re_))
            & (F.col(end) >= F.col(rs))
            & (F.col("__bin_l") == anchor)
        )
        .drop("__bin_l", "__bin_r")
    )


def coordinate_sort(df: DataFrame, header: SamHeader, num_partitions: int | None = None) -> DataFrame:
    """Total coordinate order (sequence-dictionary contig rank, start),
    unplaced reads last — htsjdk coordinate sort semantics: a null contig
    sorts last, a contig the header lacks first, a null start first
    within its contig.

    Two paths, one order. A frame straight from ``read_bam`` over inputs
    that all have a ``.sbi`` (and no interval filter) carries a scan with
    a key sampler: the driver takes ``num_partitions - 1`` bounds from
    the (rank, start) keys of about ``SORT_SAMPLES_PER_PARTITION`` records
    per partition read at ``.sbi`` offsets, and the re-planned decode
    emits each record's rank and target partition, so the sort runs no
    sampling job and decodes its input once (``_sampled_sort``). Any
    other frame (cached, filtered, index-less, not a scan) goes through
    ``repartitionByRange``, whose RangePartitioner samples the child in
    a job of its own."""
    n = int(num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    scan = getattr(df, "_disq_scan", None)
    if scan is not None and scan.sample_keys is not None and not df.is_cached:
        return _sampled_sort(df.sparkSession, scan, header, n)
    return (
        df.withColumn("__rank", _contig_rank(header))
        .repartitionByRange(n, "__rank", "start")
        .sortWithinPartitions("__rank", "start")
        .drop("__rank")
    )


UNPLACED_RANK = 2**31 - 1  # the rank of a null contig: after every contig
SORT_SAMPLES_PER_PARTITION = 20


def _contig_rank(header: SamHeader):
    """The contig's sequence-dictionary rank (null for a contig the
    header lacks, ``UNPLACED_RANK`` for a null contig), through one map
    built from two string literals (names joined on NUL, which no contig
    name holds, and ranks joined on commas): a handful of py4j calls and
    a literal the optimizer folds, whatever the dictionary's size — not
    two ``F.lit`` calls per contig, nor a SQL text to parse."""
    order = header.contig_index()
    if order:
        names = F.split(F.lit("\0".join(order)), "\0")
        ranks = F.split(F.lit(",".join(map(str, order.values()))), ",").cast("array<int>")
        rank = F.map_from_arrays(names, ranks)[F.col("contig")]
    else:
        rank = F.lit(None).cast("int")
    return F.when(F.col("contig").isNull(), F.lit(UNPLACED_RANK)).otherwise(rank)


def murmur3_int(values, seed: int = 42):
    """Spark's ``Murmur3_x86_32.hashInt`` of each int32 in ``values`` (the
    hash ``F.hash`` and ``HashPartitioning`` apply to an int column), as
    int32."""
    k = np.asarray(values).astype(np.int32).view(np.uint32)

    def rotl(x, r):
        return (x << np.uint32(r)) | (x >> np.uint32(32 - r))

    k = rotl(k * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
    h = rotl(np.uint32(seed) ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(4)
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h.view(np.int32)


def partition_preimages(n: int):
    """For each partition p < n, the least int k >= 0 whose Spark hash
    lands in p: ``pmod(murmur3(k, 42), n) == p``, so ``repartition(n, k)``
    sends a row keyed k to partition p."""
    out = np.full(n, -1, dtype=np.int64)
    lo, step = 0, max(1 << 16, 4 * n)
    while (out < 0).any():
        ks = np.arange(lo, lo + step, dtype=np.int64)
        p = np.mod(murmur3_int(ks).astype(np.int64), n)
        first = np.full(n, -1, dtype=np.int64)
        first[p[::-1]] = ks[::-1]  # the least k per partition wins
        out = np.where((out < 0) & (first >= 0), first, out)
        lo += step
    return out.astype(np.int32)


def _sort_keys(order: dict, contigs, starts):
    """(rank, key) of each record: its ``_contig_rank`` (None for a
    contig the header lacks) and one int64 that orders as (rank, start)
    does under Spark's ascending sort, nulls first."""
    last = len(order) + 1
    rank = [None if c is None else order.get(c) for c in contigs]
    r = np.fromiter((last if c is None else (0 if k is None else k + 1)
                     for c, k in zip(contigs, rank)), dtype=np.int64, count=len(rank))
    s = np.fromiter((0 if v is None or v != v else int(v) + 1 for v in starts),
                    dtype=np.int64, count=len(rank))
    return rank, (r << 34) | s


def _sampled_sort(spark, scan, header: SamHeader, n: int) -> DataFrame:
    """``coordinate_sort`` of a scan with a key sampler: bounds from the
    sampled keys' quantiles, a decode that adds ``__rank`` and ``__k``
    (the partition ``np.searchsorted(bounds, key, "right")``, as the int
    whose Spark hash lands there), then a hash exchange on ``__k`` and the
    per-partition sort. With an explicit partition count AQE leaves the
    exchange's partitions alone, so partition p holds bucket p."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from disq_spark.sources.plan import plan_frame

    order = header.contig_index()
    _r, sample = _sort_keys(order, *scan.sample_keys(SORT_SAMPLES_PER_PARTITION * n))
    sample.sort()
    bounds = sample[(np.arange(1, n) * len(sample)) // n] if len(sample) else sample[:0]
    pre = partition_preimages(n)
    decode = scan.decode

    def keyed(key: str, start: int, end: int):
        for cols in decode(key, start, end):
            rank, k = _sort_keys(order, cols["contig"], cols["start"])
            cols = dict(cols)
            cols["__rank"] = [UNPLACED_RANK if c is None else r for c, r in zip(cols["contig"], rank)]
            cols["__k"] = pa.array(pre[np.searchsorted(bounds, k, "right")])
            yield cols

    schema = T.StructType(
        scan.schema.fields + [T.StructField("__rank", T.IntegerType()), T.StructField("__k", T.IntegerType())]
    )
    return (
        plan_frame(spark, scan.plan(), keyed, schema)
        .repartition(n, "__k")
        .sortWithinPartitions("__rank", "start")
        .drop("__rank", "__k")
    )


def _clip_len(pattern: str):
    """Length of a leading/trailing soft/hard clip run matched by
    ``pattern`` against the cigar column (0 when absent)."""
    v = F.regexp_extract(F.col("cigar"), pattern, 1)
    return F.when(v == "", F.lit(0)).otherwise(v.cast("long"))


def _lead_clip():
    """Leading soft+hard clip length. The unclipped 5' coordinate
    (htsjdk SAMRecord.getUnclippedStart/End) is Picard MarkDuplicates'
    duplicate-key position: leading clips REWIND the start for a forward
    read; trailing clips EXTEND the end for a reverse read. Aligners
    routinely clip duplicate reads differently (adapter trim,
    low-quality tails), so keying on POS alone silently misses
    real-world duplicates. Built lazily — Column construction needs an
    active session."""
    return _clip_len(r"^(\d+)H") + _clip_len(r"^(?:\d+H)?(\d+)S")


def _tail_clip():
    return _clip_len(r"(\d+)S(?:\d+H)?$") + _clip_len(r"(\d+)H$")


def _end_str(e):
    return F.concat_ws(
        ":", e["contig"], e["uc5"].cast("string"), e["strand"].cast("string")
    )


def _template_table(df: DataFrame, header: SamHeader | None):
    """One row per primary template per library pool: (__rg library,
    name, __ends sorted unclipped-5' end structs, __score
    SUM_OF_BASE_QUALITIES, __n mapped primary ends, __rgid the records'
    RG tag). Shared by ``mark_duplicates`` and ``duplication_metrics``
    so both see identical duplicate keys. Returns (tmpl, exempt_predicate,
    library_column)."""
    exempt = (
        (F.col("flags").bitwiseAND(FLAG_UNMAPPED) != 0)
        | (F.col("flags").bitwiseAND(FLAG_SECONDARY) != 0)
        | (F.col("flags").bitwiseAND(FLAG_SUPPLEMENTARY) != 0)
    )
    qual_score = F.when(F.col("qual").isNull(), F.lit(0)).otherwise(
        F.aggregate(
            F.transform(
                F.split(F.col("qual"), ""),
                lambda c: F.when(F.ascii(c) - 33 >= 15, F.ascii(c) - 33).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
    )
    strand = (F.col("flags").bitwiseAND(FLAG_REVERSE) != 0).cast("int")
    uc5 = F.when(
        strand == 1, F.col("end") + _tail_clip()
    ).otherwise(F.col("start") - _lead_clip())
    # library pool: RG id -> @RG LB via the header (broadcast literal
    # map); a 20-lane library dedups as ONE pool, like Picard. No header
    # (or no @RG lines) -> single pool.
    libmap = header.libraries() if header is not None else {}
    if libmap and "read_group" in df.columns:
        m = F.create_map(*[F.lit(x) for kv in libmap.items() for x in kv])
        rg = F.coalesce(m[F.col("read_group")], F.lit("Unknown Library"))
    else:
        rg = F.lit("")
    rgid = F.col("read_group") if "read_group" in df.columns else F.lit(None).cast("string")

    prim = (
        df.filter(~exempt)
        .select(
            rg.alias("__rg"),
            "name",
            F.struct(
                F.col("contig").alias("contig"),
                uc5.alias("uc5"),
                strand.alias("strand"),
            ).alias("__e"),
            qual_score.alias("__s"),
            rgid.alias("__rgid"),
        )
    )
    tmpl = prim.groupBy("__rg", "name").agg(
        F.sort_array(F.collect_list("__e")).alias("__ends"),
        F.sum("__s").alias("__score"),
        F.count("*").alias("__n"),
        F.min("__rgid").alias("__rgid"),
    )
    return tmpl, exempt, rg


def mark_duplicates(df: DataFrame, header: SamHeader | None = None) -> DataFrame:
    """Flag duplicate templates (bit 0x400), Picard MarkDuplicates
    semantics, keeping the best-scoring template per duplicate key.

    Keys are built from each end's UNCLIPPED 5' coordinate and strand —
    forward: ``start - leading soft/hard clip``; reverse: ``end +
    trailing soft/hard clip`` (htsjdk getUnclippedStart/End) — so
    duplicates whose alignments differ only in clipping still collide.
    Duplicates are detected per LIBRARY (Picard's unit): pass ``header``
    to resolve each record's RG tag to its @RG LB field — a
    multi-lane library (many RG ids, one LB) then dedups as one pool;
    records without a resolvable library pool together ("Unknown
    Library", like Picard). Without ``header``, everything is one pool.
    Per library:

    - a template with two mapped primary ends competes on the ordered
      PAIR of (contig, unclipped-5', strand) end keys; the best template
      (sum of both ends' base-quality scores, Picard's
      SUM_OF_BASE_QUALITIES: phred >= 15 summed) survives, every record
      of each losing template is flagged;
    - a single-end template (unpaired, or mate unmapped) competes on its
      one end key against other single-end templates — and is flagged
      unconditionally when ANY pair shares that end key (Picard demotes
      fragments against pairs regardless of score);
    - unmapped / secondary / supplementary records pass through with
      flags untouched (classic Picard skips them).

    Ties break by ascending name (deterministic under any partitioning;
    Picard uses file order, which a distributed input does not have).

    Plan shape: one groupBy(name) to assemble template ends, two
    row_number windows (pair key / fragment end key), one join of
    fragments against distinct pair end keys, and one join of verdicts
    back to records on (read_group, name). All shuffles are keyed —
    nothing driver-side, no per-row Python — and each window partition
    holds only the templates sharing one duplicate key (tiny), so skew
    is bounded by real duplicate depth. Reference: the disq README
    defers duplicate marking to downstream Picard; this is that step,
    expressed distributed.
    """
    tmpl, exempt, rg = _template_table(df, header)
    end_str = _end_str
    ends_key = F.array_join(F.transform("__ends", end_str), "|")

    pairs = tmpl.filter(F.col("__n") >= 2).withColumn("__k", ends_key)
    wp = W.partitionBy("__rg", "__k").orderBy(F.desc("__score"), F.asc("name"))
    pair_verdict = pairs.select(
        "__rg", "name", (F.row_number().over(wp) > 1).alias("__dup")
    )

    frags = tmpl.filter(F.col("__n") == 1).withColumn(
        "__k", end_str(F.col("__ends")[0])
    )
    wf = W.partitionBy("__rg", "__k").orderBy(F.desc("__score"), F.asc("name"))
    pair_end_keys = (
        pairs.select("__rg", F.explode("__ends").alias("__pe"))
        .select("__rg", end_str(F.col("__pe")).alias("__k"))
        .distinct()
        .withColumn("__paired_here", F.lit(True))
    )
    frag_verdict = (
        frags.withColumn("__rn", F.row_number().over(wf))
        .join(pair_end_keys, ["__rg", "__k"], "left")
        .select(
            "__rg",
            "name",
            (F.coalesce(F.col("__paired_here"), F.lit(False)) | (F.col("__rn") > 1)).alias("__dup"),
        )
    )

    verdicts = pair_verdict.unionByName(frag_verdict)
    out = df.withColumn("__rg", rg).join(verdicts, ["__rg", "name"], "left")
    return (
        out.withColumn(
            "flags",
            F.when(
                ~exempt & F.coalesce(F.col("__dup"), F.lit(False)),
                F.col("flags").bitwiseOR(FLAG_DUPLICATE),
            ).otherwise(F.col("flags")),
        )
        .drop("__rg", "__dup")
        .select(*df.columns)
    )


def _estimate_library_size(read_pairs: int, unique_read_pairs: int):
    """Lander-Waterman library-size estimate, Picard
    DuplicationMetrics.estimateLibrarySize semantics: solve
    uniquePairs = X * (1 - exp(-readPairs/X)) by 40-step bisection on
    the multiplier m in [1, M], f(x) = c/x - 1 + exp(-n/x).

    Serial REFERENCE twin of ``_estimate_library_size_series`` (the
    Arrow-batched product path); exp() is numpy's so the two agree to
    the last bit — near the root f() is a catastrophic cancellation,
    and a 1-ulp libm-vs-numpy exp difference measurably shifts the
    bisection (75 parts in 1.25e9 on the n=50000 grid cell)."""
    import numpy as np

    n, c = float(read_pairs), float(unique_read_pairs)
    if read_pairs <= 0 or read_pairs - unique_read_pairs <= 0 or c >= n:
        return None
    if c == 0:
        # Picard evaluates f as 0/0 -> NaN here; the NaN falls through
        # every branch (no doubling, bisection walks M down to m=1) and
        # (long)(0 * ...) returns 0 — mirror that rather than raising
        # ZeroDivisionError on an all-duplicates library
        return 0

    def f(x):
        return c / x - 1.0 + float(np.exp(-n / x))

    m, M = 1.0, 100.0
    if f(m * c) < 0:
        return None
    while f(M * c) > 0:
        M *= 10.0
    for _ in range(40):
        r = (m + M) / 2.0
        u = f(r * c)
        if u == 0:
            m = M = r
            break
        if u > 0:
            m = r
        else:
            M = r
    return int(c * (m + M) / 2.0)


def _estimate_library_size_series(read_pairs, unique_read_pairs):
    """Vectorized (Arrow-batched) twin of ``_estimate_library_size``:
    the same 40-step bisection, run per-element with numpy array ops so
    no row-at-a-time Python remains in the product path. The doubling
    pre-loop is unrolled to 16 fixed steps (M reaches 1e18; the loop
    provably exits once M >= n/c, and n/c < 2^63 for int64 counts) with
    the condition re-evaluated per step, so the stop point — the FIRST
    M with f(M*c) <= 0 — is identical to the scalar while-loop.
    Differential equality vs the scalar reference is pinned by
    tests/test_operators.py (serial-Picard fixture row 5437)."""
    import numpy as np
    import pandas as pd

    n = read_pairs.to_numpy(dtype=np.float64, na_value=np.nan)
    c = unique_read_pairs.to_numpy(dtype=np.float64, na_value=np.nan)
    valid = np.isfinite(n) & np.isfinite(c) & (n > 0) & (n - c > 0) & (c < n)
    # park invalid rows on a benign (n, c) so the array math never
    # trips spurious branches; they are nulled on the way out. c == 0
    # stays IN (Picard's 0/0 -> NaN falls through every branch below
    # exactly as in the scalar reference, yielding estimate 0).
    ns = np.where(valid, n, 2.0)
    cs = np.where(valid, c, 1.0)

    def f(x):
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            return cs / x - 1.0 + np.exp(-ns / x)

    m = np.ones_like(cs)
    M = np.full_like(cs, 100.0)
    for _ in range(16):
        M = np.where(f(M * cs) > 0, M * 10.0, M)
    for _ in range(40):
        r = (m + M) / 2.0
        u = f(r * cs)
        # branch-for-branch with the scalar: u==0 pins both ends to r;
        # u>0 raises m; ANY other u (u<0 or NaN) lowers M — NaN must
        # take the else-branch like Python's `if u > 0: ... else: ...`
        gt = u > 0
        m = np.where(gt | (u == 0), r, m)
        M = np.where(~gt, r, M)
    est_f = cs * (m + M) / 2.0
    # an estimate past int64 can't ride the `long` column (the scalar
    # reference's arbitrary-precision int() can exceed it on absurd
    # inputs like 1e12 pairs in one library) — surface NULL, not an
    # overflow-wrapped negative
    valid &= est_f < float(2**63)
    est = np.where(valid, est_f, 0.0).astype(np.int64)
    out = pd.Series(est, dtype="Int64")
    out[~valid] = pd.NA
    return out


def duplication_metrics(
    df: DataFrame,
    header: SamHeader | None = None,
    optical_pixel_distance: int = 100,
) -> DataFrame:
    """Per-library duplication metrics, Picard DuplicationMetrics
    semantics — including OPTICAL duplicate separation, the part of
    MarkDuplicates that distinguishes PCR duplication (library
    complexity) from flow-cell artifacts.

    Output per library: (library, unpaired_reads_examined,
    read_pairs_examined, secondary_or_supplementary_rds, unmapped_reads,
    unpaired_read_duplicates, read_pair_duplicates,
    read_pair_optical_duplicates, percent_duplication,
    estimated_library_size).

    - Duplicate keys/verdicts are byte-identical to ``mark_duplicates``
      (shared ``_template_table``: unclipped-5' + strand end keys,
      SUM_OF_BASE_QUALITIES best, fragments demoted against pairs).
    - Optical: physical location parsed from the read name (Picard's
      default READ_NAME_REGEX — 5- or 7-field colon names, last three
      numeric fields = tile:x:y); within each pair duplicate SET, two
      templates are optically linked when they share read group and
      tile and |dx| <= ``optical_pixel_distance`` and |dy| <= it; each
      proximity cluster of k >= 2 contributes k-1 optical duplicates
      (union-find, like OpticalDuplicateFinder).
    - percent_duplication = (unpaired_dups + 2*pair_dups) /
      (unpaired_examined + 2*pairs_examined); estimated_library_size =
      Lander-Waterman bisection on (pairs - optical, pairs - pair_dups).

    Plan shape: the same keyed shuffles as ``mark_duplicates`` plus one
    ``applyInPandas`` over (library, duplicate-key) groups for the
    union-find — each group is ONE duplicate set (size = real duplicate
    depth, bounded like Picard's in-memory sets), so the O(set²)
    comparison never sees more than a hotspot's reads. The final
    library-size bisection runs as a Python UDF over the per-LIBRARY
    aggregate (#libraries rows, not data-scale).
    """
    tmpl, exempt, rg = _template_table(df, header)
    ends_key = F.array_join(F.transform("__ends", _end_str), "|")

    pairs = tmpl.filter(F.col("__n") >= 2).withColumn("__k", ends_key)
    wp = W.partitionBy("__rg", "__k").orderBy(F.desc("__score"), F.asc("name"))
    pairs_v = pairs.withColumn("__dup", F.row_number().over(wp) > 1)

    frags = tmpl.filter(F.col("__n") == 1).withColumn("__k", _end_str(F.col("__ends")[0]))
    wf = W.partitionBy("__rg", "__k").orderBy(F.desc("__score"), F.asc("name"))
    pair_end_keys = (
        pairs.select("__rg", F.explode("__ends").alias("__pe"))
        .select("__rg", _end_str(F.col("__pe")).alias("__k"))
        .distinct()
        .withColumn("__paired_here", F.lit(True))
    )
    frags_v = (
        frags.withColumn("__rn", F.row_number().over(wf))
        .join(pair_end_keys, ["__rg", "__k"], "left")
        .withColumn(
            "__dup",
            F.coalesce(F.col("__paired_here"), F.lit(False)) | (F.col("__rn") > 1),
        )
    )

    # physical location from the name: 5- or 7-field colon-separated,
    # last three fields numeric -> tile, x, y (Picard READ_NAME_REGEX
    # default). Non-conforming names simply carry no location.
    parts = F.split(F.col("name"), ":")
    nf = F.size(parts)
    num = lambda i: F.element_at(parts, i).try_cast("int")  # noqa: E731
    has_loc = (
        ((nf == 5) | (nf == 7))
        & num(-3).isNotNull()
        & num(-2).isNotNull()
        & num(-1).isNotNull()
    )
    d = int(optical_pixel_distance)

    def _optical_in_set(pdf):
        import pandas as pd

        n = len(pdf)
        lib = pdf["__rg"].iloc[0]
        if n < 2:
            return pd.DataFrame({"__rg": [lib], "optical": [0]})
        parent = list(range(n))

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        rgv = pdf["__rgid"].fillna("").tolist()
        tv = pdf["tile"].tolist()
        xv = pdf["x"].tolist()
        yv = pdf["y"].tolist()
        for i in range(n):
            for j in range(i + 1, n):
                if (
                    rgv[i] == rgv[j]
                    and tv[i] == tv[j]
                    and abs(xv[i] - xv[j]) <= d
                    and abs(yv[i] - yv[j]) <= d
                ):
                    ra, rb = find(i), find(j)
                    if ra != rb:
                        parent[ra] = rb
        sizes: dict[int, int] = {}
        for i in range(n):
            r = find(i)
            sizes[r] = sizes.get(r, 0) + 1
        optical = sum(k - 1 for k in sizes.values() if k >= 2)
        return pd.DataFrame({"__rg": [lib], "optical": [optical]})

    optical = (
        pairs.filter(has_loc)
        .select(
            "__rg", "__k", "__rgid", num(-3).alias("tile"), num(-2).alias("x"), num(-1).alias("y")
        )
        .groupBy("__rg", "__k")
        .applyInPandas(_optical_in_set, "__rg string, optical long")
        .groupBy("__rg")
        .agg(F.sum("optical").alias("read_pair_optical_duplicates"))
    )

    pair_stats = pairs_v.groupBy("__rg").agg(
        F.count("*").alias("read_pairs_examined"),
        F.sum(F.col("__dup").cast("long")).alias("read_pair_duplicates"),
    )
    frag_stats = frags_v.groupBy("__rg").agg(
        F.count("*").alias("unpaired_reads_examined"),
        F.sum(F.col("__dup").cast("long")).alias("unpaired_read_duplicates"),
    )
    unmapped = (F.col("flags").bitwiseAND(FLAG_UNMAPPED) != 0) & (
        (F.col("flags").bitwiseAND(FLAG_SECONDARY) == 0)
        & (F.col("flags").bitwiseAND(FLAG_SUPPLEMENTARY) == 0)
    )
    secsup = (F.col("flags").bitwiseAND(FLAG_SECONDARY) != 0) | (
        F.col("flags").bitwiseAND(FLAG_SUPPLEMENTARY) != 0
    )
    other_stats = (
        df.withColumn("__rg", rg)
        .groupBy("__rg")
        .agg(
            F.sum(unmapped.cast("long")).alias("unmapped_reads"),
            F.sum(secsup.cast("long")).alias("secondary_or_supplementary_rds"),
        )
    )

    els = F.pandas_udf(_estimate_library_size_series, "long")
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    examined = z("unpaired_reads_examined") + 2 * z("read_pairs_examined")
    dups = z("unpaired_read_duplicates") + 2 * z("read_pair_duplicates")
    return (
        other_stats.join(pair_stats, "__rg", "left")
        .join(frag_stats, "__rg", "left")
        .join(optical, "__rg", "left")
        .select(
            F.col("__rg").alias("library"),
            z("unpaired_reads_examined").alias("unpaired_reads_examined"),
            z("read_pairs_examined").alias("read_pairs_examined"),
            z("secondary_or_supplementary_rds").alias("secondary_or_supplementary_rds"),
            z("unmapped_reads").alias("unmapped_reads"),
            z("unpaired_read_duplicates").alias("unpaired_read_duplicates"),
            z("read_pair_duplicates").alias("read_pair_duplicates"),
            z("read_pair_optical_duplicates").alias("read_pair_optical_duplicates"),
            F.when(examined > 0, F.round(dups / examined, 6))
            .otherwise(F.lit(0.0))
            .alias("percent_duplication"),
            els(
                z("read_pairs_examined") - z("read_pair_optical_duplicates"),
                z("read_pairs_examined") - z("read_pair_duplicates"),
            ).alias("estimated_library_size"),
        )
    )


def pair_reads(df: DataFrame) -> DataFrame:
    """Group primary alignments by queryname: one row per template with a
    ``reads`` array — the pair-atomicity guarantee the reference lists as
    unimplemented (README.md:39). A single hash shuffle on name."""
    primary = df.filter(
        (F.col("flags").bitwiseAND(FLAG_SECONDARY) == 0)
        & (F.col("flags").bitwiseAND(FLAG_SUPPLEMENTARY) == 0)
    )
    return primary.groupBy("name").agg(
        F.sort_array(
            F.collect_list(F.struct("flags", "contig", "start", "end", "cigar", "seq", "qual"))
        ).alias("reads"),
        F.count("*").alias("n_reads"),
    )


def coverage_bins(
    df: DataFrame,
    bin_size: int = 10_000,
    contig: str = "contig",
    start: str = "start",
    end: str = "end",
) -> DataFrame:
    """Binned read-depth: (contig, bin, bin_start, n_reads, mean_depth).

    Each mapped read explodes to the fixed-width genome bins it overlaps
    (span/bin_size + 1 rows — bounded, never per-base), then one
    groupBy with map-side partial aggregation: n_reads = reads touching
    the bin, mean_depth = sum of per-read overlap bases / bin_size.
    The scale shape of samtools-depth: shuffle volume is reads x
    bins-per-read, output is genome/bin_size rows.

    Bin b covers 1-based positions [b*bin_size + 1, (b+1)*bin_size].
    """
    bs = bin_size
    c, s, e = F.col(contig), F.col(start), F.col(end)
    binned = (
        df.filter(c.isNotNull() & s.isNotNull() & e.isNotNull())
        .withColumn("bin", F.explode(F.sequence(((s - 1) / bs).cast("long"), ((e - 1) / bs).cast("long"))))
    )
    b = F.col("bin")
    overlap = F.least(e, (b + 1) * bs) - F.greatest(s, b * bs + 1) + 1
    return (
        binned.groupBy(c.alias("contig"), b.alias("bin"))
        .agg(
            F.count("*").alias("n_reads"),
            F.sum(overlap).alias("covered_bases"),
        )
        .select(
            "contig",
            "bin",
            (F.col("bin") * bs + 1).alias("bin_start"),
            "n_reads",
            F.round(F.col("covered_bases") / float(bs), 4).alias("mean_depth"),
        )
    )


def coverage_depth(
    df: DataFrame,
    contig: str = "contig",
    start: str = "start",
    end: str = "end",
) -> DataFrame:
    """Exact per-base depth as run-length segments:
    (contig, pos, next_pos, depth, prev_depth) — depth holds for
    [pos, next_pos); prev_depth is the depth of the segment ending at pos
    (NULL at each contig's first event).

    Difference-array + DISTRIBUTED prefix sum. The naive formulation
    (one window per contig) serializes each chromosome onto a single
    reducer — at 100 TB a whole-genome depth pass would run on ~24
    tasks. Instead, the classic two-level scan (operators/intervals.py
    ``_events`` + ``_segments``):

      1. events: +1 at read start, -1 past read end (one explode, so
         the reads are decoded once per consumer), pre-summed per
         (contig, pos) — map-side partial agg.
      2. within-chunk prefix sum: window over (contig, chunk) where
         chunk = pos div 2^20 — parallelism = genome/2^20.
      3. chunk metadata: per-chunk delta totals + first event position
         (tiny: one row per chunk with events) — prefix-summed / lead'd
         per contig, the only per-contig serial step, over
         ~genome/2^20 rows, then broadcast-joined back.
      4. depth = within-chunk sum + exclusive chunk offset; next_pos =
         lead within chunk, falling back to the next chunk's first
         event at chunk boundaries; prev_depth = depth - this row's delta.

    Output rows = distinct event positions (2x reads worst case), run-
    length encoded — including the depth-0 segments between covered
    regions (next_pos NULL only at each contig's final event).
    """
    reads = df.select(
        F.col(contig).alias("contig"), F.col(start).alias("start"), F.col(end).alias("end")
    )
    return _segments(_events(reads, "depth"), ["depth"])


def callable_loci(
    depth_segments: DataFrame,
    min_depth: int = 4,
    max_depth: int | None = None,
) -> DataFrame:
    """Merge run-length depth segments (coverage_depth output) into
    maximal 'callable' intervals where min_depth <= depth (<= max_depth):
    (contig, start, end, span) — the GATK CallableLoci analog.

    Gap-and-islands without a window over a contig's segments: a row is
    an island boundary where the threshold holds on one side of pos
    (depth vs prev_depth) and not on the other; one ``lead`` over the
    boundary rows alone (2 per output interval) pairs each start with
    its stop. With ``min_depth`` 0 the depth-0 gaps between reads
    qualify too, so each contig is one interval from its first read
    start to its last read end.
    """
    def keep(d):
        ok = d("depth") >= min_depth
        return ok if max_depth is None else ok & (d("depth") <= max_depth)

    return _islands(depth_segments, keep)


def downsample_reads(df: DataFrame, fraction: float, seed: str = "") -> DataFrame:
    """samtools ``view -s`` analog: keep ~``fraction`` of templates,
    selected by a hash of the read *name* — both mates of a pair and all
    secondary/supplementary records of a template are kept or dropped
    together, under any partitioning, retry, or engine (the property
    per-record RNG sampling cannot give). A pure scan-time filter: no
    shuffle, no state.
    """
    from disq_spark.operators.sampling import uniform_sql

    return df.filter(F.expr(uniform_sql("name", seed)) < fraction)


# samtools mpileup's default exclusion mask (UNMAP|SECONDARY|QCFAIL|DUP).
PILEUP_EXCLUDE_FLAGS = 0x4 | 0x100 | 0x200 | 0x400

_PILEUP_EVENT_T = "array<struct<pos:bigint,base:string,bq:int,kind:string>>"

# CIGAR -> per-op struct(op, len, ro, qo) where ro/qo are the REFERENCE
# and QUERY offsets consumed by all preceding ops (per SAMv1 §1.4.6:
# M/=/X consume both, D/N reference only, I/S query only, H/P neither).
_CIGAR_OPS_SQL = """
aggregate(
  transform(regexp_extract_all(cigar, '([0-9]+)[MIDNSHP=X]', 0),
            s -> struct(cast(substring(s, 1, length(s) - 1) as int) as len,
                        substring(s, -1, 1) as op)),
  struct(cast(0 as bigint) as ro, cast(0 as bigint) as qo,
         cast(array() as array<struct<op:string,len:int,ro:bigint,qo:bigint>>) as out),
  (acc, x) -> struct(
      acc.ro + (case when x.op in ('M', '=', 'X', 'D', 'N') then x.len else 0 end) as ro,
      acc.qo + (case when x.op in ('M', '=', 'X', 'I', 'S') then x.len else 0 end) as qo,
      concat(acc.out, array(struct(x.op as op, x.len as len, acc.ro as ro, acc.qo as qo))) as out),
  acc -> acc.out
)
"""

# Per-op -> per-position events. Aligned ops emit one struct per base
# (1-based pos on the reference, the read base, its phred score);
# deletions emit '*' rows that COUNT toward depth (mpileup semantics);
# insertions emit one event anchored to the base on their left — but
# ONLY when a left anchor exists (o.ro > 0): a leading insertion (no
# preceding reference-consuming op) would land on start-1, a position
# the read does not cover, and samtools mpileup drops insertions with
# no preceding aligned base. N (ref skip), S/H/P emit nothing.
_PILEUP_EVENTS_SQL = f"""
flatten(transform({_CIGAR_OPS_SQL}, o ->
  case
    when o.op in ('M', '=', 'X') then
      transform(sequence(1, o.len), i -> struct(
        start + o.ro + i - 1 as pos,
        upper(substring(seq, cast(o.qo as int) + i, 1)) as base,
        case when qual is null or qual = '*' then 2147483647
             else ascii(substring(qual, cast(o.qo as int) + i, 1)) - 33 end as bq,
        'b' as kind))
    when o.op = 'D' then
      transform(sequence(1, o.len), i -> struct(
        start + o.ro + i - 1 as pos, '*' as base, 2147483647 as bq, 'd' as kind))
    when o.op = 'I' and o.ro > 0 then
      array(struct(start + o.ro - 1 as pos, '+' as base, 2147483647 as bq, 'i' as kind))
    else cast(array() as {_PILEUP_EVENT_T})
  end))
"""

# Indel-run events: ONE struct per I/D op (not per base), mpileup's
# '+N<seq>' / '-N' notation anchored to the base on the left of the run.
# Leading (unanchored, o.ro = 0) runs are dropped like in the base
# pileup. The fan-out here is tiny — most reads have zero indel ops —
# so pileup_indels costs a scan + small groupBy, independent of the
# per-base explode.
_INDEL_EVENTS_SQL = f"""
flatten(transform({_CIGAR_OPS_SQL}, o ->
  case
    when o.op = 'I' and o.ro > 0 then
      array(struct(start + o.ro - 1 as pos,
                   concat('+', cast(o.len as string),
                          upper(substring(seq, cast(o.qo as int) + 1, o.len))) as indel))
    when o.op = 'D' and o.ro > 0 then
      array(struct(start + o.ro - 1 as pos,
                   concat('-', cast(o.len as string)) as indel))
    else cast(array() as array<struct<pos:bigint,indel:string>>)
  end))
"""


def pileup(
    df: DataFrame,
    min_mapq: int = 0,
    min_base_quality: int = 0,
    exclude_flags: int = PILEUP_EXCLUDE_FLAGS,
) -> DataFrame:
    """samtools-mpileup analog: per-reference-position base counts.

    Output: (contig, pos, depth, n_a, n_c, n_g, n_t, n_n, n_del, n_ins),
    one row per covered position. ``depth`` = aligned bases passing the
    base-quality floor + deleted positions (mpileup counts '*' toward
    depth); ``n_ins`` = insertion events anchored to this position (the
    base left of the inserted sequence, mpileup's '+N' anchor).

    Plan shape: the CIGAR walk is a per-row higher-order aggregate —
    parse ops, prefix-sum reference/query offsets, emit one event struct
    per aligned base — so the entire explode is shuffle-free and stays
    in the JVM; the ONLY shuffle is the final groupBy(contig, pos),
    map-side combinable (a 30x-covered position arrives at the reducer
    as ~#map-partitions partial rows, not 30). Per-base fan-out
    multiplies rows by read length — inherent to pileup — but rows are
    16-byte structs pre-aggregated before the exchange.

    Reference parity: the per-op consumption table follows SAMv1
    §1.4.6 exactly (BamSource.java carries htsjdk records; this is the
    analysis the reference leaves to downstream tools).
    """
    r = df.filter(
        F.col("contig").isNotNull()
        & F.col("start").isNotNull()
        & (F.col("flags").bitwiseAND(F.lit(exclude_flags)) == 0)
        & (F.coalesce(F.col("mapq"), F.lit(0)) >= min_mapq)
        & F.col("cigar").isNotNull()
        & (F.col("cigar") != "*")
        & F.col("seq").isNotNull()
    ).select("contig", "start", "cigar", "seq", "qual")
    ev = r.select(
        F.col("contig"), F.explode(F.expr(_PILEUP_EVENTS_SQL)).alias("e")
    ).select("contig", "e.pos", "e.base", "e.bq", "e.kind")
    ev = ev.filter((F.col("kind") != "b") | (F.col("bq") >= min_base_quality))
    k, b = F.col("kind"), F.col("base")
    return (
        ev.groupBy("contig", "pos")
        .agg(
            F.sum((k != "i").cast("long")).alias("depth"),
            F.sum((b == "A").cast("long")).alias("n_a"),
            F.sum((b == "C").cast("long")).alias("n_c"),
            F.sum((b == "G").cast("long")).alias("n_g"),
            F.sum((b == "T").cast("long")).alias("n_t"),
            F.sum(((k == "b") & (b == "N")).cast("long")).alias("n_n"),
            F.sum((k == "d").cast("long")).alias("n_del"),
            F.sum((k == "i").cast("long")).alias("n_ins"),
        )
    )


def pileup_indels(
    df: DataFrame,
    min_mapq: int = 0,
    exclude_flags: int = PILEUP_EXCLUDE_FLAGS,
) -> DataFrame:
    """mpileup-style indel observations: one row per distinct indel
    allele per anchor position.

    Output: (contig, pos, indel, count) where ``indel`` is mpileup's
    notation — ``+N<bases>`` for an insertion of N bases (the inserted
    sequence, uppercased) or ``-N`` for an N-base deletion — anchored
    at the aligned base to the LEFT of the run (mpileup's anchor).
    Unanchored leading runs (first reference-consuming op) are dropped,
    matching samtools. The deleted reference sequence is not included
    in ``-N`` (it requires the reference; join ``read_fasta_windows``
    downstream if needed).

    Plan shape: the same shuffle-free higher-order CIGAR walk as
    ``pileup`` but emitting ONE event per I/D op instead of one per
    base — most reads contribute zero rows, so the exchange feeding the
    final map-side-combinable groupBy is tiny regardless of coverage.
    """
    r = df.filter(
        F.col("contig").isNotNull()
        & F.col("start").isNotNull()
        & (F.col("flags").bitwiseAND(F.lit(exclude_flags)) == 0)
        & (F.coalesce(F.col("mapq"), F.lit(0)) >= min_mapq)
        & F.col("cigar").isNotNull()
        & (F.col("cigar") != "*")
        & F.col("seq").isNotNull()
        & F.col("cigar").rlike("[ID]")
    ).select("contig", "start", "cigar", "seq")
    ev = r.select(
        F.col("contig"), F.explode(F.expr(_INDEL_EVENTS_SQL)).alias("e")
    ).select("contig", "e.pos", "e.indel")
    return ev.groupBy("contig", "pos", "indel").agg(F.count("*").alias("count"))


def call_indels(
    indels: DataFrame,
    pile: DataFrame,
    min_depth: int = 3,
    min_count: int = 2,
    min_frac: float = 0.25,
) -> DataFrame:
    """Naive indel candidate caller: positions where one indel allele
    clears the depth / count / fraction floors — the indel sibling of
    ``call_snvs``, taking ``pileup_indels`` output plus the matching
    ``pileup`` for the per-position depth denominator.

    Output: (contig, pos, indel, depth, indel_count, indel_frac); the
    argmax indel allele per anchor position (ties broken by allele
    string — deterministic). The join is an equi-join on (contig, pos)
    with the small indel side driving, so cost scales with indel
    positions, not covered positions.
    """
    best = (
        indels.groupBy("contig", "pos")
        .agg(F.max(F.struct(F.col("count").alias("c"), F.col("indel"))).alias("m"))
        .select("contig", "pos", F.col("m.indel").alias("indel"), F.col("m.c").alias("indel_count"))
    )
    aligned = (F.col("depth") - F.col("n_del")).cast("double")
    out = (
        best.join(pile.select("contig", "pos", "depth", "n_del"), ["contig", "pos"])
        .filter(
            (F.col("depth") >= min_depth)
            & (F.col("indel_count") >= min_count)
            & (F.col("indel_count") >= F.lit(min_frac) * aligned)
        )
        .withColumn("indel_frac", F.round(F.col("indel_count") / aligned, 4))
    )
    return out.select(
        "contig", "pos", "indel", "depth",
        F.col("indel_count").cast("long").alias("indel_count"), "indel_frac",
    )


def call_snvs(
    mismatch: DataFrame,
    min_depth: int = 3,
    min_alt_count: int = 2,
    min_alt_frac: float = 0.25,
) -> DataFrame:
    """Naive SNV caller over a ``pileup_mismatch`` result: one row per
    position whose most-frequent non-reference base clears the depth /
    count / fraction floors.

    Output: (contig, pos, ref_base, alt_base, depth, alt_count,
    alt_frac). ``alt_base`` is the argmax non-reference base among
    A/C/G/T (ties broken alphabetically — deterministic); ``alt_frac``
    = alt_count / aligned depth (deletions excluded from the
    denominator, as in bcftools' AD-based AF). Positions with a
    non-ACGT reference base (N gaps) are never called.

    Plan shape: pure column expressions over the already-aggregated
    per-position table — ``array_max`` over a 4-struct literal array,
    no shuffle beyond what ``pileup`` already did. This is a QC-grade
    caller (no genotype likelihoods), the mpileup→"candidate sites"
    step a 100 TB joint-calling pipeline runs first.
    """
    rb = F.col("ref_base")
    # array_max compares struct fields in order: count first, then the
    # ASCII-complemented base — max of the complement is the
    # alphabetically FIRST base, giving deterministic tie-breaks. The
    # reference base's count is forced to -1 so it can never win.
    alts = F.array(
        *[
            F.struct(
                F.when(rb == b, F.lit(-1)).otherwise(F.col(f"n_{b.lower()}")).alias("c"),
                F.lit(chr(255 - ord(b))).alias("inv"),
                F.lit(b).alias("base"),
            )
            for b in "ACGT"
        ]
    )
    best = F.array_max(alts)
    aligned = (F.col("depth") - F.col("n_del")).cast("double")
    out = (
        mismatch.filter(rb.isin("A", "C", "G", "T") & (F.col("depth") >= min_depth))
        .withColumn("alt_base", best["base"])
        .withColumn("alt_count", best["c"])
        .filter(
            (F.col("alt_count") >= min_alt_count)
            & (F.col("alt_count") >= F.lit(min_alt_frac) * aligned)
        )
        .withColumn("alt_frac", F.round(F.col("alt_count") / aligned, 4))
    )
    return out.select(
        "contig", "pos", "ref_base", "alt_base", "depth",
        F.col("alt_count").cast("long").alias("alt_count"), "alt_frac",
    )


def pileup_mismatch(pile: DataFrame, ref_windows: DataFrame) -> DataFrame:
    """Join a ``pileup`` result against reference bases from
    ``read_fasta_windows`` output: adds (ref_base, n_ref, n_mismatch).

    The reference side explodes each window into (contig, pos, ref_base)
    rows — shuffle-free fan-out, ~genome-size rows distributed across
    window tasks — and the join is a plain equi-join on (contig, pos)
    that AQE plans against the (much larger) pileup side. n_mismatch
    counts aligned bases (deletions/insertions excluded) that differ
    from the reference base; positions whose reference base is not
    A/C/G/T (N gaps) report NULL n_ref/n_mismatch.
    """
    refb = ref_windows.select(
        F.col("contig"),
        F.explode(
            F.expr(
                "transform(sequence(1, length(seq)), i -> "
                "struct(start + i - 1 as pos, upper(substring(seq, i, 1)) as ref_base))"
            )
        ).alias("r"),
    ).select("contig", "r.pos", "r.ref_base")
    p = pile.join(refb, ["contig", "pos"])
    rb = F.col("ref_base")
    n_ref = (
        F.when(rb == "A", F.col("n_a"))
        .when(rb == "C", F.col("n_c"))
        .when(rb == "G", F.col("n_g"))
        .when(rb == "T", F.col("n_t"))
        .otherwise(F.lit(None))
    )
    aligned = F.col("depth") - F.col("n_del")
    return p.select(
        "contig",
        "pos",
        "ref_base",
        "depth",
        "n_a",
        "n_c",
        "n_g",
        "n_t",
        "n_n",
        "n_del",
        "n_ins",
        n_ref.alias("n_ref"),
        F.when(n_ref.isNull(), F.lit(None))
        .otherwise(aligned - n_ref)
        .alias("n_mismatch"),
    )


# Aligned-base events carrying the QUERY index as well as the reference
# position — what BQSR needs that the pileup events don't: covariates
# (machine cycle, dinucleotide context) are functions of the base's
# position within the READ, while the mismatch bit is a function of its
# position on the REFERENCE. qi is 0-based; only M/=/X bases emit.
_BQSR_EVENTS_SQL = f"""
flatten(transform({_CIGAR_OPS_SQL}, o ->
  case when o.op in ('M', '=', 'X') then
    transform(sequence(1, o.len), i -> struct(
      start + o.ro + i - 1 as pos,
      cast(o.qo + i - 1 as int) as qi,
      upper(substring(seq, cast(o.qo as int) + i, 1)) as base,
      ascii(substring(qual, cast(o.qo as int) + i, 1)) - 33 as q))
  else cast(array() as array<struct<pos:bigint,qi:int,base:string,q:int>>)
  end))
"""

_COMPLEMENT_SQL = "translate({0}, 'ACGTN', 'TGCAN')"


def bqsr_table(
    df: DataFrame,
    ref_windows: DataFrame,
    exclude_flags: int = PILEUP_EXCLUDE_FLAGS,
    min_reported_q: int = 3,
) -> DataFrame:
    """GATK-BaseRecalibrator-style covariate table: for every aligned
    base of every usable read, bucket by (read group, reported quality,
    covariate) and measure the EMPIRICAL error rate against the
    reference — the table a recalibration pass applies back to quality
    strings.

    Covariates per GATK's standard set:
    - ``q``      — the (read_group, reported_q) marginal (RecalTable1);
      ``covariate_value`` is ''.
    - ``cycle``  — 1-based machine cycle, strand-flipped for reverse
      reads (the sequencer ran them backwards) and NEGATED for
      second-of-pair reads (GATK's cycle covariate convention).
    - ``context``— the preceding+current dinucleotide in MACHINE order:
      reverse-strand reads are complemented and the "preceding" base is
      the one at query index qi+1. Cycle-1 bases (no predecessor) and
      contexts containing N are dropped from this covariate only.

    A base is an *error* iff it differs from the reference base at its
    aligned position; bases aligned to non-ACGT reference (assembly N
    gaps) or that are themselves N are excluded entirely (no truth
    signal). ``empirical_q`` = -10*log10((errors+1)/(obs+2)) — the
    Yates-smoothed phred GATK reports.

    Plan shape: the per-base explode is the shuffle-free higher-order
    CIGAR walk shared with ``pileup``; the reference join is an
    equi-join on (contig, pos) that AQE broadcasts for bounded
    references; the final groupBy is map-side combinable with tiny
    cardinality (RGs x ~40 Q values x (16 contexts + 2x read length
    cycles)). Nothing here is driver-side; reads flow once.

    Reference parity: the reference library carries htsjdk records for
    downstream GATK (README.md "use with GATK"); this implements the
    BaseRecalibrator aggregation itself as a distributed plan.
    """
    r = df.filter(
        F.col("contig").isNotNull()
        & F.col("start").isNotNull()
        & (F.col("flags").bitwiseAND(F.lit(exclude_flags)) == 0)
        & F.col("cigar").isNotNull()
        & (F.col("cigar") != "*")
        & F.col("seq").isNotNull()
        & F.col("qual").isNotNull()
        & (F.col("qual") != "*")
    ).select(
        F.coalesce(F.col("read_group"), F.lit("default")).alias("read_group"),
        "contig",
        "start",
        "flags",
        "cigar",
        "seq",
        "qual",
        F.length("seq").alias("len"),
    )
    ev = r.select(
        "read_group",
        "contig",
        "flags",
        "len",
        "seq",
        F.explode(F.expr(_BQSR_EVENTS_SQL)).alias("e"),
    ).select(
        "read_group",
        "contig",
        "flags",
        "len",
        "seq",
        "e.pos",
        "e.qi",
        "e.base",
        "e.q",
    )
    rev = F.col("flags").bitwiseAND(16) != 0
    second = F.col("flags").bitwiseAND(128) != 0
    cycle0 = F.when(rev, F.col("len") - F.col("qi")).otherwise(F.col("qi") + 1)
    cycle = F.when(second, -cycle0).otherwise(cycle0)
    cur_mach = F.when(
        rev, F.expr(_COMPLEMENT_SQL.format("base"))
    ).otherwise(F.col("base"))
    prev_raw = F.when(
        rev, F.expr("upper(substring(seq, qi + 2, 1))")
    ).otherwise(F.expr("upper(substring(seq, qi, 1))"))
    prev_mach = F.when(rev, F.expr(_COMPLEMENT_SQL.format("upper(substring(seq, qi + 2, 1))"))).otherwise(
        F.expr("upper(substring(seq, qi, 1))")
    )
    context = F.when(
        (cycle0 == 1) | ~prev_raw.isin("A", "C", "G", "T"), F.lit(None)
    ).otherwise(F.concat(prev_mach, cur_mach))
    ev = ev.select(
        "read_group",
        "contig",
        "pos",
        "base",
        "q",
        cycle.cast("int").alias("cycle"),
        context.alias("context"),
    ).filter((F.col("q") >= min_reported_q) & F.col("base").isin("A", "C", "G", "T"))

    refb = ref_windows.select(
        F.col("contig"),
        F.explode(
            F.expr(
                "transform(sequence(1, length(seq)), i -> "
                "struct(start + i - 1 as pos, upper(substring(seq, i, 1)) as ref_base))"
            )
        ).alias("r"),
    ).select("contig", "r.pos", "r.ref_base")
    j = ev.join(refb, ["contig", "pos"]).filter(
        F.col("ref_base").isin("A", "C", "G", "T")
    )
    err = (F.col("base") != F.col("ref_base")).cast("long")
    j = j.select(
        "read_group",
        "q",
        err.alias("err"),
        F.col("cycle").cast("string").alias("cycle"),
        "context",
    )
    levels = j.select(
        "read_group",
        "q",
        "err",
        F.explode(
            F.array_compact(
                F.array(
                    F.struct(F.lit("q").alias("covariate_name"), F.lit("").alias("covariate_value")),
                    F.struct(F.lit("cycle").alias("covariate_name"), F.col("cycle").alias("covariate_value")),
                    F.when(
                        F.col("context").isNotNull(),
                        F.struct(F.lit("context").alias("covariate_name"), F.col("context").alias("covariate_value")),
                    ),
                )
            )
        ).alias("c"),
    )
    emp = -10.0 * F.log10(
        (F.col("n_mismatches") + 1) / (F.col("n_observations") + 2)
    )
    return (
        levels.groupBy(
            "read_group", "q", "c.covariate_name", "c.covariate_value"
        )
        .agg(
            F.count("*").alias("n_observations"),
            F.sum("err").alias("n_mismatches"),
        )
        .withColumn("empirical_q", F.round(emp, 4))
    )


def apply_bqsr(df: DataFrame, table_rows: list, max_q: int = 93) -> DataFrame:
    """GATK-ApplyBQSR analog: rewrite every read's quality string using a
    ``bqsr_table`` result. Per base::

        recal = emp(RG, Q) + [emp(RG, Q, cycle) - emp(RG, Q)]
                           + [emp(RG, Q, context) - emp(RG, Q)]

    (GATK's delta composition), rounded and clamped to [2, max_q].
    Bases whose (RG, Q) was never observed in the table — or whole
    reads with no usable qual — pass through unchanged; a missing
    cycle/context level contributes a zero delta.

    ``table_rows`` is the *collected* covariate table (list of Rows or
    dicts) — small by construction: its cardinality is bounded by
    RGs x ~40 reported Qs x (2 x read-length cycles + 16 contexts),
    independent of data volume. It is embedded in the plan as three
    literal map columns, so the per-base lookup runs inside the same
    shuffle-free higher-order ``transform`` that computes cycle and
    context: no explode, no join, no Python in the row path, and the
    read's qual string is rebuilt in place (``array_join`` of
    ``char``s). For extreme RG counts (1000s), recalibrate per RG
    batch or pre-filter ``table_rows`` to the RGs present in ``df`` —
    the plan carries the map literally.
    """
    emp_q: dict = {}
    emp_cyc: dict = {}
    emp_ctx: dict = {}
    for r in table_rows:
        d = r if isinstance(r, dict) else r.asDict()
        key = f"{d['read_group']}\x01{d['q']}"
        if d["covariate_name"] == "q":
            emp_q[key] = float(d["empirical_q"])
        elif d["covariate_name"] == "cycle":
            emp_cyc[f"{key}\x01{d['covariate_value']}"] = float(d["empirical_q"])
        elif d["covariate_name"] == "context":
            emp_ctx[f"{key}\x01{d['covariate_value']}"] = float(d["empirical_q"])

    def _map_lit(m: dict) -> F.Column:
        if not m:
            return F.create_map().cast("map<string,double>")
        pairs = []
        for k, v in m.items():
            pairs.append(F.lit(k))
            pairs.append(F.lit(v))
        return F.create_map(*pairs)

    mq, mc, mx = _map_lit(emp_q), _map_lit(emp_cyc), _map_lit(emp_ctx)
    rg = "coalesce(read_group, 'default')"
    rev = "(flags & 16) != 0"
    second = "(flags & 128) != 0"
    # per-index expressions, i is the 0-based query index
    q_i = "(ascii(substring(qual, i + 1, 1)) - 33)"
    cycle0 = f"(case when {rev} then length(seq) - i else i + 1 end)"
    cycle = f"(case when {second} then -{cycle0} else {cycle0} end)"
    cur = "upper(substring(seq, i + 1, 1))"
    prev_raw = (
        f"(case when {rev} then upper(substring(seq, i + 2, 1)) "
        "else case when i > 0 then upper(substring(seq, i, 1)) else '' end end)"
    )
    ctx = (
        f"(case when {cycle0} = 1 or {prev_raw} not in ('A','C','G','T') then null "
        f"when {rev} then concat(translate({prev_raw}, 'ACGTN', 'TGCAN'), "
        f"translate({cur}, 'ACGTN', 'TGCAN')) "
        f"else concat({prev_raw}, {cur}) end)"
    )
    kq = f"concat({rg}, '\x01', cast({q_i} as string))"
    base_emp = f"try_element_at(__mq, {kq})"
    d_cyc = (
        f"coalesce(try_element_at(__mc, concat({kq}, '\x01', cast({cycle} as string))) "
        f"- {base_emp}, cast(0 as double))"
    )
    d_ctx = (
        f"coalesce(try_element_at(__mx, concat({kq}, '\x01', {ctx})) "
        f"- {base_emp}, cast(0 as double))"
    )
    recal = (
        f"cast(round({base_emp} + {d_cyc} + {d_ctx}) as int)"
    )
    newq = (
        f"(case when {base_emp} is null then substring(qual, i + 1, 1) "
        f"else char(greatest(2, least({max_q}, {recal})) + 33) end)"
    )
    expr = (
        "case when qual is null or qual = '*' or seq is null then qual else "
        f"array_join(transform(sequence(0, length(qual) - 1), i -> {newq}), '') end"
    )
    return (
        df.withColumn("__mq", mq)
        .withColumn("__mc", mc)
        .withColumn("__mx", mx)
        .withColumn("qual", F.expr(expr))
        .drop("__mq", "__mc", "__mx")
    )


def snvs_to_variants(snvs: DataFrame) -> DataFrame:
    """Shape ``call_snvs`` candidates as VARIANTS_SCHEMA rows so they can
    flow straight into ``sinks.variants.write_vcf`` — the read-source →
    variant-sink bridge (BAM/CRAM in, candidate VCF + .tbi out) that the
    reference's RDD layers keep separate (HtsjdkReadsRdd / 
    HtsjdkVariantsRdd have no cross-conversion).

    Column mapping: POS = pos, REF = ref_base, ALT = [alt_base],
    FILTER = PASS ([]), INFO carries DP (raw depth), AD (alt read
    count) and AF (alt fraction, bcftools-style aligned-depth
    denominator). QUAL is left null ('.') — candidates have no
    likelihood model. Pure column expressions, no shuffle.
    """
    from disq_spark.schemas import VARIANTS_SCHEMA

    return snvs.select(
        F.col("contig"),
        F.col("pos").cast("long").alias("start"),
        F.col("pos").cast("long").alias("end"),
        F.lit(None).cast("array<string>").alias("ids"),
        F.col("ref_base").alias("ref"),
        F.array(F.col("alt_base")).alias("alts"),
        F.lit(None).cast("double").alias("qual"),
        F.array().cast("array<string>").alias("filters"),  # PASS
        F.map_from_arrays(
            F.array(F.lit("DP"), F.lit("AD"), F.lit("AF")),
            F.array(
                F.col("depth").cast("string"),
                F.col("alt_count").cast("string"),
                F.col("alt_frac").cast("string"),
            ),
        ).alias("info"),
        F.lit(None).cast(VARIANTS_SCHEMA["genotypes"].dataType).alias("genotypes"),
    )


def candidate_vcf_header(refs: list | None = None) -> "VcfHeader":
    """Minimal VCFv4.2 header for ``snvs_to_variants`` output: INFO
    declarations for DP/AD/AF plus ##contig lines from ``refs``
    ((name, length) pairs, e.g. a BAM/CRAM header's sequence dict)."""
    from disq_spark.headers import VcfHeader

    lines = [
        "##fileformat=VCFv4.2",
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Raw read depth">',
        '##INFO=<ID=AD,Number=1,Type=Integer,Description="Alt-supporting read count">',
        '##INFO=<ID=AF,Number=1,Type=Float,Description="Alt fraction over aligned depth">',
    ]
    for name, length in refs or []:
        lines.append(f"##contig=<ID={name},length={length}>")
    lines.append("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
    return VcfHeader.from_lines([ln + "\n" for ln in lines])


def _pair_orientation() -> F.Column:
    """htsjdk SamPairUtil.getPairOrientation as a column expression:
    TANDEM when both mates share a strand; otherwise compare the
    positive-strand 5' position against the negative-strand 5'
    position (read end for a reverse read; mate_start + |TLEN| - 1
    when the mate is the reverse one) -- FR if positive < negative."""
    rev = (F.col("flags").bitwiseAND(FLAG_REVERSE)) != 0
    mate_rev = (F.col("flags").bitwiseAND(FLAG_MATE_REVERSE)) != 0
    pos5 = F.when(rev, F.col("mate_start")).otherwise(F.col("start"))
    neg5 = F.when(rev, F.col("end")).otherwise(
        F.col("mate_start") + F.abs(F.col("template_len")) - 1
    )
    return (
        F.when(rev == mate_rev, "TANDEM")
        .when(pos5 < neg5, "FR")
        .otherwise("RF")
    )


def _insert_pairs(df: DataFrame, include_duplicates: bool) -> DataFrame:
    """First-of-pair representatives carrying (orientation, insert)."""
    f = F.col("flags")
    keep = (
        ((f.bitwiseAND(FLAG_PAIRED)) != 0)
        & ((f.bitwiseAND(FLAG_UNMAPPED)) == 0)
        & ((f.bitwiseAND(FLAG_MATE_UNMAPPED)) == 0)
        & ((f.bitwiseAND(FLAG_FIRST_OF_PAIR)) != 0)
        & ((f.bitwiseAND(FLAG_SECONDARY | FLAG_SUPPLEMENTARY)) == 0)
        & (F.col("template_len") != 0)
        & (
            F.col("mate_contig").isNull()
            | (F.col("mate_contig") == F.col("contig"))
            | (F.col("mate_contig") == "=")
        )
    )
    if not include_duplicates:
        keep = keep & ((f.bitwiseAND(FLAG_DUPLICATE)) == 0)
    return df.filter(keep).select(
        _pair_orientation().alias("orientation"),
        F.abs(F.col("template_len")).cast("long").alias("insert_size"),
    )


def insert_size_histogram(df: DataFrame, include_duplicates: bool = False) -> DataFrame:
    """Picard CollectInsertSizeMetrics histogram: (orientation,
    insert_size, n_pairs), one pair counted once via its first-of-pair
    end. Single map-side-combinable groupBy; output bounded by
    #orientations x #distinct insert sizes, never by read count."""
    return (
        _insert_pairs(df, include_duplicates)
        .groupBy("orientation", "insert_size")
        .agg(F.count("*").alias("n_pairs"))
    )


def insert_size_metrics(
    df: DataFrame,
    include_duplicates: bool = False,
    deviations: float = 10.0,
) -> DataFrame:
    """Picard CollectInsertSizeMetrics summary per pair orientation:
    median / MAD / min / max over ALL pairs, mean / stddev / read-pair
    count restricted to Picard's trimmed core (inserts within
    ``deviations`` x MAD of the median), plus the overall pair count
    and the modal insert size.

    Three passes over a histogram that is already tiny (bounded by
    distinct insert sizes): pass 1 medians, pass 2 MADs, pass 3 the
    trimmed moments + mode -- each a map-side-combinable aggregate on
    a <=3-row key space, joined broadcast-style. At 100 TB the only
    full-data work is the single scan building the histogram; the
    passes run on the collapsed (orientation, insert_size) table.
    Cites Picard InsertSizeMetrics.java semantics (DEVIATIONS=10
    default; WIDTH_OF_xx columns omitted -- derivable from the
    histogram operator).
    """
    hist = insert_size_histogram(df, include_duplicates).localCheckpoint()

    med = hist.groupBy("orientation").agg(
        F.expr(
            "percentile(insert_size, 0.5, n_pairs)"
        ).alias("median_insert_size")
    )
    h1 = hist.join(F.broadcast(med), "orientation")
    mad = h1.groupBy("orientation").agg(
        F.expr(
            "percentile(abs(insert_size - median_insert_size), 0.5, n_pairs)"
        ).alias("median_absolute_deviation")
    )
    h2 = h1.join(F.broadcast(mad), "orientation")
    core = F.abs(F.col("insert_size") - F.col("median_insert_size")) <= (
        F.col("median_absolute_deviation") * deviations
    )
    w_total = F.sum("n_pairs")
    stats = h2.groupBy(
        "orientation", "median_insert_size", "median_absolute_deviation"
    ).agg(
        F.min("insert_size").alias("min_insert_size"),
        F.max("insert_size").alias("max_insert_size"),
        w_total.alias("read_pairs"),
        F.sum(F.when(core, F.col("n_pairs")).otherwise(0)).alias("trimmed_pairs"),
        (
            F.sum(F.when(core, F.col("insert_size") * F.col("n_pairs")).otherwise(0))
            / F.sum(F.when(core, F.col("n_pairs")).otherwise(0))
        ).alias("mean_insert_size"),
        F.sum(
            F.when(core, F.col("insert_size") * F.col("insert_size") * F.col("n_pairs")).otherwise(0)
        ).alias("__sumsq"),
        F.max_by("insert_size", F.struct("n_pairs", (-F.col("insert_size")).alias("neg"))).alias(
            "mode_insert_size"
        ),
    )
    # sample stddev over the trimmed core (Picard uses the histogram's
    # getStandardDeviation: sqrt((sumsq - n*mean^2) / (n - 1)))
    sd = F.when(
        F.col("trimmed_pairs") > 1,
        F.sqrt(
            (F.col("__sumsq") - F.col("trimmed_pairs") * F.col("mean_insert_size") ** 2)
            / (F.col("trimmed_pairs") - 1)
        ),
    )
    return stats.withColumn("standard_deviation", sd).drop("__sumsq").select(
        "orientation",
        "read_pairs",
        "median_insert_size",
        "median_absolute_deviation",
        "min_insert_size",
        "max_insert_size",
        "mean_insert_size",
        "standard_deviation",
        "mode_insert_size",
        "trimmed_pairs",
    )


def _cigar_op_sum(ops: str) -> F.Column:
    """Sum of cigar run lengths whose op is in ``ops`` (a character
    class body, e.g. ``'M=X'``), 0 for null/'*' cigars."""
    expr = (
        "aggregate(regexp_extract_all(coalesce(cigar, ''), '([0-9]+)([MIDNSHP=X])', 0), "
        "0L, (acc, x) -> acc + (case when substring(x, -1, 1) rlike '[" + ops + "]' "
        "then cast(substring(x, 1, length(x) - 1) as long) else 0L end))"
    )
    return F.expr(expr)


def alignment_summary_metrics(
    df: DataFrame, hq_mapq: int = 20, max_insert: int = 100_000
) -> DataFrame:
    """Picard CollectAlignmentSummaryMetrics analog per category
    (FIRST_OF_PAIR / SECOND_OF_PAIR / UNPAIRED, with PAIR as the
    first+second rollup). Secondary and supplementary records are
    excluded, matching Picard's primary-record accounting.

    Columns: total_reads; pf_reads (not vendor-failed, 0x200);
    pf_reads_aligned; pf_hq_aligned_reads (MAPQ >= ``hq_mapq``);
    reads_aligned_in_pairs (both ends mapped); strand_balance
    (forward fraction of aligned); mean_read_length;
    pf_mismatch_rate = substitutions / aligned bases, where
    substitutions = NM - inserted - deleted bases (Picard excludes
    indels from the mismatch count) and aligned bases are the M/=/X
    cigar span -- rows without an NM tag contribute zero to both
    sides; pct_chimeras (aligned pairs whose mate sits on another
    contig or |TLEN| > ``max_insert``).

    One scan, every covariate a column expression; the PAIR rollup
    rides the same aggregate via a 2-element category explode (all
    numerators are additive), so output is <= 4 rows regardless of
    input size."""
    f = F.col("flags")
    primary = (f.bitwiseAND(FLAG_SECONDARY | FLAG_SUPPLEMENTARY)) == 0
    paired = (f.bitwiseAND(FLAG_PAIRED)) != 0
    base_cat = (
        F.when(~paired, "UNPAIRED")
        .when((f.bitwiseAND(FLAG_FIRST_OF_PAIR)) != 0, "FIRST_OF_PAIR")
        .otherwise("SECOND_OF_PAIR")
    )
    cats = F.when(paired, F.array(base_cat, F.lit("PAIR"))).otherwise(
        F.array(base_cat)
    )
    pf = (f.bitwiseAND(FLAG_FAIL_QC)) == 0
    mapped = (f.bitwiseAND(FLAG_UNMAPPED)) == 0
    mate_mapped = (f.bitwiseAND(FLAG_MATE_UNMAPPED)) == 0
    fwd = (f.bitwiseAND(FLAG_REVERSE)) == 0
    nm = F.expr(
        "cast(substring_index(coalesce(try_element_at(tags, 'NM'), ''), ':', -1) as long)"
    )
    has_nm = F.col("tags").isNotNull() & F.expr("try_element_at(tags, 'NM') is not null")
    aligned_bases = _cigar_op_sum("M=X")
    indel_bases = _cigar_op_sum("ID")
    subs = F.when(mapped & has_nm, F.greatest(nm - indel_bases, F.lit(0))).otherwise(
        F.lit(0)
    )
    chimeric = mapped & mate_mapped & paired & (
        (F.col("mate_contig").isNotNull() & (F.col("mate_contig") != "=")
         & (F.col("mate_contig") != F.col("contig")))
        | (F.abs(F.coalesce(F.col("template_len"), F.lit(0))) > max_insert)
    )
    longc = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    out = (
        df.filter(primary)
        .select(
            F.explode(cats).alias("category"),
            f.alias("flags"),
            pf.alias("pf"),
            mapped.alias("mapped"),
            (mapped & mate_mapped & paired).alias("in_pair"),
            (mapped & fwd).alias("fwd_aligned"),
            F.length(F.when(F.col("seq") == "*", None).otherwise(F.col("seq"))).alias(
                "read_len"
            ),
            (F.col("mapq") >= hq_mapq).alias("hq"),
            subs.alias("subs"),
            F.when(mapped & has_nm, aligned_bases).otherwise(F.lit(0)).alias(
                "nm_aligned_bases"
            ),
            chimeric.alias("chimeric"),
        )
        .groupBy("category")
        .agg(
            F.count("*").alias("total_reads"),
            longc(F.col("pf")).alias("pf_reads"),
            longc(F.col("pf") & F.col("mapped")).alias("pf_reads_aligned"),
            longc(F.col("pf") & F.col("mapped") & F.col("hq")).alias(
                "pf_hq_aligned_reads"
            ),
            longc(F.col("pf") & F.col("in_pair")).alias("reads_aligned_in_pairs"),
            (
                longc(F.col("pf") & F.col("fwd_aligned"))
                / F.nullif(longc(F.col("pf") & F.col("mapped")), F.lit(0))
            ).alias("strand_balance"),
            F.avg("read_len").alias("mean_read_length"),
            (
                F.sum(F.when(F.col("pf"), F.col("subs")).otherwise(0))
                / F.nullif(
                    F.sum(F.when(F.col("pf"), F.col("nm_aligned_bases")).otherwise(0)),
                    F.lit(0),
                )
            ).alias("pf_mismatch_rate"),
            (
                longc(F.col("pf") & F.col("chimeric"))
                / F.nullif(longc(F.col("pf") & F.col("in_pair")), F.lit(0))
            ).alias("pct_chimeras"),
        )
    )
    return out


def wgs_metrics(
    df: DataFrame,
    refs: list[tuple[str, int]],
    min_mapq: int = 20,
    coverage_cap: int = 250,
    levels: tuple = (1, 5, 10, 15, 20, 25, 30, 40, 50, 60, 70, 80, 90, 100),
) -> DataFrame:
    """Picard CollectWgsMetrics analog: genome-wide depth summary over
    EVERY reference position (0-depth territory included). Reads are
    filtered Picard-style (mapped, primary, non-duplicate, PF,
    MAPQ >= ``min_mapq``); depth is the read-span depth from
    ``coverage_depth`` capped at ``coverage_cap``. Divergences from
    Picard, by design: the per-base base-quality filter and
    overlapping-mate de-double-counting are omitted (read spans, not
    base walks -- use ``pileup`` when per-base fidelity matters).

    Output is long-format (metric, value): genome_territory,
    mean_coverage, sd_coverage, median_coverage, pct_Nx for each
    requested level.

    Scale shape: coverage_depth's run-length segments collapse to a
    <= cap+1-row depth histogram (one map-side-combinable groupBy);
    every statistic is computed on that histogram, so the final
    reduction is O(cap) regardless of genome or read count.
    """
    f = F.col("flags")
    keep = (
        ((f.bitwiseAND(FLAG_UNMAPPED)) == 0)
        & ((f.bitwiseAND(FLAG_SECONDARY | FLAG_SUPPLEMENTARY)) == 0)
        & ((f.bitwiseAND(FLAG_DUPLICATE)) == 0)
        & ((f.bitwiseAND(FLAG_FAIL_QC)) == 0)
        & (F.col("mapq") >= min_mapq)
    )
    genome_len = sum(int(l) for _n, l in refs)
    segs = coverage_depth(df.filter(keep))
    hist = (
        segs.filter((F.col("depth") > 0) & F.col("next_pos").isNotNull())
        .select(
            F.least(F.col("depth"), F.lit(coverage_cap)).alias("d"),
            (F.col("next_pos") - F.col("pos")).alias("span"),
        )
        .groupBy("d")
        .agg(F.sum("span").alias("span"))
    )
    # clamp: interval-mode callers may pass a territory smaller than
    # the covered span; never emit a negative zero-depth bucket
    zero = hist.agg(
        F.greatest(
            F.lit(genome_len) - F.coalesce(F.sum("span"), F.lit(0)), F.lit(0)
        ).alias("span")
    ).select(F.lit(0).alias("d"), "span")
    full = hist.unionByName(zero)
    aggs = [
        F.lit(genome_len).alias("genome_territory"),
        (F.sum(F.col("d") * F.col("span")) / genome_len).alias("mean_coverage"),
        F.sqrt(
            F.sum(F.col("d") * F.col("d") * F.col("span")) / genome_len
            - (F.sum(F.col("d") * F.col("span")) / genome_len) ** 2
        ).alias("sd_coverage"),
        F.expr("percentile(d, 0.5, span)").alias("median_coverage"),
    ]
    for lv in levels:
        aggs.append(
            (
                F.sum(F.when(F.col("d") >= lv, F.col("span")).otherwise(0))
                / genome_len
            ).alias(f"pct_{lv}x")
        )
    wide = full.agg(*aggs)
    pairs = []
    for c in wide.columns:
        pairs.append(F.lit(c))
        pairs.append(F.round(F.col(c).cast("double"), 6))
    return wide.select(
        F.explode(F.create_map(*pairs)).alias("metric", "value")
    )


def quality_by_cycle(df: DataFrame, pf_only: bool = False) -> DataFrame:
    """Picard MeanQualityByCycle / FastQC per-cycle stats: for every
    machine cycle (1-based; a reverse-strand read's LAST base is cycle
    1, second-of-pair cycles are reported as negative, matching the
    BQSR cycle covariate), the mean base quality and the A/C/G/T/N
    composition of the sequenced base (reverse-complemented back to
    machine orientation for reverse-strand reads).

    Secondary/supplementary records are excluded (their bases are the
    primary's). The per-base fan-out is a single posexplode of a
    quality-integer array built by one higher-order ``transform`` --
    the explode is shuffle-free and collapses immediately into a
    map-side-combinable groupBy(cycle), so reducer input is
    #map-partitions x #cycles rows, never #bases.
    """
    f = F.col("flags")
    keep = (f.bitwiseAND(FLAG_SECONDARY | FLAG_SUPPLEMENTARY)) == 0
    if pf_only:
        keep = keep & ((f.bitwiseAND(FLAG_FAIL_QC)) == 0)
    rev = "(flags & 16) != 0"
    second = "(flags & 128) != 0"
    cycle0 = f"case when {rev} then length(qual) - i else i + 1 end"
    cycle = f"case when {second} then -({cycle0}) else ({cycle0}) end"
    base = (
        f"case when seq is null or seq = '*' then 'N' "
        f"when {rev} then translate(upper(substring(seq, i + 1, 1)), 'ACGTN', 'TGCAN') "
        f"else upper(substring(seq, i + 1, 1)) end"
    )
    pairs = (
        "transform(sequence(0, length(qual) - 1), i -> "
        f"struct(({cycle}) as cycle, (ascii(substring(qual, i + 1, 1)) - 33) as q, "
        f"({base}) as b))"
    )
    exploded = (
        df.filter(keep)
        .filter(F.col("qual").isNotNull() & (F.col("qual") != "*"))
        .select(F.explode(F.expr(pairs)).alias("p"))
        .select("p.cycle", "p.q", "p.b")
    )
    return (
        exploded.groupBy("cycle")
        .agg(
            F.count("*").alias("n_bases"),
            F.round(F.avg("q"), 4).alias("mean_quality"),
            F.sum(F.when(F.col("b") == "A", 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("b") == "C", 1).otherwise(0)).alias("n_c"),
            F.sum(F.when(F.col("b") == "G", 1).otherwise(0)).alias("n_g"),
            F.sum(F.when(F.col("b") == "T", 1).otherwise(0)).alias("n_t"),
            F.sum(
                F.when(~F.col("b").isin("A", "C", "G", "T"), 1).otherwise(0)
            ).alias("n_other"),
        )
        .orderBy("cycle")
    )


def gc_bias_metrics(
    df: DataFrame,
    spark,
    fasta_path: str,
    window: int = 100,
) -> DataFrame:
    """Picard CollectGcBiasMetrics analog: the reference is tiled into
    ``window``-bp bins, each bin gets its GC percentage (0-100,
    N-containing windows still count toward their ACGT-based GC like
    Picard's calculator), and primary mapped non-duplicate read STARTS
    are attributed to the bin containing their alignment start. Output
    per GC value: (gc, windows, read_starts, normalized_coverage)
    where normalized = (starts/windows at this GC) / (total starts /
    total windows) -- the classic GC-bias curve.

    Plan: reads collapse via one map-side-combinable groupBy on
    (contig, bin) BEFORE joining the genome-bin table (genome/window
    rows), so the join never sees raw reads; the final groupBy(gc) is
    101 groups. Window GC is one translate+length expression.
    """
    from disq_spark.sources.fasta import read_fasta_windows

    f = F.col("flags")
    keep = (
        ((f.bitwiseAND(FLAG_UNMAPPED)) == 0)
        & ((f.bitwiseAND(FLAG_SECONDARY | FLAG_SUPPLEMENTARY)) == 0)
        & ((f.bitwiseAND(FLAG_DUPLICATE)) == 0)
        & F.col("contig").isNotNull()
    )
    starts = (
        df.filter(keep)
        .groupBy(
            "contig", ((F.col("start") - 1) / window).cast("long").alias("bin")
        )
        .agg(F.count("*").alias("read_starts"))
    )
    gc = F.expr(
        "cast(round(100.0 * (length(seq) - length(translate(upper(seq), 'GC', ''))) "
        "/ length(seq)) as int)"
    )
    bins = read_fasta_windows(spark, fasta_path, window=window).select(
        "contig",
        ((F.col("start") - 1) / window).cast("long").alias("bin"),
        gc.alias("gc"),
    )
    j = bins.join(starts, ["contig", "bin"], "left").select(
        "gc", F.coalesce("read_starts", F.lit(0)).alias("read_starts")
    )
    per_gc = j.groupBy("gc").agg(
        F.count("*").alias("windows"), F.sum("read_starts").alias("read_starts")
    )
    totals = per_gc.agg(
        F.sum("windows").alias("__tw"), F.sum("read_starts").alias("__ts")
    )
    return (
        per_gc.crossJoin(F.broadcast(totals))
        .withColumn(
            "normalized_coverage",
            F.round(
                (F.col("read_starts") / F.col("windows"))
                / (F.col("__ts") / F.col("__tw")),
                6,
            ),
        )
        .drop("__tw", "__ts")
        .orderBy("gc")
    )


def consensus_sequence(
    pile: DataFrame,
    ref_windows: DataFrame,
    min_depth: int = 1,
    window: int | None = None,
) -> DataFrame:
    """samtools-consensus analog: per-window consensus strings. Each
    reference position takes the majority pileup base (ties broken
    A<C<G<T, deletions as '-', sub-``min_depth``/uncovered positions
    fall back to the reference base lower-cased -- so the output marks
    exactly which bases the reads assert). Windows come from
    ``ref_windows`` (``read_fasta_windows`` shape: contig, start, end,
    seq); pass ``window`` only to double-check the expected width.

    Plan: pileup rows join their window by integer division (equi-join,
    genome-bounded right side), one groupBy(window) collects the
    covered positions (bounded by window size), and the string is
    rebuilt by a single higher-order transform over the window's
    positions probing a position->base map -- no per-base shuffle, no
    Python.
    """
    w = window
    if w is None:
        first = ref_windows.select(
            (F.col("end") - F.col("start") + 1).alias("w")
        ).first()
        w = int(first["w"]) if first else 1
    call = (
        F.when(
            F.col("depth") < min_depth, F.lit(None)
        ).otherwise(
            F.expr(
                "case greatest(n_a, n_c, n_g, n_t, n_del) "
                "when n_a then 'A' when n_c then 'C' when n_g then 'G' "
                "when n_t then 'T' else '-' end"
            )
        )
    )
    per_pos = pile.select(
        "contig",
        F.col("pos"),
        ((F.col("pos") - 1) / w).cast("long").alias("__wid"),
        call.alias("__call"),
    ).filter(F.col("__call").isNotNull())
    calls = per_pos.groupBy("contig", "__wid").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("pos"), F.col("__call")))
        ).alias("__m")
    )
    win = ref_windows.select(
        "contig",
        ((F.col("start") - 1) / w).cast("long").alias("__wid"),
        "start",
        "end",
        F.col("seq").alias("__ref"),
    )
    rebuilt = (
        win.join(calls, ["contig", "__wid"], "left")
        .withColumn(
            "consensus",
            F.expr(
                "array_join(transform(sequence(start, end), p -> "
                "coalesce(try_element_at(__m, p), "
                "lower(substring(__ref, cast(p - start + 1 as int), 1)))), '')"
            ),
        )
        .select("contig", "start", "end", "consensus")
    )
    return rebuilt


def trim_reads(
    df: DataFrame,
    trailing_q: int = 20,
    leading_q: int = 0,
    adapter: str | None = None,
    min_len: int = 1,
) -> DataFrame:
    """Read trimming (Trimmomatic LEADING/TRAILING + cutadapt-style
    3' adapter clip) as pure column expressions:

    1. If ``adapter`` is given and occurs in the sequence, the read is
       truncated at its first occurrence (cutadapt's non-anchored 3'
       adapter, exact match).
    2. TRAILING: drop bases from the 3' end while quality < trailing_q.
    3. LEADING: likewise from the 5' end (when ``leading_q`` > 0).
    4. Reads shorter than ``min_len`` after trimming get ``kept=false``
       (Trimmomatic MINLEN); their seq/qual are the trimmed remnant.

    seq and qual are sliced by the same offsets; reads with '*'
    seq/qual pass through untrimmed. Alignment columns are NOT
    adjusted -- this is the pre-alignment FASTQ path (pair with
    sources/fastq or re-align downstream).
    """
    has = (
        F.col("seq").isNotNull()
        & (F.col("seq") != "*")
        & F.col("qual").isNotNull()
        & (F.col("qual") != "*")
    )
    adp = ""
    if adapter:
        a = adapter.upper().replace("'", "''")
        adp = f"case when instr(upper(__s), '{a}') > 0 then instr(upper(__s), '{a}') - 1 else length(__s) end"
    else:
        adp = "length(__s)"
    # after adapter cut, scan qualities: trailing run below threshold
    trail = (
        f"aggregate(sequence(1, __alen), 0, (acc, i) -> "
        f"case when acc = i - 1 and ascii(substring(qual, __alen - i + 1, 1)) - 33 < {trailing_q} "
        f"then i else acc end)"
    )
    lead = (
        f"aggregate(sequence(1, __alen), 0, (acc, i) -> "
        f"case when acc = i - 1 and ascii(substring(qual, i, 1)) - 33 < {leading_q} "
        f"then i else acc end)"
        if leading_q > 0
        else "0"
    )
    d = (
        df.withColumn("__s", F.col("seq"))
        .withColumn("__alen", F.when(has, F.expr(adp)).otherwise(F.length("seq")))
        .withColumn("__t", F.when(has, F.expr(trail)).otherwise(F.lit(0)))
        .withColumn("__l", F.when(has, F.expr(lead)).otherwise(F.lit(0)))
        .withColumn(
            "__keep_len", F.greatest(F.col("__alen") - F.col("__t") - F.col("__l"), F.lit(0))
        )
    )
    out = (
        d.withColumn(
            "seq",
            F.when(has, F.expr("substring(seq, __l + 1, __keep_len)")).otherwise(
                F.col("seq")
            ),
        )
        .withColumn(
            "qual",
            F.when(has, F.expr("substring(qual, __l + 1, __keep_len)")).otherwise(
                F.col("qual")
            ),
        )
        .withColumn(
            "kept",
            F.when(has, F.col("__keep_len") >= min_len).otherwise(F.lit(True)),
        )
        .drop("__s", "__alen", "__t", "__l", "__keep_len")
    )
    return out


def kmer_spectrum(
    df: DataFrame, k: int = 21, canonical: bool = True, seq_col: str = "seq"
) -> DataFrame:
    """k-mer multiplicity spectrum (jellyfish histo analog): counts
    k-mers across all reads (ACGT-only; ``canonical`` folds each k-mer
    with its reverse complement, taking the lexicographic min as
    jellyfish -C), then histograms the multiplicities: (multiplicity,
    n_kmers).

    Two map-side-combinable groupBys: k-mer counts (the only
    data-sized shuffle; keys are xxhash64 fingerprints, 8 B each, so
    the exchange is fixed-width) and the multiplicity histogram
    (bounded by max multiplicity). Sequencing-error k-mers appear at
    multiplicity 1; the spectrum's peak estimates coverage.
    """
    kmers = F.expr(
        f"transform(sequence(1, greatest(length(seq) - {k} + 1, 0)), "
        f"i -> upper(substring(seq, i, {k})))"
    )
    km = (
        df.filter(F.col(seq_col).isNotNull() & (F.col(seq_col) != "*"))
        .select(F.explode(kmers).alias("km"))
        .filter(F.col("km").rlike("^[ACGT]+$"))
    )
    if canonical:
        rc = "reverse(translate(km, 'ACGT', 'TGCA'))"
        km = km.select(F.expr(f"least(km, {rc})").alias("km"))
    counts = km.select(F.xxhash64("km").alias("h")).groupBy("h").agg(
        F.count("*").alias("mult")
    )
    return (
        counts.groupBy("mult")
        .agg(F.count("*").alias("n_kmers"))
        .orderBy("mult")
    )


def cnv_segments(
    df: DataFrame,
    bin_size: int = 10_000,
    gain_log2: float = 0.585,
    loss_log2: float = -0.737,
    min_bins: int = 1,
) -> DataFrame:
    """Read-depth copy-number segmentation (CNVkit / GATK
    DenoiseReadCounts+ModelSegments shape, threshold-call variant):

      1. bin the genome and tally per-bin mean depth
         (:func:`coverage_bins` — reads explode to the bins they touch,
         one map-side-combinable groupBy),
      2. normalize each bin to ``log2(depth / median_depth)`` where the
         median is taken over covered bins genome-wide (bins are
         genome/bin_size rows, so the exact-median aggregate is cheap
         regardless of read count),
      3. call per-bin state: GAIN if log2 >= gain_log2 (default 1.5x),
         LOSS if log2 <= loss_log2 (default 0.6x), else NEUTRAL,
      4. merge touching same-state bins into segments (gap-and-islands
         over bin index per contig) and report non-neutral segments of
         at least ``min_bins`` bins: (contig, start, end, state,
         n_bins, mean_log2, mean_depth) with a 1-based inclusive
         [start, end] span snapped to bin edges.

    Uncovered bins never appear in coverage_bins output, so a coverage
    gap splits segments (deletions spanning a gap surface as two
    segments, matching bedtools-style behavior on sparse data). The
    window pass runs over bin rows (genome/bin_size), not reads — at
    100 TB the only read-sized stage is the binned tally, which is the
    same shuffle shape as coverage_bins itself.
    """
    from pyspark.sql import Window

    bins = coverage_bins(df, bin_size=bin_size)
    med = bins.agg(
        F.expr("percentile(mean_depth, 0.5)").alias("med")
    )
    b = bins.join(F.broadcast(med)).withColumn(
        "log2", F.log2(F.col("mean_depth") / F.col("med"))
    )
    state = (
        F.when(F.col("log2") >= gain_log2, F.lit("GAIN"))
        .when(F.col("log2") <= loss_log2, F.lit("LOSS"))
        .otherwise(F.lit("NEUTRAL"))
    )
    b = b.withColumn("state", state)
    w = (
        Window.partitionBy("contig")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_break = (
        (F.lag("bin").over(Window.partitionBy("contig").orderBy("bin"))
         != F.col("bin") - 1)
        | (F.lag("state").over(Window.partitionBy("contig").orderBy("bin"))
           != F.col("state"))
    )
    seg = b.withColumn(
        "brk", F.coalesce(is_break, F.lit(True)).cast("int")
    ).withColumn("seg_id", F.sum("brk").over(w))
    return (
        seg.groupBy("contig", "seg_id", "state")
        .agg(
            F.min("bin_start").alias("start"),
            (F.max("bin_start") + bin_size - 1).alias("end"),
            F.count("*").alias("n_bins"),
            F.round(F.avg("log2"), 6).alias("mean_log2"),
            F.round(F.avg("mean_depth"), 6).alias("mean_depth"),
        )
        .filter((F.col("state") != "NEUTRAL") & (F.col("n_bins") >= min_bins))
        .drop("seg_id")
    )


def estimate_contamination(
    reads: DataFrame,
    variants: DataFrame,
    sample: str | None = None,
    min_depth: int = 10,
    min_mapq: int = 0,
    min_base_quality: int = 0,
) -> DataFrame:
    """VerifyBamID-lite cross-sample contamination estimate.

    At sites where the sample is a homozygous-alt biallelic SNV, a
    clean alignment shows only the alt base (plus sequencing error in
    equal parts across the three non-alt bases); REF-supporting bases
    beyond that error floor come from foreign DNA, which contributes
    ref reads at roughly half its fraction (the contaminant is ~2/3
    likely to carry at least one ref allele at a common site; the
    classic quick estimate doubles the ref fraction). Reports

        contamination_est = 2 * ref_bases / (ref_bases + alt_bases)
        error_floor       = other_bases / total * 3 / 2

    over hom-alt sites with pileup depth >= min_depth, so callers can
    subtract the sequencing-error floor from the estimate.

    Plan shape: the hom-alt site list (thousands of rows) broadcasts
    into the pileup join, so the only read-scale stages are the pileup
    itself (shuffle-free CIGAR walk + one map-side-combinable groupBy)
    and a 1-row aggregate.
    """
    snv = variants.filter(
        (F.length("ref") == 1)
        & F.col("ref").isin("A", "C", "G", "T")
        & (F.size("alts") == 1)
        & (F.length(F.col("alts")[0]) == 1)
        & F.col("alts")[0].isin("A", "C", "G", "T")
    )
    g = snv.select(
        "contig", "start", "ref", F.col("alts")[0].alias("alt"),
        F.explode("genotypes").alias("g"),
    )
    if sample is not None:
        g = g.filter(F.col("g.sample") == sample)
    al = F.split(F.col("g.gt"), r"[/|]")
    # One row per (contig, pos): split multiallelics produce several
    # records at the same position, and every one of them would join the
    # single pileup row, double-counting the site's bases. A position
    # whose hom-alt records disagree on (ref, alt) is biologically
    # inconsistent for this sample and is dropped outright.
    hom_alt = (
        g.filter(
            F.col("g.gt").isNotNull()
            & (F.size(al) == 2)
            & (F.size(F.filter(al, lambda a: a == "1")) == 2)
        )
        .select("contig", F.col("start").alias("pos"), "ref", "alt")
        .groupBy("contig", "pos")
        .agg(
            F.count_distinct("ref", "alt").alias("__nv"),
            F.min(F.struct("ref", "alt")).alias("__ra"),
        )
        .filter(F.col("__nv") == 1)
        .select(
            "contig",
            "pos",
            F.col("__ra.ref").alias("ref"),
            F.col("__ra.alt").alias("alt"),
        )
    )

    p = pileup(
        reads, min_mapq=min_mapq, min_base_quality=min_base_quality
    )
    base_n = lambda b: (  # noqa: E731
        F.when(b == "A", F.col("n_a"))
        .when(b == "C", F.col("n_c"))
        .when(b == "G", F.col("n_g"))
        .otherwise(F.col("n_t"))
    )
    j = (
        p.join(F.broadcast(hom_alt), ["contig", "pos"])
        .withColumn("ref_n", base_n(F.col("ref")))
        .withColumn("alt_n", base_n(F.col("alt")))
        .withColumn(
            "base_total",
            F.col("n_a") + F.col("n_c") + F.col("n_g") + F.col("n_t"),
        )
        .filter(F.col("base_total") >= min_depth)
    )
    return j.agg(
        F.count("*").alias("n_sites"),
        F.sum("base_total").alias("total_bases"),
        F.sum("ref_n").alias("ref_bases"),
        F.sum("alt_n").alias("alt_bases"),
        (F.sum("base_total") - F.sum("ref_n") - F.sum("alt_n")).alias(
            "other_bases"
        ),
        F.round(
            2.0 * F.sum("ref_n") / (F.sum("ref_n") + F.sum("alt_n")), 6
        ).alias("contamination_est"),
        F.round(
            (F.sum("base_total") - F.sum("ref_n") - F.sum("alt_n"))
            / F.sum("base_total") * 1.5,
            6,
        ).alias("error_floor"),
    )


def sv_discordant_clusters(
    df: DataFrame,
    max_insert: int = 1000,
    cluster_window: int = 500,
    min_support: int = 2,
    min_mapq: int = 0,
) -> DataFrame:
    """Structural-variant evidence from discordant read pairs
    (DELLY/LUMPY first-pass analog): classify every primary,
    non-duplicate, both-ends-mapped, NOT-properly-paired pair, then
    cluster the left breakpoints.

    Classes: TRA (mates on different contigs), INV (same orientation),
    DUP (outward RF orientation), DEL (inward FR but span >
    max_insert), OTHER (inward FR within max_insert — flagged
    not-proper for some other reason).

    Each pair is counted once via the canonical-end rule — keep the
    record whose (contig, start, first-in-pair) sorts before its
    mate's; a lone end whose canonical partner never appears (mate
    outside the sharded region) still qualifies when it IS the
    canonical end. Clusters are gap-and-islands over the kept reads'
    starts within (class, contig, mate_contig): a new cluster starts
    where the LEFT-start gap exceeds ``cluster_window`` OR the
    mate-start jump exceeds ``cluster_window`` — both breakpoints must
    be tight (DELLY/LUMPY cluster on both ends; left-only clustering
    merges unrelated events whose left reads happen to be close, e.g.
    two inversions sharing a left locus with mates 100 Mbp
    apart). Output: (class, contig,
    start_lo, start_hi, mate_contig, mate_lo, mate_hi, n_pairs),
    filtered to ``n_pairs >= min_support``.

    Scale shape: the discordant filter runs at scan time (flag
    arithmetic, pushable), so the window pass sees only discordant
    pairs — typically <1% of reads; its partition key
    (class, contig, mate_contig) spreads interchromosomal evidence
    across contig pairs. The groupBy is map-side combinable.
    """
    from pyspark.sql import Window

    d = df.filter(
        ((F.col("flags").bitwiseAND(F.lit(0x1))) != 0)
        & ((F.col("flags").bitwiseAND(F.lit(0x4))) == 0)
        & ((F.col("flags").bitwiseAND(F.lit(0x8))) == 0)
        & ((F.col("flags").bitwiseAND(F.lit(0x2))) == 0)
        & ((F.col("flags").bitwiseAND(F.lit(0x100))) == 0)
        & ((F.col("flags").bitwiseAND(F.lit(0x400))) == 0)
        & ((F.col("flags").bitwiseAND(F.lit(0x800))) == 0)
        & (F.coalesce(F.col("mapq"), F.lit(0)) >= min_mapq)
        & F.col("contig").isNotNull()
        & F.col("mate_contig").isNotNull()
    )
    first = (F.col("flags").bitwiseAND(F.lit(0x40))) != 0
    canonical = (
        (F.col("contig") < F.col("mate_contig"))
        | (
            (F.col("contig") == F.col("mate_contig"))
            & (
                (F.col("start") < F.col("mate_start"))
                | ((F.col("start") == F.col("mate_start")) & first)
            )
        )
    )
    d = d.filter(canonical)
    rev = (F.col("flags").bitwiseAND(F.lit(0x10))) != 0
    mrev = (F.col("flags").bitwiseAND(F.lit(0x20))) != 0
    span = F.col("mate_start") - F.col("start")
    cls = (
        F.when(F.col("contig") != F.col("mate_contig"), F.lit("TRA"))
        .when(rev == mrev, F.lit("INV"))
        .when(rev, F.lit("DUP"))  # canonical(leftmost) end reverse -> RF
        .when(span > max_insert, F.lit("DEL"))
        .otherwise(F.lit("OTHER"))
    )
    d = d.select(
        cls.alias("class"), "contig", "start", "mate_contig", "mate_start"
    )
    ow = Window.partitionBy("class", "contig", "mate_contig").orderBy(
        "start", "mate_start"
    )
    cw = (
        Window.partitionBy("class", "contig", "mate_contig")
        .orderBy("start", "mate_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    brk = F.coalesce(
        ((F.col("start") - F.lag("start").over(ow)) > cluster_window)
        | (
            F.abs(F.col("mate_start") - F.lag("mate_start").over(ow))
            > cluster_window
        ),
        F.lit(True),
    )
    c = d.withColumn("brk", brk.cast("int")).withColumn(
        "cl", F.sum("brk").over(cw)
    )
    return (
        c.groupBy("class", "contig", "mate_contig", "cl")
        .agg(
            F.min("start").alias("start_lo"),
            F.max("start").alias("start_hi"),
            F.min("mate_start").alias("mate_lo"),
            F.max("mate_start").alias("mate_hi"),
            F.count("*").alias("n_pairs"),
        )
        .filter(F.col("n_pairs") >= min_support)
        .select(
            "class", "contig", "start_lo", "start_hi",
            "mate_contig", "mate_lo", "mate_hi", "n_pairs",
        )
    )


def region_coverage(
    reads: DataFrame,
    regions: DataFrame,
    name_col: str = "name",
) -> DataFrame:
    """bedtools coverage / samtools bedcov analog: per-region read
    count, mean depth, and breadth of coverage.

    ``regions``: (contig, start, end[, name]) 1-based closed intervals.
    Output per region: (contig, start, end, name, n_reads, total_bases,
    mean_depth, covered_bases, pct_covered) where total_bases sums
    read-overlap lengths (bedcov's base total / region length = mean
    depth) and covered_bases counts region positions with depth >= 1
    (breadth), computed exactly from run-length depth segments — never
    per-base rows.

    Plan shape: two binned interval joins (reads x regions for
    count/total, depth-segments x regions for breadth) — both
    broadcast when the region list is small, both bin-partitioned
    otherwise — plus the distributed prefix-sum inside
    :func:`coverage_depth`. Aggregates are map-side combinable on
    region keys.
    """
    r = regions
    if name_col not in r.columns:
        r = r.withColumn(name_col, F.concat_ws(":", "contig", "start", "end"))
    r = r.select(
        F.col("contig").alias("contig"),
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        F.col(name_col).alias("name"),
    )
    reads_m = reads.filter(
        F.col("contig").isNotNull() & F.col("start").isNotNull()
        & F.col("end").isNotNull()
    ).select("contig", "start", "end")

    j = interval_join(reads_m, r, right_prefix="rg_")
    ov = F.least(F.col("end"), F.col("rg_end")) - F.greatest(
        F.col("start"), F.col("rg_start")
    ) + 1
    per_read = (
        j.groupBy("rg_contig", "rg_start", "rg_end", "rg_name")
        .agg(
            F.count("*").alias("n_reads"),
            F.sum(ov).alias("total_bases"),
        )
    )

    segs = coverage_depth(reads_m).filter(F.col("depth") >= 1)
    # run-length segments cover [pos, next_pos); convert to closed
    seg_iv = segs.select(
        "contig",
        F.col("pos").alias("start"),
        (F.col("next_pos") - 1).alias("end"),
    )
    sj = interval_join(seg_iv, r, right_prefix="rg_")
    sov = F.least(F.col("end"), F.col("rg_end")) - F.greatest(
        F.col("start"), F.col("rg_start")
    ) + 1
    breadth = (
        sj.groupBy("rg_contig", "rg_start", "rg_end", "rg_name")
        .agg(F.sum(sov).alias("covered_bases"))
    )
    keys = ["rg_contig", "rg_start", "rg_end", "rg_name"]
    out = (
        r.select(
            F.col("contig").alias("rg_contig"),
            F.col("start").alias("rg_start"),
            F.col("end").alias("rg_end"),
            F.col("name").alias("rg_name"),
        )
        .join(per_read, keys, "left")
        .join(breadth, keys, "left")
    )
    span = F.col("rg_end") - F.col("rg_start") + 1
    return out.select(
        F.col("rg_contig").alias("contig"),
        F.col("rg_start").alias("start"),
        F.col("rg_end").alias("end"),
        F.col("rg_name").alias("name"),
        F.coalesce("n_reads", F.lit(0)).alias("n_reads"),
        F.coalesce("total_bases", F.lit(0)).alias("total_bases"),
        F.round(F.coalesce("total_bases", F.lit(0)) / span, 6).alias("mean_depth"),
        F.coalesce("covered_bases", F.lit(0)).alias("covered_bases"),
        F.round(F.coalesce("covered_bases", F.lit(0)) / span, 6).alias("pct_covered"),
    )


def bam_to_fastq_rows(
    df: DataFrame,
    include_suffix: bool = True,
) -> DataFrame:
    """samtools fastq analog: turn aligned reads back into sequencer
    orientation for re-alignment. Keeps one record per template end
    (primary alignments only — secondary/supplementary carry the same
    sequence again), reverse-complements SEQ and reverses QUAL for
    reverse-strand alignments, and appends the /1 //2 mate suffix for
    paired ends (``include_suffix=False`` for name-bare output).

    Output: (name, comment, seq, qual) — exactly the FASTQ sink schema
    (``sources.fastq.write_fastq``). Rows with no stored sequence
    ('*') are dropped, matching samtools fastq's behavior.

    Pure column expressions (reverse + translate for the complement) —
    scan-shaped, no shuffle, codegen throughout.
    """
    d = df.filter(
        ((F.col("flags").bitwiseAND(F.lit(0x100))) == 0)
        & ((F.col("flags").bitwiseAND(F.lit(0x800))) == 0)
        & F.col("seq").isNotNull()
        & (F.col("seq") != "*")
    )
    rev = (F.col("flags").bitwiseAND(F.lit(0x10))) != 0
    seq = F.when(
        rev, F.translate(F.reverse(F.col("seq")), "ACGTNacgtn", "TGCANtgcan")
    ).otherwise(F.col("seq"))
    qual = F.when(
        F.col("qual").isNull() | (F.col("qual") == "*"), F.lit("*")
    ).when(rev, F.reverse(F.col("qual"))).otherwise(F.col("qual"))
    paired = (F.col("flags").bitwiseAND(F.lit(0x1))) != 0
    first = (F.col("flags").bitwiseAND(F.lit(0x40))) != 0
    suffix = (
        F.when(~paired, F.lit(""))
        .when(first, F.lit("/1"))
        .otherwise(F.lit("/2"))
        if include_suffix
        else F.lit("")
    )
    return d.select(
        F.concat(F.col("name"), suffix).alias("name"),
        F.lit(None).cast("string").alias("comment"),
        seq.alias("seq"),
        qual.alias("qual"),
    )
