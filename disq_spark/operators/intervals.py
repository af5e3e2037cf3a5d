"""Distributed interval algebra over (contig, start, end) tables —
bedtools merge / intersect / subtract / complement / jaccard analogs —
and the two mechanisms every depth operator shares.

All set operations use GENOME-SPACE (merged) semantics: inputs are
treated as position sets, exactly what bedtools produces when its
inputs are merged (bedtools itself recommends `merge` before set ops;
per-record bookkeeping variants can be layered with ``interval_join``).
Coordinates are 1-based inclusive, the convention of the reads/variants
frames (BED's half-open 0-based form is converted by ``sources.bed``).

Scale shape, shared with ``operators.genomics.coverage_depth`` and
``callable_loci``:

- ``_events`` turns each input into +1/-1 boundary events through one
  ``explode``, so an expensive input (a decoded BAM) is one subtree.
- ``_segments`` is the chunked two-level prefix sum over N counters:
  a running sum within each (contig, chunk of ``CHUNK`` positions), plus
  exclusive chunk offsets from a broadcast per-chunk meta table. Each
  row is a run-length segment [pos, next_pos) carrying every counter's
  depth and its predecessor depth ``prev_<c>``.
- ``_islands`` marks rows where a predicate flips between the
  predecessor segment and this one, then pairs each island start with
  its stop by a ``lead`` over those boundary rows only (2 rows per
  output interval). Counting operators sum the flags with no window.

No step runs a window over a whole contig's segments. Reference parity:
the reference engine has no interval algebra (it defers to htsjdk's
IntervalList in tests); these are the downstream layer re-expressed
Spark-first.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# Positions per prefix-sum chunk: the unit of parallelism of the event
# scan (a 250 Mb contig runs as ~240 tasks, not one).
CHUNK = 1 << 20

# A predicate over depths: called with a counter-name -> Column getter.
Keep = Callable[[Callable[[str], Column]], Column]


def _events(df: DataFrame, counter: str) -> DataFrame:
    """(contig, pos, <counter>): +1 at each interval's start, -1 one past
    its end, from ONE subtree of ``df`` (an explode, not a union of two
    selects, so the input is decoded once per consumer). Rows with a
    null coordinate carry no interval and are dropped."""
    c, s, e = F.col("contig"), F.col("start"), F.col("end")
    return (
        df.filter(c.isNotNull() & s.isNotNull() & e.isNotNull())
        .select(
            c,
            F.explode(
                F.array(
                    F.struct(s.alias("pos"), F.lit(1).alias("d")),
                    F.struct((e + 1).alias("pos"), F.lit(-1).alias("d")),
                )
            ).alias("e"),
        )
        .select(c, F.col("e.pos").alias("pos"), F.col("e.d").alias(counter))
    )


def _segments(events: DataFrame, counters: list[str]) -> DataFrame:
    """Run-length segments (contig, pos, next_pos, <c>..., prev_<c>...):
    each counter's depth over [pos, next_pos), one row per distinct
    event position. ``events`` carries (contig, pos) and the counters (a
    null counter counts 0, as ``unionByName(allowMissingColumns=True)``
    leaves it).

    The chunked two-level prefix sum: events pre-summed per
    (contig, pos); a running sum within (contig, chunk); per-chunk
    totals prefix-summed over the tiny meta table and broadcast back as
    exclusive offsets. next_pos is the next event in the chunk, else the
    next chunk's first event (NULL after a contig's last event).
    ``prev_<c>`` = depth - delta is the depth of the segment ending at
    pos, NULL at a contig's first event (no segment ends there).
    """
    ev = (
        events.groupBy("contig", "pos")
        .agg(*[F.coalesce(F.sum(c), F.lit(0)).alias(f"d_{c}") for c in counters])
        .withColumn("chunk", (F.col("pos") / CHUNK).cast("long"))
    )
    inw = W.partitionBy("contig", "chunk").orderBy("pos")
    runw = inw.rowsBetween(W.unboundedPreceding, W.currentRow)
    within = ev.select(
        "contig",
        "chunk",
        "pos",
        F.lead("pos").over(inw).alias("lead_pos"),
        *[F.col(f"d_{c}") for c in counters],
        *[F.sum(f"d_{c}").over(runw).alias(f"w_{c}") for c in counters],
    )
    meta = ev.groupBy("contig", "chunk").agg(
        F.min("pos").alias("first_pos"),
        *[F.sum(f"d_{c}").alias(f"t_{c}") for c in counters],
    )
    byc = W.partitionBy("contig").orderBy("chunk")
    offw = byc.rowsBetween(W.unboundedPreceding, W.currentRow)
    meta = meta.select(
        "contig",
        "chunk",
        F.first("first_pos").over(offw).alias("contig_first"),
        F.lead("first_pos").over(byc).alias("next_chunk_first"),
        *[(F.sum(f"t_{c}").over(offw) - F.col(f"t_{c}")).alias(f"o_{c}") for c in counters],
    )
    depth = {c: (F.col(f"w_{c}") + F.col(f"o_{c}")).cast("long") for c in counters}
    has_prev = F.col("pos") != F.col("contig_first")
    return within.join(F.broadcast(meta), ["contig", "chunk"]).select(
        "contig",
        "pos",
        F.coalesce(F.col("lead_pos"), F.col("next_chunk_first")).alias("next_pos"),
        *[depth[c].alias(c) for c in counters],
        *[F.when(has_prev, depth[c] - F.col(f"d_{c}")).alias(f"prev_{c}") for c in counters],
    )


def _flags(keep: Keep) -> tuple[Column, Column]:
    """(is_in, was_in): ``keep`` holds on this row's segment, and on the
    segment ending at its pos. A contig's last event starts no segment
    (NULL next_pos) and its first ends none (NULL prev_<c>)."""
    is_in = F.col("next_pos").isNotNull() & keep(F.col)
    was_in = F.coalesce(keep(lambda c: F.col(f"prev_{c}")), F.lit(False))
    return is_in, was_in


def _islands(segs: DataFrame, keep: Keep) -> DataFrame:
    """Maximal (contig, start, end, span) intervals where ``keep`` holds:
    boundary rows (``keep`` flips at pos) found row by row, then each
    start paired with the next boundary — its stop — by one ``lead``
    over the boundary rows alone."""
    is_in, was_in = _flags(keep)
    w = W.partitionBy("contig").orderBy("pos")
    return (
        segs.filter(is_in != was_in)
        .select(
            "contig",
            F.col("pos").alias("start"),
            (F.lead("pos").over(w) - 1).alias("end"),
            is_in.alias("is_start"),
        )
        .filter("is_start")
        .select("contig", "start", "end", (F.col("end") - F.col("start") + 1).alias("span"))
    )


def _pair(a: DataFrame, b: DataFrame) -> DataFrame:
    """Segments of two inputs: counters ``a`` and ``b``."""
    events = _events(a, "a").unionByName(_events(b, "b"), allowMissingColumns=True)
    return _segments(events, ["a", "b"])


def merge_intervals_table(df: DataFrame) -> DataFrame:
    """bedtools merge: maximal intervals covering the input's position
    set (book-ended intervals coalesce, as bedtools' default -d 0)."""
    return _islands(_segments(_events(df, "a"), ["a"]), lambda d: d("a") > 0)


def intersect_intervals(a: DataFrame, b: DataFrame) -> DataFrame:
    """bedtools intersect (genome-space): positions covered by both."""
    return _islands(_pair(a, b), lambda d: (d("a") > 0) & (d("b") > 0))


def subtract_intervals(a: DataFrame, b: DataFrame) -> DataFrame:
    """bedtools subtract (genome-space): positions of A not in B."""
    return _islands(_pair(a, b), lambda d: (d("a") > 0) & (d("b") == 0))


def _ref_table(spark, refs: list[tuple[str, int]]) -> DataFrame:
    return spark.createDataFrame(
        [(n, 1, int(ln)) for n, ln in refs], "contig string, start long, end long"
    )


def complement_intervals(
    df: DataFrame, refs: list[tuple[str, int]]
) -> DataFrame:
    """bedtools complement: genome minus the input's position set."""
    return subtract_intervals(_ref_table(df.sparkSession, refs), df)


def jaccard_intervals(a: DataFrame, b: DataFrame) -> DataFrame:
    """bedtools jaccard: one row (intersection_bp, union_bp, jaccard,
    n_intersections) over the two position sets — span sums and island
    starts counted in one aggregate over the segments."""
    is_both, was_both = _flags(lambda d: (d("a") > 0) & (d("b") > 0))
    valid = F.col("next_pos").isNotNull()
    span = F.col("next_pos") - F.col("pos")
    either = (F.col("a") > 0) | (F.col("b") > 0)
    return (
        _pair(a, b)
        .agg(
            F.sum(F.when(valid, F.when(is_both, span).otherwise(0))).alias("intersection_bp"),
            F.sum(F.when(valid, F.when(either, span).otherwise(0))).alias("union_bp"),
            F.count(F.when(is_both & ~was_both, 1)).alias("n_intersections"),
        )
        .select(
            "intersection_bp",
            "union_bp",
            F.round(
                F.col("intersection_bp") / F.nullif(F.col("union_bp"), F.lit(0)), 6
            ).alias("jaccard"),
            "n_intersections",
        )
    )


def interval_algebra_summary(
    a: DataFrame,
    b: DataFrame,
    refs: list[tuple[str, int]],
) -> DataFrame:
    """The five-op algebra summary — (op, n_intervals, total_bp) rows for
    merge(a) / intersect(a,b) / subtract(a,b) / complement(a,refs) plus
    the jaccard(a,b) row carrying (intersection_bp, union_bp) — computed
    in ONE event-RLE pass instead of a 6-branch union of the individual
    operators (r12, guide §2.4/§2.6).

    Why it is equivalent: every op is an island count / span sum over
    the SAME run-length segment table, just under a different depth
    predicate — merge: a>0; intersect: a>0 AND b>0; subtract: a>0 AND
    b=0; complement: ref>0 AND a=0; jaccard: span sums under
    both/either. Adding the other inputs' boundary positions only
    SPLITS runs into adjacent segments, so one tri-depth segment table
    (a, b, reference) serves all five predicates. Each op's islands are
    counted by its boundary flag — the row qualifies and the segment
    ending at its pos (``prev_<c>``) does not — so the pass has no
    window over a whole contig. The expensive input (``a`` is a decoded
    BAM in the gate) enters through a single explode-based event
    subtree, so the decode appears once per physical consumer of the
    event table — the segment pass and the broadcast chunk-offset meta,
    2 subtrees total where the 6-branch union carried 24 (plans/r12) —
    without a cache (persisting the decoded table measured NEGATIVE in
    r11 §4.6: AQE serializes cached query stages the union overlapped).

    Differs from composing the individual operators only on EMPTY
    inputs: the jaccard sums return 0 (not null) whenever any boundary
    exists, and null only when all inputs are empty.
    """
    events = (
        _events(a, "a")
        .unionByName(_events(b, "b"), allowMissingColumns=True)
        .unionByName(_events(_ref_table(a.sparkSession, refs), "r"), allowMissingColumns=True)
    )
    segs = _segments(events, ["a", "b", "r"])
    preds = {
        "merge": lambda d: d("a") > 0,
        "intersect": lambda d: (d("a") > 0) & (d("b") > 0),
        "subtract": lambda d: (d("a") > 0) & (d("b") == 0),
        "complement": lambda d: (d("r") > 0) & (d("a") == 0),
    }
    valid = F.col("next_pos").isNotNull()
    span = F.col("next_pos") - F.col("pos")
    in_a, in_b = F.col("a") > 0, F.col("b") > 0
    aggs = []
    for k, keep in preds.items():
        is_in, was_in = _flags(keep)
        aggs.append(F.count(F.when(is_in & ~was_in, 1)).alias(f"n_{k}"))
        aggs.append(F.sum(F.when(is_in, span)).alias(f"bp_{k}"))
    aggs.append(F.sum(F.when(valid, F.when(in_a & in_b, span).otherwise(0))).alias("j_inter"))
    aggs.append(F.sum(F.when(valid, F.when(in_a | in_b, span).otherwise(0))).alias("j_union"))
    return segs.agg(*aggs).select(
        F.expr(
            "stack(5, "
            "'merge', n_merge, bp_merge, "
            "'intersect', n_intersect, bp_intersect, "
            "'subtract', n_subtract, bp_subtract, "
            "'complement', n_complement, bp_complement, "
            "'jaccard', j_inter, j_union"
            ") AS (op, n_intervals, total_bp)"
        )
    )


def liftover(
    df: DataFrame,
    chain: DataFrame,
    revcomp_alleles: bool = True,
) -> DataFrame:
    """Coordinate liftover (Picard LiftoverVcf / CrossMap analog) over
    an alignment-block table ``chain`` with columns (src_contig,
    src_start, src_end, dst_contig, dst_start, strand) -- the flattened
    form of a UCSC chain's ungapped blocks, 1-based inclusive.

    A record lifts iff one block fully contains its [start, end]
    (partial overlaps are rejected, matching LiftoverVcf's
    NoTarget/IndelStraddlesMultipleIntervals behavior). '+' blocks
    translate by offset; '-' blocks flip the interval around the block
    and, when ``revcomp_alleles`` and ref/alts columns exist,
    reverse-complement the alleles (symbolic alleles pass through).
    Output: the input columns with contig/start/end rewritten, plus
    ``lifted`` (false rows keep their original coordinates -- filter on
    the flag for the two LiftoverVcf output files).

    Chains are metadata-sized (even hg19->hg38 is ~10^6 blocks), so the
    join broadcasts; the fact table never shuffles.
    """
    c = chain.select(
        F.col("src_contig").alias("contig"),
        "src_start",
        "src_end",
        "dst_contig",
        "dst_start",
        "strand",
    )
    bc = F.broadcast(c)
    j = df.join(
        bc,
        (df["contig"] == bc["contig"])
        & (df["start"] >= bc["src_start"])
        & (df["end"] <= bc["src_end"]),
        "left",
    ).drop(bc["contig"])
    fwd = F.col("strand") == "+"
    new_start = F.when(
        fwd, F.col("dst_start") + (F.col("start") - F.col("src_start"))
    ).otherwise(F.col("dst_start") + (F.col("src_end") - F.col("end")))
    new_end = new_start + (F.col("end") - F.col("start"))
    lifted = F.col("dst_contig").isNotNull()
    out = (
        j.withColumn("lifted", lifted)
        .withColumn("__ns", new_start)
        .withColumn("__ne", new_end)
        .withColumn(
            "contig", F.when(lifted, F.col("dst_contig")).otherwise(F.col("contig"))
        )
        .withColumn("start", F.when(lifted, F.col("__ns")).otherwise(F.col("start")))
        .withColumn("end", F.when(lifted, F.col("__ne")).otherwise(F.col("end")))
    )
    rc = "reverse(translate(upper({0}), 'ACGTN', 'TGCAN'))"
    if revcomp_alleles and "ref" in df.columns:
        flip = lifted & ~fwd
        out = out.withColumn(
            "ref", F.when(flip, F.expr(rc.format("ref"))).otherwise(F.col("ref"))
        )
        if "alts" in df.columns:
            out = out.withColumn(
                "alts",
                F.when(
                    flip,
                    F.expr(
                        "transform(alts, a -> case when a like '<%' then a else "
                        + rc.format("a")
                        + " end)"
                    ),
                ).otherwise(F.col("alts")),
            )
    return out.drop(
        "src_start", "src_end", "dst_contig", "dst_start", "strand", "__ns", "__ne"
    )
