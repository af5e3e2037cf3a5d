"""Gate-facing genomics queries — the format I/O and genomic operators
exercised through the driver's harness. DuckDB cannot read BAM/CRAM/VCF,
so each oracle is a golden-literal SELECT whose values are the fixture
ground truth (the reference pins fixtures read-only, so the outputs are
deterministic) — the same count-vs-known-truth pattern as the
reference's RealWorldFilesIT.java:40-118. Deep correctness lives in
tests/ (differential against reference fixtures, index-merge equality,
round-trips); the golden oracles make decode regressions visible to the
driver's hash gate instead of only to pytest.

The inputs are the reference's own test fixtures (read-only), not the
synthetic sf tables — genomics formats only exist there.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disq_spark.queries.registry import Registry

QUERIES = Registry()
ORACLE = Registry()

FIXTURES = "/root/reference/src/test/resources"
# repo-local fixtures, derived from the module location so a checkout
# anywhere on disk resolves them
REPO_FIXTURES = os.path.normpath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures")
)


_q = QUERIES.register


@_q("genomics_bam_flagstat")
def genomics_bam_flagstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """samtools-flagstat-style summary over the BAM source (scan, flag
    decomposition, aggregation — the flagship read path end-to-end)."""
    from disq_spark.sources.bam_source import read_bam

    # column pruning pushed into the decoder: flagstat never reads
    # seq/qual/tags (most of the bytes)
    df, _h = read_bam(
        spark,
        os.path.join(FIXTURES, "1-with-splitting-index.bam"),
        split_size=200_000,
        columns=["flags"],
    )
    f = F.col("flags")
    return df.agg(
        F.count("*").alias("total"),
        F.sum(((f.bitwiseAND(4)) == 0).cast("long")).alias("mapped"),
        F.sum(((f.bitwiseAND(1)) != 0).cast("long")).alias("paired"),
        F.sum(((f.bitwiseAND(2)) != 0).cast("long")).alias("proper_pair"),
        F.sum(((f.bitwiseAND(1024)) != 0).cast("long")).alias("duplicates"),
        F.sum(((f.bitwiseAND(256)) != 0).cast("long")).alias("secondary"),
    )


@_q("genomics_bam_interval_query")
def genomics_bam_interval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-pruned interval traversal + per-position aggregate."""
    from disq_spark.functions.intervals import Interval
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(
        spark,
        os.path.join(FIXTURES, "1-with-splitting-index.bam"),
        split_size=200_000,
        intervals=[Interval("1", 24_800_000, 24_900_000)],
    )
    return (
        df.groupBy((F.col("start") / 10_000).cast("long").alias("bucket"))
        .agg(F.count("*").alias("n_reads"), F.round(F.avg("mapq"), 2).alias("avg_mapq"))
        .orderBy("bucket")
    )


@_q("genomics_vcf_by_contig")
def genomics_vcf_by_contig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splittable BGZF VCF scan -> typed variant aggregation."""
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "HiSeq.10000.vcf.bgz"), split_size=64 * 1024)
    return (
        df.groupBy("contig")
        .agg(
            F.count("*").alias("n_variants"),
            F.sum((F.length("ref") > 1).cast("long")).alias("n_multi_base"),
            F.round(F.avg("qual"), 2).alias("avg_qual"),
        )
        .orderBy("contig")
    )


@_q("genomics_vcf_typed_info")
def genomics_vcf_typed_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed ##INFO/##FORMAT projection over the CEUTrio gVCF — the
    header-declared-cast surface (functions/vcf_typed.py) under the
    oracle, not just unit tests. Exercises: scalar Integer/Float with
    missing values (DP, MQ, BaseQRankSum), Number=A arrays (MLEAC
    Integer / MLEAF Float, first element), Flag (DS), the gVCF END
    field, and Number=G FORMAT arrays (PL) plus scalar MIN_DP through
    explode_genotypes. Golden literal computed by an independent
    plain-text parse of the fixture."""
    from disq_spark.functions.vcf_typed import explode_genotypes, with_typed_info
    from disq_spark.sources.variants import read_vcf

    df, header = read_vcf(
        spark,
        os.path.join(FIXTURES, "CEUTrio.20.21.gatk3.4.g.vcf.bgz"),
        split_size=256 * 1024,
    )
    ti = with_typed_info(df, header)
    info_agg = ti.groupBy("contig").agg(
        F.count("*").alias("n"),
        F.sum("info_DP").alias("sum_dp"),
        F.round(F.avg("info_MQ"), 4).alias("avg_mq"),
        F.sum(F.col("info_BaseQRankSum").isNotNull().cast("long")).alias("n_bq"),
        F.sum(F.element_at("info_MLEAC", 1)).alias("sum_mleac1"),
        F.round(F.sum(F.element_at("info_MLEAF", 1)), 4).alias("sum_mleaf1"),
        F.sum(F.col("info_DS").cast("long")).alias("n_ds"),
        F.sum(F.col("info_END").isNotNull().cast("long")).alias("n_end"),
    )
    g = explode_genotypes(df, header)
    g_agg = g.groupBy("contig").agg(
        F.sum(F.element_at("fmt_PL", 1)).alias("sum_pl1"),
        F.sum("fmt_MIN_DP").alias("sum_min_dp"),
    )
    return info_agg.join(g_agg, "contig").orderBy("contig")


@_q("genomics_cram_decode")
def genomics_cram_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAM 3.0 + rANS decode of the real-world GATK fixture."""
    from disq_spark.sources.cram_source import read_cram

    df, _h = read_cram(
        spark,
        os.path.join(FIXTURES, "CEUTrio.HiSeq.WGS.b37.NA12878.20.21.10m-10m100.cram"),
        missing_ref_as_n=True,
    )
    return (
        df.groupBy("contig")
        .agg(F.count("*").alias("n_reads"), F.min("start").alias("min_pos"), F.max("end").alias("max_pos"))
        .orderBy("contig")
    )


@_q("genomics_cram_interval_query")
def genomics_cram_interval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval traversal over the index-less CRAM: container/slice
    headers prune the plan (slice-span overlap, CramSource.java:119-143
    semantics), residual overlap predicate filters rows. Three regions:
    a mid-slice window, a left prefix, and a whole-contig span whose
    totals must reproduce genomics_cram_decode's contig-21 literals —
    the cross-path consistency check (pruned==brute-force is
    property-tested in tests/test_cram.py; the decode totals are pinned
    by the genomics_cram_decode golden)."""
    from disq_spark.functions.intervals import Interval
    from disq_spark.sources.cram_source import read_cram

    p = os.path.join(FIXTURES, "CEUTrio.HiSeq.WGS.b37.NA12878.20.21.10m-10m100.cram")
    regions = [
        ("mid_20", Interval("20", 9_999_950, 10_000_050)),
        ("head_20", Interval("20", 1, 9_999_949)),
        ("all_21", Interval("21", 10_000_000, 10_000_199)),
    ]
    parts = []
    for name, iv in regions:
        df, _h = read_cram(spark, p, intervals=[iv], missing_ref_as_n=True)
        parts.append(
            df.agg(
                F.lit(name).alias("region"),
                F.count("*").alias("n_reads"),
                F.min("start").alias("min_pos"),
                F.max("end").alias("max_pos"),
                F.sum(F.length("cigar")).alias("cigar_chars"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.orderBy("region")


@_q("genomics_guesser_diagnostic")
def genomics_guesser_diagnostic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The record-start-guesser diagnostic scan under the gate
    (BamRecordGuesserChecker analog): every true record start must be
    accepted and every probed non-start rejected — the guesser must be
    EXACT on the fixture, i.e. zero FALSE_POSITIVE / FALSE_NEGATIVE
    disagreements, plus the record count the walk covered."""
    from disq_spark.sources.bam_source import check_record_guesser, read_bam

    path = os.path.join(FIXTURES, "1.bam")
    diag = check_record_guesser(spark, path, split_size=200_000)
    df, _h = read_bam(spark, path, columns=["flags"])
    return (
        diag.agg(
            F.count("*").alias("n_disagreements"),
            F.coalesce(
                F.sum((F.col("kind") == "FALSE_POSITIVE").cast("long")), F.lit(0)
            ).alias("n_false_pos"),
            F.coalesce(
                F.sum((F.col("kind") == "FALSE_NEGATIVE").cast("long")), F.lit(0)
            ).alias("n_false_neg"),
        )
        .crossJoin(F.broadcast(df.agg(F.count("*").alias("n_records"))))
    )


@_q("genomics_vcf_write_roundtrip")
def genomics_vcf_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VCF WRITE path under the gate: read test.vcf, write a single-file
    BGZF VCF with a distributed .tbi into a per-run tempdir, then
    re-read through the FRESH index with an interval (20:1M-2M must
    .tbi-prune then keep exactly the 3 tail variants). Write, BGZF
    merge, .tbi build/merge, and indexed read all under the hash gate."""
    from disq_spark.cacheutil import gate_scratch_dir
    from disq_spark.functions.intervals import Interval
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.variants import read_vcf

    df, header = read_vcf(spark, os.path.join(FIXTURES, "test.vcf"))
    out = os.path.join(gate_scratch_dir("vcfw"), "out.vcf.bgz")
    # tabix requires coordinate-sorted input (the builder now REFUSES
    # unsorted records — a hash repartition here used to produce a
    # silently-corrupt index); range partitioning keeps global order
    # across the two parts
    two_parts = df.repartitionByRange(2, "contig", "start").sortWithinPartitions(
        "contig", "start"
    )
    write_vcf(two_parts, header, out, write_tbi=True)
    if not os.path.exists(out + ".tbi"):
        raise AssertionError(".tbi missing after single-file VCF write")
    back, _h = read_vcf(spark, out, intervals=[Interval("20", 1_000_000, 2_000_000)])
    return back.agg(
        F.count("*").alias("n_variants"),
        F.min("start").alias("min_pos"),
        F.max("start").alias("max_pos"),
        F.round(F.sum("qual"), 2).alias("sum_qual"),
    )


@_q("genomics_cram_write_roundtrip")
def genomics_cram_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAM WRITE path under the driver gate (it was pytest-only):
    decode valid.cram, write it back as a distributed single-file CRAM
    (+ merged .crai) into a per-run tempdir, re-read with our reader,
    and aggregate — the literals are the fixture's ground truth, so a
    regression anywhere in encode -> concat -> index-merge -> re-decode
    fails the hash gate."""
    from disq_spark.cacheutil import gate_scratch_dir
    from disq_spark.sinks.cram import write_cram
    from disq_spark.sources.cram_source import read_cram

    fasta = os.path.join(FIXTURES, "valid.fasta")
    df, header = read_cram(
        spark, os.path.join(FIXTURES, "valid.cram"), reference_path=fasta
    )
    out = os.path.join(gate_scratch_dir("cramw"), "out.cram")
    # valid.cram's header claims SO:coordinate — a hash repartition here
    # would scramble container order under a coordinate-claiming header
    # (the CRAM analog of the corruption the .bai/.tbi builders now
    # refuse); keep the sequence-dictionary order across the 3 parts
    from disq_spark.operators.genomics import coordinate_sort

    write_cram(
        coordinate_sort(df, header, num_partitions=3),
        header,
        out,
        reference_path=fasta,
    )
    if not os.path.exists(out + ".crai"):
        raise AssertionError("merged .crai missing after single-file CRAM write")
    back, _h = read_cram(spark, out, reference_path=fasta)
    return back.groupBy("contig").agg(
        F.count("*").alias("n_reads"),
        F.min("start").alias("min_pos"),
        F.max("end").alias("max_pos"),
        F.md5(
            F.concat_ws(
                "",
                F.sort_array(F.collect_list(F.concat_ws("|", "name", "cigar", "seq"))),
            )
        ).alias("content_md5"),
    ).orderBy("contig")


@_q("genomics_base_quality_profile")
def genomics_base_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BQSR-covariate-style per-base aggregation: every base of every
    primary mapped read exploded to (machine cycle, quality), with the
    strand-aware cycle flip (reverse reads run the machine backwards:
    cycle = len-1-i). The per-base explode (~75x row inflation) is the
    canonical genomics scale stressor; the aggregate stays map-side
    partial (8 output buckets). Golden literals derived from this
    pipeline; decode-layer independence comes from the qual round-trip
    suites."""
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    r = df.filter(
        (F.col("flags").bitwiseAND(4 + 256 + 2048) == 0) & F.col("qual").isNotNull()
    )
    per = r.select(
        F.col("flags"),
        F.length("qual").alias("len"),
        F.posexplode(
            F.expr(
                "transform(sequence(0, length(qual) - 1), "
                "i -> ascii(substring(qual, i + 1, 1)) - 33)"
            )
        ).alias("i", "q"),
    ).select(
        F.when(
            F.col("flags").bitwiseAND(16) != 0, F.col("len") - 1 - F.col("i")
        )
        .otherwise(F.col("i"))
        .alias("cycle"),
        "q",
    )
    return (
        per.groupBy((F.col("cycle") / 10).cast("long").alias("cycle_bucket"))
        .agg(
            F.count("*").alias("n_bases"),
            F.round(F.avg("q"), 4).alias("avg_q"),
            F.min("q").alias("min_q"),
            F.max("q").alias("max_q"),
        )
        .orderBy("cycle_bucket")
    )


@_q("genomics_sharded_bam_read")
def genomics_sharded_bam_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-of-shards read (the reference's sharded fixture,
    HtsjdkReadsRddTest testReadBamsInDirectory analog): part files are
    resolved in lexicographic order, share one header, and scan as one
    dataset — including the unplaced-unmapped tail (contig NULL)."""
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(
        spark,
        os.path.join(
            FIXTURES, "HiSeq.1mb.1RG.2k_lines.alternate.recalibrated.DIQ.sharded.bam"
        ),
    )
    return (
        df.groupBy(F.coalesce(F.col("contig"), F.lit("*")).alias("contig"))
        .agg(
            F.count("*").alias("n_reads"),
            F.sum(((F.col("flags").bitwiseAND(4)) == 0).cast("long")).alias("mapped"),
            F.min("start").alias("min_pos"),
            F.max("end").alias("max_pos"),
            F.round(F.avg("mapq"), 2).alias("avg_mapq"),
        )
        .orderBy("contig")
    )


@_q("genomics_materialized_interval")
def genomics_materialized_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Parquet resting state under the gate: BAM materialized once
    to contig-partitioned position-sorted Parquet (cacheutil-cached,
    code-version keyed), then the SAME interval aggregation as
    genomics_bam_interval_query — which must reproduce that gate's
    literals through partition pruning + row-group skipping instead of
    .bai spans. The scan plan is asserted to push the interval filter
    (PushedFilters on start/end)."""
    import tempfile

    from disq_spark.cacheutil import cache_key, ensure_cached_dir
    from disq_spark.functions.intervals import Interval
    from disq_spark.sinks.materialize import materialize_reads, read_materialized
    from disq_spark.sources.bam_source import read_bam

    src = os.path.join(FIXTURES, "1-with-splitting-index.bam")
    st = os.stat(src)
    cache = os.path.join(
        tempfile.gettempdir(),
        f"disq_gate_mat_{cache_key(src, st.st_mtime_ns, st.st_size)}",
    )

    def _build(tmp: str) -> None:
        df, header = read_bam(spark, src, split_size=200_000)
        materialize_reads(df, header, os.path.join(tmp, "data"), num_files_per_contig=4)

    ensure_cached_dir(cache, _build)
    iv = Interval("1", 24_800_000, 24_900_000)
    df, _h = read_materialized(spark, os.path.join(cache, "data"), intervals=[iv])
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # require the actual interval BOUNDS in PushedFilters — a plan that
    # pushes only IsNotNull would pass a mere non-empty check while the
    # row-group-skipping range predicates run post-scan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    if not pushed or not any("24900000" in ln and "24800000" in ln for ln in pushed):
        raise AssertionError(
            f"interval bounds did not reach the parquet scan: {pushed}\n{plan}"
        )
    return (
        df.groupBy((F.col("start") / 10_000).cast("long").alias("bucket"))
        .agg(F.count("*").alias("n_reads"), F.round(F.avg("mapq"), 2).alias("avg_mapq"))
        .orderBy("bucket")
    )


@_q("genomics_callable_loci")
def genomics_callable_loci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATK CallableLoci analog over the BAM fixture: exact per-base
    depth (two-level distributed prefix sum, coverage_depth) -> maximal
    depth>=4 intervals (gap-and-islands merge, callable_loci). Golden
    literals derived from this pipeline; independence comes from
    tests/test_operators.py::test_callable_loci_matches_bruteforce
    (per-base brute-force differential on the same fixture)."""
    from disq_spark.operators.genomics import callable_loci, coverage_depth
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    ci = callable_loci(coverage_depth(df), min_depth=4)
    return (
        ci.groupBy("contig")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("span").alias("callable_bases"),
            F.max("span").alias("max_span"),
            F.min("start").alias("first_start"),
            F.max("end").alias("last_end"),
        )
        .orderBy("contig")
    )


@_q("genomics_mark_duplicates")
def genomics_mark_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Picard-semantics mark_duplicates (unclipped-5' template keys,
    library pools from the header's 20 @RG -> 1 LB) over the BAM
    fixture. flagged_dup counts records with 0x400 AFTER marking — the
    union of the file's pre-existing Picard flags (885 records) and our
    calls; the golden value was recomputed by an independent serial
    implementation (which also catches 487/495 of the file's own
    Picard-flagged templates — residue is slice truncation: mates
    outside the 1:24.8-25M window)."""
    from disq_spark.operators.genomics import mark_duplicates
    from disq_spark.sources.bam_source import read_bam

    df, h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    marked = mark_duplicates(df, header=h)
    return marked.agg(
        F.count("*").alias("total"),
        F.sum((F.col("flags").bitwiseAND(1024) != 0).cast("long")).alias("flagged_dup"),
    )


# ---------------------------------------------------------------------------
# Golden-literal oracles. Values are the fixture ground truth, verified
# three ways: pytest differential suites (htsjdk-fixture round trips),
# the .sbi record count embedded in 1-with-splitting-index.bam.sbi, and
# reference test expectations (e.g. AnySamTestUtil-generated counts in
# HtsjdkReadsRddTest). Integer literals are CAST to BIGINT so DuckDB's
# INT32 literals hash-match Spark's LongType aggregates.
# ---------------------------------------------------------------------------
ORACLE["genomics_bam_flagstat"] = """
SELECT CAST(4917 AS BIGINT) AS total, CAST(4887 AS BIGINT) AS mapped,
       CAST(4917 AS BIGINT) AS paired, CAST(4840 AS BIGINT) AS proper_pair,
       CAST(885 AS BIGINT) AS duplicates, CAST(0 AS BIGINT) AS secondary
"""

ORACLE["genomics_bam_interval_query"] = """
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_reads AS BIGINT) AS n_reads,
       CAST(avg_mapq AS DOUBLE) AS avg_mapq
FROM (VALUES (2480, 7, 56.71), (2481, 9, 57.44), (2482, 8, 48.75),
             (2483, 8, 54.25), (2484, 624, 58.79), (2485, 694, 58.93),
             (2486, 140, 59.11)) AS t(bucket, n_reads, avg_mapq)
ORDER BY bucket
"""

ORACLE["genomics_vcf_by_contig"] = """
SELECT 'chr1' AS contig, CAST(8171 AS BIGINT) AS n_variants,
       CAST(0 AS BIGINT) AS n_multi_base, CAST(230.66 AS DOUBLE) AS avg_qual
"""

ORACLE["genomics_vcf_typed_info"] = """
SELECT * FROM (VALUES
  ('20', CAST(3450 AS BIGINT), CAST(35016 AS BIGINT), CAST(57.4718 AS DOUBLE),
   CAST(387 AS BIGINT), CAST(605 AS BIGINT), CAST(302.5 AS DOUBLE),
   CAST(0 AS BIGINT), CAST(2938 AS BIGINT), CAST(726458 AS BIGINT),
   CAST(121271 AS BIGINT)),
  ('21', CAST(16460 AS BIGINT), CAST(60603 AS BIGINT), CAST(29.6012 AS DOUBLE),
   CAST(755 AS BIGINT), CAST(735 AS BIGINT), CAST(367.5 AS DOUBLE),
   CAST(0 AS BIGINT), CAST(15642 AS BIGINT), CAST(322330 AS BIGINT),
   CAST(322523 AS BIGINT))
) AS t(contig, n, sum_dp, avg_mq, n_bq, sum_mleac1, sum_mleaf1, n_ds, n_end,
       sum_pl1, sum_min_dp)
ORDER BY contig
"""

ORACLE["genomics_cram_decode"] = """
SELECT contig, CAST(n_reads AS BIGINT) AS n_reads,
       CAST(min_pos AS BIGINT) AS min_pos, CAST(max_pos AS BIGINT) AS max_pos
FROM (VALUES ('20', 208, 9999902, 10000197),
             ('21', 446, 9999901, 10000199)) AS t(contig, n_reads, min_pos, max_pos)
ORDER BY contig
"""

# all_21 row == genomics_cram_decode's contig-21 literals (446 reads,
# 9999901-10000199) through the interval path — cross-path consistency.
ORACLE["genomics_cram_interval_query"] = """
SELECT * FROM (VALUES
  ('all_21', CAST(446 AS BIGINT), CAST(9999901 AS BIGINT),
   CAST(10000199 AS BIGINT), CAST(1847 AS BIGINT)),
  ('head_20', CAST(56 AS BIGINT), CAST(9999902 AS BIGINT),
   CAST(10000047 AS BIGINT), CAST(443 AS BIGINT)),
  ('mid_20', CAST(169 AS BIGINT), CAST(9999902 AS BIGINT),
   CAST(10000150 AS BIGINT), CAST(1118 AS BIGINT))
) AS t(region, n_reads, min_pos, max_pos, cigar_chars)
ORDER BY region
"""

# identical literals to genomics_bam_interval_query: same rows must come
# back through the Parquet partition-pruning path as through .bai spans.
ORACLE["genomics_materialized_interval"] = ORACLE["genomics_bam_interval_query"]


@_q("genomics_built_bai_interval_query")
def genomics_built_bai_interval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side distributed .bai construction (build_bai) under the
    gate: copy the .bai-less fixture into a cached dir, build its index
    in parallel, and run the SAME interval aggregate as
    genomics_bam_interval_query — now through .bai chunk pruning. The
    oracle is that gate's literals verbatim: the index-pruned traversal
    must be indistinguishable from the brute-force residual path, so an
    index that wrongly excludes a chunk (fragment build, merge, or
    pruning bug) loses rows and fails the hash."""
    import shutil
    import tempfile

    from disq_spark.cacheutil import cache_key, ensure_cached_dir
    from disq_spark.functions.intervals import Interval
    from disq_spark.sources.bam_source import build_bai, read_bam

    src = os.path.join(FIXTURES, "1-with-splitting-index.bam")
    st = os.stat(src)
    cache = os.path.join(
        tempfile.gettempdir(),
        f"disq_gate_bai_{cache_key(src, st.st_mtime_ns, st.st_size)}",
    )

    def _build(tmp: str) -> None:
        shutil.copy(src, os.path.join(tmp, "data.bam"))
        shutil.copy(src + ".sbi", os.path.join(tmp, "data.bam.sbi"))
        build_bai(spark, os.path.join(tmp, "data.bam"), split_size=200_000)

    ensure_cached_dir(cache, _build)
    bam = os.path.join(cache, "data.bam")
    if not os.path.exists(bam + ".bai"):
        raise AssertionError("build_bai produced no .bai")
    df, _h = read_bam(
        spark, bam, split_size=200_000,
        intervals=[Interval("1", 24_800_000, 24_900_000)],
    )
    return (
        df.groupBy((F.col("start") / 10_000).cast("long").alias("bucket"))
        .agg(F.count("*").alias("n_reads"), F.round(F.avg("mapq"), 2).alias("avg_mapq"))
        .orderBy("bucket")
    )


ORACLE["genomics_built_bai_interval_query"] = ORACLE["genomics_bam_interval_query"]

ORACLE["genomics_guesser_diagnostic"] = """
SELECT CAST(0 AS BIGINT) AS n_disagreements, CAST(0 AS BIGINT) AS n_false_pos,
       CAST(0 AS BIGINT) AS n_false_neg, CAST(4917 AS BIGINT) AS n_records
"""

ORACLE["genomics_vcf_write_roundtrip"] = """
SELECT CAST(3 AS BIGINT) AS n_variants, CAST(1110696 AS BIGINT) AS min_pos,
       CAST(1234567 AS BIGINT) AS max_pos, CAST(164.0 AS DOUBLE) AS sum_qual
"""

ORACLE["genomics_cram_write_roundtrip"] = """
SELECT * FROM (VALUES
  (CAST(NULL AS VARCHAR), CAST(1 AS BIGINT), CAST(NULL AS BIGINT),
   CAST(NULL AS BIGINT), 'bd23b6b4b1905accce1a1f448c38c69d'),
  ('chr7', CAST(7 AS BIGINT), CAST(1 AS BIGINT), CAST(402 AS BIGINT),
   'fb227fc960978598d88a36953b8cfbee')
) AS t(contig, n_reads, min_pos, max_pos, content_md5)
ORDER BY contig NULLS FIRST
"""

ORACLE["genomics_base_quality_profile"] = """
SELECT CAST(cb AS BIGINT) AS cycle_bucket, CAST(n AS BIGINT) AS n_bases,
       CAST(a AS DOUBLE) AS avg_q, CAST(mn AS INT) AS min_q, CAST(mx AS INT) AS max_q
FROM (VALUES
  (0, 48870, 32.1059, 1, 41), (1, 48870, 33.5588, 1, 42),
  (2, 48870, 33.8394, 1, 42), (3, 48870, 33.7306, 1, 42),
  (4, 48870, 33.486, 1, 43),  (5, 48870, 33.2225, 2, 43),
  (6, 48870, 32.6525, 1, 43), (7, 29322, 30.9093, 2, 43)
) AS t(cb, n, a, mn, mx)
ORDER BY cycle_bucket
"""

ORACLE["genomics_sharded_bam_read"] = """
SELECT * FROM (VALUES
  ('*', CAST(24 AS BIGINT), CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
   CAST(NULL AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('chr1', CAST(1650 AS BIGINT), CAST(1650 AS BIGINT), CAST(10069921 AS BIGINT),
   CAST(10100092 AS BIGINT), CAST(56.05 AS DOUBLE))
) AS t(contig, n_reads, mapped, min_pos, max_pos, avg_mapq)
ORDER BY contig
"""

ORACLE["genomics_callable_loci"] = """
SELECT '1' AS contig, CAST(12 AS BIGINT) AS n_intervals,
       CAST(5041 AS BIGINT) AS callable_bases, CAST(883 AS BIGINT) AS max_span,
       CAST(24795481 AS BIGINT) AS first_start, CAST(24981701 AS BIGINT) AS last_end
"""

ORACLE["genomics_mark_duplicates"] = """
SELECT CAST(4917 AS BIGINT) AS total, CAST(1084 AS BIGINT) AS flagged_dup
"""


@_q("genomics_vcf_interval_query")
def genomics_vcf_interval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.tbi-pruned interval traversal over the BGZF VCF fixture: splits
    whose tabix blocks miss chr1:1M-2M are dropped at plan time, then
    the residual overlap predicate is applied."""
    from disq_spark.functions.intervals import Interval
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(
        spark,
        os.path.join(FIXTURES, "HiSeq.10000.vcf.bgz"),
        split_size=64 * 1024,
        intervals=[Interval("chr1", 1_000_000, 2_000_000)],
    )
    return df.agg(
        F.count("*").alias("n_variants"),
        F.min("start").alias("min_pos"),
        F.max("start").alias("max_pos"),
        F.round(F.avg("qual"), 2).alias("avg_qual"),
    )


ORACLE["genomics_vcf_interval_query"] = """
SELECT CAST(1072 AS BIGINT) AS n_variants, CAST(1000580 AS BIGINT) AS min_pos,
       CAST(1999411 AS BIGINT) AS max_pos, CAST(164.89 AS DOUBLE) AS avg_qual
"""

# r_mid equals the genomics_vcf_interval_query literals (1072 / 164.89):
# the two queries cover the same chr1:1M-2M span through different code
# paths (tbi-pruned traversal vs BED interval join), a deliberate
# cross-check. r_empty / r_nocontig correctly produce no rows.
ORACLE["genomics_bed_annotate"] = """
SELECT * FROM (VALUES
  ('r_body', CAST(35 AS BIGINT), CAST(8.1 AS DOUBLE),
   CAST(117436 AS BIGINT), CAST(404035 AS BIGINT)),
  ('r_head', CAST(89 AS BIGINT), CAST(41.79 AS DOUBLE),
   CAST(109 AS BIGINT), CAST(98173 AS BIGINT)),
  ('r_mid', CAST(1072 AS BIGINT), CAST(164.89 AS DOUBLE),
   CAST(1000580 AS BIGINT), CAST(1999411 AS BIGINT)),
  ('r_tiny', CAST(1 AS BIGINT), CAST(219.18 AS DOUBLE),
   CAST(3000177 AS BIGINT), CAST(3000177 AS BIGINT))
) AS t(region, n_variants, avg_qual, min_pos, max_pos)
ORDER BY region
"""


@_q("genomics_bed_annotate")
def genomics_bed_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VCF x BED region annotation: per-region variant count/qual via the
    binned overlap join (operators/genomics.interval_join — equi-join on
    (contig, bin) + residual predicate + anchor-bin dedup; never a
    cartesian range join). Regions with no overlap (r_empty beyond the
    last variant, r_nocontig on an absent contig) must NOT appear.
    Golden truth computed by an independent gzip+text parse of the
    fixture (1-based closed overlap, end = POS + len(ref) - 1)."""
    from disq_spark.operators.genomics import interval_join
    from disq_spark.sources.bed import read_bed
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(
        spark,
        os.path.join(FIXTURES, "HiSeq.10000.vcf.bgz"),
        split_size=128 * 1024,
    )
    bed = read_bed(spark, os.path.join(REPO_FIXTURES, "hiseq_regions.bed"))
    j = interval_join(df.select("contig", "start", "end", "qual"), bed, right_prefix="r_")
    return (
        j.groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_variants"),
            F.round(F.avg("qual"), 2).alias("avg_qual"),
            F.min("start").alias("min_pos"),
            F.max("start").alias("max_pos"),
        )
        .orderBy("region")
    )


@_q("genomics_coverage")
def genomics_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned read-depth over the BAM fixture (samtools-depth analog,
    operators/genomics.coverage_bins): explode-to-bins + one partial-agg
    groupBy — shuffle is reads x bins-per-read, output genome/bin rows."""
    from disq_spark.operators.genomics import coverage_bins
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(
        spark,
        os.path.join(FIXTURES, "1-with-splitting-index.bam"),
        split_size=200_000,
    )
    return coverage_bins(df, bin_size=100_000).orderBy("contig", "bin")


ORACLE["genomics_coverage"] = """
SELECT contig, CAST(bin AS BIGINT) AS bin, CAST(bin_start AS BIGINT) AS bin_start,
       CAST(n_reads AS BIGINT) AS n_reads, CAST(mean_depth AS DOUBLE) AS mean_depth
FROM (VALUES ('1', 247, 24700001, 427, 0.3131),
             ('1', 248, 24800001, 1490, 1.0941),
             ('1', 249, 24900001, 3000, 2.1904)) AS t(contig, bin, bin_start, n_reads, mean_depth)
ORDER BY contig, bin
"""


@_q("genomics_depth_summary")
def genomics_depth_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-base depth (run-length segments via the two-level
    distributed prefix sum, operators/genomics.coverage_depth) reduced
    to per-contig totals: peak depth, total aligned bases, covered
    length — the whole-genome QC numbers a pipeline reports."""
    from disq_spark.operators.genomics import coverage_depth
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(
        spark,
        os.path.join(FIXTURES, "1-with-splitting-index.bam"),
        split_size=200_000,
    )
    seg = coverage_depth(df)
    covered = seg.filter(F.col("next_pos").isNotNull() & (F.col("depth") > 0))
    run = F.col("next_pos") - F.col("pos")
    return covered.groupBy("contig").agg(
        F.max("depth").alias("max_depth"),
        F.sum(run * F.col("depth")).alias("aligned_bases"),
        F.sum(run).alias("covered_len"),
    ).orderBy("contig")


ORACLE["genomics_depth_summary"] = """
SELECT '1' AS contig, CAST(313 AS BIGINT) AS max_depth,
       CAST(359757 AS BIGINT) AS aligned_bases, CAST(8568 AS BIGINT) AS covered_len
"""


@_q("genomics_insert_size")
def genomics_insert_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-size (template length) histogram — the library-QC metric
    every alignment pipeline reports. Proper pairs only, leftmost mate
    (tlen > 0) so each template counts once; 50 bp bins."""
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(
        spark,
        os.path.join(FIXTURES, "1-with-splitting-index.bam"),
        split_size=200_000,
        columns=["flags", "template_len"],
    )
    f = F.col("flags")
    proper_left = ((f.bitwiseAND(2)) != 0) & (F.col("template_len") > 0)
    return (
        df.filter(proper_left)
        .groupBy((F.col("template_len") / 50).cast("long").alias("bin50"))
        .agg(F.count("*").alias("n_templates"))
        .filter(F.col("n_templates") >= 10)
        .orderBy("bin50")
    )


@_q("genomics_gc_mapq")
def genomics_gc_mapq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-MAPQ-tier read counts with mean GC fraction of the read
    sequence — the contamination/quality cross-check. GC is counted
    with pure string expressions (codegen, no Python)."""
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(
        spark,
        os.path.join(FIXTURES, "1-with-splitting-index.bam"),
        split_size=200_000,
        columns=["flags", "mapq", "seq"],
    )
    mapped = df.filter((F.col("flags").bitwiseAND(4)) == 0)
    gc = F.length(F.regexp_replace(F.col("seq"), "[ATN]", "")) / F.length("seq")
    tier = (
        F.when(F.col("mapq") >= 60, "Q60+")
        .when(F.col("mapq") >= 30, "Q30-59")
        .when(F.col("mapq") >= 1, "Q1-29")
        .otherwise("Q0")
    )
    # per-read e4 rounding -> exact integer sum -> deterministic mean
    gc_e4 = F.round(gc * 10000, 0).cast("long")
    return (
        mapped.groupBy(tier.alias("mapq_tier"))
        .agg(
            F.count("*").alias("n_reads"),
            F.round(F.sum(gc_e4) / (10000.0 * F.count("*")), 4).alias("mean_gc"),
        )
        .orderBy("mapq_tier")
    )


ORACLE["genomics_insert_size"] = """
SELECT CAST(bin50 AS BIGINT) AS bin50, CAST(n_templates AS BIGINT) AS n_templates
FROM (VALUES (1, 186), (2, 769), (3, 737), (4, 370),
             (5, 168), (6, 51), (7, 20)) AS t(bin50, n_templates)
ORDER BY bin50
"""

ORACLE["genomics_gc_mapq"] = """
SELECT mapq_tier, CAST(n_reads AS BIGINT) AS n_reads, CAST(mean_gc AS DOUBLE) AS mean_gc
FROM (VALUES ('Q0', 1, 0.4211), ('Q1-29', 131, 0.45),
             ('Q30-59', 75, 0.4311), ('Q60+', 4680, 0.4353)) AS t(mapq_tier, n_reads, mean_gc)
ORDER BY mapq_tier
"""


@_q("genomics_fastq_stats")
def genomics_fastq_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splittable FASTQ scan (beyond-reference format; repo fixture) ->
    per-lane read stats: count, mean length, mean base quality — the
    pre-alignment QC numbers. Small split size so the gate exercises the
    record-start snap."""
    from disq_spark.sources.fastq import read_fastq

    df = read_fastq(spark, os.path.join(REPO_FIXTURES, "sample.fastq"), split_size=8192)
    # mean phred: per-read integer sum of (ord(q)-33) -> exact bigint
    qsum = F.expr(
        "aggregate(transform(split(qual, ''), c -> ascii(c) - 33), 0L, (a, x) -> a + x)"
    )
    lane = F.coalesce(
        F.regexp_extract("comment", r"lane=(\d+)", 1), F.lit("unknown")
    )
    return (
        df.groupBy(lane.alias("lane"))
        .agg(
            F.count("*").alias("n_reads"),
            F.round(F.sum(F.length("seq")) / F.count("*"), 4).alias("mean_len"),
            F.round(F.sum(qsum) / F.sum(F.length("seq")), 4).alias("mean_qual"),
        )
        .orderBy("lane")
    )


ORACLE["genomics_fastq_stats"] = """
SELECT lane, CAST(n_reads AS BIGINT) AS n_reads,
       CAST(mean_len AS DOUBLE) AS mean_len, CAST(mean_qual AS DOUBLE) AS mean_qual
FROM (VALUES ('0', 125, 75.632, 19.8906),
             ('2', 125, 80.288, 20.0052),
             ('unknown', 250, 82.592, 20.0192)) AS t(lane, n_reads, mean_len, mean_qual)
ORDER BY lane
"""


@_q("genomics_allele_stats")
def genomics_allele_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genotype-level VCF analytics: per genotype class (hom-ref / het /
    hom-alt / other), site counts, mean depth (DP) and mean quality —
    array/map extraction staying entirely in Column expressions (one
    explode, one partial-agg groupBy)."""
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "HiSeq.10000.vcf.bgz"))
    g = F.explode("genotypes").alias("g")
    gt = F.col("g.gt")
    gclass = (
        F.when(gt.isin("0/0", "0|0"), "hom_ref")
        .when(gt.isin("1/1", "1|1"), "hom_alt")
        .when(gt.isin("0/1", "1/0", "0|1", "1|0"), "het")
        .otherwise("other")
    )
    dp = F.col("g.attrs")["DP"].cast("long")
    q_e2 = F.round(F.col("qual") * 100, 0).cast("long")  # exact int sum
    return (
        df.select("qual", g)
        .select(gclass.alias("gt_class"), dp.alias("dp"), q_e2.alias("q_e2"))
        .groupBy("gt_class")
        .agg(
            F.count("*").alias("n_sites"),
            F.sum("dp").alias("total_depth"),
            F.round(F.sum("dp") / F.count("*"), 2).alias("mean_depth"),
            F.round(F.sum("q_e2") / (100.0 * F.count("*")), 2).alias("mean_qual"),
        )
        .orderBy("gt_class")
    )


ORACLE["genomics_allele_stats"] = """
SELECT gt_class, CAST(n_sites AS BIGINT) AS n_sites,
       CAST(total_depth AS BIGINT) AS total_depth,
       CAST(mean_depth AS DOUBLE) AS mean_depth,
       CAST(mean_qual AS DOUBLE) AS mean_qual
FROM (VALUES ('het', 6073, 446062, 73.45, 211.29),
             ('hom_alt', 2098, 116399, 55.48, 286.72)) AS t(gt_class, n_sites, total_depth, mean_depth, mean_qual)
ORDER BY gt_class
"""


@_q("genomics_reference_profile")
def genomics_reference_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-genome windowed analytics (repo fixture): per contig,
    GC fraction and N fraction from the distributed FASTA window scan —
    planning reads only the .fai, each task seeks its window."""
    from disq_spark.sources.fasta import read_fasta_windows

    w = read_fasta_windows(spark, os.path.join(REPO_FIXTURES, "ref.fa"), window=5000)
    gc = F.length(F.regexp_replace("seq", "[ATN]", ""))
    nn = F.length(F.regexp_replace("seq", "[^N]", ""))
    return (
        w.groupBy("contig")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.length("seq")).alias("n_bases"),
            F.round(F.sum(gc) / F.sum(F.length("seq")), 4).alias("gc_frac"),
            F.round(F.sum(nn) / F.sum(F.length("seq")), 4).alias("n_frac"),
        )
        .orderBy("contig")
    )


ORACLE["genomics_reference_profile"] = """
SELECT contig, CAST(n_windows AS BIGINT) AS n_windows, CAST(n_bases AS BIGINT) AS n_bases,
       CAST(gc_frac AS DOUBLE) AS gc_frac, CAST(n_frac AS DOUBLE) AS n_frac
FROM (VALUES ('chrA', 6, 30000, 0.4012, 0.0017),
             ('chrB', 5, 21000, 0.4034, 0.0024),
             ('chrM', 1, 1200, 0.3767, 0.0417)) AS t(contig, n_windows, n_bases, gc_frac, n_frac)
ORDER BY contig
"""


@_q("genomics_reference_kmer_spectrum")
def genomics_reference_kmer_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-mer spectrum over the reference windows: overlap =
    k-1 gives every boundary-spanning k-mer exactly one owner, so one
    explode + one partial-agg groupBy counts the whole genome. Top 10
    5-mers (no N)."""
    from disq_spark.sources.fasta import read_fasta_windows

    k = 5
    w = read_fasta_windows(spark, os.path.join(REPO_FIXTURES, "ref.fa"), window=5000, overlap=k - 1)
    kmers = w.select(
        F.explode(
            F.expr(
                f"filter(transform(sequence(1, cast(end - start + 1 as int)), "
                f"i -> substring(seq, i, {k})), s -> length(s) = {k} AND NOT contains(s, 'N'))"
            )
        ).alias("kmer")
    )
    return (
        kmers.groupBy("kmer")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "kmer")
        .limit(10)
    )


ORACLE["genomics_reference_kmer_spectrum"] = """
SELECT kmer, CAST(n AS BIGINT) AS n
FROM (VALUES ('TTATA', 158), ('TTAAT', 144), ('ATTAT', 143), ('AAAAA', 135),
             ('TAAAT', 134), ('TTTTA', 129), ('AAATT', 127), ('TATAA', 126),
             ('AAAAT', 125), ('TTTAA', 123)) AS t(kmer, n)
ORDER BY n DESC, kmer
"""


@_q("genomics_idxstats")
def genomics_idxstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """samtools-idxstats analog, O(index size): write the fixture through
    the single-file sink (which builds the .bai during the write), then
    answer per-contig read counts from the index metadata pseudo-bins
    alone — zero data-scan tasks. Also a sink+index round-trip: wrong
    .bai metadata or a broken merge shows up as a wrong count here."""
    import tempfile

    from disq_spark.cacheutil import cache_key, ensure_cached_dir
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sources.bam_source import bam_idxstats, read_bam

    src = os.path.join(FIXTURES, "1-with-splitting-index.bam")
    # cache the re-encoded copy per (fixture identity, code version):
    # repeated gate runs reuse it, but any disq_spark code change
    # invalidates it so the write/.bai round-trip is re-exercised
    st = os.stat(src)
    key = cache_key(src, st.st_mtime_ns, st.st_size)
    cache = os.path.join(tempfile.gettempdir(), f"idxstats_{key}")

    def _build(tmp: str) -> None:
        df, header = read_bam(spark, src, split_size=200_000)
        write_bam(df, header, os.path.join(tmp, "indexed.bam"), write_bai=True)

    ensure_cached_dir(cache, _build)
    stats = bam_idxstats(spark, os.path.join(cache, "indexed.bam"))
    return (
        stats.filter((F.col("n_mapped") > 0) | (F.col("n_unmapped") > 0))
        .orderBy("contig")
    )


ORACLE["genomics_idxstats"] = """
SELECT '1' AS contig, CAST(249250621 AS BIGINT) AS length,
       CAST(4887 AS BIGINT) AS n_mapped, CAST(30 AS BIGINT) AS n_unmapped
"""


@_q("genomics_titv")
def genomics_titv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition/transversion ratio — the standard VCF QC metric (a
    well-called human dataset sits near 2.0-2.1; random noise at 0.5).
    Pure Column expressions over biallelic SNVs from the splittable
    BGZF scan; one scalar aggregate."""
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(
        spark, os.path.join(FIXTURES, "HiSeq.10000.vcf.bgz"), split_size=64 * 1024
    )
    snv = df.filter(
        (F.length("ref") == 1)
        & (F.size("alts") == 1)
        & (F.length(F.element_at("alts", 1)) == 1)
    ).select(
        F.concat(F.col("ref"), F.element_at("alts", 1)).alias("pair")
    )
    is_ti = F.col("pair").isin("AG", "GA", "CT", "TC")
    return snv.agg(
        F.sum(is_ti.cast("long")).alias("n_ti"),
        F.sum((~is_ti).cast("long")).alias("n_tv"),
        F.round(
            F.sum(is_ti.cast("long")) * 1.0 / F.sum((~is_ti).cast("long")), 4
        ).alias("titv"),
    )


ORACLE["genomics_titv"] = """
SELECT CAST(5574 AS BIGINT) AS n_ti, CAST(2597 AS BIGINT) AS n_tv,
       CAST(2.1463 AS DOUBLE) AS titv
"""


@_q("genomics_downsample")
def genomics_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-atomic deterministic downsampling (samtools view -s
    analog): hash-of-name filter keeps mate pairs together under any
    partitioning; the exact kept-set is reproducible, hence the golden
    literal."""
    from disq_spark.operators.genomics import downsample_reads
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    kept = downsample_reads(df, 0.25)
    return kept.agg(
        F.count("*").alias("n_reads"),
        F.countDistinct("name").alias("n_templates"),
    )


ORACLE["genomics_downsample"] = """
SELECT CAST(1282 AS BIGINT) AS n_reads, CAST(704 AS BIGINT) AS n_templates
"""


@_q("genomics_pileup")
def genomics_pileup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed mpileup (per-position base counts from a pure-SQL
    CIGAR walk — no Python in the row path) over the 4917-read fixture,
    rolled up to 5 kb buckets. Golden literals were generated by an
    independent serial Python walk (the same implementation that the
    differential test tests/test_operators.py::
    test_pileup_matches_serial_walk checks position-by-position)."""
    from disq_spark.operators.genomics import pileup
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"), split_size=200_000)
    p = pileup(df, min_base_quality=13)
    return (
        p.groupBy("contig", (F.col("pos") / 5000).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_positions"),
            F.sum("depth").alias("sum_depth"),
            F.max("depth").alias("max_depth"),
            F.sum("n_del").alias("n_del"),
            F.sum("n_ins").alias("n_ins"),
        )
        .orderBy("contig", "bucket")
    )


ORACLE["genomics_pileup"] = """
SELECT contig, CAST(bucket AS BIGINT) AS bucket,
       CAST(n_positions AS BIGINT) AS n_positions,
       CAST(sum_depth AS BIGINT) AS sum_depth,
       CAST(max_depth AS BIGINT) AS max_depth,
       CAST(n_del AS BIGINT) AS n_del, CAST(n_ins AS BIGINT) AS n_ins
FROM (VALUES
  ('1', 4959, 378, 24136, 223, 1, 0),
  ('1', 4960, 333, 377, 2, 0, 0),
  ('1', 4961, 88, 152, 2, 0, 0),
  ('1', 4962, 490, 538, 2, 0, 0),
  ('1', 4963, 76, 76, 1, 0, 0),
  ('1', 4965, 330, 389, 2, 2, 0),
  ('1', 4966, 303, 303, 1, 0, 0),
  ('1', 4967, 304, 304, 1, 0, 0),
  ('1', 4968, 692, 36286, 163, 2, 0),
  ('1', 4971, 1369, 40334, 114, 7, 3),
  ('1', 4972, 371, 7986, 56, 2, 0),
  ('1', 4994, 476, 19174, 151, 0, 0),
  ('1', 4995, 2673, 92835, 244, 13, 4),
  ('1', 4996, 612, 57514, 203, 0, 0)
) AS t(contig, bucket, n_positions, sum_depth, max_depth, n_del, n_ins)
ORDER BY contig, bucket
"""


@_q("genomics_pileup_mismatch")
def genomics_pileup_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-aware pileup: CRAM decode (reference-based), FASTA
    window source exploded to per-base reference rows, equi-join on
    (contig, pos), mismatch = aligned non-reference bases. Totals were
    recomputed serially (independent walk + .fai random access)."""
    from disq_spark.operators.genomics import pileup, pileup_mismatch
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows

    fasta = os.path.join(FIXTURES, "valid.fasta")
    df, _h = read_cram(spark, os.path.join(FIXTURES, "valid.cram"), reference_path=fasta)
    m = pileup_mismatch(pileup(df), read_fasta_windows(spark, fasta, window=1000))
    return m.groupBy("contig").agg(
        F.count("*").alias("n_positions"),
        F.sum("depth").alias("sum_depth"),
        F.max("depth").alias("max_depth"),
        F.sum("n_mismatch").alias("n_mismatch"),
        F.sum("n_del").alias("n_del"),
        F.sum("n_ins").alias("n_ins"),
    ).orderBy("contig")


ORACLE["genomics_pileup_mismatch"] = """
SELECT 'chr7' AS contig, CAST(222 AS BIGINT) AS n_positions,
       CAST(602 AS BIGINT) AS sum_depth, CAST(4 AS BIGINT) AS max_depth,
       CAST(366 AS BIGINT) AS n_mismatch, CAST(1 AS BIGINT) AS n_del,
       CAST(1 AS BIGINT) AS n_ins
"""


@_q("genomics_call_snvs")
def genomics_call_snvs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive SNV candidate caller (mpileup -> candidate-sites step) over
    the CRAM fixture: CIGAR-walk pileup, reference join, argmax
    non-reference base with depth/count/fraction floors. Golden rows
    were recomputed by an independent serial walk (regex CIGAR parse,
    direct FASTA text read, plain-Python argmax) — only the CRAM decode
    is shared with the Spark path, and that is gated separately."""
    from disq_spark.operators.genomics import call_snvs, pileup, pileup_mismatch
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows

    fasta = os.path.join(FIXTURES, "valid.fasta")
    df, _h = read_cram(spark, os.path.join(FIXTURES, "valid.cram"), reference_path=fasta)
    m = pileup_mismatch(pileup(df), read_fasta_windows(spark, fasta, window=1000))
    return call_snvs(m, min_depth=2, min_alt_count=2, min_alt_frac=0.25).orderBy(
        "contig", "pos"
    )


ORACLE["genomics_call_snvs"] = """
SELECT contig, CAST(pos AS BIGINT) AS pos, ref_base, alt_base,
       CAST(depth AS BIGINT) AS depth, CAST(alt_count AS BIGINT) AS alt_count,
       CAST(alt_frac AS DOUBLE) AS alt_frac
FROM (VALUES
  ('chr7', 10, 'G', 'C', 2, 2, 1.0),
  ('chr7', 22, 'T', 'A', 4, 2, 0.5),
  ('chr7', 23, 'T', 'A', 4, 2, 0.5),
  ('chr7', 38, 'C', 'T', 4, 2, 0.5),
  ('chr7', 44, 'G', 'T', 4, 2, 0.5),
  ('chr7', 47, 'A', 'G', 4, 2, 0.5),
  ('chr7', 50, 'G', 'T', 4, 2, 0.5),
  ('chr7', 55, 'C', 'T', 4, 2, 0.5),
  ('chr7', 64, 'C', 'G', 4, 2, 0.5),
  ('chr7', 74, 'G', 'T', 4, 2, 0.5),
  ('chr7', 75, 'A', 'C', 4, 2, 0.5),
  ('chr7', 96, 'C', 'T', 4, 2, 0.5),
  ('chr7', 97, 'C', 'T', 4, 2, 0.5),
  ('chr7', 99, 'G', 'A', 4, 2, 0.5),
  ('chr7', 104, 'G', 'C', 2, 2, 1.0),
  ('chr7', 107, 'G', 'A', 2, 2, 1.0),
  ('chr7', 109, 'A', 'C', 2, 2, 1.0),
  ('chr7', 303, 'A', 'C', 2, 2, 1.0),
  ('chr7', 304, 'A', 'G', 2, 2, 1.0),
  ('chr7', 307, 'C', 'G', 2, 2, 1.0),
  ('chr7', 308, 'G', 'C', 2, 2, 1.0),
  ('chr7', 309, 'G', 'A', 2, 2, 1.0),
  ('chr7', 310, 'C', 'T', 2, 2, 1.0),
  ('chr7', 311, 'A', 'C', 2, 2, 1.0),
  ('chr7', 317, 'A', 'T', 2, 2, 1.0),
  ('chr7', 321, 'C', 'T', 2, 2, 1.0),
  ('chr7', 327, 'G', 'A', 2, 2, 1.0),
  ('chr7', 329, 'A', 'C', 2, 2, 1.0),
  ('chr7', 333, 'A', 'C', 2, 2, 1.0),
  ('chr7', 334, 'A', 'C', 2, 2, 1.0),
  ('chr7', 337, 'T', 'C', 2, 2, 1.0),
  ('chr7', 339, 'C', 'G', 2, 2, 1.0),
  ('chr7', 340, 'C', 'A', 2, 2, 1.0),
  ('chr7', 343, 'C', 'G', 2, 2, 1.0),
  ('chr7', 347, 'T', 'G', 2, 2, 1.0),
  ('chr7', 351, 'C', 'G', 2, 2, 1.0),
  ('chr7', 365, 'G', 'T', 2, 2, 1.0),
  ('chr7', 374, 'G', 'T', 2, 2, 1.0),
  ('chr7', 384, 'G', 'C', 2, 2, 1.0),
  ('chr7', 385, 'T', 'G', 2, 2, 1.0),
  ('chr7', 390, 'C', 'G', 2, 2, 1.0),
  ('chr7', 397, 'A', 'C', 2, 2, 1.0),
  ('chr7', 398, 'G', 'A', 2, 2, 1.0)
) AS t(contig, pos, ref_base, alt_base, depth, alt_count, alt_frac)
ORDER BY contig, pos
"""


@_q("genomics_pileup_indels")
def genomics_pileup_indels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mpileup-style indel observations (+N<seq> / -N, anchored to the
    aligned base left of the run) over the 4917-read fixture. Golden
    literals were generated by an independent serial CIGAR walk (regex
    parse, explicit offsets) over the same fixture; the Spark path is a
    shuffle-free higher-order-function walk emitting one event per I/D
    op (operators/genomics.py _INDEL_EVENTS_SQL)."""
    from disq_spark.operators.genomics import pileup_indels
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"), split_size=200_000)
    return pileup_indels(df).orderBy("contig", "pos", "indel")


ORACLE["genomics_pileup_indels"] = """
SELECT contig, CAST(pos AS BIGINT) AS pos, indel, CAST(count AS BIGINT) AS count
FROM (VALUES
  ('1', 24795815, '-1', 1),
  ('1', 24828757, '-2', 1),
  ('1', 24840789, '-1', 1),
  ('1', 24841007, '-1', 1),
  ('1', 24857657, '+1T', 2),
  ('1', 24857657, '-1', 5),
  ('1', 24857657, '-2', 1),
  ('1', 24859606, '+1C', 1),
  ('1', 24861641, '-2', 1),
  ('1', 24975409, '-2', 1),
  ('1', 24978892, '+1A', 2),
  ('1', 24978892, '-1', 5),
  ('1', 24978892, '-2', 2),
  ('1', 24978908, '-1', 2),
  ('1', 24978983, '+1A', 2)
) AS t(contig, pos, indel, count)
ORDER BY contig, pos, indel
"""


@_q("genomics_call_indels")
def genomics_call_indels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indel candidate caller (the +N/-N sibling of call_snvs): argmax
    indel allele per anchor position joined against the pileup depth,
    with depth/count/fraction floors. Golden rows recomputed serially
    (independent walk computing anchor depth and allele counts)."""
    from disq_spark.operators.genomics import call_indels, pileup, pileup_indels
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"), split_size=200_000)
    return call_indels(
        pileup_indels(df), pileup(df), min_depth=2, min_count=2, min_frac=0.03
    ).orderBy("contig", "pos")


ORACLE["genomics_call_indels"] = """
SELECT contig, CAST(pos AS BIGINT) AS pos, indel, CAST(depth AS BIGINT) AS depth,
       CAST(indel_count AS BIGINT) AS indel_count, CAST(indel_frac AS DOUBLE) AS indel_frac
FROM (VALUES
  ('1', 24857657, '-1', 43, 5, 0.1163),
  ('1', 24978892, '-1', 23, 5, 0.2174),
  ('1', 24978908, '-1', 41, 2, 0.0488),
  ('1', 24978983, '+1A', 55, 2, 0.0364)
) AS t(contig, pos, indel, depth, indel_count, indel_frac)
ORDER BY contig, pos
"""


@_q("genomics_snv_vcf_pipeline")
def genomics_snv_vcf_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end variant pipeline under one gate: CRAM read → pileup →
    reference-mismatch join → call_snvs → snvs_to_variants → single-file
    BGZF VCF write with a distributed .tbi → .tbi-pruned interval
    re-read through our VCF source. This is the first query exercising a
    read SOURCE and a variant SINK in one plan — the integration the
    reference's separate HtsjdkReadsRdd/HtsjdkVariantsRdd APIs cannot
    express. Golden rows are the chr7:100-350 slice of the
    genomics_call_snvs ground truth (independent serial-walk literals)."""
    from disq_spark.cacheutil import gate_scratch_dir
    from disq_spark.functions.intervals import Interval
    from disq_spark.operators.genomics import (
        call_snvs,
        candidate_vcf_header,
        pileup,
        pileup_mismatch,
        snvs_to_variants,
    )
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows
    from disq_spark.sources.variants import read_vcf

    fasta = os.path.join(FIXTURES, "valid.fasta")
    df, header = read_cram(
        spark, os.path.join(FIXTURES, "valid.cram"), reference_path=fasta
    )
    m = pileup_mismatch(pileup(df), read_fasta_windows(spark, fasta, window=1000))
    snvs = call_snvs(m, min_depth=2, min_alt_count=2, min_alt_frac=0.25)
    # tabix needs coordinate order across parts: range-partition on the
    # same key the .tbi bins on
    variants = (
        snvs_to_variants(snvs)
        .repartitionByRange(2, "contig", "start")
        .sortWithinPartitions("contig", "start")
    )
    out = os.path.join(gate_scratch_dir("snvvcf"), "candidates.vcf.bgz")
    write_vcf(variants, candidate_vcf_header(header.sequences), out, write_tbi=True)
    if not os.path.exists(out + ".tbi"):
        raise AssertionError(".tbi missing after candidate VCF write")
    back, _h = read_vcf(spark, out, intervals=[Interval("chr7", 100, 350)])
    return back.select(
        "contig",
        F.col("start").alias("pos"),
        F.col("ref").alias("ref_base"),
        F.col("alts")[0].alias("alt_base"),
        F.col("info")["DP"].cast("long").alias("depth"),
        F.col("info")["AD"].cast("long").alias("alt_count"),
        F.col("info")["AF"].cast("double").alias("alt_frac"),
    ).orderBy("contig", "pos")


ORACLE["genomics_snv_vcf_pipeline"] = """
SELECT contig, CAST(pos AS BIGINT) AS pos, ref_base, alt_base,
       CAST(depth AS BIGINT) AS depth, CAST(alt_count AS BIGINT) AS alt_count,
       CAST(alt_frac AS DOUBLE) AS alt_frac
FROM (VALUES
  ('chr7', 104, 'G', 'C', 2, 2, 1.0),
  ('chr7', 107, 'G', 'A', 2, 2, 1.0),
  ('chr7', 109, 'A', 'C', 2, 2, 1.0),
  ('chr7', 303, 'A', 'C', 2, 2, 1.0),
  ('chr7', 304, 'A', 'G', 2, 2, 1.0),
  ('chr7', 307, 'C', 'G', 2, 2, 1.0),
  ('chr7', 308, 'G', 'C', 2, 2, 1.0),
  ('chr7', 309, 'G', 'A', 2, 2, 1.0),
  ('chr7', 310, 'C', 'T', 2, 2, 1.0),
  ('chr7', 311, 'A', 'C', 2, 2, 1.0),
  ('chr7', 317, 'A', 'T', 2, 2, 1.0),
  ('chr7', 321, 'C', 'T', 2, 2, 1.0),
  ('chr7', 327, 'G', 'A', 2, 2, 1.0),
  ('chr7', 329, 'A', 'C', 2, 2, 1.0),
  ('chr7', 333, 'A', 'C', 2, 2, 1.0),
  ('chr7', 334, 'A', 'C', 2, 2, 1.0),
  ('chr7', 337, 'T', 'C', 2, 2, 1.0),
  ('chr7', 339, 'C', 'G', 2, 2, 1.0),
  ('chr7', 340, 'C', 'A', 2, 2, 1.0),
  ('chr7', 343, 'C', 'G', 2, 2, 1.0),
  ('chr7', 347, 'T', 'G', 2, 2, 1.0)
) AS t(contig, pos, ref_base, alt_base, depth, alt_count, alt_frac)
ORDER BY contig, pos
"""


@_q("genomics_duplication_metrics")
def genomics_duplication_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Picard DuplicationMetrics analog over 1.bam: per-library pair/
    fragment duplicate counts, OPTICAL duplicates (name-parsed tile:x:y
    union-find within duplicate sets), percent duplication, and the
    Lander-Waterman estimated library size. Golden row verified by an
    independent serial implementation (tests/test_operators.py::
    test_duplication_metrics_matches_serial_picard)."""
    from disq_spark.operators.genomics import duplication_metrics
    from disq_spark.sources.bam_source import read_bam

    df, header = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    return duplication_metrics(df, header=header, optical_pixel_distance=100).orderBy(
        "library"
    )


ORACLE["genomics_duplication_metrics"] = """
SELECT library,
       CAST(unpaired_reads_examined AS BIGINT) AS unpaired_reads_examined,
       CAST(read_pairs_examined AS BIGINT) AS read_pairs_examined,
       CAST(secondary_or_supplementary_rds AS BIGINT) AS secondary_or_supplementary_rds,
       CAST(unmapped_reads AS BIGINT) AS unmapped_reads,
       CAST(unpaired_read_duplicates AS BIGINT) AS unpaired_read_duplicates,
       CAST(read_pair_duplicates AS BIGINT) AS read_pair_duplicates,
       CAST(read_pair_optical_duplicates AS BIGINT) AS read_pair_optical_duplicates,
       CAST(percent_duplication AS DOUBLE) AS percent_duplication,
       CAST(estimated_library_size AS BIGINT) AS estimated_library_size
FROM (VALUES
  ('Pond-139157', 501, 2193, 0, 30, 297, 389, 1, 0.219971, 5437)
) AS t(library, unpaired_reads_examined, read_pairs_examined,
       secondary_or_supplementary_rds, unmapped_reads, unpaired_read_duplicates,
       read_pair_duplicates, read_pair_optical_duplicates, percent_duplication,
       estimated_library_size)
ORDER BY library
"""


@_q("genomics_bqsr_table")
def genomics_bqsr_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATK-BaseRecalibrator-style covariate table over the CRAM fixture:
    per-aligned-base (read group, reported Q, cycle, dinucleotide
    context) observation/mismatch counts vs the reference, rolled up to
    a compact shape (contexts exact, cycles in signed 25-cycle buckets,
    reported-Q marginals per Q). Golden rows derived from an independent
    serial walk (tests/test_operators.py::
    test_bqsr_table_matches_serial_walk pins the full 496-row table)."""
    from disq_spark.operators.genomics import bqsr_table
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows

    fasta = os.path.join(FIXTURES, "valid.fasta")
    df, _h = read_cram(spark, os.path.join(FIXTURES, "valid.cram"), reference_path=fasta)
    t = bqsr_table(df, read_fasta_windows(spark, fasta, window=1000))
    cyc = F.col("covariate_value").cast("int")
    cv = (
        F.when(F.col("covariate_name") == "q", F.col("q").cast("string"))
        .when(
            F.col("covariate_name") == "cycle",
            F.concat(
                F.when(cyc < 0, F.lit("-")).otherwise(F.lit("+")),
                ((F.abs(cyc) - 1) / 25).cast("long").cast("string"),
            ),
        )
        .otherwise(F.col("covariate_value"))
    )
    emp = -10.0 * F.log10((F.col("n_mismatches") + 1) / (F.col("n_observations") + 2))
    return (
        t.withColumn("covariate_value", cv)
        .groupBy("read_group", "covariate_name", "covariate_value")
        .agg(
            F.sum("n_observations").alias("n_observations"),
            F.sum("n_mismatches").alias("n_mismatches"),
        )
        .withColumn("empirical_q", F.round(emp, 4))
        .orderBy("read_group", "covariate_name", "covariate_value")
    )


ORACLE["genomics_bqsr_table"] = """
SELECT read_group, covariate_name, covariate_value,
       CAST(n_observations AS BIGINT) AS n_observations,
       CAST(n_mismatches AS BIGINT) AS n_mismatches,
       CAST(empirical_q AS DOUBLE) AS empirical_q
FROM (VALUES
  ('default', 'context', 'AA', 36, 12, 4.6584),
  ('default', 'context', 'AC', 22, 13, 2.3408),
  ('default', 'context', 'AG', 30, 18, 2.264),
  ('default', 'context', 'AT', 30, 18, 2.264),
  ('default', 'context', 'CA', 36, 19, 2.7875),
  ('default', 'context', 'CC', 20, 13, 1.9629),
  ('default', 'context', 'CG', 37, 23, 2.1085),
  ('default', 'context', 'CT', 22, 11, 3.0103),
  ('default', 'context', 'GA', 39, 17, 3.5751),
  ('default', 'context', 'GC', 35, 18, 2.8945),
  ('default', 'context', 'GG', 33, 12, 4.3012),
  ('default', 'context', 'GT', 24, 15, 2.1085),
  ('default', 'context', 'TA', 12, 11, 0.6695),
  ('default', 'context', 'TC', 36, 24, 1.8184),
  ('default', 'context', 'TG', 26, 14, 2.7107),
  ('default', 'context', 'TT', 35, 23, 1.8799),
  ('default', 'cycle', '+0', 67, 19, 5.3782),
  ('default', 'cycle', '+1', 50, 21, 3.7358),
  ('default', 'cycle', '+2', 58, 11, 6.9897),
  ('default', 'cycle', '+3', 69, 22, 4.8953),
  ('default', 'cycle', '+4', 2, 0, 6.0206),
  ('default', 'cycle', '-0', 63, 41, 1.8966),
  ('default', 'cycle', '-1', 64, 56, 0.6367),
  ('default', 'cycle', '-2', 72, 57, 1.058),
  ('default', 'cycle', '-3', 71, 55, 1.1513),
  ('default', 'cycle', '-4', 3, 2, 2.2185),
  ('default', 'q', '10', 25, 18, 1.5261),
  ('default', 'q', '11', 20, 8, 3.8818),
  ('default', 'q', '12', 30, 18, 2.264),
  ('default', 'q', '13', 42, 19, 3.4242),
  ('default', 'q', '14', 74, 42, 2.4735),
  ('default', 'q', '15', 16, 8, 3.0103),
  ('default', 'q', '16', 18, 14, 1.2494),
  ('default', 'q', '17', 21, 9, 3.6173),
  ('default', 'q', '18', 21, 12, 2.4778),
  ('default', 'q', '19', 10, 4, 3.8021),
  ('default', 'q', '20', 20, 14, 1.6633),
  ('default', 'q', '21', 32, 17, 2.7621),
  ('default', 'q', '23', 8, 5, 2.2185),
  ('default', 'q', '5', 56, 29, 2.8631),
  ('default', 'q', '6', 28, 20, 1.549),
  ('default', 'q', '8', 60, 30, 3.0103),
  ('default', 'q', '9', 38, 17, 3.4679)
) AS t(read_group, covariate_name, covariate_value, n_observations, n_mismatches,
       empirical_q)
ORDER BY read_group, covariate_name, covariate_value
"""


@_q("genomics_genotype_concordance")
def genomics_genotype_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bcftools-gtcheck-style sample-pair genotype concordance over the
    3-sample spec-example fixture: NA00001 (truth) against NA00002 and
    NA00003, sites matched on (contig, POS, REF), genotypes compared as
    resolved allele multisets (so 1|2 == 2|1, and phasing is ignored).
    Golden rows hand-derived from the 5 fixture records (VCFv4 spec
    example); the operator's state machine is differentially tested in
    tests/test_operators.py::test_genotype_concordance_*."""
    from disq_spark.operators.variant_qc import genotype_concordance
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "test.vcf"))
    out = None
    for other in ("NA00002", "NA00003"):
        c = genotype_concordance(df, df, "NA00001", other).withColumn(
            "pair", F.lit(f"NA00001:{other}")
        )
        out = c if out is None else out.unionByName(c)
    return out.select(
        "pair", "truth_state", "eval_state", "n_sites", "n_gt_match"
    ).orderBy("pair", "truth_state", "eval_state")


ORACLE["genomics_genotype_concordance"] = """
SELECT pair, truth_state, eval_state,
       CAST(n_sites AS BIGINT) AS n_sites,
       CAST(n_gt_match AS BIGINT) AS n_gt_match
FROM (VALUES
  ('NA00001:NA00002', 'HET', 'HET', 2, 1),
  ('NA00001:NA00002', 'HOM_REF', 'HET', 2, 0),
  ('NA00001:NA00002', 'HOM_REF', 'HOM_REF', 1, 1),
  ('NA00001:NA00003', 'HET', 'HOM_VAR', 2, 0),
  ('NA00001:NA00003', 'HOM_REF', 'HOM_REF', 2, 2),
  ('NA00001:NA00003', 'HOM_REF', 'HOM_VAR', 1, 0)
) AS t(pair, truth_state, eval_state, n_sites, n_gt_match)
ORDER BY pair, truth_state, eval_state
"""

@_q("genomics_normalize_variants")
def genomics_normalize_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bcftools-norm analog (`bcftools norm -m-any` + parsimony trim,
    no reference-guided left-align) over the VCFv4 spec-example
    fixture: the multiallelic A->G,T site splits into two rows with
    Number=A INFO (AF) sliced per-alt and GTs remapped to biallelic
    0/1 space; the microsat GTC->G,GTCT splits and the GTCT alt trims
    its shared GTC prefix to POS+2 C->CT. Golden rows hand-derived
    from the 5 fixture records; the operators are differentially
    tested in tests/test_operators.py::test_split_multiallelics /
    test_trim_variants_parsimony / test_normalize_matches_serial_on_gvcf."""
    from disq_spark.operators.variant_qc import split_multiallelics, trim_variants
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "test.vcf"))
    norm = trim_variants(split_multiallelics(df))
    return norm.select(
        "contig",
        "start",
        "end",
        "ref",
        F.array_join("alts", ",").alias("alt"),
        F.expr("try_element_at(info, 'AF')").alias("af"),
        F.array_join(
            F.expr(
                "transform(genotypes, g -> concat(g.sample, ':', coalesce(g.gt, '.')))"
            ),
            ";",
        ).alias("gts"),
    ).orderBy("contig", "start", "ref", "alt")


ORACLE["genomics_normalize_variants"] = """
SELECT contig, CAST(start AS BIGINT) AS start, CAST("end" AS BIGINT) AS "end",
       ref, alt, af, gts
FROM (VALUES
  ('20', 14370, 14370, 'G', 'A', '0.5', 'NA00001:0|0;NA00002:1|0;NA00003:1/1'),
  ('20', 17330, 17330, 'T', 'A', '0.017', 'NA00001:0|0;NA00002:0|1;NA00003:0/0'),
  ('20', 1110696, 1110696, 'A', 'G', '0.333', 'NA00001:1/0;NA00002:0/1;NA00003:0/0'),
  ('20', 1110696, 1110696, 'A', 'T', '0.667', 'NA00001:0/1;NA00002:1/0;NA00003:1/1'),
  ('20', 1230237, 1230237, 'T', NULL, NULL, 'NA00001:0|0;NA00002:0|0;NA00003:0/0'),
  ('20', 1234567, 1234569, 'GTC', 'G', NULL, 'NA00001:0/1;NA00002:0/0;NA00003:1/1'),
  ('20', 1234569, 1234569, 'C', 'CT', NULL, 'NA00001:0/0;NA00002:0/1;NA00003:0/0')
) AS t(contig, start, "end", ref, alt, af, gts)
ORDER BY contig, start, ref, alt
"""


@_q("genomics_apply_bqsr")
def genomics_apply_bqsr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end BQSR: build the covariate table from the fixture CRAM
    (bqsr_table), then rewrite every read's quality string with GATK's
    delta composition (apply_bqsr). Output summarizes each of the 8
    reads as (name, flags, mean recalibrated Q, md5 of the new qual
    string). Golden rows pinned from a run whose per-base values are
    independently cross-checked by the serial recalibrator in
    tests/test_operators.py::test_apply_bqsr_matches_serial."""
    from disq_spark.operators.genomics import apply_bqsr, bqsr_table
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows

    fasta = os.path.join(FIXTURES, "valid.fasta")
    df, _h = read_cram(spark, os.path.join(FIXTURES, "valid.cram"), reference_path=fasta)
    table = bqsr_table(df, read_fasta_windows(spark, fasta, window=1000)).collect()
    return (
        apply_bqsr(df, table)
        .select(
            "name",
            "flags",
            F.round(
                F.expr(
                    "aggregate(transform(sequence(1, length(qual)), "
                    "i -> ascii(substring(qual, i, 1)) - 33), 0L, (a, x) -> a + x) "
                    "/ length(qual)"
                ),
                4,
            ).alias("mean_q"),
            F.md5(F.col("qual")).alias("qual_md5"),
        )
        .orderBy("name", "flags")
    )


ORACLE["genomics_apply_bqsr"] = """
SELECT name, CAST(flags AS INT) AS flags, CAST(mean_q AS DOUBLE) AS mean_q, qual_md5
FROM (VALUES
  ('both_reads_align_clip_adapter', 107, 2.8515, '909c16e4092d9c5481295c038949e72b'),
  ('both_reads_align_clip_adapter', 147, 3.4356, '4cb00554954a8303a71cf1a99131e3e4'),
  ('both_reads_align_clip_marked', 171, 3.0, 'd9b19ac4712ec1c8e4facd0b14c60e19'),
  ('both_reads_align_clip_marked', 1107, 6.1683, 'bc139ddd8f227abccb1df64eaa44106c'),
  ('both_reads_present_only_first_aligns', 121, 6.1683, 'bc139ddd8f227abccb1df64eaa44106c'),
  ('both_reads_present_only_first_aligns', 173, 3.0, 'd9b19ac4712ec1c8e4facd0b14c60e19'),
  ('read_2_too_many_gaps', 83, 6.1683, 'bc139ddd8f227abccb1df64eaa44106c'),
  ('read_2_too_many_gaps', 171, 3.0, 'd9b19ac4712ec1c8e4facd0b14c60e19')
) AS t(name, flags, mean_q, qual_md5)
ORDER BY name, flags
"""

@_q("genomics_left_align")
def genomics_left_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-guided indel left-alignment (bcftools norm realign /
    GATK LeftAlignAndTrimVariants) against the valid.fasta fixture:
    homopolymer and dinucleotide-repeat indels on chr1/chr7 shift to
    the repeat's left edge; the SNP row passes through. Golden rows
    derived from an independent serial implementation of the bcftools
    chop-and-extend loop (tests/test_operators.py::_serial_left_align),
    which the distributed closed form matches on 120 random
    repeat-genome indels (test_left_align_matches_serial_random)."""
    from disq_spark.operators.variant_qc import left_align_variants
    from disq_spark.schemas import VARIANTS_SCHEMA

    rows = [
        ("chr1", 69, 69, None, "A", ["AA"], None, None, None, None),
        ("chr1", 67, 69, None, "AAA", ["A"], None, None, None, None),
        ("chr7", 14, 14, None, "G", ["GG"], None, None, None, None),
        ("chr7", 30, 30, None, "T", ["TGT"], None, None, None, None),
        ("chr7", 67, 68, None, "CC", ["C"], None, None, None, None),
        ("chr7", 40, 40, None, "T", ["A"], None, None, None, None),
    ]
    df = spark.createDataFrame(rows, VARIANTS_SCHEMA)
    out = left_align_variants(
        df, spark, os.path.join(FIXTURES, "valid.fasta"), window=50
    )
    return out.select(
        "contig", "start", "end", "ref", F.array_join("alts", ",").alias("alt")
    ).orderBy("contig", "start", "ref", "alt")


ORACLE["genomics_left_align"] = """
SELECT contig, CAST(start AS BIGINT) AS start, CAST("end" AS BIGINT) AS "end", ref, alt
FROM (VALUES
  ('chr1', 59, 59, 'C', 'CA'),
  ('chr1', 59, 61, 'CAA', 'C'),
  ('chr7', 8, 8, 'A', 'AG'),
  ('chr7', 29, 29, 'T', 'TTG'),
  ('chr7', 40, 40, 'T', 'A'),
  ('chr7', 59, 60, 'TC', 'T')
) AS t(contig, start, "end", ref, alt)
ORDER BY contig, start, ref, alt
"""

@_q("genomics_insert_size_metrics")
def genomics_insert_size_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Picard CollectInsertSizeMetrics over the 1.bam fixture: per pair
    orientation (htsjdk SamPairUtil semantics), median/MAD/min/max over
    all first-of-pair inserts and MAD-trimmed mean/stddev/mode
    (DEVIATIONS=10). Golden rows pinned from a run cross-checked
    base-by-base by the serial Picard collector in
    tests/test_operators.py::test_insert_size_metrics_matches_serial."""
    from disq_spark.operators.genomics import insert_size_metrics
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    m = insert_size_metrics(df)
    return m.select(
        "orientation",
        "read_pairs",
        F.round("median_insert_size", 4).alias("median_insert_size"),
        F.round("median_absolute_deviation", 4).alias("mad"),
        "min_insert_size",
        "max_insert_size",
        F.round("mean_insert_size", 4).alias("mean_insert_size"),
        F.round("standard_deviation", 4).alias("standard_deviation"),
        "mode_insert_size",
        "trimmed_pairs",
    ).orderBy("orientation")


ORACLE["genomics_insert_size_metrics"] = """
SELECT orientation, CAST(read_pairs AS BIGINT) AS read_pairs,
       CAST(median_insert_size AS DOUBLE) AS median_insert_size,
       CAST(mad AS DOUBLE) AS mad,
       CAST(min_insert_size AS BIGINT) AS min_insert_size,
       CAST(max_insert_size AS BIGINT) AS max_insert_size,
       CAST(mean_insert_size AS DOUBLE) AS mean_insert_size,
       CAST(standard_deviation AS DOUBLE) AS standard_deviation,
       CAST(mode_insert_size AS BIGINT) AS mode_insert_size,
       CAST(trimmed_pairs AS BIGINT) AS trimmed_pairs
FROM (VALUES
  ('FR', 1976, 160.0, 37.0, 67, 665, 172.0299, 62.5467, 124, 1974),
  ('TANDEM', 1, 130726987.0, 0.0, 130726987, 130726987, 130726987.0, NULL, 130726987, 1)
) AS t(orientation, read_pairs, median_insert_size, mad, min_insert_size,
       max_insert_size, mean_insert_size, standard_deviation, mode_insert_size,
       trimmed_pairs)
ORDER BY orientation
"""

@_q("genomics_alignment_summary")
def genomics_alignment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Picard CollectAlignmentSummaryMetrics analog over 1.bam: per
    category (FIRST/SECOND/PAIR rollup) read accounting, strand
    balance, NM-derived substitution rate (indel bases excluded), and
    chimera fraction. Golden rows pinned from a run cross-checked by
    the serial Picard-style collector in tests/test_operators.py::
    test_alignment_summary_metrics_matches_serial."""
    from disq_spark.operators.genomics import alignment_summary_metrics
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    return (
        alignment_summary_metrics(df)
        .select(
            "category",
            "total_reads",
            "pf_reads",
            "pf_reads_aligned",
            "pf_hq_aligned_reads",
            "reads_aligned_in_pairs",
            F.round("strand_balance", 6).alias("strand_balance"),
            F.round("mean_read_length", 4).alias("mean_read_length"),
            F.round("pf_mismatch_rate", 6).alias("pf_mismatch_rate"),
            F.round("pct_chimeras", 6).alias("pct_chimeras"),
        )
        .orderBy("category")
    )


ORACLE["genomics_alignment_summary"] = """
SELECT category, CAST(total_reads AS BIGINT) AS total_reads,
       CAST(pf_reads AS BIGINT) AS pf_reads,
       CAST(pf_reads_aligned AS BIGINT) AS pf_reads_aligned,
       CAST(pf_hq_aligned_reads AS BIGINT) AS pf_hq_aligned_reads,
       CAST(reads_aligned_in_pairs AS BIGINT) AS reads_aligned_in_pairs,
       CAST(strand_balance AS DOUBLE) AS strand_balance,
       CAST(mean_read_length AS DOUBLE) AS mean_read_length,
       CAST(pf_mismatch_rate AS DOUBLE) AS pf_mismatch_rate,
       CAST(pct_chimeras AS DOUBLE) AS pct_chimeras
FROM (VALUES
  ('FIRST_OF_PAIR', 2442, 2271, 2271, 2270, 2247, 0.446059, 76.0, 0.001041, 0.00267),
  ('PAIR', 4917, 4570, 4547, 4545, 4523, 0.478557, 76.0, 0.001533, 0.003316),
  ('SECOND_OF_PAIR', 2475, 2299, 2276, 2275, 2276, 0.510984, 76.0, 0.00203, 0.003954)
) AS t(category, total_reads, pf_reads, pf_reads_aligned, pf_hq_aligned_reads,
       reads_aligned_in_pairs, strand_balance, mean_read_length,
       pf_mismatch_rate, pct_chimeras)
ORDER BY category
"""

@_q("genomics_merge_vcf")
def genomics_merge_vcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bcftools-merge analog: the 3-sample spec fixture split into
    per-sample call sets and merged back -- sites, first-appearance ALT
    order, and phase-preserving genotypes must reproduce the original
    file, with AN/AC recomputed from the merged genotypes. Golden rows
    are the fixture's own records (hand-tallied AN/AC); the remap and
    missing-sample paths are covered by tests/test_operators.py::
    test_merge_variant_sets_alt_remap."""
    from disq_spark.operators.variant_qc import merge_variant_sets
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "test.vcf"))
    singles = [
        df.withColumn(
            "genotypes", F.expr(f"filter(genotypes, g -> g.sample = '{s}')")
        )
        for s in ("NA00001", "NA00002", "NA00003")
    ]
    m = merge_variant_sets(singles)
    return m.select(
        "contig",
        "start",
        "ref",
        F.array_join(F.coalesce("alts", F.array()), ",").alias("alt"),
        F.expr("cast(info['AN'] as int)").alias("an"),
        F.coalesce(F.expr("info['AC']"), F.lit("")).alias("ac"),
        F.array_join(
            F.expr("transform(genotypes, g -> concat(g.sample, ':', g.gt))"), ";"
        ).alias("gts"),
    ).orderBy("contig", "start", "ref")


ORACLE["genomics_merge_vcf"] = """
SELECT contig, CAST(start AS BIGINT) AS start, ref, alt,
       CAST(an AS INT) AS an, ac, gts
FROM (VALUES
  ('20', 14370, 'G', 'A', 6, '3', 'NA00001:0|0;NA00002:1|0;NA00003:1/1'),
  ('20', 17330, 'T', 'A', 6, '1', 'NA00001:0|0;NA00002:0|1;NA00003:0/0'),
  ('20', 1110696, 'A', 'G,T', 6, '2,4', 'NA00001:1|2;NA00002:2|1;NA00003:2/2'),
  ('20', 1230237, 'T', '', 6, '', 'NA00001:0|0;NA00002:0|0;NA00003:0/0'),
  ('20', 1234567, 'GTC', 'G,GTCT', 6, '3,1', 'NA00001:0/1;NA00002:0/2;NA00003:1/1')
) AS t(contig, start, ref, alt, an, ac, gts)
ORDER BY contig, start, ref
"""

@_q("genomics_hard_filter")
def genomics_hard_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATK VariantFiltration analog over the CEUTrio gVCF fixture:
    three named expressions on typed INFO fields annotate (never drop)
    the 19,910 records; output tallies records per failing-filter name
    (PASS = empty filter set). Missing/malformed annotations do not
    fail (GATK default). Semantics unit-tested in
    tests/test_operators.py::test_hard_filter_gatk_semantics."""
    from disq_spark.operators.variant_qc import hard_filter
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(
        spark, os.path.join(FIXTURES, "CEUTrio.20.21.gatk3.4.g.vcf.bgz")
    )
    out = hard_filter(
        df, {"MQ40": "MQ < 40.0", "DP10": "DP < 10.0", "MQRS": "MQRankSum < -12.5"}
    )
    return (
        out.select(
            F.explode(
                F.when(F.size("filters") == 0, F.array(F.lit("PASS"))).otherwise(
                    F.col("filters")
                )
            ).alias("filter_name")
        )
        .groupBy("filter_name")
        .agg(F.count("*").alias("n_records"))
        .orderBy("filter_name")
    )


ORACLE["genomics_hard_filter"] = """
SELECT filter_name, CAST(n_records AS BIGINT) AS n_records
FROM (VALUES
  ('DP10', 106), ('MQ40', 783), ('MQRS', 1), ('PASS', 19124)
) AS t(filter_name, n_records)
ORDER BY filter_name
"""


@_q("genomics_mendelian_violations")
def genomics_mendelian_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mendelian-violation tally treating the spec fixture's NA00001 as
    the child of NA00002/NA00003: record 1 (child 0|0, mother 1/1) is
    the single violation among 5 fully-called sites. Golden hand-derived;
    the allele-set test is differentially checked in
    tests/test_operators.py::test_mendelian_violations_matches_serial."""
    from disq_spark.operators.variant_qc import mendelian_violations
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "test.vcf"))
    return mendelian_violations(df, [("NA00001", "NA00002", "NA00003")]).select(
        "child", "father", "mother", "n_sites", "n_called", "n_violations",
        F.round("violation_rate", 6).alias("violation_rate"),
    )


ORACLE["genomics_mendelian_violations"] = """
SELECT 'NA00001' AS child, 'NA00002' AS father, 'NA00003' AS mother,
       CAST(5 AS BIGINT) AS n_sites, CAST(5 AS BIGINT) AS n_called,
       CAST(1 AS BIGINT) AS n_violations, CAST(0.2 AS DOUBLE) AS violation_rate
"""

@_q("genomics_wgs_metrics")
def genomics_wgs_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Picard CollectWgsMetrics analog in interval mode: depth summary
    of 1.bam over its covered region 1:24795478-24981705 (territory
    186,228 bp) with Picard read filters and a 100x cap. Golden rows
    pinned from a run cross-checked position-by-position by the serial
    depth walk in tests/test_operators.py::test_wgs_metrics_matches_serial
    (which runs the same operator over the full 3.1 Gbp dictionary)."""
    from disq_spark.operators.genomics import wgs_metrics
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    return wgs_metrics(
        df,
        [("1:24795478-24981705", 186228)],
        coverage_cap=100,
        levels=(1, 2, 5, 10, 15, 20),
    ).orderBy("metric")


ORACLE["genomics_wgs_metrics"] = """
SELECT metric, CAST(value AS DOUBLE) AS value
FROM (VALUES
  ('genome_territory', 186228.0),
  ('mean_coverage', 1.264831),
  ('median_coverage', 0.0),
  ('pct_10x', 0.022204),
  ('pct_15x', 0.019745),
  ('pct_1x', 0.045353),
  ('pct_20x', 0.017908),
  ('pct_2x', 0.030608),
  ('pct_5x', 0.025404),
  ('sd_coverage', 9.409223)
) AS t(metric, value)
ORDER BY metric
"""

@_q("genomics_isec")
def genomics_isec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bcftools-isec analog: presence bitmask of every record across
    three representations of the spec fixture -- as-read, after
    split_multiallelics, and after split+trim normalization. Biallelic
    already-parsimonious records land in all three ('111'); the
    multiallelic sites are private to the raw set; the trimmed GTCT
    allele appears only in the normalized set at its shifted POS.
    Golden hand-derived; set algebra unit-tested in
    tests/test_operators.py::test_isec_variant_sets."""
    from disq_spark.operators.variant_qc import (
        isec_variant_sets,
        split_multiallelics,
        trim_variants,
    )
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "test.vcf"))
    split = split_multiallelics(df)
    norm = trim_variants(split_multiallelics(df))
    return isec_variant_sets([df, split, norm]).orderBy(
        "contig", "start", "ref", "alt"
    )


ORACLE["genomics_isec"] = """
SELECT contig, CAST(start AS BIGINT) AS start, ref, alt, sets,
       CAST(n_sets AS INT) AS n_sets
FROM (VALUES
  ('20', 14370, 'G', 'A', '111', 3),
  ('20', 17330, 'T', 'A', '111', 3),
  ('20', 1110696, 'A', 'G', '011', 2),
  ('20', 1110696, 'A', 'G,T', '100', 1),
  ('20', 1110696, 'A', 'T', '011', 2),
  ('20', 1230237, 'T', '', '111', 3),
  ('20', 1234567, 'GTC', 'G', '011', 2),
  ('20', 1234567, 'GTC', 'G,GTCT', '100', 1),
  ('20', 1234567, 'GTC', 'GTCT', '010', 1),
  ('20', 1234569, 'C', 'CT', '001', 1)
) AS t(contig, start, ref, alt, sets, n_sets)
ORDER BY contig, start, ref, alt
"""

@_q("genomics_quality_by_cycle")
def genomics_quality_by_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Picard MeanQualityByCycle / FastQC per-cycle stats over 1.bam,
    bucketed into 19-cycle bands per read end (+ = first-of-pair
    machine cycles, - = second-of-pair; reverse-strand reads flipped
    back to machine orientation). Golden rows pinned from a run
    cross-checked per-cycle by the serial pass in
    tests/test_operators.py::test_quality_by_cycle_matches_serial."""
    from disq_spark.operators.genomics import quality_by_cycle
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    q = quality_by_cycle(df)
    return (
        q.groupBy(
            F.concat(
                F.when(F.col("cycle") < 0, F.lit("-")).otherwise(F.lit("+")),
                ((F.abs(F.col("cycle")) - 1) / 19).cast("long").cast("string"),
            ).alias("bucket")
        )
        .agg(
            F.sum("n_bases").alias("n_bases"),
            F.round(
                F.sum(F.col("mean_quality") * F.col("n_bases")) / F.sum("n_bases"), 4
            ).alias("mean_q"),
            F.sum("n_a").alias("n_a"),
            F.sum("n_c").alias("n_c"),
            F.sum("n_g").alias("n_g"),
            F.sum("n_t").alias("n_t"),
            F.sum("n_other").alias("n_other"),
        )
        .orderBy("bucket")
    )


ORACLE["genomics_quality_by_cycle"] = """
SELECT bucket, CAST(n_bases AS BIGINT) AS n_bases, CAST(mean_q AS DOUBLE) AS mean_q,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_c AS BIGINT) AS n_c,
       CAST(n_g AS BIGINT) AS n_g, CAST(n_t AS BIGINT) AS n_t,
       CAST(n_other AS BIGINT) AS n_other
FROM (VALUES
  ('+0', 46398, 33.1466, 12765, 9513, 9992, 14127, 1),
  ('+1', 46398, 33.7978, 12665, 9863, 10323, 13547, 0),
  ('+2', 46398, 33.5253, 12671, 9729, 10338, 13660, 0),
  ('+3', 46398, 32.3634, 12896, 10269, 10186, 13040, 7),
  ('-0', 47025, 32.1167, 13075, 9879, 10363, 13669, 39),
  ('-1', 47025, 33.4331, 12939, 10349, 10347, 13317, 73),
  ('-2', 47025, 32.9813, 13097, 10551, 10211, 13108, 58),
  ('-3', 47025, 31.6234, 13158, 10628, 10346, 12832, 61)
) AS t(bucket, n_bases, mean_q, n_a, n_c, n_g, n_t, n_other)
ORDER BY bucket
"""

@_q("genomics_gc_bias")
def genomics_gc_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Picard CollectGcBiasMetrics analog: valid.fasta tiled into 50-bp
    bins with per-bin GC, valid.cram primary read starts attributed to
    bins, normalized-coverage curve per GC value. Golden rows pinned
    from a run cross-checked bin-by-bin by the serial pass in
    tests/test_operators.py::test_gc_bias_metrics_matches_serial."""
    from disq_spark.operators.genomics import gc_bias_metrics
    from disq_spark.sources.cram_source import read_cram

    fasta = os.path.join(FIXTURES, "valid.fasta")
    df, _h = read_cram(
        spark, os.path.join(FIXTURES, "valid.cram"), reference_path=fasta
    )
    return gc_bias_metrics(df, spark, fasta, window=50)


ORACLE["genomics_gc_bias"] = """
SELECT CAST(gc AS INT) AS gc, CAST(windows AS BIGINT) AS windows,
       CAST(read_starts AS BIGINT) AS read_starts,
       CAST(normalized_coverage AS DOUBLE) AS normalized_coverage
FROM (VALUES
  (0, 4, 0, 0.0), (24, 1, 0, 0.0), (25, 1, 0, 0.0), (28, 2, 0, 0.0),
  (32, 1, 0, 0.0), (38, 1, 0, 0.0), (40, 2, 0, 0.0), (42, 2, 0, 0.0),
  (46, 4, 0, 0.0), (48, 2, 4, 10.666667), (50, 3, 0, 0.0),
  (56, 2, 0, 0.0), (58, 3, 2, 3.555556), (62, 1, 0, 0.0),
  (64, 1, 0, 0.0), (100, 2, 0, 0.0)
) AS t(gc, windows, read_starts, normalized_coverage)
ORDER BY gc
"""

@_q("genomics_interval_algebra")
def genomics_interval_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bedtools merge/intersect/subtract/complement/jaccard analogs
    (operators/intervals.py) summarized over 1.bam's read spans vs two
    fixed windows of its covered region: (op, n_intervals, total_bp).
    The jaccard row reports (intersection_bp, union_bp). Golden pinned
    from a run cross-checked position-by-position by the random set
    model in tests/test_operators.py::test_interval_algebra_matches_serial."""
    from disq_spark.operators import intervals as IV
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    a = df.filter("contig is not null").select("contig", "start", "end")
    b = spark.createDataFrame(
        [("1", 24795478, 24850000), ("1", 24900000, 24981705)],
        "contig string, start long, end long",
    )
    # one-pass restructure (r12): the 6-branch union of the individual
    # operators re-ran the BAM decode per branch (and its persist fix
    # measured NEGATIVE, r11 §4.6); interval_algebra_summary computes
    # the identical five rows from a single tri-depth event pass —
    # equivalence is locked by test_interval_algebra_summary_one_pass
    # and the unchanged golden oracle.
    return IV.interval_algebra_summary(a, b, [("1", 25000000)]).orderBy("op")


ORACLE["genomics_interval_algebra"] = """
SELECT op, CAST(n_intervals AS BIGINT) AS n_intervals,
       CAST(total_bp AS BIGINT) AS total_bp
FROM (VALUES
  ('complement', 45, 24991432),
  ('intersect', 38, 6815),
  ('jaccard', 6815, 137982),
  ('merge', 44, 8568),
  ('subtract', 6, 1753)
) AS t(op, n_intervals, total_bp)
ORDER BY op
"""

@_q("genomics_consensus")
def genomics_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """samtools-consensus analog over valid.cram: per-60bp-window
    majority-base strings (>=2x positions upper-case, reference
    fallback lower-case, deletions '-'), windows with no asserted base
    dropped. Golden rows pinned from a run cross-checked per-position
    by the serial pass in tests/test_operators.py::
    test_consensus_sequence_matches_serial."""
    from disq_spark.operators.genomics import consensus_sequence, pileup
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows

    fasta = os.path.join(FIXTURES, "valid.fasta")
    df, _h = read_cram(
        spark, os.path.join(FIXTURES, "valid.cram"), reference_path=fasta
    )
    out = consensus_sequence(
        pileup(df), read_fasta_windows(spark, fasta, window=60), min_depth=2
    )
    return out.filter(F.expr("consensus rlike '[ACGT-]'")).orderBy(
        "contig", "start"
    )


ORACLE["genomics_consensus"] = """
SELECT contig, CAST(start AS BIGINT) AS start, CAST("end" AS BIGINT) AS "end", consensus
FROM (VALUES
  ('chr7', 1, 60, 'CAACAGAAGCAGGAATCTGTGAATGTGTTTCGGATTTCCTGCTGAAGGGTTTCTCGCCTC'),
  ('chr7', 61, 120, 'ACTGAATAATCCCGATTTCCTTCCGCAGCTCACCTCCCAACACCGCACCTCACAACttct'),
  ('chr7', 301, 360, 'gACGCGGCATC-CCAATTCCTTACCCAACCAACCGACAGACAGACAGCCAGCCCGGCAGG'),
  ('chr7', 361, 404, 'TAAGTAAGGAACATACAGCCGGGCGGCCAGAGAAAACAcataca')
) AS t(contig, start, "end", consensus)
ORDER BY contig, start
"""

@_q("genomics_liftover")
def genomics_liftover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Picard LiftoverVcf / CrossMap analog: the spec fixture's 5
    records lifted through a synthetic 2-block chain -- one forward
    block covering the SNP region (offset +10000) and one reverse
    block covering the microsat region (alleles reverse-complemented,
    interval flipped around the block). Records outside any block or
    straddling a boundary stay put with lifted=false. Block math is
    differentially tested in tests/test_operators.py::
    test_liftover_matches_serial."""
    from disq_spark.operators.intervals import liftover
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "test.vcf"))
    chain = spark.createDataFrame(
        [
            ("20", 14000, 18000, "chr20", 24000, "+"),
            ("20", 1234000, 1235000, "chr20", 5000000, "-"),
        ],
        "src_contig string, src_start long, src_end long, "
        "dst_contig string, dst_start long, strand string",
    )
    out = liftover(df, chain)
    return out.select(
        "contig",
        "start",
        "end",
        "ref",
        F.array_join(F.coalesce("alts", F.array()), ",").alias("alt"),
        "lifted",
    ).orderBy("contig", "start", "ref")


ORACLE["genomics_liftover"] = """
SELECT contig, CAST(start AS BIGINT) AS start, CAST("end" AS BIGINT) AS "end",
       ref, alt, lifted
FROM (VALUES
  ('20', 1110696, 1110696, 'A', 'G,T', false),
  ('20', 1230237, 1230237, 'T', '', false),
  ('chr20', 24370, 24370, 'G', 'A', true),
  ('chr20', 27330, 27330, 'T', 'A', true),
  ('chr20', 5000431, 5000433, 'GAC', 'C,AGAC', true)
) AS t(contig, start, "end", ref, alt, lifted)
ORDER BY contig, start, ref
"""

@_q("genomics_pairwise_ibs")
def genomics_pairwise_ibs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLINK --distance ibs analog over the spec fixture's two
    biallelic SNP sites x three samples: per pair, IBS class counts
    from dosage differences. Golden hand-derived (site 14370 dosages
    0/1/2, site 17330 dosages 0/1/0); the classifier is differentially
    tested in tests/test_operators.py::test_pairwise_ibs_matches_serial."""
    from disq_spark.operators.variant_qc import pairwise_ibs
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "test.vcf"))
    return pairwise_ibs(df).orderBy("sample_a", "sample_b")


ORACLE["genomics_pairwise_ibs"] = """
SELECT sample_a, sample_b, CAST(n_sites AS BIGINT) AS n_sites,
       CAST(ibs0 AS BIGINT) AS ibs0, CAST(ibs1 AS BIGINT) AS ibs1,
       CAST(ibs2 AS BIGINT) AS ibs2, CAST(ibs_similarity AS DOUBLE) AS ibs_similarity
FROM (VALUES
  ('NA00001', 'NA00002', 2, 0, 2, 0, 0.5),
  ('NA00001', 'NA00003', 2, 1, 0, 1, 0.5),
  ('NA00002', 'NA00003', 2, 0, 2, 0, 0.5)
) AS t(sample_a, sample_b, n_sites, ibs0, ibs1, ibs2, ibs_similarity)
ORDER BY sample_a, sample_b
"""

@_q("genomics_streaming_coverage_bins")
def genomics_streaming_coverage_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-bin read counts: the 1.bam fixture lands once as a
    parquet stream source (mtime-keyed cache), is consumed with
    readStream through streaming/genomics.binned_read_counts
    (bounded per-bin state), and the complete-mode memory sink is
    compared against the batch tally. Golden rows below are the batch
    result over 20kb bins, restricted to bins with >= 200 reads for a
    stable-size output."""
    import tempfile

    from disq_spark.cacheutil import cache_key, ensure_cached_dir
    from disq_spark.queries._stream_util import run_to_completion
    from disq_spark.sources.bam_source import read_bam
    from disq_spark.streaming.genomics import binned_read_counts

    bam = os.path.join(FIXTURES, "1.bam")
    st = os.stat(bam)
    key = cache_key(bam, st.st_mtime_ns, st.st_size, "reads_v1")
    cache = os.path.join(tempfile.gettempdir(), f"disq_stream_reads_{key}")
    data = os.path.join(cache, "data")

    def _build(tmp: str) -> None:
        df, _h = read_bam(spark, bam)
        df.select("contig", "start", "end").write.mode("overwrite").parquet(
            os.path.join(tmp, "data")
        )

    ensure_cached_dir(cache, _build)
    schema = spark.read.parquet(data).schema
    stream = spark.readStream.schema(schema).parquet(data)
    agg = binned_read_counts(stream, bin_size=20_000)
    if spark.catalog.tableExists("stream_gate_cov_bins"):
        spark.catalog.dropTempView("stream_gate_cov_bins")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_gate_cov_bins")
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q, "genomics_streaming_coverage_bins")
    return (
        spark.table("stream_gate_cov_bins")
        .filter(F.col("n_reads") >= 200)
        .orderBy("contig", "bin")
    )


ORACLE["genomics_streaming_coverage_bins"] = """
SELECT contig, CAST(bin AS BIGINT) AS bin, CAST(n_reads AS BIGINT) AS n_reads
FROM (VALUES
  ('1', 1239, 427), ('1', 1242, 1318), ('1', 1248, 1958), ('1', 1249, 1042)
) AS t(contig, bin, n_reads)
ORDER BY contig, bin
"""

@_q("genomics_trim_reads")
def genomics_trim_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmomatic LEADING/TRAILING(15) + cutadapt 3'-adapter clip +
    MINLEN(36) over 1.bam, summarized as (reads, kept, total trimmed
    bases, mean kept length). Golden pinned from a run cross-checked
    read-by-read by the serial trimmer in tests/test_operators.py::
    test_trim_reads_matches_serial."""
    from disq_spark.operators.genomics import trim_reads
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    t = trim_reads(
        df, trailing_q=15, leading_q=15, adapter="AGATCGGAAGAGC", min_len=36
    )
    return t.agg(
        F.count("*").alias("n_reads"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum(F.length("seq")).alias("total_len"),
        F.round(F.avg(F.when(F.col("kept"), F.length("seq"))), 4).alias(
            "mean_kept_len"
        ),
    )


ORACLE["genomics_trim_reads"] = """
SELECT CAST(4917 AS BIGINT) AS n_reads, CAST(4749 AS BIGINT) AS n_kept,
       CAST(356889 AS BIGINT) AS total_len, CAST(74.6759 AS DOUBLE) AS mean_kept_len
"""


@_q("genomics_kmer_spectrum")
def genomics_kmer_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jellyfish-histo analog: canonical 15-mer multiplicity spectrum
    of 1.bam, bucketed (error k-mers pile at multiplicity 1; higher
    buckets carry the coverage signal). Golden pinned from a run
    cross-checked k-mer-by-k-mer by the serial counter in
    tests/test_operators.py::test_kmer_spectrum_matches_serial."""
    from disq_spark.operators.genomics import kmer_spectrum
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    sp = kmer_spectrum(df, k=15)
    b = (
        F.when(F.col("mult") <= 4, F.col("mult").cast("string"))
        .when(F.col("mult") < 10, "5-9")
        .when(F.col("mult") < 20, "10-19")
        .when(F.col("mult") < 50, "20-49")
        .when(F.col("mult") < 100, "50-99")
        .otherwise("100+")
    )
    return (
        sp.groupBy(b.alias("bucket"))
        .agg(
            F.sum("n_kmers").alias("n_kmers"),
            F.sum(F.col("mult") * F.col("n_kmers")).alias("n_occurrences"),
        )
        .orderBy("bucket")
    )


ORACLE["genomics_kmer_spectrum"] = """
SELECT bucket, CAST(n_kmers AS BIGINT) AS n_kmers,
       CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM (VALUES
  ('1', 14596, 14596), ('2', 1582, 3164), ('3', 379, 1137), ('4', 151, 604),
  ('5-9', 615, 4099), ('10-19', 828, 11382), ('20-49', 1271, 44086),
  ('50-99', 1021, 70792), ('100+', 1005, 154454)
) AS t(bucket, n_kmers, n_occurrences)
ORDER BY bucket
"""


@_q("genomics_king_kinship")
def genomics_king_kinship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KING-robust pairwise kinship (PLINK2 --make-king analog,
    between-family estimator) over the spec fixture's two biallelic SNP
    sites x three samples. Golden rows hand-derived from the dosage
    table (site 14370 -> 0/1/2, site 17330 -> 0/1/0): no het-het
    sharing anywhere; every pair has min(het_a, het_b) == 0, so the
    between-family denominator is 0 and all kinships are NULL — the
    counters are the value of this gate. The estimator itself
    (including the within-family variant) is differentially tested on
    a simulated trio in
    tests/test_operators.py::test_king_kinship_trio_and_serial."""
    from disq_spark.operators.variant_qc import king_kinship
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "test.vcf"))
    return king_kinship(df).orderBy("sample_a", "sample_b")


ORACLE["genomics_king_kinship"] = """
SELECT sample_a, sample_b, CAST(n_sites AS BIGINT) AS n_sites,
       CAST(het_het AS BIGINT) AS het_het, CAST(opp_hom AS BIGINT) AS opp_hom,
       CAST(het_a AS BIGINT) AS het_a, CAST(het_b AS BIGINT) AS het_b,
       CAST(kinship AS DOUBLE) AS kinship, degree
FROM (VALUES
  ('NA00001', 'NA00002', 2, 0, 0, 0, 2, CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)),
  ('NA00001', 'NA00003', 2, 0, 1, 0, 0, CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)),
  ('NA00002', 'NA00003', 2, 0, 0, 2, 0, CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR))
) AS t(sample_a, sample_b, n_sites, het_het, opp_hom, het_a, het_b, kinship, degree)
ORDER BY sample_a, sample_b
"""


@_q("genomics_roh")
def genomics_roh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs of homozygosity (PLINK --homozyg het-strict analog) over the
    real NA12878 HiSeq call set: maximal streaks of >=20 consecutive
    homozygous biallelic-SNP calls. Goldens cross-checked by an
    independent gzip text parse + serial run-finder in
    tests/test_operators.py::test_roh_matches_serial_on_hiseq."""
    from disq_spark.operators.variant_qc import runs_of_homozygosity
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "HiSeq.10000.vcf.bgz"))
    return runs_of_homozygosity(df, min_sites=20).orderBy(
        "sample", "contig", "start"
    )


ORACLE["genomics_roh"] = """
SELECT sample, contig, CAST(start AS BIGINT) AS start,
       CAST("end" AS BIGINT) AS "end", CAST(n_sites AS BIGINT) AS n_sites,
       CAST(n_hom_alt AS BIGINT) AS n_hom_alt, CAST(span_bp AS BIGINT) AS span_bp
FROM (VALUES
  ('NA12878', 'chr1', 746467, 764648, 21, 21, 18182),
  ('NA12878', 'chr1', 874678, 888186, 24, 24, 13509),
  ('NA12878', 'chr1', 1931518, 1961249, 33, 33, 29732),
  ('NA12878', 'chr1', 2028522, 2038589, 20, 20, 10068),
  ('NA12878', 'chr1', 3088575, 3100277, 25, 25, 11703),
  ('NA12878', 'chr1', 3735976, 3740591, 22, 22, 4616),
  ('NA12878', 'chr1', 3742996, 3750378, 21, 21, 7383),
  ('NA12878', 'chr1', 3751339, 3767471, 44, 44, 16133),
  ('NA12878', 'chr1', 3784133, 3798222, 22, 22, 14090),
  ('NA12878', 'chr1', 4015436, 4024120, 32, 32, 8685),
  ('NA12878', 'chr1', 4027660, 4037078, 31, 31, 9419),
  ('NA12878', 'chr1', 4397651, 4411281, 22, 22, 13631),
  ('NA12878', 'chr1', 4902227, 4915704, 35, 35, 13478),
  ('NA12878', 'chr1', 5036704, 5052019, 22, 22, 15316),
  ('NA12878', 'chr1', 5080680, 5092609, 21, 21, 11930),
  ('NA12878', 'chr1', 5195036, 5202388, 23, 23, 7353),
  ('NA12878', 'chr1', 5202441, 5211244, 37, 37, 8804),
  ('NA12878', 'chr1', 5227509, 5230727, 26, 26, 3219)
) AS t(sample, contig, start, "end", n_sites, n_hom_alt, span_bp)
ORDER BY sample, contig, start
"""


@_q("genomics_cnv_segments")
def genomics_cnv_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-depth CNV segmentation (CNVkit-style threshold calls) over
    the 1.bam fixture at 5 kb bins: per-bin mean depth -> log2 vs the
    genome-wide median -> gap-and-islands merge of GAIN/LOSS bins.
    The full pipeline (per-base tally, exact median, thresholds, merge)
    is differentially tested against an independent serial oracle in
    tests/test_operators.py::test_cnv_segments_matches_serial."""
    from disq_spark.operators.genomics import cnv_segments
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    return cnv_segments(
        df.filter(F.col("contig").isNotNull()), bin_size=5000, min_bins=2
    ).orderBy("contig", "start")


ORACLE["genomics_cnv_segments"] = """
SELECT contig, CAST(start AS BIGINT) AS start, CAST("end" AS BIGINT) AS "end",
       state, CAST(n_bins AS BIGINT) AS n_bins,
       CAST(mean_log2 AS DOUBLE) AS mean_log2,
       CAST(mean_depth AS DOUBLE) AS mean_depth
FROM (VALUES
  ('1', 24800001, 24820000, 'LOSS', 4, -4.59636, 0.0582),
  ('1', 24825001, 24840000, 'LOSS', 3, -3.860619, 0.077067),
  ('1', 24855001, 24865000, 'GAIN', 2, 2.081178, 6.0943),
  ('1', 24970001, 24985000, 'GAIN', 3, 3.485397, 14.602467)
) AS t(contig, start, "end", state, n_bins, mean_log2, mean_depth)
ORDER BY contig, start
"""


@_q("genomics_annotate_variants")
def genomics_annotate_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VEP-lite positional consequence annotation of the NA12878 HiSeq
    call set against a fixed five-gene chr1 model (mixed strands, one
    exon-less gene), rolled up per (consequence, gene). The classifier
    (class priority, tie-breaks, strand-oriented UP/DOWNSTREAM,
    broadcast per-contig gene array) is differentially tested against
    a serial spec implementation in
    tests/test_operators.py::test_annotate_variants_matches_serial."""
    from disq_spark.operators.variant_qc import annotate_variants
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(FIXTURES, "HiSeq.10000.vcf.bgz"))
    genes = spark.createDataFrame(
        [
            ("chr1", 700000, 1200000, "GENE_A", "+",
             [700000, 900000, 1100000], [750000, 950000, 1200000]),
            ("chr1", 1500000, 2500000, "GENE_B", "-",
             [1500000, 2400000], [1600000, 2500000]),
            ("chr1", 3000000, 3800000, "GENE_C", "+", None, None),
            ("chr1", 4000000, 4500000, "GENE_D", "-",
             [4100000, 4400000], [4200000, 4500000]),
            ("chr1", 5150000, 5250000, "GENE_E", "+",
             [5150000], [5200000]),
        ],
        "contig string, start long, end long, gene string, strand string, "
        "exon_starts array<long>, exon_ends array<long>",
    )
    ann = annotate_variants(df, genes, near_bp=5000)
    return (
        ann.groupBy("consequence", "gene")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("start").alias("first_pos"),
            F.max("start").alias("last_pos"),
        )
        .orderBy("consequence", "gene")
    )


ORACLE["genomics_annotate_variants"] = """
SELECT consequence, gene, CAST(n_variants AS BIGINT) AS n_variants,
       CAST(first_pos AS BIGINT) AS first_pos, CAST(last_pos AS BIGINT) AS last_pos
FROM (VALUES
  ('DOWNSTREAM', 'GENE_A', 1, 1204684, 1204684),
  ('DOWNSTREAM', 'GENE_B', 10, 1495118, 1499019),
  ('DOWNSTREAM', 'GENE_C', 9, 3800246, 3804602),
  ('DOWNSTREAM', 'GENE_D', 3, 3995705, 3999521),
  ('EXONIC', 'GENE_A', 218, 704290, 1186726),
  ('EXONIC', 'GENE_B', 342, 1500664, 2498203),
  ('EXONIC', 'GENE_D', 459, 4101675, 4499866),
  ('EXONIC', 'GENE_E', 40, 5150357, 5199984),
  ('GENIC', 'GENE_C', 1261, 3000177, 3799283),
  ('INTERGENIC', 'GENE_A', 226, 109, 1346911),
  ('INTERGENIC', 'GENE_B', 884, 1390605, 2749715),
  ('INTERGENIC', 'GENE_C', 570, 2751235, 3899769),
  ('INTERGENIC', 'GENE_D', 803, 3902626, 4824850),
  ('INTERGENIC', 'GENE_E', 642, 4825033, 5144621),
  ('INTRONIC', 'GENE_A', 879, 750775, 1096647),
  ('INTRONIC', 'GENE_B', 1110, 1600387, 2399993),
  ('INTRONIC', 'GENE_D', 500, 4000164, 4399691),
  ('INTRONIC', 'GENE_E', 145, 5200020, 5235136),
  ('UPSTREAM', 'GENE_A', 2, 695745, 696641),
  ('UPSTREAM', 'GENE_B', 14, 2500615, 2504435),
  ('UPSTREAM', 'GENE_C', 13, 2995445, 2998547),
  ('UPSTREAM', 'GENE_D', 35, 4500093, 4504349),
  ('UPSTREAM', 'GENE_E', 5, 5146701, 5148401)
) AS t(consequence, gene, n_variants, first_pos, last_pos)
ORDER BY consequence, gene
"""


@_q("genomics_contamination")
def genomics_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VerifyBamID-lite contamination estimate over 1.bam at ten fixed
    hom-alt-like sites (majority base declared ALT, observed minority
    base REF): doubled ref-fraction + sequencing-error floor. The
    reduction over the pileup is differentially tested in
    tests/test_operators.py::test_estimate_contamination_matches_serial."""
    from disq_spark.operators.genomics import estimate_contamination
    from disq_spark.sources.bam_source import read_bam

    sites = [
        ("1", 24975456, "T", "A"),
        ("1", 24975473, "A", "C"),
        ("1", 24975429, "A", "T"),
        ("1", 24975438, "A", "T"),
        ("1", 24975427, "C", "A"),
        ("1", 24975426, "G", "A"),
        ("1", 24975424, "T", "A"),
        ("1", 24795548, "C", "T"),
        ("1", 24795547, "A", "C"),
        ("1", 24975486, "G", "T"),
    ]
    vdf = spark.createDataFrame(
        [
            (c, p, p, None, r, [a], None, [], {},
             [{"sample": "S", "gt": "1/1", "attrs": {}}])
            for c, p, r, a in sites
        ],
        _variants_schema(spark),
    )
    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    return estimate_contamination(df, vdf, min_depth=10, min_base_quality=10)


def _variants_schema(spark):
    from disq_spark.schemas import VARIANTS_SCHEMA

    return VARIANTS_SCHEMA


ORACLE["genomics_contamination"] = """
SELECT CAST(10 AS BIGINT) AS n_sites, CAST(2261 AS BIGINT) AS total_bases,
       CAST(10 AS BIGINT) AS ref_bases, CAST(2251 AS BIGINT) AS alt_bases,
       CAST(0 AS BIGINT) AS other_bases,
       CAST(0.008846 AS DOUBLE) AS contamination_est,
       CAST(0.0 AS DOUBLE) AS error_floor
"""


@_q("genomics_sv_discordant")
def genomics_sv_discordant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-variant discordant-pair evidence (DELLY/LUMPY
    first-pass analog) over 1.bam: canonical-end dedup, TRA/INV/DUP/
    DEL/OTHER classification, 100 kb BOTH-breakpoint clustering (left
    starts tight AND mate jumps bounded). The
    classifier + clustering are differentially tested (engineered SV
    pair sets and a serial recount) in
    tests/test_operators.py::test_sv_discordant_clusters_synthetic_and_serial."""
    from disq_spark.operators.genomics import sv_discordant_clusters
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    return sv_discordant_clusters(
        df, max_insert=1000, cluster_window=100_000, min_support=1
    ).orderBy("class", "contig", "mate_contig", "start_lo")


ORACLE["genomics_sv_discordant"] = """
SELECT "class", contig, CAST(start_lo AS BIGINT) AS start_lo,
       CAST(start_hi AS BIGINT) AS start_hi, mate_contig,
       CAST(mate_lo AS BIGINT) AS mate_lo, CAST(mate_hi AS BIGINT) AS mate_hi,
       CAST(n_pairs AS BIGINT) AS n_pairs
FROM (VALUES
  ('INV', '1', 24818092, 24818092, '1', 33246704, 33246704, 1),
  ('INV', '1', 24855954, 24855954, '1', 155582940, 155582940, 1),
  ('INV', '1', 24981496, 24981496, '1', 36935796, 36935796, 1),
  ('TRA', '1', 24840860, 24840860, '10', 61833862, 61833862, 1),
  ('TRA', '1', 24802672, 24802672, '11', 56127970, 56127970, 1),
  ('TRA', '1', 24979276, 24979276, '13', 48986638, 48986638, 1),
  ('TRA', '1', 24857841, 24857841, '15', 25523450, 25523450, 1),
  ('TRA', '1', 24981544, 24981544, '18', 10675078, 10675078, 1),
  ('TRA', '1', 24832937, 24832937, '2', 55795331, 55795331, 1),
  ('TRA', '1', 24840851, 24840851, '4', 82126179, 82126179, 1),
  ('TRA', '1', 24973222, 24973222, '4', 38342912, 38342912, 1),
  ('TRA', '1', 24973226, 24973226, '5', 162404294, 162404294, 1),
  ('TRA', '1', 24981581, 24981581, '5', 69422377, 69422377, 1),
  ('TRA', '1', 24835200, 24835200, '8', 99170324, 99170324, 1),
  ('TRA', '1', 24976557, 24976557, 'X', 81575341, 81575341, 1)
) AS t("class", contig, start_lo, start_hi, mate_contig, mate_lo, mate_hi, n_pairs)
ORDER BY "class", contig, mate_contig, start_lo
"""


@_q("genomics_region_coverage")
def genomics_region_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bedtools coverage / samtools bedcov analog over 1.bam with a
    five-region panel (dense, sparse, and empty stretches): per-region
    read count, overlap-base total, mean depth, and exact breadth from
    run-length depth segments. Differentially tested against a serial
    per-base tally in
    tests/test_operators.py::test_region_coverage_matches_serial."""
    from disq_spark.operators.genomics import region_coverage
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    regions = spark.createDataFrame(
        [
            ("1", 24795000, 24805000, "r1"),
            ("1", 24805001, 24855000, "r2"),
            ("1", 24855001, 24905000, "r3"),
            ("1", 24905001, 24985000, "r4"),
            ("1", 20000000, 20001000, "r_empty"),
        ],
        "contig string, start long, end long, name string",
    )
    return region_coverage(df, regions).orderBy("contig", "start")


ORACLE["genomics_region_coverage"] = """
SELECT contig, CAST(start AS BIGINT) AS start, CAST("end" AS BIGINT) AS "end",
       name, CAST(n_reads AS BIGINT) AS n_reads,
       CAST(total_bases AS BIGINT) AS total_bases,
       CAST(mean_depth AS DOUBLE) AS mean_depth,
       CAST(covered_bases AS BIGINT) AS covered_bases,
       CAST(pct_covered AS DOUBLE) AS pct_covered
FROM (VALUES
  ('1', 20000000, 20001000, 'r_empty', 0, 0, 0.0, 0, 0.0),
  ('1', 24795000, 24805000, 'r1', 432, 31686, 3.168283, 756, 0.075592),
  ('1', 24805001, 24855000, 'r2', 651, 48091, 0.96182, 2297, 0.04594),
  ('1', 24855001, 24905000, 'r3', 834, 60943, 1.21886, 1753, 0.03506),
  ('1', 24905001, 24985000, 'r4', 3000, 219037, 2.737963, 3762, 0.047025)
) AS t(contig, start, "end", name, n_reads, total_bases, mean_depth, covered_bases, pct_covered)
ORDER BY contig, start
"""


@_q("genomics_bam_to_fastq")
def genomics_bam_to_fastq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """samtools-fastq analog over 1.bam: primary-only, revcomp'd back
    to sequencer orientation, /1 //2 mate suffixes. Golden aggregate
    (counts + md5 content fingerprint, mod-folded) pins every record
    byte; the per-record path and the FASTQ sink round-trip are
    differentially tested in
    tests/test_operators.py::test_bam_to_fastq_rows_matches_serial."""
    from disq_spark.operators.genomics import bam_to_fastq_rows
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(FIXTURES, "1.bam"))
    out = bam_to_fastq_rows(df)
    fp = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "name", "seq", "qual")), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000_007),
    )
    return out.agg(
        F.count("*").alias("n_records"),
        F.count_distinct(F.col("name")).alias("n_names"),
        F.sum(F.col("name").endswith("/1").cast("long")).alias("n_r1"),
        F.sum(F.col("name").endswith("/2").cast("long")).alias("n_r2"),
        F.sum(F.length("seq")).alias("total_bases"),
        F.sum(fp).alias("content_fp"),
    )


ORACLE["genomics_bam_to_fastq"] = """
SELECT CAST(4917 AS BIGINT) AS n_records, CAST(4917 AS BIGINT) AS n_names,
       CAST(2442 AS BIGINT) AS n_r1, CAST(2475 AS BIGINT) AS n_r2,
       CAST(373692 AS BIGINT) AS total_bases,
       CAST(2439317969917 AS BIGINT) AS content_fp
"""
