"""End-to-end genomics pipelines — the workflows a disq user actually
runs, composed from our operators:

1. sort-and-index: unsorted reads -> coordinate_sort -> single-file BAM
   (+ .sbi/.bai) -> pruned interval query.
2. analyze: BAM -> mark_duplicates -> filter -> interval join against a
   target panel -> per-target depth.
3. cohort: VCF -> typed genotypes -> per-sample metrics -> single-file
   BGZF VCF (+ .tbi) round-trip.
"""

import os
import random

from pyspark.sql import functions as F

from conftest import needs_reference
from disq_spark.functions.intervals import Interval, overlaps
from disq_spark.operators.genomics import coordinate_sort, interval_join, mark_duplicates
from disq_spark.sinks.bam import write_bam
from disq_spark.sinks.variants import write_vcf
from disq_spark.sources.bam_source import read_bam
from disq_spark.sources.variants import read_vcf


@needs_reference
def test_sort_index_query_pipeline(spark, fixtures_dir, tmp_path):
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=200_000)

    # destroy the order, then restore it distributively
    shuffled = df.orderBy(F.md5(F.col("name")))
    restored = coordinate_sort(shuffled, header, num_partitions=4)

    out = str(tmp_path / "sorted.bam")
    write_bam(restored, header, out, write_bai=True, sbi_granularity=1)
    assert os.path.exists(out + ".bai") and os.path.exists(out + ".sbi")

    # the written file is genuinely coordinate-sorted
    back, _ = read_bam(spark, out)
    starts = [r.start for r in back.select("start").collect() if r.start is not None]
    assert starts == sorted(starts)

    # and the fresh .bai prunes a narrow query to the right answer
    ivs = [Interval("1", 24_850_000, 24_860_000)]
    pruned, _ = read_bam(spark, out, split_size=100_000, intervals=ivs)
    brute = back.filter(overlaps(ivs))
    assert pruned.count() == brute.count() > 0


@needs_reference
def test_dedup_target_depth_pipeline(spark, fixtures_dir):
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=300_000)
    marked = mark_duplicates(df)

    clean = marked.filter(
        (F.col("flags").bitwiseAND(1024) == 0) & (F.col("flags").bitwiseAND(4) == 0)
    )
    # synthetic 5 kb target panel over the covered region
    targets = spark.range(24_795_000 // 5000, 24_990_000 // 5000).select(
        F.lit("1").alias("contig"),
        (F.col("id") * 5000 + 1).alias("start"),
        ((F.col("id") + 1) * 5000).alias("end"),
        F.col("id").alias("target_id"),
    )
    per_target = (
        interval_join(clean.select("contig", "start", "end", "name"), targets, right_prefix="t_")
        .groupBy("t_target_id")
        .agg(F.count("*").alias("depth"))
    )
    rows = per_target.collect()
    assert rows and all(r.depth > 0 for r in rows)
    # every clean read overlapping the panel was counted exactly once
    total = sum(r.depth for r in rows)
    brute = clean.filter(
        (F.col("contig") == "1") & (F.col("start") <= 24_990_000) & (F.col("end") >= 24_795_001)
    ).count()
    assert total == brute


@needs_reference
def test_cohort_vcf_pipeline(spark, fixtures_dir, tmp_path):
    from disq_spark.functions.vcf_typed import explode_genotypes

    src = os.path.join(fixtures_dir, "CEUTrio.20.21.gatk3.4.g.vcf.bgz")
    df, header = read_vcf(spark, src, split_size=256 * 1024)
    g = explode_genotypes(df, header)
    metrics = g.groupBy("sample").agg(
        F.count("*").alias("n_gts"),
        F.round(F.avg("fmt_GQ"), 2).alias("mean_gq"),
    )
    assert metrics.count() == len(header.samples) > 0

    # filter + single-file BGZF write with .tbi, then a pruned re-read
    hi = df.filter(F.col("qual") >= 50)
    out = str(tmp_path / "hi.vcf.bgz")
    write_vcf(hi, header, out, write_tbi=True)
    assert os.path.exists(out + ".tbi")
    contig = df.select("contig").first().contig
    lo_pos = hi.filter(F.col("contig") == contig).agg(F.min("start")).collect()[0][0]
    ivs = [Interval(contig, lo_pos, lo_pos + 100_000)]
    back, _ = read_vcf(spark, out, split_size=64 * 1024, intervals=ivs)
    want = hi.filter(overlaps(ivs)).count()
    assert back.count() == want > 0
