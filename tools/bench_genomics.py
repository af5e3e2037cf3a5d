"""Genomics I/O throughput: replicate the reference fixture (4.9k reads)
by a factor, write a single-file BAM (with .sbi/.bai), read it back
across many partitions, flagstat it, and run a 3-region index-pruned
interval query. Prints one JSON line with records/sec. Not part of the
driver's bench.py contract — numbers recorded in BASELINE.md.

Usage: python tools/bench_genomics.py [replication_factor]
  factor 40   (default) ~200k records / ~25 MB — the quick regression point
  factor 2100 ~10.3M records / ~2.2 GB — the RealWorldFilesIT-scale point
    (README.md:223-248 analog); any super-linear planner/merge path shows
    up as per-record cost divergence vs the factor-40 run.

       python tools/bench_genomics.py --hotspot [replication_factor]
  Skew hardening probe: pileup + coverage_depth on two frames of EQUAL
  record count — uniform (each replica shifted 150 kb apart) vs a
  pathological hotspot (every replica stacked on the SAME coordinates —
  amplicon-shaped data, per-position depth = factor x base depth).
  Because both operators partial-aggregate map-side, a position's rows
  at the reducer are bounded by #map-partitions regardless of depth, so
  the hotspot wall must stay ~flat vs uniform. Prints one JSON line
  with both walls and the ratio.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from disq_spark.session import get_session  # noqa: E402
from disq_spark.sinks.bam import write_bam  # noqa: E402
from disq_spark.sources.bam_source import read_bam  # noqa: E402

FIXTURE = "/root/reference/src/test/resources/1-with-splitting-index.bam"


def hotspot_main(factor: int) -> None:
    """Pileup/coverage skew probe (no file I/O — this measures the
    operators, not the codecs). Uniform and hotspot frames carry the
    same records; only the coordinate layout differs."""
    spark = get_session("bench_genomics_hotspot")
    from disq_spark.operators.genomics import coverage_depth, pileup

    base, header = read_bam(spark, FIXTURE, split_size=200_000)
    base = base.filter(F.col("start").isNotNull()).cache()
    n_base = base.count()
    rep = spark.range(factor).select(F.col("id").alias("__rep"))

    def replicate(shift_col):
        return (
            base.crossJoin(rep)
            .withColumn("name", F.concat(F.col("name"), F.lit("_"), F.col("__rep")))
            .withColumn("start", F.col("start") + shift_col)
            .withColumn("end", F.col("end") + shift_col)
            .drop("__rep")
            .repartition(32)
        )

    SHIFT = 150_000
    uniform = replicate((F.col("__rep") % 1399) * SHIFT).cache()
    # hotspot: zero shift — every replica lands on the exact coordinates
    # of the base reads, so per-position depth is factor x base depth
    # (the amplicon shape); same record count, same event count.
    hot = replicate(F.lit(0)).cache()
    n_u, n_h = uniform.count(), hot.count()
    assert n_u == n_h == n_base * factor

    def time_pileup(df):
        t0 = time.time()
        row = (
            pileup(df, min_base_quality=13)
            .agg(
                F.count("*").alias("n_pos"),
                F.sum("depth").alias("sum_depth"),
                F.max("depth").alias("max_depth"),
            )
            .collect()[0]
        )
        return time.time() - t0, row

    def time_coverage(df):
        t0 = time.time()
        row = (
            coverage_depth(df)
            .agg(F.count("*").alias("n_seg"), F.max("depth").alias("max_depth"))
            .collect()[0]
        )
        return time.time() - t0, row

    # warm both cached frames + the Python worker pool before timing
    uniform.limit(1).collect()
    hot.limit(1).collect()
    tu_p, ru_p = time_pileup(uniform)
    th_p, rh_p = time_pileup(hot)
    tu_c, ru_c = time_coverage(uniform)
    th_c, rh_c = time_coverage(hot)
    print(
        json.dumps(
            {
                "records": n_u,
                "pileup_uniform_s": round(tu_p, 2),
                "pileup_hotspot_s": round(th_p, 2),
                "pileup_hotspot_ratio": round(th_p / tu_p, 2),
                "pileup_uniform_positions": int(ru_p["n_pos"]),
                "pileup_hotspot_positions": int(rh_p["n_pos"]),
                "pileup_uniform_max_depth": int(ru_p["max_depth"]),
                "pileup_hotspot_max_depth": int(rh_p["max_depth"]),
                "coverage_uniform_s": round(tu_c, 2),
                "coverage_hotspot_s": round(th_c, 2),
                "coverage_hotspot_ratio": round(th_c / tu_c, 2),
                "coverage_uniform_segments": int(ru_c["n_seg"]),
                "coverage_hotspot_segments": int(rh_c["n_seg"]),
                "coverage_hotspot_max_depth": int(rh_c["max_depth"]),
            }
        )
    )


def textsinks_main(factor: int) -> None:
    """SAM/VCF TEXT-sink encode throughput (the r8 vectorization:
    format_sam_batch column-level assembly, format_vcf_batch raw-column
    zip — commit ba0eaa1 measured 11.4k->277k and 17.8k->325k rec/s).
    This mode makes those rates reproducible: replicate the fixtures
    factor x, freeze the input with persist + count (timing excludes
    read+replicate), write the single-file text sinks, report
    rec/s and MB/s. BASELINE.md records the expected rates; a regression
    to per-row assembly shows up as a ~20x drop.

    factor 40   -> ~200k SAM records, quick regression point
    factor 1400 -> ~6.9M SAM / 14M VCF records, ~2 GB of text (the scale
                   point the r8 verdict asked to have on record)."""
    spark = get_session("bench_genomics_textsinks")
    from disq_spark.sinks.reads import write_sam
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.variants import read_vcf

    tmp = tempfile.mkdtemp(prefix="textsinks_")
    out: dict = {"metric": "textsink_throughput", "factor": factor}
    try:
        # persist + count (NOT localCheckpoint): Dataset.unpersist() is a
        # no-op for checkpointed RDDs (they bypass the CacheManager), and
        # the multi-GB SAM frame must actually release before the VCF
        # measurement or its spill pressure skews vcf_rec_per_s
        base, header = read_bam(spark, FIXTURE, split_size=200_000)
        rep = spark.range(factor).select(F.col("id").alias("__rep"))
        big = base.crossJoin(rep).drop("__rep").repartition(32).persist()
        n_sam = big.count()
        sam_path = os.path.join(tmp, "big.sam")
        t0 = time.time()
        write_sam(big, header, sam_path)
        t_sam = time.time() - t0
        sam_bytes = os.path.getsize(sam_path)
        out.update(
            sam_records=n_sam,
            sam_wall_s=round(t_sam, 2),
            sam_rec_per_s=int(n_sam / t_sam),
            sam_mb=round(sam_bytes / 1e6, 1),
            sam_mb_per_s=round(sam_bytes / 1e6 / t_sam, 1),
        )
        big.unpersist(blocking=True)
        os.remove(sam_path)

        vcf_src = os.path.join(
            os.path.dirname(FIXTURE), "HiSeq.10000.vcf.bgz"
        )
        vdf, vheader = read_vcf(spark, vcf_src)
        vbig = vdf.crossJoin(rep).drop("__rep").repartition(32).persist()
        n_vcf = vbig.count()
        vcf_path = os.path.join(tmp, "big.vcf")
        t0 = time.time()
        write_vcf(vbig, vheader, vcf_path)  # plain text target: encode path
        t_vcf = time.time() - t0
        vcf_bytes = os.path.getsize(vcf_path)
        out.update(
            vcf_records=n_vcf,
            vcf_wall_s=round(t_vcf, 2),
            vcf_rec_per_s=int(n_vcf / t_vcf),
            vcf_mb=round(vcf_bytes / 1e6, 1),
            vcf_mb_per_s=round(vcf_bytes / 1e6 / t_vcf, 1),
        )
        vbig.unpersist(blocking=False)
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))


def kinship_main(n_samples: int, n_sites: int) -> None:
    """Cohort-operator scale probe: king_kinship + pairwise_ibs over a
    deterministic synthetic genotype table. The pair fan-out is
    sites x C(samples,2); the probe reports wall + fan-out so the
    linear-in-sites / quadratic-in-panel cost model in SCALE.md stays a
    measured claim, not an assertion."""
    spark = get_session("bench_genomics_kinship")
    from disq_spark.operators.variant_qc import king_kinship, pairwise_ibs

    sites = spark.range(n_sites).select(
        F.lit("1").alias("contig"),
        (F.col("id") * 100 + 1).alias("start"),
        F.lit("A").alias("ref"),
        F.array(F.lit("G")).alias("alts"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_samples - 1)),
            lambda i: F.struct(
                F.concat(F.lit("S"), F.lpad(i.cast("string"), 4, "0")).alias(
                    "sample"
                ),
                F.concat(
                    (F.xxhash64(F.col("id"), i) % 2 == 0).cast("int"),
                    F.lit("/"),
                    (F.xxhash64(F.col("id"), i, F.lit(7)) % 2 == 0).cast("int"),
                ).alias("gt"),
                F.map_from_arrays(F.array(), F.array()).alias("attrs"),
            ),
        ).alias("genotypes"),
    )
    sites = sites.localCheckpoint()  # freeze the synthetic input

    t0 = time.time()
    nk = king_kinship(sites).count()
    tk = time.time() - t0
    t0 = time.time()
    ni = pairwise_ibs(sites).count()
    ti = time.time() - t0
    pairs = n_samples * (n_samples - 1) // 2
    print(
        json.dumps(
            {
                "metric": "kinship_scale_probe",
                "n_samples": n_samples,
                "n_sites": n_sites,
                "pair_fanout_rows": pairs * n_sites,
                "king_wall_s": round(tk, 2),
                "king_pairs_out": int(nk),
                "ibs_wall_s": round(ti, 2),
                "ibs_pairs_out": int(ni),
            }
        )
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if a not in ("--hotspot", "--kinship", "--textsinks")]
    if "--hotspot" in sys.argv[1:]:
        hotspot_main(int(args[0]) if args else 40)
        return
    if "--textsinks" in sys.argv[1:]:
        textsinks_main(int(args[0]) if args else 40)
        return
    if "--kinship" in sys.argv[1:]:
        kinship_main(
            int(args[0]) if args else 100, int(args[1]) if len(args) > 1 else 20000
        )
        return
    factor = int(args[0]) if args else 40
    spark = get_session("bench_genomics")
    base, header = read_bam(spark, FIXTURE, split_size=200_000)
    base = base.cache()
    n_base = base.count()

    # one crossJoin with a range, not a factor-way union: the union plan
    # grows linearly with factor (2000-way union = minutes of planning);
    # the join replicates with a 2-operator plan at any factor. Each
    # replica SHIFTS its coordinates by 150 kb (wrapping inside the
    # contig) so the big file covers a genuinely larger genome span —
    # coordinate-sorting bare duplicates would place identical records
    # adjacent, letting BGZF compress the file to nothing and collapsing
    # read parallelism (a 10M-record file must look like 10M reads, not
    # like one read 10M times).
    from disq_spark.operators.genomics import coordinate_sort

    SHIFT = 150_000
    # 1399 * 150kb = 210 Mb < LN(contig 1) = 249 Mb. Deliberately coprime
    # to the 4 seq-variants and 2 qual-variants below: replicas that wrap
    # onto the SAME coordinate slot (rep, rep+WRAP, ...) then carry
    # DIFFERENT byte variants — a 4-divisible wrap re-aligns the variant
    # cycle and the coordinate sort puts byte-identical records adjacent,
    # which BGZF deletes (measured: 56 B/record vs the true ~119)
    WRAP = 1_399
    rep = spark.range(factor).select(F.col("id").alias("__rep"))
    shift = (F.col("__rep") % WRAP) * SHIFT
    placed = F.col("start").isNotNull()
    # decorrelate replica BYTES too (BAM stores seq/qual verbatim, so
    # reverse/complement variants are legal): byte-identical replicas
    # within one BGZF window compress to nothing, and a "2 GB" file
    # that inflates from 200 MB of unique bytes benchmarks the codec,
    # not the I/O path
    # per-replica ALPHABET PERMUTATIONS (translate) change the byte
    # values themselves — reversal/rotation variants fall to LZ matching
    # (a rotated copy is two long matches; measured: the file stopped
    # growing past ~4 wrap layers), but differently-substituted copies
    # share no literal runs. 4 reverse/complement shapes x 8 base perms
    # x 16 qual perms, all cycle lengths coprime-ish to the wrap, so
    # slot-adjacent replicas always differ in bytes.
    import random as _rnd

    _r = _rnd.Random(5)
    QA = "".join(chr(c) for c in range(33, 74))  # visible qual alphabet
    qual_perms = []
    for _ in range(16):
        p = list(QA)
        _r.shuffle(p)
        qual_perms.append("".join(p))
    seq_perms = []
    for _ in range(8):
        p = list("ACGT")
        _r.shuffle(p)
        seq_perms.append("".join(p))

    variant = F.col("__rep") % 4
    seq0 = F.col("seq")
    comp = F.translate(seq0, "ACGT", "TGCA")
    seq_var = (
        F.when(seq0.isNull(), seq0)
        .when(variant == 1, F.reverse(seq0))
        .when(variant == 2, comp)
        .when(variant == 3, F.reverse(comp))
        .otherwise(seq0)
    )
    sp = F.col("__rep") % 8
    seq_v = F.when(seq0.isNull(), seq0)
    for k in range(8):
        seq_v = seq_v.when(sp == k, F.translate(F.col("__seq_var"), "ACGT", seq_perms[k]))
    seq_v = seq_v.otherwise(F.col("__seq_var"))
    qp = F.col("__rep") % 16
    qual_v = F.when(F.col("qual").isNull(), F.col("qual"))
    for k in range(16):
        qual_v = qual_v.when(qp == k, F.translate(F.col("qual"), QA, qual_perms[k]))
    qual_v = qual_v.otherwise(F.col("qual"))
    big = (
        base.crossJoin(rep)
        .withColumn("name", F.concat(F.col("name"), F.lit("_"), F.col("__rep")))
        .withColumn("start", F.when(placed, F.col("start") + shift).otherwise(F.col("start")))
        .withColumn("end", F.when(placed, F.col("end") + shift).otherwise(F.col("end")))
        .withColumn(
            "mate_start",
            F.when(F.col("mate_start").isNotNull(), F.col("mate_start") + shift).otherwise(
                F.col("mate_start")
            ),
        )
        .withColumn("__seq_var", seq_var)
        .withColumn("seq", seq_v)
        .withColumn("qual", qual_v)
        .drop("__rep", "__seq_var")
    )
    # Materialize to temp parquet rather than cache/checkpoint: at the
    # multi-GB point the replicated frame must not live in the block
    # manager (disk-backed scan keeps the timed write's input memory
    # bounded, like a real pipeline reading staged data).
    tmp = tempfile.mkdtemp()
    staged = os.path.join(tmp, "staged.parquet")
    big.write.parquet(staged)
    staged_df = spark.read.parquet(staged)
    big = staged_df
    n = big.count()
    # single-file .bai write requires global coordinate order (the
    # builders refuse interleaved parts). A parquet read-back does not
    # guarantee partition order (splits are bin-packed by size), so the
    # range-partition sort runs INSIDE the timed write — which is the
    # true cost of a single-file indexed write from staged data anyway.
    big = coordinate_sort(big, header, num_partitions=32)
    # warm the Python worker pool (first mapInPandas pays worker spawn)
    write_bam(base, header, os.path.join(tmp, "warmup.bam"), write_sbi=False, write_bai=False)

    out = os.path.join(tmp, "big.bam")
    t0 = time.time()
    write_bam(big, header, out, write_bai=True)
    t_write = time.time() - t0
    size_mb = os.path.getsize(out) / 1e6

    t0 = time.time()
    df2, _ = read_bam(spark, out, split_size=1024 * 1024)
    n2 = df2.count()
    t_read = time.time() - t0
    assert n2 == n, (n2, n)

    # flagstat over the written file: column-pruned scan (flags only)
    t0 = time.time()
    fdf, _ = read_bam(spark, out, split_size=1024 * 1024, columns=["flags"])
    f = F.col("flags")
    fdf.agg(
        F.count("*").alias("total"),
        F.sum(((f.bitwiseAND(4)) == 0).cast("long")).alias("mapped"),
        F.sum(((f.bitwiseAND(1)) != 0).cast("long")).alias("paired"),
        F.sum(((f.bitwiseAND(1024)) != 0).cast("long")).alias("duplicates"),
    ).collect()
    t_flagstat = time.time() - t0

    # driver-side .bai parse cost (pure-Python; scales with bin count —
    # a planner input, so it gates every interval query's latency)
    from disq_spark.formats import bai as baimod

    t0 = time.time()
    baimod.read_bai(out + ".bai")
    t_bai_parse = time.time() - t0

    # 3-region interval query through the freshly merged .bai
    from disq_spark.functions.intervals import Interval

    regions = [
        Interval("1", 24_800_000, 24_820_000),
        Interval("1", 24_850_000, 24_860_000),
        Interval("1", 24_890_000, 24_900_000),
    ]
    t0 = time.time()
    idf, _ = read_bam(spark, out, split_size=1024 * 1024, intervals=regions)
    n_interval = idf.count()
    t_interval = time.time() - t0

    # raw-tags scan (lazy aux decode — the scale path): tags carried as
    # undecoded byte spans, full rows otherwise
    t0 = time.time()
    df_raw, _ = read_bam(spark, out, split_size=1024 * 1024, tags="raw")
    n3 = df_raw.count()
    t_read_raw = time.time() - t0
    assert n3 == n, (n3, n)

    # narrow aggregation over the decoded frame (the common analytic shape)
    t0 = time.time()
    df2.groupBy("contig").agg(F.count("*"), F.avg("mapq")).collect()
    t_agg = time.time() - t0

    # pileup: per-base fan-out (~records x read-length events) with
    # map-side combine into per-position counts — the heaviest derived
    # analysis; any super-linearity in the SQL CIGAR walk shows up here
    from disq_spark.operators.genomics import mark_duplicates, pileup

    t0 = time.time()
    pile = pileup(df2, min_base_quality=13).agg(
        F.count("*").alias("n_pos"), F.sum("depth").alias("sum_depth")
    ).collect()[0]
    t_pileup = time.time() - t0

    # mark_duplicates: one window shuffle on the position key
    t0 = time.time()
    n_dup = (
        mark_duplicates(df2).filter(F.col("flags").bitwiseAND(1024) != 0).count()
    )
    t_markdup = time.time() - t0

    # VCF path: splittable BGZF scan of the 10k-variant fixture
    from disq_spark.sources.variants import read_vcf

    t0 = time.time()
    vdf, _vh = read_vcf(
        spark,
        "/root/reference/src/test/resources/HiSeq.10000.vcf.bgz",
        split_size=64 * 1024,
    )
    nv = vdf.count()
    t_vcf = time.time() - t0

    # CRAM path: v3 + rANS decode of the GATK fixture
    from disq_spark.sources.cram_source import read_cram

    t0 = time.time()
    cdf, _ch = read_cram(
        spark,
        "/root/reference/src/test/resources/CEUTrio.HiSeq.WGS.b37.NA12878.20.21.10m-10m100.cram",
        missing_ref_as_n=True,
    )
    nc = cdf.count()
    t_cram = time.time() - t0

    # FASTQ: write a sizable file from the reads, then timed scan
    from disq_spark.sources.fastq import read_fastq, write_fastq

    fq_df = staged_df.filter(F.col("seq").isNotNull() & F.col("qual").isNotNull()).select(
        F.col("name"), F.lit(None).cast("string").alias("comment"), "seq", "qual"
    )
    fq_path = os.path.join(tmp, "big.fastq")
    write_fastq(fq_df, fq_path)
    nf_expect = fq_df.count()
    t0 = time.time()
    nf = read_fastq(spark, fq_path, split_size=4 * 1024 * 1024).count()
    t_fastq = time.time() - t0
    assert nf == nf_expect, (nf, nf_expect)

    print(
        json.dumps(
            {
                "records": n,
                "bam_mb": round(size_mb, 1),
                "write_s": round(t_write, 2),
                "write_rec_per_s": int(n / t_write),
                "read_s": round(t_read, 2),
                "read_rec_per_s": int(n / t_read),
                "read_raw_tags_s": round(t_read_raw, 2),
                "read_raw_tags_rec_per_s": int(n / t_read_raw),
                "agg_s": round(t_agg, 2),
                "pileup_s": round(t_pileup, 2),
                "pileup_positions": int(pile["n_pos"]),
                "pileup_sum_depth": int(pile["sum_depth"]),
                "pileup_rec_per_s": int(n / t_pileup),
                "markdup_s": round(t_markdup, 2),
                "markdup_flagged": int(n_dup),
                "markdup_rec_per_s": int(n / t_markdup),
                "flagstat_s": round(t_flagstat, 2),
                "flagstat_rec_per_s": int(n / t_flagstat),
                "interval_3region_s": round(t_interval, 2),
                "interval_records": n_interval,
                "bai_parse_s": round(t_bai_parse, 2),
                "n_base": n_base,
                "vcf_records": nv,
                "vcf_s": round(t_vcf, 2),
                "cram_records": nc,
                "cram_s": round(t_cram, 2),
                "fastq_records": nf,
                "fastq_s": round(t_fastq, 2),
                "fastq_rec_per_s": int(nf / t_fastq),
            }
        )
    )
    if not os.environ.get("BENCH_GENOMICS_KEEP"):
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
