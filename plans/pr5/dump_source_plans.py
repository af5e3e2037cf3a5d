"""Dump the executed physical plans of every split-planned reader, with
the Spark jobs each one runs.

Imports the library from the checkout given as REPO, so the same script
dumps the plans of two revisions:

    python dump_source_plans.py REPO OUT_DIR SUFFIX

Inputs go to a temporary directory: a coordinate-sorted BAM and a BGZF
VCF from perfbench/gen.py (seed 1), each read in 4 chunks; a plain copy
of that VCF; a SAM and a CRAM written by the library's sinks from the
BAM's first 2,000 reads (the CRAM re-placed onto fixtures/ref.fa); a
two-segment WARC directory. FASTQ and FASTA come from fixtures/. Every
output file starts with the row and partition counts and the number of
Spark jobs run while building the frame and while collecting it.
"""

from __future__ import annotations

import gzip
import os
import shutil
import sys
import tempfile


def main() -> None:
    repo, out_dir, suffix = os.path.abspath(sys.argv[1]), sys.argv[2], sys.argv[3]
    sys.path.insert(0, repo)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from pyspark.sql import functions as F

    from disq_spark import get_session
    from disq_spark.formats.warc import build_warc
    from disq_spark.headers import SamHeader
    from disq_spark.sinks.cram import write_cram
    from disq_spark.sinks.reads import write_sam
    from disq_spark.sources.bam_source import read_bam
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows
    from disq_spark.sources.fastq import read_fastq
    from disq_spark.sources.reads import read_sam
    from disq_spark.sources.variants import read_vcf
    from disq_spark.sources.warc import read_warc
    from perfbench import gen

    spark = get_session(app_name="dump_source_plans")
    sc = spark.sparkContext
    os.makedirs(out_dir, exist_ok=True)
    fx = os.path.join(repo, "fixtures")
    with tempfile.TemporaryDirectory() as tmp:
        bam = os.path.join(tmp, "reads.bam")
        gen.write_bam_file(bam, gen.make_reads(1, 10_000), "coordinate")
        vcf = os.path.join(tmp, "calls.vcf.bgz")
        gen.write_vcf_file(vcf, gen.make_variants(1, 4_000))
        plain_vcf = os.path.join(tmp, "calls.vcf")
        with gzip.open(vcf, "rb") as src, open(plain_vcf, "wb") as dst:
            shutil.copyfileobj(src, dst)

        reads, header = read_bam(spark, bam)
        reads = reads.limit(2000)
        sam = os.path.join(tmp, "reads.sam")
        write_sam(reads, header, sam)
        ref = os.path.join(fx, "ref.fa")
        cram_header = SamHeader(text="@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chrA\tLN:30000\n")
        placed = (
            reads.filter(F.col("start").isNotNull())
            .withColumn("contig", F.lit("chrA"))
            .withColumn("start", (F.col("start") % 29000) + 1)
            .withColumn("end", F.col("start") + F.length("seq") - 1)
            .withColumn("cigar", F.concat(F.length("seq").cast("string"), F.lit("M")))
            .withColumn("mate_contig", F.lit(None).cast("string"))
            .withColumn("mate_start", F.lit(None).cast("long"))
            .orderBy("start")
        )
        cram = os.path.join(tmp, "reads.cram")
        write_cram(placed, cram_header, cram, reference_path=ref)
        warc_dir = os.path.join(tmp, "warc")
        os.makedirs(warc_dir)
        for i in range(2):
            recs = [
                ({"WARC-Type": "response", "WARC-Record-ID": f"<urn:{i}:{j}>",
                  "WARC-Target-URI": f"https://x/{i}/{j}"}, b"x" * (200 + 50 * j))
                for j in range(40)
            ]
            with open(os.path.join(warc_dir, f"seg-{i}.warc.gz"), "wb") as f:
                f.write(build_warc(recs, gzip_members=True))

        readers = {
            "read_bam": lambda: read_bam(spark, bam, split_size=os.path.getsize(bam) // 4 + 1)[0],
            "read_vcf": lambda: read_vcf(spark, vcf, split_size=os.path.getsize(vcf) // 4 + 1)[0],
            "read_cram": lambda: read_cram(spark, cram, reference_path=ref)[0],
            "read_fasta_windows": lambda: read_fasta_windows(spark, ref, 20_000),
            "read_vcf_plain": lambda: read_vcf(spark, plain_vcf)[0],
            "read_sam": lambda: read_sam(spark, sam)[0],
            "read_fastq": lambda: read_fastq(spark, os.path.join(fx, "sample.fastq"), 32 * 1024),
            "read_warc": lambda: read_warc(spark, warc_dir, split_size=4096),
        }
        for name, build in readers.items():
            sc.setJobGroup(f"{name}-build", name)
            df = build()
            sc.setJobGroup(f"{name}-collect", name)
            n = len(df.collect())
            jobs = [len(sc.statusTracker().getJobIdsForGroup(f"{name}-{p}")) for p in ("build", "collect")]
            plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            path = os.path.join(out_dir, f"{name}{suffix}.txt")
            with open(path, "w") as f:
                f.write(
                    f"-- {n} rows, {df.rdd.getNumPartitions()} partitions, "
                    f"jobs: {jobs[0]} building, {jobs[1]} collecting\n{plan}"
                )
            print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
