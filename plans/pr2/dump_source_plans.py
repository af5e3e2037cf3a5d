"""Dump the executed physical plans of the split-planned readers.

Imports the library from the checkout given as REPO, so the same script
dumps the plans of two revisions:

    python plans/pr2/dump_source_plans.py REPO OUT_DIR SUFFIX

Inputs (perfbench/gen.py, seed 1) go to a temporary directory: a
coordinate-sorted BAM read in 4 chunks and a BGZF VCF read in 4 chunks;
FASTQ and FASTA come from the repository's fixtures/.
"""

from __future__ import annotations

import os
import sys
import tempfile


def main() -> None:
    repo, out_dir, suffix = os.path.abspath(sys.argv[1]), sys.argv[2], sys.argv[3]
    sys.path.insert(0, repo)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from disq_spark import get_session
    from disq_spark.sources.bam_source import read_bam
    from disq_spark.sources.fasta import read_fasta_windows
    from disq_spark.sources.fastq import read_fastq
    from disq_spark.sources.variants import read_vcf
    from perfbench import gen

    spark = get_session(app_name="dump_source_plans")
    os.makedirs(out_dir, exist_ok=True)
    with tempfile.TemporaryDirectory() as tmp:
        bam = os.path.join(tmp, "reads.bam")
        gen.write_bam_file(bam, gen.make_reads(1, 10_000), "coordinate")
        vcf = os.path.join(tmp, "calls.vcf.bgz")
        gen.write_vcf_file(vcf, gen.make_variants(1, 4_000))
        fx = os.path.join(repo, "fixtures")
        frames = {
            "read_bam": read_bam(spark, bam, split_size=os.path.getsize(bam) // 4 + 1)[0],
            "read_vcf": read_vcf(spark, vcf, split_size=os.path.getsize(vcf) // 4 + 1)[0],
            "read_fastq": read_fastq(spark, os.path.join(fx, "sample.fastq"), 32 * 1024),
            "read_fasta_windows": read_fasta_windows(spark, os.path.join(fx, "ref.fa"), 20_000),
        }
        for name, df in frames.items():
            n = len(df.collect())
            plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            path = os.path.join(out_dir, f"{name}{suffix}.txt")
            with open(path, "w") as f:
                f.write(f"-- {n} rows, {df.rdd.getNumPartitions()} partitions\n{plan}")
            print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
