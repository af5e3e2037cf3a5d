"""disq_spark — a PySpark-native analytics engine with the capabilities of
disq-bio/disq (distributed genomics-format I/O) re-expressed Spark-first,
plus the relational/LLM-data-pipeline operators a 100 TB training-data
pipeline needs.

Design (see SURVEY.md, SCALE.md, COVERAGE.md):
- DataFrames everywhere; genomics formats surface as typed DataFrames.
- Partition planning for splittable compressed formats happens driver-side
  (index-driven where indexes exist), decode happens in Arrow-batched
  Pandas stages (``mapInPandas``), relational work stays JVM-side in
  whole-stage codegen.
- Single-file outputs use the reference's signature pattern (headerless
  part files + header + terminator + filesystem concat) with per-part
  index fragments merged by virtual-offset shifting.

Quick start::

    from disq_spark import get_session, read_bam, write_bam, Interval

    spark = get_session()
    reads, header = read_bam(spark, "sample.bam",
                             intervals=[Interval("chr1", 1, 1_000_000)])
    reads.groupBy("contig").count().show()
    write_bam(reads, header, "out.bam", write_bai=True)

Or through the Spark DataSource registry (Spark 4 Python sources)::

    register_datasources(spark)
    spark.read.format("bam").load("sample.bam").createOrReplaceTempView("reads")
    spark.sql("SELECT contig, count(*) FROM reads GROUP BY contig").show()
"""

from disq_spark.functions.intervals import Interval, filter_intervals, overlaps
from disq_spark.session import get_session, skip_unchanged_zip_rereads
from disq_spark.sinks.bam import write_bam
from disq_spark.sinks.cram import write_cram
from disq_spark.sinks.materialize import materialize_reads, materialize_variants, read_materialized
from disq_spark.sinks.reads import write_sam
from disq_spark.sinks.variants import write_vcf
from disq_spark.sources.bam_source import build_bai, build_sbi, read_bam
from disq_spark.sources.cram_source import build_crai
from disq_spark.sources.datasource import register_datasources
from disq_spark.sources.cram_source import read_cram
from disq_spark.sources.reads import read_sam
from disq_spark.sources.variants import build_tbi, read_vcf

__version__ = "0.1.0"

skip_unchanged_zip_rereads()

__all__ = [
    "Interval",
    "build_crai",
    "build_bai",
    "build_sbi",
    "build_tbi",
    "filter_intervals",
    "get_session",
    "materialize_reads",
    "materialize_variants",
    "overlaps",
    "read_bam",
    "read_cram",
    "read_materialized",
    "read_sam",
    "read_vcf",
    "register_datasources",
    "write_bam",
    "write_cram",
    "write_sam",
    "write_vcf",
    "__version__",
]
