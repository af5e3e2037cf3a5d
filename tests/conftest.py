import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURES = "/root/reference/src/test/resources"  # read-only reference fixtures


@pytest.fixture(scope="session")
def spark():
    from disq_spark.session import get_session

    s = get_session("disq_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixtures_dir():
    return FIXTURES


@pytest.fixture(scope="session")
def planned_inputs(spark, tmp_path_factory):
    """Small self-made inputs for split-planned reads, written by the
    library's own sinks (seed 42): a coordinate-sorted 3,000-read BAM with
    .sbi/.bai, a header-only BAM, and a 4,000-site VCF as plain text and
    as BGZF with .tbi;
    ``bam_split``/``vcf_split`` cut each into several chunks. Reads sit on c1 only and sites on v1 only, so a
    query on the other contig prunes every chunk."""
    import random

    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.variants import read_vcf

    d = tmp_path_factory.mktemp("planned_inputs")
    rng = random.Random(42)
    header = SamHeader(
        text="@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:1000000\n@SQ\tSN:c2\tLN:1000000\n"
    )
    rows = [
        {
            "name": f"r{i:05d}", "flags": 0, "contig": "c1",
            "start": i * 40 + 1, "end": i * 40 + 100, "mapq": 60, "cigar": "100M",
            "mate_contig": None, "mate_start": None, "template_len": 0,
            "seq": "".join(rng.choice("ACGT") for _ in range(100)),
            "qual": "".join(rng.choice("#+5?AI") for _ in range(100)),
            "tags": None, "read_group": None,
        }
        for i in range(3000)
    ]
    bam = str(d / "reads.bam")
    write_bam(spark.createDataFrame(rows, READS_SCHEMA), header, bam)
    empty_bam = str(d / "empty.bam")
    write_bam(spark.createDataFrame([], READS_SCHEMA), header, empty_bam)

    plain = d / "sites.vcf"
    lines = [
        "##fileformat=VCFv4.2",
        "##contig=<ID=v1,length=1000000>",
        "##contig=<ID=v2,length=1000000>",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
    ] + [
        f"v1\t{i * 10 + 1}\t.\tA\tC\t50\tPASS\tDP={i};H={rng.getrandbits(128):032x}\tGT\t0/1"
        for i in range(4000)
    ]
    plain.write_text("\n".join(lines) + "\n")
    df, vheader = read_vcf(spark, str(plain))
    vcf = str(d / "sites.vcf.bgz")
    write_vcf(df, vheader, vcf, write_tbi=True)
    return {
        "bam": bam, "empty_bam": empty_bam, "vcf": vcf, "plain_vcf": str(plain),
        "bam_split": 64 * 1024, "vcf_split": 32 * 1024,
    }
