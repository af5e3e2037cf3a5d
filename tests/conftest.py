import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Disq's upstream test resources (1.bam, test.vcf, valid.cram, ...),
# read-only; not shipped with this repository
FIXTURES = "/root/reference/src/test/resources"
HAVE_FIXTURES = os.path.isdir(FIXTURES)

#: for a test that needs the upstream bytes themselves
needs_reference = pytest.mark.skipif(
    not HAVE_FIXTURES, reason=f"upstream Disq test resources absent: {FIXTURES}"
)


def upstream(*cases):
    """The upstream runs of a test that always runs on its repo-built
    input: ``cases`` where ``FIXTURES`` exists, none elsewhere."""
    return list(cases) if HAVE_FIXTURES else []


def fixture(name: str) -> str:
    return os.path.join(FIXTURES, name)


UPSTREAM_BAM_RECORDS = 4917  # records of 1.bam and 1-with-splitting-index.bam


def bam_inputs(gen_reads, name: str = "1.bam"):
    """(path, records) of each BAM a read test runs on: the generated
    BAM, and the upstream ``name`` where ``FIXTURES`` exists."""
    return [(gen_reads["bam"], gen_reads["n"])] + upstream((fixture(name), UPSTREAM_BAM_RECORDS))


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


@pytest.fixture(scope="session")
def gen_reads(spark, tmp_path_factory):
    """Reads from ``perfbench/gen.py`` (seed 13), the repo-built stand-in
    for ``1.bam``: 2,500 pairs on 3 contigs (5,050 records) with
    duplicates, placed and unplaced unmapped reads, clip/indel/N cigars
    and NM/RG tags, coordinate-sorted in about 650 KB.

    ``bam`` carries a ``.sbi`` (granularity 64) and a ``.bai``;
    ``bam_noindex`` is the same file with no sidecar; ``n`` is its
    record count. ``sam`` holds the 42 records of 20 more generated
    pairs, written by ``write_sam``."""
    import shutil

    from perfbench import gen

    from disq_spark.schemas import READS_COLUMNS, READS_SCHEMA
    from disq_spark.sinks.reads import write_sam

    d = tmp_path_factory.mktemp("gen_reads")
    cols = gen.make_reads(13, 2500)
    bam = str(d / "reads.bam")
    gen.write_bam_file(bam, cols, "coordinate")
    bam_noindex = str(d / "reads_noindex.bam")
    shutil.copyfile(bam, bam_noindex)

    small = gen.make_reads(14, 20)
    rows = [tuple(small[c][i] for c in READS_COLUMNS) for i in range(len(small["name"]))]
    sam = str(d / "reads.sam")
    write_sam(spark.createDataFrame(rows, READS_SCHEMA), gen.sam_header("coordinate"), sam)
    return {"bam": bam, "bam_noindex": bam_noindex, "sam": sam, "n": len(cols["name"])}


@pytest.fixture(scope="session")
def gen_variants(tmp_path_factory):
    """Variants from ``perfbench/gen.py`` (6 samples, multi-allelic sites,
    ``.`` values), the repo-built stand-ins for the upstream VCFs.

    ``bgz``: 40,000 sites on 3 contigs as BGZF plus ``.tbi`` (about 1 MB:
    8 chunks at a 128 KiB split, about 60 at 16 KiB), the stand-in for
    ``HiSeq.10000.vcf.bgz``; ``cols`` holds its contig/start/end columns
    and ``n`` its site count. ``small`` holds 300 sites (``n_small``) in
    the four compressions of ``test.vcf``: ``vcf`` (plain), ``bgz``,
    ``bgzf_gz`` (BGZF named ``.gz``) and ``gz`` (true gzip). ``empty`` is
    a header-only VCF and ``samples`` the samples of every header."""
    import gzip
    import shutil

    from perfbench import gen

    d = tmp_path_factory.mktemp("gen_variants")
    frame = gen.make_variants(13, 40_000)
    bgz = str(d / "sites.vcf.bgz")
    gen.write_vcf_file(bgz, frame)
    cols = {c: frame[c].tolist() for c in ("contig", "start", "end")}
    del frame

    small = gen.make_variants(14, 300)
    small_bgz = str(d / "small.vcf.bgz")
    gen.write_vcf_file(small_bgz, small)
    with gzip.open(small_bgz, "rb") as f:
        text = f.read()
    plain = d / "small.vcf"
    plain.write_bytes(text)
    true_gz = d / "small.vcf.gz"
    true_gz.write_bytes(gzip.compress(text))
    bgzf_gz = str(d / "small.vcf.bgzf.gz")
    shutil.copyfile(small_bgz, bgzf_gz)

    header = gen.vcf_header()
    empty = d / "empty.vcf"
    empty.write_text(header.text)
    return {
        "bgz": bgz, "cols": cols, "n": len(cols["start"]),
        "small": {"vcf": str(plain), "bgz": small_bgz, "bgzf_gz": bgzf_gz, "gz": str(true_gz)},
        "n_small": len(small), "empty": str(empty), "samples": header.samples,
    }
