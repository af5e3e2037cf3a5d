"""One write path for every sink: each format, single-file and sharded,
reads back to the rows it was given; ``write_<fmt>`` and
``df.write.format(<fmt>)`` write the same bytes; the merged ``.bai``
equals the one ``build_bai`` derives from the written file.

Inputs have four partitions (two data slices, an empty one, the last data
slice), so empty parts and empty shards are on every path. Self-contained:
reads come from ``fixtures/ref.fa``, variants from the ``planned_inputs``
fixture, FASTQ records from ``fixtures/sample.fastq``."""

import os
import random
import shutil

import pytest

from disq_spark.schemas import READS_SCHEMA, VARIANTS_SCHEMA
from disq_spark.sources.datasource import register_datasources

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")
REF_FA = os.path.join(FIXTURES, "ref.fa")


def _frame(spark, rows, schema):
    sc = spark.sparkContext
    h = len(rows) * 2 // 3
    rdd = sc.parallelize(rows[:h], 2).union(sc.parallelize([], 1)).union(sc.parallelize(rows[h:], 1))
    return spark.createDataFrame(rdd, schema)


@pytest.fixture(scope="module")
def inputs(spark, planned_inputs):
    """Coordinate-sorted reads over the three contigs of ref.fa (reverse
    strands, mates, tags, a base mismatch every fourth read, unplaced reads
    last), the planned VCF's sites and sample.fastq, each over four
    partitions."""
    from disq_spark.formats.gzi import open_indexed_reference
    from disq_spark.headers import SamHeader
    from disq_spark.sources.fastq import FASTQ_SCHEMA, read_fastq
    from disq_spark.sources.variants import read_vcf

    register_datasources(spark)
    rng = random.Random(11)
    ref = open_indexed_reference(REF_FA)
    header = SamHeader(
        text="@HD\tVN:1.6\tSO:coordinate\n"
        + "".join(f"@SQ\tSN:{c}\tLN:{e.length}\n" for c, e in ref.fai.items())
    )
    rows = []
    for contig in ("chrA", "chrB", "chrM"):
        for i, start in enumerate(range(1, ref.fai[contig].length - 120, 211)):
            seq = list(ref.get(contig, start, start + 59))
            if i % 4 == 0:
                seq[7] = "A" if seq[7] != "A" else "G"
            mate = i % 3 == 0
            rows.append({
                "name": f"{contig}_{i:04d}", "flags": 16 if i % 5 == 0 else 0,
                "contig": contig, "start": start, "end": start + 59, "mapq": 20 + i % 40,
                "cigar": "60M", "mate_contig": contig if mate else None,
                "mate_start": start + 200 if mate else None, "template_len": 260 if mate else 0,
                "seq": "".join(seq), "qual": "".join(rng.choice("#+5?AI") for _ in seq),
                "tags": {"NM": "i:1"} if i % 4 == 0 else None, "read_group": None,
            })
    rows += [
        {
            "name": f"u_{i}", "flags": 4, "contig": None, "start": None, "end": None,
            "mapq": 0, "cigar": None, "mate_contig": None, "mate_start": None,
            "template_len": 0, "seq": "ACGTN" * 4, "qual": "I" * 20, "tags": None,
            "read_group": None,
        }
        for i in range(5)
    ]
    variants, vheader = read_vcf(spark, planned_inputs["plain_vcf"])
    fastq = read_fastq(spark, os.path.join(FIXTURES, "sample.fastq"))
    return {
        "reads": _frame(spark, rows, READS_SCHEMA).cache(),
        "header": header,
        "variants": _frame(spark, variants.collect(), VARIANTS_SCHEMA).cache(),
        "vheader": vheader,
        "vcf_path": planned_inputs["plain_vcf"],
        "fastq": _frame(spark, fastq.collect(), FASTQ_SCHEMA).cache(),
    }


def _canon(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows(df):
    return sorted((_canon(tuple(r)) for r in df.collect()), key=repr)


CASES = [
    ("bam", "out.bam"), ("bam", "shards"),
    ("vcf", "out.vcf"), ("vcf", "out.vcf.bgz"), ("vcf", "shards"),
    ("cram", "out.cram"), ("cram", "shards"),
    ("sam", "out.sam"), ("sam", "shards"),
    ("fastq", "out.fastq"), ("fastq", "shards"),
]


@pytest.mark.parametrize("fmt,name", CASES, ids=[f"{f}-{n}" for f, n in CASES])
def test_written_rows_read_back(spark, inputs, tmp_path, fmt, name):
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sinks.cram import write_cram
    from disq_spark.sinks.reads import write_sam
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.bam_source import read_bam
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fastq import read_fastq, write_fastq
    from disq_spark.sources.reads import read_sam
    from disq_spark.sources.variants import read_vcf

    path = str(tmp_path / name)
    single = name != "shards"
    reads, header = inputs["reads"], inputs["header"]
    if fmt == "bam":
        write_bam(reads, header, path, single_file=single)
        want, back = reads, read_bam(spark, path)[0]
    elif fmt == "cram":
        write_cram(reads, header, path, reference_path=REF_FA, single_file=single)
        want, back = reads, read_cram(spark, path, reference_path=REF_FA)[0]
    elif fmt == "sam":
        write_sam(reads, header, path, single_file=single)
        want, back = reads, read_sam(spark, path)[0]
    elif fmt == "vcf":
        write_vcf(inputs["variants"], inputs["vheader"], path, single_file=single)
        want, back = inputs["variants"], read_vcf(spark, path)[0]
    else:
        write_fastq(inputs["fastq"], path, single_file=single)
        want, back = inputs["fastq"], read_fastq(spark, path)
    if single:
        assert os.path.isfile(path) and not os.path.exists(path + ".parts")
    else:
        shards = sorted(f for f in os.listdir(path) if not f.startswith("."))
        assert shards == [f"part-{i:05d}.{fmt}" for i in range(4)]
    assert _rows(back) == _rows(want)


@pytest.mark.parametrize("header_opt", ["header_path", "header_text"])
@pytest.mark.parametrize("fmt", ["bam", "vcf"])
def test_write_function_and_datasource_write_same_bytes(spark, inputs, tmp_path, fmt, header_opt):
    """``write_bam``/``write_vcf`` and ``df.write.format(...)`` share the
    task body and the commit: same file, same ``.sbi``/``.bai``/``.tbi``
    bytes, whichever way the DataSource gets its header."""
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sinks.variants import write_vcf

    if fmt == "bam":
        df, header, exts = inputs["reads"], inputs["header"], ("", ".sbi", ".bai")
        a, b = str(tmp_path / "fn.bam"), str(tmp_path / "ds.bam")
        write_bam(df, header, a)
        header_file = a
    else:
        df, header, exts = inputs["variants"], inputs["vheader"], ("", ".tbi")
        a, b = str(tmp_path / "fn.vcf.bgz"), str(tmp_path / "ds.vcf.bgz")
        write_vcf(df, header, a, write_tbi=True)
        header_file = inputs["vcf_path"]
    w = df.write.format(fmt).mode("overwrite")
    w = w.option("header_path", header_file) if header_opt == "header_path" else w.option(
        "header_text", header.text
    )
    if fmt == "vcf":
        w = w.option("write_tbi", "true")
    w.save(b)
    for ext in exts:
        assert open(a + ext, "rb").read() == open(b + ext, "rb").read(), ext
    assert not os.path.exists(b + ".parts")


def test_merged_bai_equals_build_bai(spark, inputs, tmp_path):
    """The .bai merged from per-part fragments (three parts, three contigs,
    unplaced reads last) is the index ``build_bai`` derives from the
    written file."""
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sources.bam_source import build_bai

    out = str(tmp_path / "merged.bam")
    write_bam(inputs["reads"], inputs["header"], out)
    rebuilt = str(tmp_path / "rebuilt.bam")
    shutil.copyfile(out, rebuilt)
    assert open(build_bai(spark, rebuilt, split_size=8 * 1024), "rb").read() == open(
        out + ".bai", "rb"
    ).read()
