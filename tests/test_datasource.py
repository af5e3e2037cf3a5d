"""spark.read.format("bam"/"vcf") Python DataSources: results must be
identical to the functional readers (same planner, same decoders)."""

import os

import pytest

from conftest import bam_inputs, fixture, needs_reference, upstream
from disq_spark.sources.datasource import register_datasources

REF_FA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "ref.fa")


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_datasources(spark)


N_SITES = 8171  # records of HiSeq.10000.vcf.bgz


def _hiseqs(gen_variants):
    """(path, sites) of the generated BGZF VCF, and of the upstream
    HiSeq.10000.vcf.bgz where it exists."""
    return [(gen_variants["bgz"], gen_variants["n"])] + upstream(
        (fixture("HiSeq.10000.vcf.bgz"), N_SITES)
    )


def test_bam_datasource_matches_functional(spark, gen_reads):
    from disq_spark.sources.bam_source import read_bam

    for path, n in bam_inputs(gen_reads, "1.bam"):
        ds = spark.read.format("bam").option("split_size", 200_000).load(path)
        fn, _ = read_bam(spark, path, split_size=123_456)
        key = ["name", "start", "flags"]
        a = sorted(map(tuple, ds.select(*key).collect()))
        b = sorted(map(tuple, fn.select(*key).collect()))
        assert a == b and len(a) == n
        assert ds.rdd.getNumPartitions() > 1  # split planning engaged


def test_vcf_datasource_split_invariance(spark, gen_variants):
    for path, n in _hiseqs(gen_variants):
        whole = spark.read.format("vcf").load(path)
        split = spark.read.format("vcf").option("split_size", 65536).load(path)
        assert whole.count() == split.count() == n
        assert split.rdd.getNumPartitions() > whole.rdd.getNumPartitions()
        key = ["contig", "start", "ref"]
        assert sorted(map(tuple, whole.select(*key).collect())) == sorted(
            map(tuple, split.select(*key).collect())
        )


def test_sam_datasource_split_invariance(spark, gen_reads):
    from disq_spark.sources.reads import read_sam

    for path in [gen_reads["sam"]] + upstream(fixture("test.sam")):
        fn, _ = read_sam(spark, path)
        expected = sorted(map(tuple, fn.select("name", "start", "flags").collect()))
        whole = spark.read.format("sam").load(path)
        tiny = spark.read.format("sam").option("split_size", 200).load(path)
        assert tiny.rdd.getNumPartitions() > 1  # byte splits engaged
        for df in (whole, tiny):
            got = sorted(map(tuple, df.select("name", "start", "flags").collect()))
            assert got == expected


@needs_reference
def test_cram_datasource_matches_functional(spark, fixtures_dir):
    from disq_spark.sources.cram_source import read_cram

    path = os.path.join(fixtures_dir, "valid.cram")
    ref = os.path.join(fixtures_dir, "valid.fasta")
    ds = (
        spark.read.format("cram")
        .option("reference", ref)
        .option("split_size", 1000)
        .load(path)
    )
    fn, _ = read_cram(spark, path, reference_path=ref)
    key = ["name", "start", "flags", "seq"]
    assert sorted(map(repr, ds.select(*key).collect())) == sorted(
        map(repr, fn.select(*key).collect())
    )


def test_bam_datasource_write_single_file(spark, gen_reads, tmp_path):
    for i, (src, n) in enumerate(bam_inputs(gen_reads, "1.bam")):
        _check_bam_datasource_write(spark, src, n, tmp_path / str(i))


def _check_bam_datasource_write(spark, src, n_records, tmp_path):
    from disq_spark.formats.sbi import read_sbi
    from disq_spark.sources.bam_source import read_bam

    reads = spark.read.format("bam").load(src)
    out = str(tmp_path / "out.bam")
    # a hash repartition breaks coordinate order; the header claims
    # coordinate sort, so the .bai build must REFUSE (it used to emit a
    # silently-corrupt index here)
    with pytest.raises(Exception, match="coordinate-sorted"):
        (
            reads.repartition(4)
            .write.format("bam")
            .option("header_path", src)
            .mode("overwrite")
            .save(str(tmp_path / "bad.bam"))
        )
    # the legal recipe is coordinate_sort (sequence-dictionary contig
    # RANK, not the contig string — lexicographic contig order would put
    # "10" before "2" and trip the guard on multi-contig files)
    from disq_spark.operators.genomics import coordinate_sort
    from disq_spark.sources.bam_source import read_bam as _rb

    _, hdr = _rb(spark, src)
    (
        coordinate_sort(reads, hdr, num_partitions=4)
        .write.format("bam")
        .option("header_path", src)
        .mode("overwrite")
        .save(out)
    )
    back, _ = read_bam(spark, out)
    assert back.count() == n_records
    key = ["name", "start", "flags", "cigar"]
    assert sorted(map(tuple, back.select(*key).collect())) == sorted(
        map(tuple, reads.select(*key).collect())
    )
    # merged .sbi from per-task fragments must cover every record
    assert read_sbi(out + ".sbi").total_records == n_records
    assert not os.path.exists(out + ".parts")


def test_vcf_datasource_write_single_file(spark, gen_variants, tmp_path):
    for i, (src, n) in enumerate(_hiseqs(gen_variants)):
        variants = spark.read.format("vcf").load(src)
        out = str(tmp_path / f"out{i}.vcf.bgz")
        (
            variants.repartition(3)
            .sortWithinPartitions("contig", "start")
            .write.format("vcf")
            .option("header_path", src)
            .mode("overwrite")
            .save(out)
        )
        back = spark.read.format("vcf").load(out)
        assert back.count() == n
        key = ["contig", "start", "ref", "qual"]
        assert sorted(map(repr, back.select(*key).collect())) == sorted(
            map(repr, variants.select(*key).collect())
        )
        assert not os.path.exists(out + ".parts")


def test_vcf_datasource_plain_and_sql(spark, gen_variants):
    from disq_spark.sources.variants import read_header

    path = gen_variants["small"]["vcf"]
    cases = [(path, gen_variants["n_small"], read_header(path).contigs[0])]
    for path, n_records, contig in cases + upstream((fixture("test.vcf"), 5, "20")):
        df = spark.read.format("vcf").load(path)
        assert df.count() == n_records
        df.createOrReplaceTempView("ds_variants")
        n = spark.sql(
            f"SELECT count(*) AS n FROM ds_variants WHERE contig = '{contig}'"
        ).first().n
        assert n == df.filter(f"contig = '{contig}'").count()


@needs_reference
def test_bam_datasource_interval_option(spark, fixtures_dir, tmp_path):
    """option('intervals', 'contig:lo-hi') must match read_bam(intervals=)
    exactly: .bai partition pruning at plan time + the residual filter
    inside read() (the DS API's stand-in for filter pushdown)."""
    from disq_spark.functions.intervals import Interval
    from disq_spark.sources.bam_source import read_bam
    from disq_spark.sources.datasource import BamDataSource

    from disq_spark.sinks.bam import write_bam

    fixture = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    base, header = read_bam(spark, fixture)
    src = str(tmp_path / "indexed.bam")
    write_bam(base, header, src, write_sbi=True, write_bai=True)
    assert os.path.exists(src + ".bai")

    got = (
        spark.read.format("bam")
        .option("split_size", 200_000)
        .option("intervals", "1:24800000-24900000")
        .load(src)
    )
    want, _ = read_bam(
        spark, src, split_size=200_000, intervals=[Interval("1", 24_800_000, 24_900_000)]
    )
    key = lambda df: sorted((r.name, r.flags, r.start) for r in df.collect())
    assert key(got) == key(want) and got.count() > 0

    # plan-time pruning engaged (fewer partitions than the full plan)
    full = BamDataSource({"path": src, "split_size": "200000"}).reader(None).partitions()
    pruned = BamDataSource(
        {"path": src, "split_size": "200000", "intervals": "1:24800000-24900000"}
    ).reader(None).partitions()
    assert 0 < len(pruned) < len(full)


def test_vcf_datasource_interval_option(spark, gen_variants):
    from perfbench.gen import region_counts

    from disq_spark.functions.intervals import Interval
    from disq_spark.sources.datasource import VcfDataSource
    from disq_spark.sources.variants import read_header, read_vcf

    src = gen_variants["bgz"]
    contig = read_header(src).contigs[0]
    hits = region_counts(gen_variants["cols"], [[(contig, 1_000_000, 2_000_000)]])[0]
    cases = [(src, contig, hits)] + upstream((fixture("HiSeq.10000.vcf.bgz"), "chr1", 1072))
    for src, contig, n_hits in cases:
        region = f"{contig}:1000000-2000000"
        got = (
            spark.read.format("vcf")
            .option("split_size", 64 * 1024)
            .option("intervals", region)
            .load(src)
        )
        want, _ = read_vcf(
            spark, src, split_size=64 * 1024, intervals=[Interval(contig, 1_000_000, 2_000_000)]
        )
        key = lambda df: sorted((r.contig, r.start, r.ref) for r in df.collect())
        assert key(got) == key(want) and got.count() == n_hits

        full = VcfDataSource({"path": src, "split_size": str(64 * 1024)}).reader(None).partitions()
        pruned = VcfDataSource(
            {"path": src, "split_size": str(64 * 1024), "intervals": region}
        ).reader(None).partitions()
        assert 0 < len(pruned) < len(full)


@needs_reference
def test_cram_datasource_interval_option(spark, fixtures_dir):
    from disq_spark.functions.intervals import Interval
    from disq_spark.sources.cram_source import read_cram

    src = os.path.join(fixtures_dir, "valid.cram")
    ref = os.path.join(fixtures_dir, "valid.fasta")
    got = (
        spark.read.format("cram")
        .option("reference", ref)
        .option("intervals", "chr7:1-150")
        .load(src)
    )
    want, _ = read_cram(
        spark, src, reference_path=ref, intervals=[Interval("chr7", 1, 150)]
    )
    key = lambda df: sorted((r.name, r.start) for r in df.collect())
    assert key(got) == key(want) and got.count() > 0


def test_bam_datasource_columns_option(spark, gen_reads):
    """option('columns', ...) prunes the declared schema AND the decode
    (seq/qual/tags skipped in the reader)."""
    for src, n in bam_inputs(gen_reads, "1-with-splitting-index.bam"):
        df = (
            spark.read.format("bam")
            .option("columns", "flags,contig,start")
            .load(src)
        )
        assert [f.name for f in df.schema.fields] == ["flags", "contig", "start"]
        assert df.count() == n
        full = spark.read.format("bam").load(src).select("flags", "contig", "start")
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, full.collect()))


@needs_reference
def test_sam_datasource_interval_option(spark, fixtures_dir):
    from disq_spark.functions.intervals import Interval
    from disq_spark.sources.reads import read_sam

    src = os.path.join(fixtures_dir, "test.sam")
    got = spark.read.format("sam").option("intervals", "chr7:1-100").load(src)
    want, _ = read_sam(spark, src, intervals=[Interval("chr7", 1, 100)])
    key = lambda df: sorted((r.name, r.start) for r in df.collect())
    assert key(got) == key(want)


def test_fasta_datasource_matches_functional(spark):
    from disq_spark.sources.fasta import read_fasta_windows

    register_datasources(spark)
    path = REF_FA
    via_fmt = (
        spark.read.format("fasta")
        .option("window", 7000)
        .load(path)
        .orderBy("contig", "start")
        .collect()
    )
    direct = read_fasta_windows(spark, path, window=7000).orderBy("contig", "start").collect()
    assert via_fmt == direct and len(via_fmt) > 1


def test_bed_datasource_matches_functional(spark, tmp_path):
    from disq_spark.sources.bed import read_bed

    register_datasources(spark)
    bed = tmp_path / "t.bed"
    bed.write_text(
        "track name=x\n# c\nchr1\t0\t100\tr1\nchr1\t150\t300\nchr2\t5\t10\tr3\n"
    )
    via_fmt = spark.read.format("bed").load(str(bed)).orderBy("contig", "start").collect()
    direct = read_bed(spark, str(bed)).orderBy("contig", "start").collect()
    assert via_fmt == direct and len(via_fmt) == 3
    assert via_fmt[0].start == 1 and via_fmt[0].end == 100


def test_warc_datasource_reads_sharded_dir(spark, tmp_path):
    """spark.read.format('warc') over a sharded directory must match
    read_warc exactly (same planner + kernel behind the DataSource)."""
    import numpy as np

    from disq_spark.formats.warc import build_warc
    from disq_spark.sources.datasource import register_datasources
    from disq_spark.sources.warc import read_warc

    rng = np.random.default_rng(31)
    for i in range(2):
        recs = []
        for j in range(6):
            payload = bytes(rng.integers(32, 127, 500 + 100 * j, dtype=np.uint8))
            recs.append(
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Record-ID": f"<urn:ds{i}:{j}>",
                        "WARC-Target-URI": f"https://x/{i}/{j}",
                        "Content-Type": "text/html",
                    },
                    payload,
                )
            )
        with open(tmp_path / f"seg-{i}.warc.gz", "wb") as f:
            f.write(build_warc(recs, gzip_members=True))

    register_datasources(spark)
    via_ds = {
        r.record_id: (r.url, bytes(r.payload))
        for r in spark.read.format("warc")
        .option("split_size", 2048)
        .load(str(tmp_path))
        .collect()
    }
    via_fn = {
        r.record_id: (r.url, bytes(r.payload))
        for r in read_warc(spark, str(tmp_path), split_size=2048).collect()
    }
    assert via_ds == via_fn and len(via_ds) == 12
