"""VCF path: all four compression variants, splits, round-trips, gVCF END.

Models HtsjdkVariantsRddTest.testReadAndWrite (:61-98) incl. the
compression matrix (:50-58) and partition-count assertions (:153-178)."""

import gzip
import os

import pytest
from pyspark.sql import functions as F

from conftest import fixture, needs_reference, upstream
from disq_spark.sinks.variants import write_vcf
from disq_spark.sources.variants import read_header, read_vcf


def _direct_count(path):
    op = gzip.open if path.endswith((".gz", ".bgz")) else open
    with op(path, "rt") as f:
        return sum(1 for ln in f if ln.strip() and not ln.startswith("#"))


UPSTREAM_SAMPLES = ["NA00001", "NA00002", "NA00003"]  # test.vcf's samples

# test.vcf's compressions and their generated stand-ins
COMPRESSIONS = {"test.vcf": "vcf", "test.vcf.bgz": "bgz", "test.vcf.bgzf.gz": "bgzf_gz", "test.vcf.gz": "gz"}


def _test_vcfs(gen_variants):
    """The generated small plain VCF, and the upstream test.vcf where it
    exists."""
    return [gen_variants["small"]["vcf"]] + upstream(fixture("test.vcf"))


def _hiseqs(gen_variants):
    """The generated ~1 MB BGZF VCF, and the upstream HiSeq.10000.vcf.bgz
    where it exists."""
    return [gen_variants["bgz"]] + upstream(fixture("HiSeq.10000.vcf.bgz"))


@pytest.mark.parametrize(
    "name", ["test.vcf", "test.vcf.bgz", "test.vcf.bgzf.gz", "test.vcf.gz"]
)
def test_read_all_compressions(spark, gen_variants, name):
    cases = [(gen_variants["small"][COMPRESSIONS[name]], gen_variants["samples"])]
    cases += upstream((fixture(name), UPSTREAM_SAMPLES))
    for path, samples in cases:
        df, header = read_vcf(spark, path)
        assert df.count() == _direct_count(path)
        assert header.samples == samples


def test_bgz_splits_parallelize(spark, gen_variants):
    """128 KB splits on a ~2 MB .bgz must give >= 4 partitions and the
    same records (HtsjdkVariantsRddTest.java:153-178 parity)."""
    for path in _hiseqs(gen_variants):
        df_whole, _ = read_vcf(spark, path)
        df_split, _ = read_vcf(spark, path, split_size=128 * 1024)
        assert df_split.rdd.getNumPartitions() >= 4
        n = df_whole.count()
        assert n == _direct_count(path)
        assert df_split.count() == n
        # value-level equality, not just counts
        key = lambda d: sorted((r.contig, r.start, r.ref) for r in d.select("contig", "start", "ref").collect())
        assert key(df_split) == key(df_whole)


@needs_reference
def test_fields_parsed(spark, fixtures_dir):
    df, _ = read_vcf(spark, os.path.join(fixtures_dir, "test.vcf"))
    rows = {r.start: r for r in df.collect()}
    # rs6054257 site (test.vcf): G->A, q10/PASS etc.
    site = next(r for r in rows.values() if r.ids == ["rs6054257"])
    assert site.ref == "G" and site.alts == ["A"]
    assert site.filters == []  # PASS
    assert site.info.get("NS") == "3"
    gts = {g["sample"]: g for g in site.genotypes}
    assert gts["NA00001"]["gt"] == "0|0"
    # multi-allelic site
    multi = next(r for r in rows.values() if r.alts and len(r.alts) > 1)
    assert len(multi.alts) >= 2


@needs_reference
def test_gvcf_end_key(spark, fixtures_dir):
    df, _ = read_vcf(spark, os.path.join(fixtures_dir, "CEUTrio.20.21.gatk3.4.g.vcf.bgz"))
    # gVCF reference blocks: END > start + len(ref) - 1 for block rows
    blocks = df.filter(F.col("end") > F.col("start")).count()
    assert blocks > 0
    assert df.count() == _direct_count(
        os.path.join(fixtures_dir, "CEUTrio.20.21.gatk3.4.g.vcf.bgz")
    )


def test_empty_vcf(spark, gen_variants):
    for path in [gen_variants["empty"]] + upstream(fixture("testEmpty.vcf")):
        df, header = read_vcf(spark, path)
        assert df.count() == 0
        assert header.samples


@pytest.mark.parametrize("target", ["out.vcf", "out.vcf.bgz", "out.vcf.gz"])
def test_roundtrip_single_file(spark, gen_variants, tmp_path, target):
    for i, src in enumerate(_test_vcfs(gen_variants)):
        df, header = read_vcf(spark, src)
        out = str(tmp_path / f"{i}-{target}")
        write_vcf(df, header, out)
        if target.endswith((".bgz", ".gz")):
            from disq_spark.formats import bgzf

            assert bgzf.is_bgzf(out)  # compressed single-file writes are BGZF
        df2, header2 = read_vcf(spark, out)
        assert header2.text == header.text
        assert df2.count() == df.count()
        key = lambda d: sorted(
            (r.contig, r.start, r.end, r.ref, tuple(r.alts or ()), r.qual)
            for r in d.select("contig", "start", "end", "ref", "alts", "qual").collect()
        )
        assert key(df2) == key(df)


def test_roundtrip_sharded(spark, gen_variants, tmp_path):
    for i, src in enumerate(_test_vcfs(gen_variants)):
        df, header = read_vcf(spark, src)
        out = str(tmp_path / f"vcf_shards{i}")
        write_vcf(df.repartition(2), header, out, single_file=False)
        df2, _ = read_vcf(spark, out)
        assert df2.count() == df.count()


def test_header_roundtrip(gen_variants):
    for path in _test_vcfs(gen_variants):
        h = read_header(path)
        assert h.text.startswith("##fileformat")
        assert h.text.rstrip("\n").splitlines()[-1].startswith("#CHROM")


@needs_reference
def test_typed_info_and_genotypes(spark, fixtures_dir):
    """Header-declared ##INFO/##FORMAT types become Catalyst casts
    (typed projection over the stable map-based schema)."""
    from disq_spark.functions.vcf_typed import (
        declared_fields,
        explode_genotypes,
        with_typed_info,
    )
    from disq_spark.sources.variants import read_vcf

    path = os.path.join(fixtures_dir, "CEUTrio.20.21.gatk3.4.g.vcf.bgz")
    df, header = read_vcf(spark, path, split_size=256 * 1024)
    info_decls = {d.id: d for d in declared_fields(header, "INFO")}
    fmt_decls = {d.id: d for d in declared_fields(header, "FORMAT")}
    assert "DP" in info_decls and info_decls["DP"].type == "Integer"
    assert "GT" in fmt_decls

    typed = with_typed_info(df, header)
    assert dict(typed.dtypes)["info_DP"] == "bigint"
    row = typed.filter(typed.info_DP.isNotNull()).select("info_DP").first()
    assert row is not None and isinstance(row.info_DP, int)

    g = explode_genotypes(df, header)
    assert dict(g.dtypes)["fmt_DP"] == "bigint"
    assert dict(g.dtypes)["fmt_GQ"] == "bigint"
    samples = {r.sample for r in g.select("sample").distinct().collect()}
    assert samples == set(header.samples)
    # typed aggregation runs JVM-side over the projection
    agg = g.groupBy("sample").agg(F.avg("fmt_DP").alias("mean_dp")).collect()
    assert all(r.mean_dp is None or r.mean_dp >= 0 for r in agg)


def test_bgz_split_partition_counts(spark, gen_variants):
    """Splittable BGZF: smaller splits -> more partitions, same rows
    (HtsjdkVariantsRddTest.java:161-178 parity)."""
    from disq_spark.sources.variants import read_vcf

    for path in _hiseqs(gen_variants):
        sizes = {}
        counts = {}
        for split in (128 * 1024, 64 * 1024, 32 * 1024):
            df, _ = read_vcf(spark, path, split_size=split)
            sizes[split] = df.rdd.getNumPartitions()
            counts[split] = df.count()
        assert len(set(counts.values())) == 1  # identical record sets
        assert sizes[32 * 1024] > sizes[128 * 1024] >= 1
        assert sizes[128 * 1024] >= 2  # the file is bigger than one split


def test_genotype_pruned_parse(spark, gen_variants):
    """columns= without 'genotypes' skips the sample-block parse: same
    variant-level values, NULL genotypes, for a multi-sample gVCF."""
    from disq_spark.sources.variants import read_vcf

    for path in [gen_variants["bgz"]] + upstream(fixture("CEUTrio.20.21.gatk3.4.g.vcf.bgz")):
        full, _ = read_vcf(spark, path, split_size=256 * 1024)
        lean, _ = read_vcf(
            spark, path, split_size=256 * 1024, columns=["contig", "start", "ref", "qual"]
        )
        assert lean.count() == full.count()
        assert lean.first().genotypes is None
        a = sorted(map(tuple, full.select("contig", "start", "ref").collect()))
        b = sorted(map(tuple, lean.select("contig", "start", "ref").collect()))
        assert a == b


def test_roundtrip_missing_qual(spark, tmp_path):
    """Null QUAL ('.') records must survive a write: Arrow->pandas turns
    null qual into float NaN, which previously crashed int(qual)."""
    src = tmp_path / "missing_qual.vcf"
    src.write_text(
        "##fileformat=VCFv4.2\n"
        '##contig=<ID=20,length=63025520>\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "20\t100\t.\tA\tT\t50.5\tPASS\t.\n"
        "20\t200\t.\tC\tG\t.\tPASS\t.\n"
        "20\t300\t.\tG\tA\t16357.98\tPASS\t.\n"
    )
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.variants import read_vcf

    df, header = read_vcf(spark, str(src))
    out = str(tmp_path / "out.vcf")
    write_vcf(df, header, out)
    df2, _ = read_vcf(spark, out)
    key = lambda d: sorted((r.start, r.qual) for r in d.select("start", "qual").collect())
    got = key(df2)
    assert got == key(df)
    assert [q for _, q in got] == [50.5, None, 16357.98]


@needs_reference
def test_tribble_parse_gatk_fixture(fixtures_dir):
    """The reader must parse a real GATK-written interval-tree .idx
    byte-exactly (layout documented in formats/tribble.py)."""
    from disq_spark.formats.tribble import read_tribble

    idx = read_tribble(os.path.join(fixtures_dir, "CEUTrio.20.21.gatk3.4.g.vcf.idx"))
    assert sorted(idx.chroms) == ["20", "21"]
    assert len(idx.chroms["20"]) == 46 and len(idx.chroms["21"]) == 220
    assert idx.properties["FEATURE_COUNT"] == "19910"
    # block byte ranges live inside the indexed file
    for nodes in idx.chroms.values():
        for _s, _e, bpos, bsize in nodes:
            assert 0 <= bpos and bpos + bsize <= idx.file_size


def test_tribble_roundtrip(tmp_path):
    from disq_spark.formats.tribble import TribbleIndex, read_tribble, write_tribble

    idx = TribbleIndex(
        "x.vcf", 1234, 99, {"k": "v"},
        {"20": [(10, 500, 0, 600), (501, 900, 600, 300)], "21": [(5, 50, 900, 100)]},
    )
    p = str(tmp_path / "x.vcf.idx")
    write_tribble(p, idx)
    back = read_tribble(p)
    assert back.chroms == idx.chroms
    assert back.properties == idx.properties
    assert back.file_size == idx.file_size


@needs_reference
def test_tribble_idx_split_pruning(spark, fixtures_dir, tmp_path):
    """Plain VCF + .idx: interval planning must prune byte splits (zero
    for a miss region) while matching the brute-force filter exactly."""
    import shutil

    from disq_spark.formats.tribble import build_tribble_from_vcf, write_tribble
    from disq_spark.functions.intervals import Interval, overlaps

    src = os.path.join(fixtures_dir, "test.vcf")
    vcf = str(tmp_path / "t.vcf")
    shutil.copy(src, vcf)
    write_tribble(vcf + ".idx", build_tribble_from_vcf(vcf, features_per_node=2))

    iv = [Interval("20", 1, 20000)]
    pruned, _ = read_vcf(spark, vcf, split_size=512, intervals=iv)
    brute, _ = read_vcf(spark, src)
    want = sorted((r.contig, r.start) for r in brute.filter(overlaps(iv)).collect())
    got = sorted((r.contig, r.start) for r in pruned.collect())
    assert got == want and got

    # a miss region prunes every split at plan time
    from disq_spark.formats.tribble import read_tribble, split_overlaps_intervals

    tidx = read_tribble(vcf + ".idx")
    size = os.path.getsize(vcf)
    kept = [
        (s, min(s + 512, size))
        for s in range(0, size, 512)
        if split_overlaps_intervals(tidx, s, min(s + 512, size), [("20", 900_000_000, 900_000_100)])
    ]
    assert kept == []
    missing, _ = read_vcf(
        spark, vcf, split_size=512, intervals=[Interval("20", 900_000_000, 900_000_100)]
    )
    assert missing.count() == 0
