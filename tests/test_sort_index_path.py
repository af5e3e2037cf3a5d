"""``coordinate_sort``'s two paths: the ``.sbi``-sampled sort of a
``read_bam`` frame (bounds from keys read at ``.sbi`` offsets on the
driver, partition ids emitted by the decode) against the generic
``repartitionByRange`` sort, and the murmur3 pre-images the first one
routes records with."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from disq_spark.operators.genomics import (
    coordinate_sort,
    murmur3_int,
    partition_preimages,
)
from disq_spark.sinks.bam import write_bam
from disq_spark.sources.bam_source import read_bam


def test_murmur3_equals_spark_hash(spark):
    ints = [0, 1, -1, 2, 42, 7919, -123456, 2**31 - 1, -(2**31)] + list(range(1000, 1100))
    df = spark.createDataFrame([(k,) for k in ints], "k int")
    spark_hash = [r.h for r in df.select(F.hash("k").alias("h")).collect()]
    assert murmur3_int(np.array(ints)).tolist() == spark_hash


@pytest.mark.parametrize("n", [1, 3, 4, 7, 16])
def test_each_preimage_lands_in_its_partition(spark, n):
    pre = partition_preimages(n)
    assert len(pre) == n
    df = spark.createDataFrame([(int(k),) for k in pre], "k int").repartition(n, "k")
    got = dict(df.select("k", F.spark_partition_id().alias("p")).collect())
    assert {int(k): p for p, k in enumerate(pre)} == got


def _write_unsorted(path, cols):
    from perfbench import gen

    gen.write_bam_file(path, cols, "unsorted")


def _subset(cols, keep):
    return {c: [v for v, k in zip(vals, keep) if k] for c, vals in cols.items()}


@pytest.fixture(scope="module")
def sort_inputs(tmp_path_factory):
    """Unsorted BAMs with a ``.sbi`` (granularity 64): generated pairs
    with placed and unplaced unmapped reads; the same on one contig; 300
    reads piled on one position; 12 reads (fewer than the partitions)."""
    from perfbench import gen

    d = tmp_path_factory.mktemp("sort_inputs")
    cols = gen.shuffled(gen.make_reads(21, 1500), 21)
    one = _subset(cols, [c == "chr2" for c in cols["contig"]])
    pile = _subset(cols, [i < 300 for i in range(len(cols["flags"]))])
    pile["contig"] = ["chr3"] * 300
    pile["start"] = [5000] * 300
    pile["end"] = [5000 + len(s) - 1 if s else 5000 for s in pile["seq"]]
    pile["cigar"] = [f"{len(s)}M" if s else None for s in pile["seq"]]
    pile["flags"] = [f & ~0x4 for f in pile["flags"]]
    few = _subset(cols, [i < 12 for i in range(len(cols["flags"]))])
    out = {}
    for name, c, n in (("unplaced", cols, 4), ("one_contig", one, 4), ("pileup", pile, 4),
                       ("few", few, 16)):
        path = str(d / f"{name}.bam")
        _write_unsorted(path, c)
        out[name] = (path, c, n)
    return out


def _keys(df, header):
    rank = header.contig_index()
    out = []
    for part in df.select("contig", "start").rdd.glom().collect():
        out.extend(
            (rank.get(r.contig, 2**31) if r.contig is not None else 2**31 - 1,
             -1 if r.start is None else r.start)
            for r in part
        )
    return out


@pytest.mark.parametrize("case", ["unplaced", "one_contig", "pileup", "few"])
def test_index_path_equals_generic_path(spark, sort_inputs, tmp_path, case):
    from perfbench import gen

    from disq_spark.headers import SamHeader

    path, cols, n = sort_inputs[case]
    df, h = read_bam(spark, path, split_size=16 * 1024)
    header = SamHeader(text=h.text.replace("SO:unsorted", "SO:coordinate"))
    assert df._disq_scan.sample_keys is not None
    sampled = coordinate_sort(df, header, n)
    generic = coordinate_sort(df.select(*df.columns), header, n)
    plans = [s._jdf.queryExecution().executedPlan().toString() for s in (sampled, generic)]
    assert "rangepartitioning" not in plans[0] and "rangepartitioning" in plans[1]
    assert sampled.rdd.getNumPartitions() == n

    keys = _keys(sampled, header)
    assert keys == sorted(keys) == _keys(generic, header)
    oracle = gen.reads_checksum(cols)
    assert gen.combine(sampled.mapInPandas(gen.checksum_partitions("reads"), "n long, h long")
                       .collect()) == oracle

    out = str(tmp_path / "sorted.bam")
    write_bam(sampled, header, out)  # a .bai write checks order across parts
    assert os.path.exists(out + ".bai")
    back, _ = read_bam(spark, out)
    assert gen.combine(back.mapInPandas(gen.checksum_partitions("reads"), "n long, h long")
                       .collect()) == oracle


def test_cached_or_filtered_frames_take_the_generic_path(spark, sort_inputs):
    path, _cols, n = sort_inputs["unplaced"]
    df, h = read_bam(spark, path, split_size=16 * 1024)
    filtered = df.filter(F.col("mapq") >= 0)
    cached = read_bam(spark, path, split_size=16 * 1024)[0].cache()
    try:
        for frame in (filtered, cached):
            plan = coordinate_sort(frame, h, n)._jdf.queryExecution().executedPlan().toString()
            assert "rangepartitioning" in plan
    finally:
        cached.unpersist()


def test_contig_rank_builds_in_constant_py4j_calls(spark):
    """A GRCh38-sized dictionary (3,366 contigs, some with quotes and
    backslashes) ranks like the per-contig map, and builds in well under
    a second."""
    import time

    from disq_spark.headers import SamHeader
    from disq_spark.operators.genomics import UNPLACED_RANK, _contig_rank

    names = [f"chrUn_{i}" for i in range(3363)] + ["a'b", "c\\d", "HLA-A*01:01"]
    header = SamHeader(text="".join(f"@SQ\tSN:{c}\tLN:1000\n" for c in names))
    df = spark.createDataFrame([(c,) for c in names + ["nope", None]], "contig string")
    t0 = time.perf_counter()
    rank = _contig_rank(header)
    built = time.perf_counter() - t0
    got = [r.r for r in df.select(rank.alias("r")).collect()]
    assert got == list(range(len(names))) + [None, UNPLACED_RANK]
    assert built < 0.5
