"""Invariants of ``sources.plan.plan_frame``, the one way planned sources
turn a driver-side split plan into a DataFrame: partition i decodes plan
row i (file order survives the scan), an empty plan is an empty frame in
the source's schema, and the plan ships as compact numpy columns.

Self-contained: inputs come from the ``planned_inputs`` fixture."""

import os

import pandas as pd
from pyspark.sql import functions as F

from disq_spark.functions.intervals import Interval
from disq_spark.schemas import READS_SCHEMA, VARIANTS_SCHEMA
from disq_spark.sinks.bam import write_bam
from disq_spark.sources.bam_source import read_bam
from disq_spark.sources.plan import _plan_runner
from disq_spark.sources.variants import read_vcf


def _pid_order(df, *cols):
    rows = df.select(F.spark_partition_id().alias("pid"), *cols).collect()
    return [r.pid for r in rows], [tuple(r[c] for c in cols) for r in rows]


def test_partition_order_is_file_order(spark, planned_inputs):
    df, _ = read_bam(spark, planned_inputs["bam"], split_size=planned_inputs["bam_split"])
    pids, names = _pid_order(df, "name")
    assert len(set(pids)) >= 3, "input must span several chunks"
    assert pids == sorted(pids)
    assert names == [(f"r{i:05d}",) for i in range(3000)]

    vdf, _ = read_vcf(spark, planned_inputs["vcf"], split_size=planned_inputs["vcf_split"])
    pids, starts = _pid_order(vdf, "start")
    assert len(set(pids)) >= 3, "input must span several chunks"
    assert pids == sorted(pids)
    assert starts == [(i * 10 + 1,) for i in range(4000)]


def test_multi_chunk_unsorted_round_trip_keeps_record_order(spark, planned_inputs, tmp_path):
    from disq_spark.headers import SamHeader

    df, header = read_bam(spark, planned_inputs["bam"], split_size=planned_inputs["bam_split"])
    assert df.rdd.getNumPartitions() >= 3
    unsorted = SamHeader(text=header.text.replace("SO:coordinate", "SO:unsorted"))
    out = str(tmp_path / "copy.bam")
    write_bam(df, unsorted, out, write_bai=False)
    cols = ["name", "start", "seq", "qual"]
    # whole files read as one chunk each: plain file order on both sides
    source, _ = read_bam(spark, planned_inputs["bam"])
    back, _ = read_bam(spark, out)
    assert [tuple(r) for r in back.select(*cols).collect()] == [
        tuple(r) for r in source.select(*cols).collect()
    ]


def test_header_only_bam_is_empty_in_reads_schema(spark, planned_inputs):
    df, _ = read_bam(spark, planned_inputs["empty_bam"], split_size=planned_inputs["bam_split"])
    assert df.schema == READS_SCHEMA
    assert df.count() == 0


def test_fully_pruned_queries_are_empty_in_source_schema(spark, planned_inputs):
    iv = [Interval("c2", 1, 500_000)]
    df, _ = read_bam(
        spark, planned_inputs["bam"], split_size=planned_inputs["bam_split"], intervals=iv
    )
    assert df.schema == READS_SCHEMA
    assert df.count() == 0

    vdf, _ = read_vcf(
        spark, planned_inputs["vcf"], split_size=planned_inputs["vcf_split"],
        intervals=[Interval("v2", 1, 500_000)],
    )
    assert vdf.schema == VARIANTS_SCHEMA
    assert vdf.count() == 0
    # every chunk was pruned at plan time: no decode stage at all
    for frame in (df, vdf):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan, plan


def test_plan_runner_maps_range_ids_to_plan_rows():
    plan = [("a.bam", 0, 10), ("b.bam", 10, 20), ("a.bam", 20, 30)]

    def echo(key, start, end):
        yield pd.DataFrame({"key": [key], "start": [start], "end": [end]})

    run = _plan_runner(plan, echo)
    out = pd.concat(run(iter([pd.DataFrame({"id": [2, 0]}), pd.DataFrame({"id": [1]})])))
    assert list(out.itertuples(index=False, name=None)) == [plan[2], plan[0], plan[1]]


def test_index_builders_match_the_write_side_indexes(spark, planned_inputs, tmp_path):
    """build_bai/build_tbi merge per-chunk fragments in plan order: over
    several chunks they reproduce the sinks' indexes byte for byte.
    build_sbi finds every record start, and the guesser check finds no
    disagreement."""
    import filecmp
    import shutil

    from disq_spark.formats.sbi import read_sbi
    from disq_spark.sources.bam_source import build_bai, build_sbi, check_record_guesser
    from disq_spark.sources.variants import build_tbi

    bam, vcf = str(tmp_path / "copy.bam"), str(tmp_path / "copy.vcf.bgz")
    shutil.copy(planned_inputs["bam"], bam)
    shutil.copy(planned_inputs["vcf"], vcf)
    split = planned_inputs["bam_split"]
    assert filecmp.cmp(build_bai(spark, bam, split), planned_inputs["bam"] + ".bai", shallow=False)
    assert filecmp.cmp(
        build_tbi(spark, vcf, planned_inputs["vcf_split"]), planned_inputs["vcf"] + ".tbi",
        shallow=False,
    )
    sbi = read_sbi(build_sbi(spark, bam, split, granularity=1))
    written = read_sbi(planned_inputs["bam"] + ".sbi")
    assert sbi.total_records == 3000 and len(sbi.offsets) == 3001
    assert sbi.offsets == sorted(set(sbi.offsets))
    assert (sbi.offsets[0], sbi.offsets[-1]) == (written.offsets[0], written.offsets[-1])
    assert check_record_guesser(spark, bam, split).count() == 0


def test_tribble_pruned_plain_vcf_read_keeps_order(spark, planned_inputs, tmp_path):
    import shutil

    from disq_spark.formats.tribble import build_tribble_from_vcf, write_tribble

    vcf = str(tmp_path / "sites.vcf")
    shutil.copy(planned_inputs["plain_vcf"], vcf)
    write_tribble(vcf + ".idx", build_tribble_from_vcf(vcf))
    split = 16 * 1024
    df, _ = read_vcf(spark, vcf, split_size=split, intervals=[Interval("v1", 10_001, 20_000)])
    pids, starts = _pid_order(df, "start")
    assert starts == [(i * 10 + 1,) for i in range(1000, 2000)]
    assert pids == sorted(pids)
    # a quarter of the sites: only the splits holding them are planned
    n_splits = -(-os.path.getsize(vcf) // split)
    assert 1 < df.rdd.getNumPartitions() < n_splits / 2
