"""Parquet materialization: lossless round-trip, interval-filter parity
with the BAM path, and plan-level pushdown verification (the §4 claim
that materialization makes index pruning a built-in)."""

import os

from pyspark.sql import functions as F

from conftest import needs_reference
from disq_spark.functions.intervals import Interval, overlaps
from disq_spark.sinks.materialize import materialize_reads, read_materialized
from disq_spark.sources.bam_source import read_bam


@needs_reference
def test_materialized_roundtrip_and_pruning(spark, fixtures_dir, tmp_path):
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=200_000)
    out = str(tmp_path / "reads_parquet")
    materialize_reads(df, header, out, num_files_per_contig=4)

    back, header2 = read_materialized(spark, out)
    assert header2.text == header.text
    assert back.count() == df.count()

    # value-level equality (contig comes back from the partition column)
    cols = ["name", "flags", "contig", "start", "end", "cigar", "seq", "qual"]
    a = sorted(map(tuple, df.select(cols).collect()))
    b = sorted(map(tuple, back.select(cols).collect()))
    assert a == b

    # interval query parity with the BAM source path
    ivs = [Interval("1", 24_800_000, 24_850_000)]
    mat = read_materialized(spark, out, intervals=ivs)[0]
    bam = read_bam(spark, src, split_size=200_000, intervals=ivs)[0]
    am = sorted(map(tuple, mat.select(cols).collect()))
    ab = sorted(map(tuple, bam.select(cols).collect()))
    assert am == ab and len(am) > 0


@needs_reference
def test_pushdown_reaches_parquet_scan(spark, fixtures_dir, tmp_path):
    src = os.path.join(fixtures_dir, "1-with-splitting-index.bam")
    df, header = read_bam(spark, src, split_size=200_000)
    out = str(tmp_path / "reads_pq")
    materialize_reads(df, header, out, num_files_per_contig=4)

    filtered = spark.read.parquet(out).filter(
        (F.col("contig") == "1") & (F.col("start") <= 24_850_000) & (F.col("end") >= 24_800_000)
    )
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # contig is a partition column -> partition pruning, not a data filter
    assert "PartitionFilters" in plan and "contig" in plan
    # start/end range predicates reach the Parquet reader for row-group
    # min/max skipping
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(start" in plan or "LessThanOrEqual(start)" in plan.replace(",", ")")

    # column pruning: selecting two columns must not read seq/qual
    narrow = spark.read.parquet(out).select("contig", "start")
    nplan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "seq" not in nplan.split("ReadSchema")[-1][:400]


def test_compact_parquet(spark, tmp_path):
    """Many tiny part files -> ~one target-sized file, same rows; the
    original survives a no-op call untouched."""
    from disq_spark.sinks.compact import compact_parquet

    p = str(tmp_path / "frag")
    spark.range(0, 10_000).repartition(40).write.parquet(p)
    before = spark.read.parquet(p)
    want = before.count()
    stats = compact_parquet(spark, p, target_bytes=64 * 1024 * 1024)
    assert stats["files_before"] == 40
    assert stats["files_after"] < 8
    after = spark.read.parquet(p)
    assert after.count() == want
    assert sorted(r[0] for r in after.collect()) == list(range(10_000))
    # second call: already coarse -> no-op
    stats2 = compact_parquet(spark, p, target_bytes=64 * 1024 * 1024)
    assert stats2["files_after"] == stats2["files_before"]


def test_upsert_parquet(spark, tmp_path):
    """Update-in-place, append, and delete semantics; atomic swap."""
    from pyspark.sql import functions as F

    from disq_spark.sinks.compact import upsert_parquet

    p = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, val string"
    ).write.parquet(p)
    updates = spark.createDataFrame(
        [(5, "NEW5", False), (100, "NEW100", False), (7, None, True)],
        "id long, val string, deleted boolean",
    )
    stats = upsert_parquet(spark, p, updates, key="id", delete_col="deleted")
    after = {r["id"]: r["val"] for r in spark.read.parquet(p).collect()}
    assert stats["rows_after"] == 100  # 100 - 1 delete + 1 insert
    assert after[5] == "NEW5"
    assert after[100] == "NEW100"
    assert 7 not in after
    assert after[6] == "v6"  # untouched rows survive
