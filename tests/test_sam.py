"""SAM text path: parse, flags, round-trip (reference test model:
HtsjdkReadsRddTest.testReadAndWrite — read, count vs direct parse,
write, re-read, re-count)."""

import os

from pyspark.sql import functions as F

from conftest import fixture, needs_reference, upstream
from disq_spark.functions.flags import with_flag_columns
from disq_spark.functions.intervals import Interval, filter_intervals
from disq_spark.sinks.reads import write_sam
from disq_spark.sources.reads import read_sam, read_sam_header


def _direct_record_lines(path):
    with open(path) as f:
        return [ln.rstrip("\n") for ln in f if ln.strip() and not ln.startswith("@")]


def _sams(gen_reads, name="test.sam"):
    """The generated SAM, and the upstream ``name`` where it exists."""
    return [gen_reads["sam"]] + upstream(fixture(name))


def test_read_sam_count_matches_direct_parse(spark, gen_reads):
    for path in _sams(gen_reads):
        df, header = read_sam(spark, path)
        assert df.count() == len(_direct_record_lines(path))
        assert header.sequences, "header must carry a sequence dictionary"


def test_header_fields(gen_reads):
    for path in _sams(gen_reads):
        h = read_sam_header(path)
        assert h.sort_order in ("unknown", "unsorted", "queryname", "coordinate")
        names = [n for n, _l in h.sequences]
        assert len(names) == len(set(names))


def test_flag_derivation(spark, gen_reads):
    for path in _sams(gen_reads, "flag-values.sam"):
        df, _ = read_sam(spark, path)
        flagged = with_flag_columns(df)
        rows = flagged.select("flags", "is_paired", "is_unmapped", "is_reverse").collect()
        assert rows
        for r in rows:
            assert r.is_paired == bool(r.flags & 0x1)
            assert r.is_unmapped == bool(r.flags & 0x4)
            assert r.is_reverse == bool(r.flags & 0x10)


def test_roundtrip_single_file(spark, gen_reads, tmp_path):
    for i, src in enumerate(_sams(gen_reads)):
        df, header = read_sam(spark, src)
        out = str(tmp_path / f"out{i}.sam")
        write_sam(df, header, out)
        df2, header2 = read_sam(spark, out)
        assert df2.count() == df.count()
        assert header2.text == header.text
        # full record equality (order-insensitive)
        a = sorted(map(tuple, df.drop("tags").collect()))
        b = sorted(map(tuple, df2.drop("tags").collect()))
        assert a == b
        # tags compared as sorted items
        ta = sorted(tuple(sorted((r.tags or {}).items())) for r in df.select("tags").collect())
        tb = sorted(tuple(sorted((r.tags or {}).items())) for r in df2.select("tags").collect())
        assert ta == tb


def test_roundtrip_sharded(spark, gen_reads, tmp_path):
    for i, src in enumerate(_sams(gen_reads)):
        df, header = read_sam(spark, src)
        out = str(tmp_path / f"sharded{i}")
        write_sam(df.repartition(3), header, out, single_file=False)
        parts = [p for p in os.listdir(out) if p.endswith(".sam")]
        assert len(parts) >= 1
        df2, _ = read_sam(spark, out)  # directory read (multi-file semantics)
        assert df2.count() == df.count()


def test_interval_filter(spark, gen_reads):
    for path in _sams(gen_reads):
        df, _ = read_sam(spark, path)
        rows = df.filter(F.col("start").isNotNull()).select("contig", "start", "end").collect()
        assert rows
        contig = rows[0].contig
        lo = min(r.start for r in rows)
        hit = filter_intervals(df, [Interval(contig, lo, lo)])
        # brute-force oracle
        expect = sum(1 for r in rows if r.contig == contig and r.start <= lo <= r.end)
        assert hit.count() == expect
        # empty interval set -> no mapped records
        assert filter_intervals(df, []).count() == 0


def test_mapped_only_rejected(spark, gen_reads):
    import pytest

    for path in _sams(gen_reads):
        df, _ = read_sam(spark, path)
        with pytest.raises(ValueError):
            filter_intervals(df, None, traverse_unplaced_unmapped=False)


@needs_reference
def test_small_sam_fixture(spark, fixtures_dir):
    """The reference's small.sam: quoted CL header fields (spaces inside
    the quotes) must survive, 20 records, PG chain p2->p1, tag
    round-trip."""
    import os

    from disq_spark.sources.reads import read_sam

    df, header = read_sam(spark, os.path.join(fixtures_dir, "small.sam"))
    rows = df.collect()
    assert len(rows) == 20
    assert all(r["contig"] in ("1", "2") for r in rows)
    by_name = {r["name"]: r for r in rows}
    r0 = by_name["simread:1:26472783:false"]
    assert r0["flags"] == 16 and r0["start"] == 26472784  # 1-based POS
    assert r0["tags"]["NM"] == "i:0" and r0["tags"]["AS"] == "i:75"
    assert 'CL:"myProg 123"' in header.text
    assert "PP:p1" in header.text


def test_format_sam_batch_null_mandatory_flags_raises():
    """A null in the mandatory flags column must raise (the per-row
    encoder raised at str(int(None))) — never silently serialize as
    flag 0, which is a valid 'unpaired forward read'."""
    import pandas as pd
    import pytest as _pt

    from disq_spark.formats.sam import format_sam_batch

    pdf = pd.DataFrame(
        {
            "name": ["r1"], "flags": [None], "contig": ["chr1"],
            "start": [100], "mapq": [60], "cigar": ["4M"],
            "mate_contig": [None], "mate_start": [None],
            "template_len": [None], "seq": ["ACGT"], "qual": ["IIII"],
            "tags": [None],
        }
    )
    with _pt.raises(ValueError, match="flags"):
        format_sam_batch(pdf)
