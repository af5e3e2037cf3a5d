"""The readers' interval residual runs inside the decode
(``functions/intervals.py::interval_mask``, one ``np.searchsorted`` per
contig and batch), so thousands of intervals read as fast as a few — the
Column form, one OR per interval, overflows the JVM stack at about 1,000
— and keep exactly the records a brute-force overlap test keeps."""

import numpy as np
import pytest

from disq_spark.functions.intervals import Interval
from disq_spark.sources.bam_source import read_bam
from disq_spark.sources.variants import read_vcf


def _intervals(n: int, seed: int, contigs=("chr1",), length=2_400_000):
    rng = np.random.default_rng(seed)
    out = []
    for c in contigs:
        starts = np.sort(rng.choice(length, size=n, replace=False)) + 1
        for s in starts:
            out.append(Interval(c, int(s), int(s) + int(rng.integers(0, 400))))
    return out


def _brute(rows, intervals) -> int:
    """Records overlapping any interval, one vectorized test per record
    block against every interval (no merging, no search)."""
    total = 0
    for c in {iv.contig for iv in intervals}:
        lo = np.array([iv.start for iv in intervals if iv.contig == c])
        hi = np.array([iv.end for iv in intervals if iv.contig == c])
        recs = np.array([(s, e) for rc, s, e in rows if rc == c and s is not None and e is not None])
        for i in range(0, len(recs), 500):
            blk = recs[i : i + 500]
            total += int(((lo[None, :] <= blk[:, 1:2]) & (hi[None, :] >= blk[:, 0:1])).any(axis=1).sum())
    return total


@pytest.mark.parametrize("n", [1_000, 10_000])
def test_bam_read_with_many_intervals_equals_brute_force(spark, gen_reads, n):
    full, _ = read_bam(spark, gen_reads["bam"])
    rows = [tuple(r) for r in full.select("contig", "start", "end").collect()]
    ivs = _intervals(n, 1, contigs=("chr1", "chr2"))
    df, _ = read_bam(spark, gen_reads["bam"], split_size=64 * 1024, intervals=ivs)
    want = _brute(rows, ivs)
    assert want > 0
    assert df.count() == want


def test_vcf_read_with_many_intervals_equals_brute_force(spark, gen_variants):
    cols = gen_variants["cols"]
    rows = list(zip(cols["contig"], cols["start"], cols["end"]))
    ivs = _intervals(1_000, 2, contigs=("chr1", "chr3"), length=1_200_000)
    df, _ = read_vcf(spark, gen_variants["bgz"], split_size=128 * 1024, intervals=ivs)
    want = _brute(rows, ivs)
    assert want > 0
    assert df.count() == want


def test_interval_mask_equals_brute_force_on_edges():
    import pyarrow as pa

    from disq_spark.functions.intervals import overlap_mask

    ivs = [Interval("a", 10, 20), Interval("a", 15, 30), Interval("a", 31, 31),
           Interval("a", 50, 60), Interval("b", 1, 1)]
    starts = [None, 1, 9, 10, 21, 30, 32, 40, 61, 5, 1, 2]
    ends = [5, 9, 9, 10, 22, 31, 49, 50, 70, 5, 1, None]
    contigs = ["a"] * 9 + [None, "b", "b"]
    batch = pa.RecordBatch.from_pydict({
        "contig": pa.array(contigs, pa.string()), "start": pa.array(starts, pa.int64()),
        "end": pa.array(ends, pa.int64()), "flags": pa.array([4] * 12, pa.int32()),
    })
    rows = [(c, s, e) for c, s, e in zip(contigs, starts, ends)]
    want = [_brute([r], ivs) == 1 for r in rows]
    assert overlap_mask(batch, ivs).to_pylist() == want
    uu = overlap_mask(batch, ivs, True).to_pylist()
    assert uu == [w or s is None for w, s in zip(want, starts)]
    assert overlap_mask(batch, []).to_pylist() == [False] * 12
