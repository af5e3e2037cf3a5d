"""FASTQ source/sink: split-matrix exactly-once, round trips, the
'@'-leading quality-line ambiguity, gzip path."""

from __future__ import annotations

import gzip
import os
import random

import pytest
from pyspark.sql import functions as F

from disq_spark.formats import fastq as fq
from disq_spark.sources.fastq import read_fastq, write_fastq

REF_FA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "ref.fa")


def _mk_fastq(n: int, seed: int = 7, trailing_newline: bool = True) -> str:
    """Deterministic records; every 3rd quality string STARTS with '@'
    (the classic split-ambiguity), lengths vary 30-90."""
    rng = random.Random(seed)
    recs = []
    for i in range(n):
        ln = rng.randint(30, 90)
        seq = "".join(rng.choice("ACGTN") for _ in range(ln))
        q = "".join(chr(rng.randint(0x21, 0x49)) for _ in range(ln))
        if i % 3 == 0:
            q = "@" + q[1:]
        comment = f"run={i % 5}" if i % 2 == 0 else None
        recs.append(fq.format_record(f"read{i:05d}", comment, seq, q))
    text = "\n".join(recs)
    return text + "\n" if trailing_newline else text


@pytest.fixture(scope="module")
def fastq_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("fq") / "sample.fastq"
    p.write_text(_mk_fastq(300))
    return str(p)


def test_split_matrix_exactly_once(spark, fastq_file):
    """Any split size yields the same 300 records exactly once — the
    boundary snap never duplicates or drops."""
    want = sorted(
        map(tuple, read_fastq(spark, fastq_file, split_size=1 << 30).collect())
    )
    assert len(want) == 300
    for split in (500, 1024, 4096, 16384):
        got = sorted(
            map(tuple, read_fastq(spark, fastq_file, split_size=split).collect())
        )
        assert got == want, f"split={split}"


def test_no_trailing_newline(spark, tmp_path):
    p = tmp_path / "tail.fastq"
    p.write_text(_mk_fastq(37, seed=11, trailing_newline=False))
    got = read_fastq(spark, str(p), split_size=700).collect()
    assert len(got) == 37


def test_comment_parsing(spark, fastq_file):
    rows = {r["name"]: r for r in read_fastq(spark, fastq_file).collect()}
    assert rows["read00000"]["comment"] == "run=0"
    assert rows["read00001"]["comment"] is None
    assert len(rows["read00004"]["seq"]) == len(rows["read00004"]["qual"])


def test_gzip_whole_file(spark, tmp_path, fastq_file):
    gz = tmp_path / "sample.fastq.gz"
    with open(fastq_file, "rb") as f_in, gzip.open(gz, "wb") as f_out:
        f_out.write(f_in.read())
    got = sorted(map(tuple, read_fastq(spark, str(gz)).collect()))
    want = sorted(map(tuple, read_fastq(spark, fastq_file).collect()))
    assert got == want


def test_roundtrip_single_and_sharded(spark, tmp_path, fastq_file):
    df = read_fastq(spark, fastq_file, split_size=2048)
    out1 = str(tmp_path / "out.fastq")
    write_fastq(df, out1)
    back1 = sorted(map(tuple, read_fastq(spark, out1).collect()))
    outs = str(tmp_path / "out_shards")
    write_fastq(df.repartition(5), outs, single_file=False)
    back2 = sorted(map(tuple, read_fastq(spark, outs).collect()))
    want = sorted(map(tuple, df.collect()))
    assert back1 == want
    assert back2 == want


def test_record_start_rejects_qual_line(spark):
    """A quality line starting with '@' must not be taken for a header."""
    text = _mk_fastq(12, seed=3).encode()
    # offset of record 3's quality line (starts with '@' by construction)
    lines = text.split(b"\n")
    qual_line_idx = 3  # record 0's qual (i%3==0 -> '@'-led)
    off = sum(len(l) + 1 for l in lines[:qual_line_idx])
    assert lines[qual_line_idx].startswith(b"@")
    assert not fq.check_record_start(text, off)
    # while the true record starts validate
    assert fq.check_record_start(text, 0)
    off_r1 = sum(len(l) + 1 for l in lines[:4])
    assert fq.check_record_start(text, off_r1)


def test_fastq_datasource(spark, fastq_file):
    from disq_spark.sources.datasource import register_datasources

    register_datasources(spark)
    df = (
        spark.read.format("fastq")
        .option("split_size", 2048)
        .load(fastq_file)
    )
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, read_fastq(spark, fastq_file).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# BED (sources/bed.py) — shares this module's text-format focus
# ---------------------------------------------------------------------------


def test_bed_reader_and_pushdown(spark, tmp_path, fixtures_dir):
    import os

    from disq_spark.sources.bam_source import read_bam
    from disq_spark.sources.bed import bed_intervals, read_bed

    bed = tmp_path / "targets.bed"
    bed.write_text(
        "track name=targets\n"
        "# capture regions\n"
        "1\t24800000\t24860000\tt1\n"
        "1\t24850000\t24900000\tt2\n"   # overlaps t1 -> merged for pushdown
        "2\t100\t200\tt3\n"
    )
    df = read_bed(spark, str(bed)).collect()
    assert len(df) == 3
    r = {x["name"]: x for x in df}
    assert r["t1"]["start"] == 24800001 and r["t1"]["end"] == 24860000  # 1-based closed

    ivs = bed_intervals(str(bed))
    assert len(ivs) == 2  # t1+t2 merged
    assert (ivs[0].contig, ivs[0].start, ivs[0].end) == ("1", 24800001, 24900000)

    # pushdown into the BAM source == brute-force residual filter
    bam = os.path.join(fixtures_dir, "1.bam")
    got, _ = read_bam(spark, bam, intervals=[i for i in ivs if i.contig == "1"])
    all_reads, _ = read_bam(spark, bam)
    from disq_spark.functions.intervals import overlaps

    want = all_reads.filter(overlaps([i for i in ivs if i.contig == "1"])).count()
    assert got.count() == want > 0


# ---------------------------------------------------------------------------
# FASTA window scan (sources/fasta.py)
# ---------------------------------------------------------------------------


def test_fasta_windows_tile_exactly(spark):
    from disq_spark.formats.gzi import read_fai
    from disq_spark.sources.fasta import read_fasta_windows

    path = REF_FA
    fai = read_fai(path + ".fai")
    rows = read_fasta_windows(spark, path, window=7000).collect()
    by_contig = {}
    for r in rows:
        by_contig.setdefault(r["contig"], []).append(r)
    assert set(by_contig) == set(fai)
    for name, rs in by_contig.items():
        rs.sort(key=lambda r: r["start"])
        # windows tile [1, length] with no gaps and correct seq lengths
        assert rs[0]["start"] == 1
        for a, b in zip(rs, rs[1:]):
            assert b["start"] == a["end"] + 1
        assert rs[-1]["end"] == fai[name].length
        full = "".join(r["seq"] for r in rs)
        assert len(full) == fai[name].length
    # reassembled == direct single-window read
    whole = {
        r["contig"]: r["seq"]
        for r in read_fasta_windows(spark, path, window=1 << 30).collect()
    }
    for name, rs in by_contig.items():
        assert "".join(r["seq"] for r in rs) == whole[name]
    assert whole["chrA"][100:150] == "N" * 50  # planted N run survives


def test_fasta_windows_overlap_for_kmers(spark):
    from disq_spark.sources.fasta import read_fasta_windows

    path = REF_FA
    k = 5
    rows = read_fasta_windows(spark, path, window=7000, overlap=k - 1).collect()
    whole = {
        r["contig"]: r["seq"]
        for r in read_fasta_windows(spark, path, window=1 << 30).collect()
    }
    # every k-mer counted exactly once across windows (body-start ownership)
    from collections import Counter

    got = Counter()
    for r in rows:
        body = r["end"] - r["start"] + 1
        for i in range(body):
            km = r["seq"][i : i + k]
            if len(km) == k:
                got[km] += 1
    want = Counter()
    for seq in whole.values():
        for i in range(len(seq) - k + 1):
            want[seq[i : i + k]] += 1
    assert got == want


def test_pair_fastq(spark, tmp_path):
    from disq_spark.sources.fastq import pair_fastq

    r1 = tmp_path / "r1.fastq"
    r2 = tmp_path / "r2.fastq"
    r1.write_text(
        "@frag1/1 lane=1\nACGT\n+\nIIII\n@frag2/1\nGGCC\n+\nJJJJ\n@orphan/1\nAAAA\n+\nKKKK\n"
    )
    r2.write_text("@frag1/2 lane=1\nTTTT\n+\nIIII\n@frag2/2\nCCAA\n+\nJJJJ\n")
    pairs = pair_fastq(
        read_fastq(spark, str(r1)), read_fastq(spark, str(r2))
    ).collect()
    got = {r["name"]: r for r in pairs}
    assert set(got) == {"frag1", "frag2"}  # orphan dropped
    assert got["frag1"]["seq_1"] == "ACGT" and got["frag1"]["seq_2"] == "TTTT"
    assert got["frag2"]["qual_2"] == "JJJJ"


def test_real_htslib_gzi_parses(fixtures_dir):
    """Parse the htslib-produced .gzi shipped with the reference (for the
    excluded human_g1k fasta.gz): offsets must be strictly increasing in
    both coordinates and plausibly block-sized — validates the .gzi
    reader against a real external producer, not just our own writer."""
    import os

    from disq_spark.formats.gzi import read_gzi

    gzi = read_gzi(
        os.path.join(fixtures_dir, "human_g1k_v37.20.21.fasta.gz.gzi")
    )
    n = len(gzi.comp_offsets)
    assert n == len(gzi.uncomp_offsets) and n > 100
    assert all(a < b for a, b in zip(gzi.comp_offsets, gzi.comp_offsets[1:]))
    assert all(a < b for a, b in zip(gzi.uncomp_offsets, gzi.uncomp_offsets[1:]))
    # BGZF uncompressed payloads are capped at 65536 per block
    deltas = [
        b - a for a, b in zip(gzi.uncomp_offsets, gzi.uncomp_offsets[1:])
    ]
    assert all(0 < d <= 65536 for d in deltas)
