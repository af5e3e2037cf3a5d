"""Filesystem-abstraction tests: scheme dispatch, a full driver-side
round trip of the format stack on the non-local memory:// filesystem,
and concat-strategy dispatch (Hadoop metadata path vs serial copy)."""

import os

import pytest

from conftest import bam_inputs
from disq_spark import fs
from disq_spark.formats import bgzf
from disq_spark.sinks import merge


def test_split_scheme():
    assert fs.split_scheme("s3://bucket/key") == ("s3", "bucket/key")
    assert fs.split_scheme("/local/path") == ("", "/local/path")
    assert fs.split_scheme("C:/windows") == ("", "C:/windows")
    assert fs.split_scheme("memory://a/b") == ("memory", "a/b")


def test_unknown_scheme_raises_clearly():
    with pytest.raises(ValueError, match="no filesystem for scheme"):
        fs.open_input("nosuchproto://x/y")


def test_memory_roundtrip_basic():
    p = "memory://t1/dir/file.bin"
    with fs.open_output(p) as f:
        f.write(b"hello")
    assert fs.exists(p)
    assert fs.getsize(p) == 5
    with fs.open_input(p) as f:
        assert f.read() == b"hello"
    with fs.open_append(p) as f:
        f.write(b" world")
    with fs.open_input(p) as f:
        assert f.read() == b"hello world"
    assert fs.isdir("memory://t1/dir")
    assert fs.listdir("memory://t1/dir") == ["memory://t1/dir/file.bin"]
    fs.remove(p)
    assert not fs.exists(p)


def test_bgzf_stack_on_memory_fs(gen_reads):
    """The BGZF scanner/decompressor must work through the fs layer on a
    non-local filesystem — copy a real BAM into memory:// and scan."""
    from disq_spark.sources.bam_source import read_bam_header

    for i, (src, _n) in enumerate(bam_inputs(gen_reads)):
        dst = f"memory://fixtures/{i}/{os.path.basename(src)}"
        with open(src, "rb") as f, fs.open_output(dst) as out:
            out.write(f.read())

        local_blocks = [(b.pos, b.u_size) for b in bgzf.scan_blocks(src)]
        mem_blocks = [(b.pos, b.u_size) for b in bgzf.scan_blocks(dst)]
        assert mem_blocks == local_blocks and len(mem_blocks) > 10

        # header parse through the fs layer (driver-side read path)
        h_local, refs_local, v_local = read_bam_header(src)
        h_mem, refs_mem, v_mem = read_bam_header(dst)
        assert (h_mem.text, refs_mem, v_mem) == (h_local.text, refs_local, v_local)


def test_single_file_finalize_on_memory_fs():
    """The whole single-file write path — task-side part encoding
    (encode_part), driver-side commit (header + concat + terminator +
    offset-shifted .sbi/.bai merge) — must run on a non-local filesystem."""
    from disq_spark.formats import sbi as sbimod
    from disq_spark.headers import SamHeader
    from disq_spark.sinks.bam import encode_part, finalize_single
    from disq_spark.sources.bam_source import plan_bam_chunks, read_bam_header

    refs = [("c1", 100_000)]
    ref_index = {"c1": 0}

    def mk_row(i, part):
        return {
            "name": f"r{part}_{i}", "flags": 0, "contig": "c1",
            "start": 100 * part + i + 1, "end": 100 * part + i + 10,
            "mapq": 60, "cigar": "10M", "mate_contig": None, "mate_start": None,
            "template_len": 0, "seq": "ACGTACGTAC", "qual": "IIIIIIIIII",
            "tags": None, "read_group": None,
        }

    parts_dir = "memory://out/x.bam.parts"
    n_total = 0
    for part in (0, 1):
        rows = [mk_row(i, part) for i in range(25)]
        n_total += encode_part(
            iter(rows), f"{parts_dir}/part-{part:05d}", ref_index,
            granularity=1, with_bai=True,
        )
    assert n_total == 50

    out = "memory://out/x.bam"
    header = SamHeader(text="@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:100000\n")
    finalize_single(out, parts_dir, header, refs,
                    merge.list_parts(parts_dir), with_sbi=True, with_bai=True)

    assert fs.exists(out) and fs.exists(out + ".sbi") and fs.exists(out + ".bai")
    _h, refs2, _v = read_bam_header(out)
    assert refs2 == refs
    idx = sbimod.read_sbi(out + ".sbi")
    assert idx.total_records == 50
    # the merged .sbi must drive split planning on the memory file too
    chunks = plan_bam_chunks(out, split_size=2048, refs=refs2, first_voff=_v)
    assert chunks and chunks[0][0] == _v
    assert not fs.exists(f"{parts_dir}/part-00000")  # parts cleaned up


def test_concat_dispatch(tmp_path, monkeypatch):
    """Local scheme must not attempt the Hadoop RPC; hdfs-family schemes
    must try it and fall back serially when it returns None."""
    calls = []

    def fake_try(dst, srcs):
        calls.append(dst)
        return None  # simulate concat-unsupported -> serial fallback

    monkeypatch.setattr(fs, "try_hadoop_concat", fake_try)

    a, b = tmp_path / "a", tmp_path / "b"
    a.write_bytes(b"AA")
    b.write_bytes(b"BB")
    dst = tmp_path / "out"
    lengths = merge.concat_parts(str(dst), [str(a), str(b)])
    assert lengths == [2, 2] and dst.read_bytes() == b"AABB"
    assert calls == []  # local path: no RPC attempted

    monkeypatch.setenv("DISQ_SPARK_FORCE_HADOOP_CONCAT", "1")
    dst2 = tmp_path / "out2"
    lengths = merge.concat_parts(str(dst2), [str(a), str(b)])
    assert lengths == [2, 2] and dst2.read_bytes() == b"AABB"
    assert calls == [str(dst2)]  # attempted, fell back serially


def test_resolve_paths_glob_on_memory_fs():
    """Globs must work on non-local schemes through the fs registry
    (fnmatch over the listed parent), with hidden/_ files skipped."""
    from disq_spark import fs
    from disq_spark.sources.plan import resolve_paths

    for name in ("part-0.warc.gz", "part-1.warc.gz", "other.txt", "_tmp.warc.gz"):
        with fs.open_output(f"memory://globtest/{name}") as f:
            f.write(b"x")
    got = resolve_paths("memory://globtest/part-*.warc.gz", (".warc.gz",))
    assert got == [
        "memory://globtest/part-0.warc.gz",
        "memory://globtest/part-1.warc.gz",
    ]
    fs.rmtree("memory://globtest")
