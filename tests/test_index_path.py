"""The one index path: ``write_bam``/``write_vcf`` and ``build_sbi``/
``build_bai``/``build_tbi`` share one empty-case rule and refuse the same
inputs.

Self-contained: inputs come from the ``planned_inputs`` fixture or are
written here."""

import filecmp
import gzip
import os
import shutil

import pytest

from disq_spark.formats import bgzf
from disq_spark.formats.bai import read_bai
from disq_spark.formats.sbi import read_sbi
from disq_spark.sources.bam_source import bam_idxstats, build_bai, build_sbi
from disq_spark.sources.variants import build_tbi


def test_empty_write_bam_bai_has_one_entry_per_reference(spark, planned_inputs, tmp_path):
    """Zero records under a two-@SQ coordinate header: the merged .bai is
    the legal empty index build_bai writes (one empty entry per
    reference), so idxstats reads it."""
    empty = planned_inputs["empty_bam"]
    assert len(read_bai(empty + ".bai").refs) == 2
    rows = {r.contig: (r.n_mapped, r.n_unmapped) for r in bam_idxstats(spark, empty).collect()}
    assert rows == {"c1": (0, 0), "c2": (0, 0), "*": (0, 0)}
    copy = str(tmp_path / "empty.bam")
    shutil.copy(empty, copy)
    assert filecmp.cmp(build_bai(spark, copy), empty + ".bai", shallow=False)


def test_empty_write_bam_sbi_records_requested_granularity(spark, planned_inputs, tmp_path):
    """The empty write's .sbi carries the requested granularity (4096 by
    default), like build_sbi on the same file."""
    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA
    from disq_spark.sinks.bam import write_bam

    empty = planned_inputs["empty_bam"]
    assert read_sbi(empty + ".sbi").granularity == 4096
    copy = str(tmp_path / "empty.bam")
    shutil.copy(empty, copy)
    assert filecmp.cmp(build_sbi(spark, copy, granularity=4096), empty + ".sbi", shallow=False)

    out = str(tmp_path / "g7.bam")
    header = SamHeader(text="@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:1000\n")
    write_bam(spark.createDataFrame([], READS_SCHEMA), header, out, sbi_granularity=7)
    assert read_sbi(out + ".sbi").granularity == 7


@pytest.mark.parametrize("kind", ["plain", "gzip"])
def test_build_tbi_refuses_non_bgzf_input(spark, planned_inputs, tmp_path, kind):
    """A plain or true-gzip VCF cannot carry a .tbi: build_tbi raises
    write_vcf(write_tbi=True)'s BGZF error and writes nothing."""
    src = planned_inputs["plain_vcf"]
    if kind == "plain":
        path = str(tmp_path / "sites.vcf")
        shutil.copy(src, path)
    else:
        path = str(tmp_path / "sites.vcf.gz")
        with open(src, "rb") as f, gzip.GzipFile(path, "wb", mtime=0) as g:
            g.write(f.read())
    with pytest.raises(ValueError, match="requires a .*BGZF"):
        build_tbi(spark, path)
    assert not os.path.exists(path + ".tbi")


def _site(pos: int) -> str:
    return f"v1\t{pos}\t.\tA\tC\t50\tPASS\tDP=1\n"


def test_build_tbi_refuses_splits_out_of_order(spark, tmp_path):
    """Two BGZF runs, split at the second run's first block: the first
    split owns the header, v1:100000..199950 and (reading past its end)
    v1:300000; the second owns v1:10..89960. Each split is sorted, the
    file is not: the cross-split order check refuses it, as it refuses
    such parts in write_vcf."""
    head = (
        "##fileformat=VCFv4.2\n##contig=<ID=v1,length=1000000>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    run1 = bgzf.compress_all(
        (head + "".join(_site(p) for p in range(100_000, 200_000, 50))).encode(), terminate=False
    )
    run2 = bgzf.compress_all(
        (_site(300_000) + "".join(_site(p) for p in range(10, 90_000, 50))).encode()
    )
    path = str(tmp_path / "runs.vcf.bgz")
    with open(path, "wb") as f:
        f.write(run1 + run2)
    with pytest.raises(ValueError, match="globally coordinate-sorted"):
        build_tbi(spark, path, split_size=len(run1))
    assert not os.path.exists(path + ".tbi")
    assert not os.path.exists(path + ".tbi.parts")
