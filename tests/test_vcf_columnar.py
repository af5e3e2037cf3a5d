"""The column-wise VCF codec (``formats/vcf.py::parse_vcf_arrow`` and
``format_vcf_arrow``) against the per-row kernels it replaces on the
read and write paths (``parse_vcf_lines``, ``format_vcf_batch``): the
same rows, lines, errors and warnings on irregular input."""

import math

import pandas as pd
import pyarrow as pa
import pytest

from disq_spark.formats.vcf import (
    _python_rows,
    format_vcf_arrow,
    format_vcf_batch,
    parse_vcf_arrow,
    parse_vcf_lines,
)
from disq_spark.schemas import VARIANTS_COLUMNS, VARIANTS_SCHEMA
from disq_spark.sources.plan import arrow_schema, to_batch

SCHEMA = arrow_schema(VARIANTS_SCHEMA)
SAMPLES = ["S1", "S2", "S3"]

REGULAR = [
    "chr1\t100\trs1\tA\tC\t50\tPASS\tDP=10;AF=0.5\tGT:DP\t0/1:5\t1/1:7\t./.:.",
    "chr1\t101\trs2;rs3\tAT\tA,ATT\t12.25\tq10;s50\tDB;H2\tGT:AD:DP\t0|1:3,4:7\t0/0:9,0:9\t1/1:0,8:8",
    "chr1\t102\t.\tG\t.\t.\t.\t.\tDP:GT\t5:0/1\t6:1/1\t7:0/0",  # GT not first
    "chr1\t103\t.\tG\tT\t30\tPASS\tEND=1200;X=\tGT\t0/1\t0/0\t1/1",  # gVCF END
    "chr1\t104\t.\t.\t.\t.\t.\t.",  # '.' everywhere, no FORMAT
    "chr1\t105\t.\tC\tG\t0\tPASS\ta;;b\tGT:DP\t0/1\t1/1:4:9\t./.:.",  # short and long samples
    "chr1\t106\t.\tÉ\tG\t007\tPASS\t=\tGT",  # FORMAT without sample columns
    "chr2\t007\t.\tC\tG\t1e-30\tPASS\tDP=3\tGQ\t5\t6\t7",  # no GT key
    "chr2\t9\t.\tC\tG\t1.5e+20\tPASS\tDP=3\tGT:DP\t0/1:1\t0/1:2\t0/1:3\r",  # CRLF remnant
]
# lines the column rules leave to parse_vcf_lines; all parse
ODD = [
    "chr2\t+10\t.\tC\tG\t50\tPASS\tDP=1",  # POS outside the strict pattern
    "chr2\t11\t.\tC\tG\tinf\tPASS\tDP=1",
    "chr2\t12\t.\tC\tG\t1_0\tPASS\tDP=1",
    "chr2\t13\t.\tC\tG\t1e999\tPASS\tDP=1",
    "chr2\t14\t.\tC\tG\t50\tPASS\tDP=1;DP=2",  # duplicate INFO key
    "chr2\t15\t.\tC\tG\t50\tPASS\tDP=1\tGT:GT\t0/1:1\t0/1:1\t0/1:1",  # duplicate FORMAT key
    "chr2\t16\t.\tC\tG\t50\tPASS\tDP=1\tGT\t0/1\t0/1",  # fewer samples than the header
    "chr2\t17\t.\tC\tG\t50\tPASS\tDP=1\tGT\t0/1\t0/1\t0/1\t1/1",  # more samples
    "chr2\t18\t.\tC\tG\t50\tPASS\tEND= 30",
    "chr2\t19\t.\tC\tG\t-0.0\tPASS\tEND=-5",
]
BAD = [
    "chr2\t20\t.\tC\tG\t50\tPASS",  # 7 fields
    "chr2\tabc\t.\tC\tG\t50\tPASS\tDP=1",
    "chr2\t21\t.\tC\tG\tx\tPASS\tDP=1",
    "chr2\t22\t.\tC\tG\t50\tPASS\tEND=abc",
]


def _reference(lines, mode="STRICT", with_genotypes=True, samples=SAMPLES):
    return to_batch(parse_vcf_lines(pd.Series(lines, dtype="object"), samples, mode,
                                    with_genotypes), SCHEMA)


@pytest.mark.parametrize("with_genotypes", [True, False])
@pytest.mark.parametrize("samples", [SAMPLES, []])
def test_parse_equals_per_line_parse(with_genotypes, samples):
    lines = ["#comment", ""] + REGULAR[:5] + ODD[:5] + REGULAR[5:] + ODD[5:]
    got = parse_vcf_arrow(lines, samples, "STRICT", with_genotypes)
    assert got.equals(_reference(lines, "STRICT", with_genotypes, samples))


def test_parse_regular_lines_need_no_fallback(monkeypatch):
    import disq_spark.formats.vcf as vcf

    def boom(*a, **k):
        raise AssertionError("fallback used")

    monkeypatch.setattr(vcf, "parse_vcf_lines", boom)
    assert parse_vcf_arrow(REGULAR, SAMPLES).num_rows == len(REGULAR)


def test_parse_strict_raises_the_first_malformed_line():
    lines = REGULAR[:3] + ODD[:2] + BAD[1:] + BAD[:1]
    with pytest.raises(ValueError) as want:
        _reference(lines)
    with pytest.raises(ValueError) as got:
        parse_vcf_arrow(lines, SAMPLES)
    assert str(got.value) == str(want.value)


@pytest.mark.parametrize("mode", ["LENIENT", "SILENT"])
def test_parse_skips_malformed_lines_like_per_line_parse(mode, capsys):
    lines = BAD[:1] + REGULAR[:4] + BAD[1:2] + ODD + BAD[2:] + REGULAR[4:]
    want = _reference(lines, mode)
    want_err = capsys.readouterr().err
    got = parse_vcf_arrow(lines, SAMPLES, mode)
    assert got.equals(want)
    assert capsys.readouterr().err == want_err
    assert got.num_rows == len(REGULAR) + len(ODD)


def test_parse_all_comments_or_empty():
    assert parse_vcf_arrow(["#x", ""], SAMPLES).num_rows == 0
    assert parse_vcf_arrow([], SAMPLES).schema == SCHEMA


def _batch(rows):
    """An Arrow variants batch from rows whose maps are lists of pairs,
    so duplicate keys and null values survive."""
    cols = {c: [r.get(c) for r in rows] for c in VARIANTS_COLUMNS}
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in SCHEMA], schema=SCHEMA
    )


def _row(**kw):
    base = {"contig": "chr1", "start": 10, "end": 10, "ids": None, "ref": "A", "alts": ["C"],
            "qual": 50.0, "filters": [], "info": [("DP", "3")], "genotypes": None}
    base.update(kw)
    return base


def _gt(sample, **attrs):
    return {"sample": sample, "gt": attrs.get("GT"), "attrs": list(attrs.items())}


def _per_row(batch, samples=SAMPLES):
    return list(format_vcf_batch(pd.DataFrame(_python_rows(batch), columns=VARIANTS_COLUMNS),
                                 samples))


FORMAT_ROWS = [
    _row(),
    _row(ids=["rs1", "rs2"], alts=["C", "CT"], filters=["q10", "s50"], qual=12.25,
         info=[("DP", "3"), ("DB", ""), ("AF", "0.5")],
         genotypes=[_gt(s, GT="0/1", DP="4") for s in SAMPLES]),
    _row(ids=[], alts=[], filters=None, qual=None, info=None),  # '.' everywhere
    _row(info=[], genotypes=[]),
    _row(genotypes=[_gt("S1", GT="0/1"), _gt("S3", GT="1/1")]),  # missing sample
    _row(genotypes=[_gt("S2", GT="0/1"), _gt("S1", GT="1/1"), _gt("S3", GT="0/0")]),  # reordered
    _row(genotypes=[_gt(s, GT="0/1") for s in SAMPLES + ["S9"]]),  # a sample the header lacks
    _row(genotypes=[_gt("S1", GT="0/1", DP="3"), _gt("S2", GT="0/1"), _gt("S3", DP="1", GT="1/1")]),
    _row(genotypes=[_gt(s, DP="4", GT="0/1") for s in SAMPLES]),  # GT not first
    _row(genotypes=[_gt(s, GQ="9") for s in SAMPLES]),  # no GT
    _row(genotypes=[{"sample": s, "gt": None, "attrs": None} for s in SAMPLES]),
    _row(genotypes=[{"sample": s, "gt": None, "attrs": []} for s in SAMPLES]),
    _row(genotypes=[{"sample": s, "gt": "0/1", "attrs": [("GT", "0/1"), ("GT", "1/1")]}
                    for s in SAMPLES]),  # duplicate attrs key
    _row(end=1200, info=[("END", "1200")], genotypes=[_gt(s, GT="0/0", MIN_DP="5") for s in SAMPLES]),
    _row(info=[("DP", "3"), ("DP", "4")]),  # duplicate INFO key
    _row(info=[("DP", None), ("X", "")]),  # null INFO value
    _row(ref="É", contig="chrUn_Ü"),
]
QUALS = [None, float("nan"), 0.0, -0.0, 1e-5, 1e-4, 0.00012345, 12.5, 30.0, 999.9,
         123456789.5, 1e9 + 0.5, 1e15, 1e15 + 0.5, 1e16, 2.0**53 + 2, 1e300, 2.5e-7, -3.25]


def test_format_equals_per_row_format():
    batch = _batch(FORMAT_ROWS + [_row(qual=q) for q in QUALS])
    assert format_vcf_arrow(batch, SAMPLES) == _per_row(batch)
    assert format_vcf_arrow(batch, []) == _per_row(batch, [])
    sliced = batch.slice(3, 11)
    assert format_vcf_arrow(sliced, SAMPLES) == _per_row(sliced)


@pytest.mark.parametrize("row", [
    _row(qual=math.inf),
    _row(ids=["a", None]),
    _row(genotypes=[{"sample": s, "gt": None, "attrs": [("GT", None)]} for s in SAMPLES]),
])
def test_format_raises_where_per_row_format_raises(row):
    batch = _batch([_row(), row])
    with pytest.raises(Exception) as want:
        _per_row(batch)
    with pytest.raises(type(want.value)):
        format_vcf_arrow(batch, SAMPLES)


def test_format_then_parse_round_trips_generated_sites(monkeypatch):
    """Generated sites (multi-allelic, '.' values, six samples) take the
    column rules only, both ways."""
    import disq_spark.formats.vcf as vcf
    from perfbench import gen

    frame = gen.make_variants(5, 1500)
    want = list(format_vcf_batch(frame, gen.SAMPLES))
    batch = pa.RecordBatch.from_pandas(frame, schema=SCHEMA, preserve_index=False)
    per_line = vcf.parse_vcf_lines

    def boom(*a, **k):
        raise AssertionError("fallback used")

    monkeypatch.setattr(vcf, "format_vcf_batch", boom)
    monkeypatch.setattr(vcf, "parse_vcf_lines", boom)
    lines = format_vcf_arrow(batch, gen.SAMPLES)
    got = parse_vcf_arrow(lines, gen.SAMPLES)
    monkeypatch.setattr(vcf, "parse_vcf_lines", per_line)
    assert lines == want
    assert got.equals(_reference(lines, samples=gen.SAMPLES))
