"""One scan per format: ``spark.read.format(fmt)`` must return the same
multiset of rows as ``read_<fmt>``, at a split size that keeps each file
whole and at one that cuts lines and records mid-way. Both entry points
build the same ``scan_<fmt>`` and hand its decoded columns to Arrow
through one ``to_batch``; the DataSource then filters the batches by an
Arrow interval residual, which must keep exactly the rows the functional
readers' Column filter keeps.

Self-contained: inputs come from the ``planned_inputs`` fixture, the
library's own sinks and ``fixtures/``."""

import os
import random

import pyarrow as pa
import pytest

from disq_spark.functions.intervals import Interval, filter_intervals, overlap_mask, overlaps
from disq_spark.schemas import READS_SCHEMA, VARIANTS_SCHEMA
from disq_spark.sources.datasource import register_datasources

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")
REF_FA = os.path.join(FIXTURES, "ref.fa")
FASTQ = os.path.join(FIXTURES, "sample.fastq")


@pytest.fixture(scope="module")
def inputs(spark, planned_inputs, tmp_path_factory):
    """planned_inputs plus a copy of its BAM with the .bai but no .sbi,
    SAM (and a CRLF copy), CRAM against fixtures/ref.fa, an empty FASTQ
    and gzip/plain WARC segments."""
    import shutil

    from disq_spark.formats.gzi import open_indexed_reference
    from disq_spark.formats.warc import build_warc
    from disq_spark.headers import SamHeader
    from disq_spark.sinks.cram import write_cram
    from disq_spark.sinks.reads import write_sam
    from disq_spark.sources.bam_source import read_bam

    register_datasources(spark)
    d = tmp_path_factory.mktemp("scan_inputs")
    rng = random.Random(7)

    reads, header = read_bam(spark, planned_inputs["bam"])
    bam_nosbi = str(d / "reads_nosbi.bam")
    for ext in ("", ".bai"):
        shutil.copyfile(planned_inputs["bam"] + ext, bam_nosbi + ext)
    sam = str(d / "reads.sam")
    write_sam(reads, header, sam)
    with open(sam, "rb") as f:
        crlf = f.read().replace(b"\n", b"\r\n")
    with open(str(d / "crlf.sam"), "wb") as f:
        f.write(crlf)

    ref = open_indexed_reference(REF_FA)
    cram_header = SamHeader(
        text="@HD\tVN:1.6\tSO:coordinate\n"
        + "".join(f"@SQ\tSN:{c}\tLN:{e.length}\n" for c, e in ref.fai.items())
    )
    rows = []
    for contig in ("chrA", "chrB"):
        for i, start in enumerate(range(1, ref.fai[contig].length - 100, 150)):
            seq = list(ref.get(contig, start, start + 49))
            if i % 3 == 0:
                seq[10] = "A" if seq[10] != "A" else "C"
            rows.append({
                "name": f"{contig}_{i:04d}", "flags": 0, "contig": contig,
                "start": start, "end": start + 49, "mapq": 30, "cigar": "50M",
                "mate_contig": None, "mate_start": None, "template_len": 0,
                "seq": "".join(seq), "qual": "".join(rng.choice("#+5?AI") for _ in seq),
                "tags": None, "read_group": None,
            })
    cram = str(d / "reads.cram")
    write_cram(spark.createDataFrame(rows, READS_SCHEMA), cram_header, cram, reference_path=REF_FA)

    empty_fastq = str(d / "empty.fastq")
    open(empty_fastq, "w").close()

    warc_dir = d / "warc"
    warc_dir.mkdir()
    for i, gz in enumerate((True, False)):
        recs = [
            (
                {
                    "WARC-Type": "response", "WARC-Record-ID": f"<urn:eq{i}:{j}>",
                    "WARC-Target-URI": f"https://x/{i}/{j}", "Content-Type": "text/html",
                },
                bytes(rng.randrange(32, 127) for _ in range(300 + 70 * j)),
            )
            for j in range(8)
        ]
        name = f"seg-{i}.warc" + (".gz" if gz else "")
        with open(warc_dir / name, "wb") as f:
            f.write(build_warc(recs, gzip_members=gz))

    return {
        **planned_inputs, "bam_nosbi": bam_nosbi, "sam": sam, "crlf_sam": str(d / "crlf.sam"),
        "cram": cram, "empty_fastq": empty_fastq, "warc": str(warc_dir),
    }


def _canon(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _rows(df):
    return sorted((_canon(tuple(r)) for r in df.collect()), key=repr)


def _functional(spark, fmt, path, opts):
    from disq_spark.functions.intervals import parse_intervals
    from disq_spark.sources.bam_source import read_bam
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows
    from disq_spark.sources.fastq import read_fastq
    from disq_spark.sources.reads import read_sam
    from disq_spark.sources.variants import read_vcf
    from disq_spark.sources.warc import read_warc

    iv = parse_intervals(opts["intervals"]) if "intervals" in opts else None
    if fmt == "bam":
        cols = opts["columns"].split(",") if "columns" in opts else None
        uu = opts.get("unplaced_unmapped") == "true"
        df = read_bam(spark, path, intervals=iv, traverse_unplaced_unmapped=uu, columns=cols)[0]
        return df.select(*cols) if cols else df
    if fmt == "sam":
        return read_sam(spark, path, intervals=iv)[0]
    if fmt == "vcf":
        return read_vcf(spark, path, intervals=iv)[0]
    if fmt == "cram":
        return read_cram(spark, path, reference_path=opts["reference"], intervals=iv)[0]
    if fmt == "fastq":
        return read_fastq(spark, path)
    if fmt == "fasta":
        return read_fasta_windows(spark, path, window=int(opts["window"]))
    return read_warc(spark, path)


CASES = [
    ("bam", "bam", {}),
    ("bam", "bam", {"intervals": "c1:20001-45000"}),
    ("bam", "bam", {"intervals": "c1:1-10000,c1:100000-101000", "unplaced_unmapped": "true"}),
    ("bam", "bam", {"unplaced_unmapped": "true"}),
    ("bam", "bam", {"columns": "name,flags,contig,start,end"}),
    ("bam", "bam", {"intervals": "c2:1-500000"}),
    # no .sbi: each task finds its first record; the .bai prunes byte splits
    ("bam", "bam_nosbi", {}),
    ("bam", "bam_nosbi", {"intervals": "c1:20001-45000"}),
    ("bam", "bam_nosbi", {"intervals": "c1:1-10000,c1:100000-101000", "unplaced_unmapped": "true"}),
    ("sam", "sam", {}),
    ("sam", "sam", {"intervals": "c1:20001-45000"}),
    ("sam", "crlf_sam", {}),
    ("vcf", "plain_vcf", {}),
    ("vcf", "plain_vcf", {"intervals": "v1:10001-20000"}),
    ("vcf", "vcf", {}),
    ("vcf", "vcf", {"intervals": "v1:10001-20000"}),
    ("cram", "cram", {"reference": REF_FA}),
    ("cram", "cram", {"reference": REF_FA, "intervals": "chrB:2000-9000"}),
    ("fastq", FASTQ, {}),
    ("fasta", REF_FA, {"window": "7000"}),
    ("warc", "warc", {}),
]
# split sizes: None keeps each file whole; 4099 bytes cuts text lines,
# FASTQ/WARC records, BGZF blocks and BAM records mid-way
SPLITS = [None, 4099]


@pytest.mark.parametrize("split", SPLITS, ids=["whole", "cut"])
@pytest.mark.parametrize("fmt,key,opts", CASES, ids=[f"{f}-{k.split('/')[-1]}-{'-'.join(o)}" for f, k, o in CASES])
def test_format_reader_matches_functional_reader(spark, inputs, fmt, key, opts, split):
    path = inputs.get(key, key)
    opts = dict(opts)
    if fmt == "fasta" and split is not None:
        opts["window"] = str(split)
    reader = spark.read.format(fmt).options(**opts)
    if split is not None and fmt != "fasta":
        reader = reader.option("split_size", split)
    got = reader.load(path)
    want = _functional(spark, fmt, path, opts)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    if split is not None and not {"intervals", "unplaced_unmapped"} & set(opts):
        assert got.rdd.getNumPartitions() > 2, "the small split must cut the file"


def test_crlf_sam_reads_like_lf_sam(spark, inputs):
    lf = spark.read.format("sam").option("split_size", 4099).load(inputs["sam"])
    crlf = spark.read.format("sam").option("split_size", 4099).load(inputs["crlf_sam"])
    assert _rows(lf) == _rows(crlf) and lf.count() == 3000


def test_crlf_vcf_reads_like_lf_vcf(spark, tmp_path):
    """One line rule for every VCF compression: a CRLF VCF with a U+2028
    inside an INFO value reads like its LF copy as plain text, as BGZF
    (small blocks that cut lines) and as true gzip, whole and cut into
    splits — split on ``\\n`` only, one trailing ``\\r`` stripped."""
    import gzip

    from disq_spark.formats import bgzf
    from disq_spark.sources.variants import read_vcf

    header = [
        "##fileformat=VCFv4.2",
        "##contig=<ID=v1,length=1000000>",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
    ]
    note = "a\u2028b"
    recs = [
        f"v1\t{i * 10 + 1}\t.\tA\tC\t50\tPASS\tDP={i};NOTE={note if i % 7 == 3 else 'x'}\tGT:DP\t0/1:{i % 9}"
        for i in range(300)
    ]
    lf = ("\n".join(header + recs) + "\n").encode()
    crlf = lf.replace(b"\n", b"\r\n")
    (tmp_path / "lf.vcf").write_bytes(lf)
    (tmp_path / "crlf.vcf").write_bytes(crlf)
    (tmp_path / "crlf.vcf.bgz").write_bytes(
        b"".join(bgzf.compress_block(crlf[i : i + 700]) for i in range(0, len(crlf), 700)) + bgzf.EOF_BLOCK
    )
    (tmp_path / "crlf.vcf.gz").write_bytes(gzip.compress(crlf))
    want = _rows(read_vcf(spark, str(tmp_path / "lf.vcf"))[0])
    assert len(want) == 300
    for name in ("crlf.vcf", "crlf.vcf.bgz", "crlf.vcf.gz"):
        for split in (1 << 30, 1500):
            assert _rows(read_vcf(spark, str(tmp_path / name), split)[0]) == want, (name, split)


def test_vcf_query_pruning_every_tbi_split_is_empty(spark, inputs):
    df = (
        spark.read.format("vcf")
        .option("intervals", "v2:1-100")
        .option("split_size", inputs["vcf_split"])
        .load(inputs["vcf"])
    )
    assert df.schema == VARIANTS_SCHEMA
    assert df.collect() == []


def test_tuple_intervals_read_like_interval_objects(spark, planned_inputs):
    """``intervals`` accepts (contig, start, end) tuples: same rows as
    ``Interval``s through the .bai- and .tbi-pruned scans; any other entry
    is a TypeError naming it."""
    from disq_spark.sources.bam_source import read_bam
    from disq_spark.sources.variants import read_vcf

    for read, key, split, contig in (
        (read_bam, "bam", "bam_split", "c1"),
        (read_vcf, "vcf", "vcf_split", "v1"),
    ):
        path, split = planned_inputs[key], planned_inputs[split]
        objs = read(spark, path, split, intervals=[Interval(contig, 10001, 20000)])[0]
        tups = read(spark, path, split, intervals=[(contig, 10001, 20000)])[0]
        assert _rows(tups) == _rows(objs) and objs.count() > 0, key
        with pytest.raises(TypeError, match="'c1', 10001"):
            read(spark, path, split, intervals=[("c1", 10001)])


def test_empty_fastq_is_empty(spark, inputs):
    assert spark.read.format("fastq").load(inputs["empty_fastq"]).collect() == []


def test_read_lines_owns_each_line_once(tmp_path):
    """Newline-aligned byte ranges: over any split size the ranges
    return every line exactly once, CRLF stripped like spark.read.text,
    with or without a final newline. The same text as BGZF, in blocks of
    0-40 bytes (empty ones too) half of which end on a line boundary,
    read through the one BGZF line owner: every compressed split size,
    down to splits smaller than one block, gives the same lines once
    each, and ``build_tbi``'s offsets of each line are htslib's
    ``tell()`` before and after it (a block boundary is the next
    block's offset 0)."""
    from disq_spark.formats import bgzf
    from disq_spark.sources.plan import read_lines, split_lines
    from disq_spark.sources.variants import _line_offsets, _owned_span

    rng = random.Random(3)
    path = tmp_path / "lines.txt"
    bgz = tmp_path / "lines.txt.bgz"
    for trial in range(60):
        lines = ["x" * rng.randint(0, 30) for _ in range(rng.randint(0, 20))]
        eol = "\r\n" if trial % 3 == 0 else "\n"
        text = eol.join(lines) + (eol if trial % 2 else "")
        path.write_bytes(text.encode())
        want = text.replace("\r\n", "\n").split("\n")
        if want[-1] == "":
            want.pop()  # a final newline ends the last line, opens none
        size = len(text)
        for split in (1, 2, 3, 7, 50, 1000):
            got = [ln for s in range(0, size, split) for ln in read_lines(str(path), s, min(s + split, size))]
            assert got == want, (trial, split)

        data = text.encode()
        blocks, u_starts, pos = [], [], 0
        while pos < len(data) or not blocks:
            cut = min(pos + rng.randint(0, 40), len(data))
            if rng.random() < 0.5 and data.find(b"\n", pos) >= 0:
                cut = data.find(b"\n", pos) + 1
            blocks.append(bgzf.compress_block(data[pos:cut]))
            u_starts.append(pos)
            pos = cut
        blocks.append(bgzf.EOF_BLOCK)
        u_starts.append(len(data))
        c_pos = [sum(len(b) for b in blocks[:i]) for i in range(len(blocks))]
        bgz.write_bytes(b"".join(blocks))

        def tell(u: int) -> int:
            """Virtual offset after reading u bytes from the start."""
            if u == 0:
                return 0
            k = max(i for i in range(len(blocks)) if u_starts[i] <= u - 1 < u_starts[i + 1])
            return c_pos[k + 1] << 16 if u == u_starts[k + 1] else c_pos[k] << 16 | (u - u_starts[k])

        bounds = [0] + [i + 1 for i, b in enumerate(data) if b == 10]
        if bounds[-1] != len(data):
            bounds.append(len(data))
        want_offsets = [(tell(a), tell(b)) for a, b in zip(bounds, bounds[1:])]
        csize = c_pos[-1] + len(bgzf.EOF_BLOCK)
        for split in (1, 2, 3, 7, 50, 1000):
            got, offsets = [], []
            for s in range(0, csize, split):
                r, a, b = _owned_span(str(bgz), s, min(s + split, csize))
                got += split_lines(r.data[a:b])
                offsets += [(vs, ve) for _line, vs, ve in _line_offsets(r, a, b)]
            assert got == want, (trial, split)
            assert offsets == want_offsets, (trial, split)


def test_overlap_mask_keeps_the_rows_filter_intervals_keeps(spark):
    """The DataSource residual (Arrow) against the functional readers'
    Column predicate, over placed, placed-unmapped and unplaced rows."""
    from disq_spark.sources.plan import arrow_schema, to_batch

    rows = [
        ("a", 0, "c1", 100, 199),
        ("b", 0, "c1", 200, 299),
        ("c", 4, "c1", 150, 150),  # placed unmapped: has a position
        ("d", 4, None, None, None),  # unplaced unmapped
        ("e", 4, "c2", None, None),  # unmapped, contig but no start
        ("f", 0, "c2", 1, 50),
        ("g", 0, "c1", 300, 300),
        ("h", 0, "c1", 1000, None),  # start without end
    ]
    df = spark.createDataFrame(rows, "name string, flags int, contig string, start long, end long")
    cols = dict(zip(df.columns, zip(*rows)))
    batch = to_batch(cols, arrow_schema(df.schema))

    def kept(mask):
        return sorted(batch.filter(mask).column("name").to_pylist())

    ivs = [Interval("c1", 150, 200), Interval("c2", 50, 60), Interval("c1", 300, 300)]
    for intervals, uu in [(ivs, False), (None, True), (ivs, True), ([Interval("c3", 1, 9)], True)]:
        want = sorted(r.name for r in filter_intervals(df, intervals, uu).collect())
        assert kept(overlap_mask(batch, intervals, uu)) == want, (intervals, uu)
    assert kept(overlap_mask(batch, ivs)) == sorted(r.name for r in df.filter(overlaps(ivs)).collect())


def _scans(inputs):
    """Every split-planned scan over the module's inputs, by name."""
    from disq_spark.sources.bam_source import scan_bam
    from disq_spark.sources.cram_source import scan_cram
    from disq_spark.sources.fasta import scan_fasta_windows
    from disq_spark.sources.fastq import scan_fastq
    from disq_spark.sources.reads import scan_sam
    from disq_spark.sources.variants import scan_vcf
    from disq_spark.sources.warc import scan_warc

    bam, split = inputs["bam"], inputs["bam_split"]
    return {
        "bam": scan_bam(bam, split),
        "bam_raw_tags": scan_bam(bam, split, raw_tags=True),
        "bam_pruned": scan_bam(bam, split, columns=["name", "flags", "contig", "start", "end"]),
        "sam": scan_sam(inputs["sam"], 4099),
        "plain_vcf": scan_vcf(inputs["plain_vcf"], inputs["vcf_split"]),
        "bgzf_vcf": scan_vcf(inputs["vcf"], inputs["vcf_split"]),
        "cram": scan_cram(inputs["cram"], REF_FA, split_size=4099),
        "fastq": scan_fastq(FASTQ, 4099),
        "fasta": scan_fasta_windows(REF_FA, 7000),
        "warc": scan_warc(inputs["warc"], 4099),
    }


def _plan_batches(scan):
    """The batches ``plan_frame`` ships for ``scan``: its runner over
    every plan row, fed ``spark.range`` id batches as Spark feeds it."""
    from disq_spark.sources.plan import _plan_runner, arrow_schema

    plan = scan.plan()
    run = _plan_runner(plan, scan.decode, arrow_schema(scan.schema))
    return list(run(iter([pa.RecordBatch.from_pydict({"id": list(range(len(plan)))})])))


def test_every_scan_batch_is_in_the_scan_arrow_schema(inputs):
    """Each batch of every scan carries exactly ``to_arrow_schema`` of the
    scan's Spark schema — the schema ``mapInArrow`` declares — and holds
    valid Arrow data."""
    from pyspark.sql.pandas.types import to_arrow_schema

    for name, scan in _scans(inputs).items():
        want = to_arrow_schema(scan.schema)
        batches = _plan_batches(scan)
        assert len(batches) > 1, name
        for batch in batches:
            assert batch.schema == want, name
            batch.validate(full=True)


def test_to_batch_puts_null_where_the_rows_hold_null(spark, tmp_path):
    """Nulls survive the hand-off as nulls, as pyspark's pandas converter
    left them, not NaN or an empty map: a SAM unplaced read
    (``start``/``end``/``mate_start``), a VCF site with ``.``
    QUAL/FILTER/INFO, and a BAM record with no tags next to one with
    tags."""
    from disq_spark.headers import SamHeader
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sources.bam_source import scan_bam
    from disq_spark.sources.reads import scan_sam
    from disq_spark.sources.variants import scan_vcf

    sam = tmp_path / "u.sam"
    sam.write_text(
        "@HD\tVN:1.6\tSO:unsorted\n@SQ\tSN:c1\tLN:1000\n"
        "p\t0\tc1\t5\t60\t4M\t=\t9\t8\tACGT\tIIII\tNM:i:0\n"
        "u\t4\t*\t0\t0\t*\t*\t0\t0\tACGT\tIIII\n"
    )
    vcf = tmp_path / "d.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.2\n##contig=<ID=v1,length=1000>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
        "v1\t5\t.\tA\tC\t.\t.\t.\tGT:DP\t0/1:.\n"
        "v1\t9\trs1\tA\tG,T\t12.5\tPASS\tDP=3\tGT:DP\t1/2:7\n"
    )
    rows = [
        {
            "name": name, "flags": 0, "contig": "c1", "start": start, "end": start + 3,
            "mapq": 60, "cigar": "4M", "mate_contig": None, "mate_start": None,
            "template_len": 0, "seq": "ACGT", "qual": "IIII", "tags": tags, "read_group": None,
        }
        for name, start, tags in (("t", 5, {"NM": "i:1", "RG": "Z:g1"}), ("n", 9, None))
    ]
    bam = str(tmp_path / "t.bam")
    write_bam(
        spark.createDataFrame(rows, READS_SCHEMA),
        SamHeader(text="@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:1000\n"),
        bam, write_bai=False, write_sbi=False,
    )
    cases = {"sam": scan_sam(str(sam)), "vcf": scan_vcf(str(vcf)), "bam": scan_bam(bam)}
    got = {}
    for name, scan in cases.items():
        [batch] = _plan_batches(scan)
        got[name] = {r["start" if name == "vcf" else "name"]: r for r in batch.to_pylist()}
    u = got["sam"]["u"]
    assert (u["contig"], u["start"], u["end"], u["mate_start"], u["tags"]) == (None,) * 5
    site = got["vcf"][5]
    assert (site["qual"], site["filters"], site["info"], site["ids"]) == (None,) * 4
    assert ("DP", ".") in site["genotypes"][0]["attrs"]
    placed = got["vcf"][9]
    assert (placed["qual"], placed["filters"], placed["info"]) == (12.5, [], [("DP", "3")])
    assert (got["sam"]["p"]["start"], got["sam"]["p"]["mate_start"]) == (5, 9)
    assert got["bam"]["n"]["tags"] is None and got["bam"]["n"]["read_group"] is None
    assert sorted(got["bam"]["t"]["tags"]) == [("NM", "i:1"), ("RG", "Z:g1")]


def test_pickled_reader_does_not_grow_with_the_plan(tmp_path):
    """pyspark pickles the reader into every read task: it must carry the
    scan, never the plan, even after ``partitions()`` ran."""
    from pyspark.serializers import CloudPickleSerializer

    from disq_spark.sources.datasource import SamDataSource

    path = tmp_path / "r.sam"
    lines = ["@HD\tVN:1.6\tSO:unsorted", "@SQ\tSN:c1\tLN:1000000"] + [
        f"r{i:04d}\t0\tc1\t{i * 10 + 1}\t60\t100M\t*\t0\t0\t{'A' * 100}\t{'I' * 100}"
        for i in range(200)
    ]
    text = "\n".join(lines) + "\n"
    text = text.replace("\n", f"\n@CO\t{'x' * (64 + (-len(text) - 5) % 64)}\n", 1)
    path.write_text(text)
    size = os.path.getsize(path)
    assert size % 64 == 0 and 64 * 256 <= size <= 65535  # both splits pickle at one width

    def pickled(split):
        reader = SamDataSource({"path": str(path), "split_size": str(split)}).reader(READS_SCHEMA)
        return len(reader.partitions()), len(CloudPickleSerializer().dumps(reader))

    one, one_size = pickled(65535)
    many, many_size = pickled(size // 64)
    assert (one, many) == (1, 64)
    assert one_size == many_size
