"""spark.read.format(...) for every genomics format: Spark 4 Python
DataSources over the scans the functional readers use — the surface the
reference exposes through ``HtsjdkReadsRddStorage.read`` (:144-160).
After ``register_datasources(spark)``:

    spark.read.format("bam").option("intervals", "chr1:1-1000000").load("x.bam")

One read path per format: each ``format(<fmt>)`` builds ``scan_<fmt>``
(sources/plan.py::Scan) and serves it through the generic
``_ScanReader``; nothing here plans splits, reads an index or decodes a
record. Options map onto the scan's arguments; ``split_size`` defaults
to the scan's default (128 MiB; 64 MiB for WARC). Building the scan
reads headers only, and pyspark pickles the reader before it calls
``partitions()`` (= ``scan.plan()``), so no task carries the plan. An
empty plan makes pyspark plan one ``None`` partition, read as nothing.
``read()`` yields the ``pyarrow.RecordBatch``es ``read_<fmt>`` builds
(sources/plan.py::to_batch), filtered by the ``intervals`` /
``unplaced_unmapped`` residual as ``read_<fmt>`` filters them
(``Scan.filtered`` with functions/intervals.py::interval_mask) and
projected to the ``columns``. ``DataSourceReader.pushFilters`` would
need the default-off ``spark.sql.python.filterPushdown.enabled``, so
intervals ride an option string.

Writes: ``df.write.format("bam"/"vcf")`` maps onto the DataSource
writer protocol like the reference's sink (BamSink.java:60-139) through
one ``SinkWriter`` (a ``DataSourceArrowWriter``): tasks run the same
part staging on the same Arrow batches as ``write_<fmt>``,
and the driver's ``commit()`` runs the same single-file commit over the
parts named in the commit messages, so task retries are safe. A format
supplies only how to read its header from ``header_path``/``header_text``
and its sink.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from disq_spark import fs as _dfs
from disq_spark.functions.intervals import interval_mask, parse_intervals
from disq_spark.sources.plan import arrow_schema, to_batch


@dataclass
class _Split(InputPartition):
    """One plan row: (key, start, end) as ``Scan.decode`` takes it."""

    key: str
    start: int
    end: int


def _arrow_batches(scan, part: _Split | None, columns=None) -> Iterator:
    """``scan.decode``'s columns for ``part`` as Arrow batches (the
    ``to_batch`` of ``plan_frame``), projected to ``columns``; empty
    batches are dropped."""
    if part is None:
        return
    schema = arrow_schema(scan.schema)
    for cols in scan.decode(part.key, part.start, part.end):
        batch = to_batch(cols, schema)
        if batch.num_rows:
            yield batch if columns is None else batch.select(columns)


class _ScanReader(DataSourceReader):
    """``format(<fmt>)`` over a ``Scan``: partitions are its plan rows,
    ``read`` its decode as Arrow with an optional interval residual (the
    ``Scan.filtered`` of the ``read_<fmt>`` functions), projected to the
    read schema's columns (all of them for ``None``)."""

    def __init__(self, scan, schema, intervals=None, unplaced_unmapped: bool = False):
        if intervals is not None or unplaced_unmapped:
            scan = scan.filtered(interval_mask(intervals, unplaced_unmapped))
        self.scan = scan
        self.columns = None if schema is None else schema.fieldNames()

    def partitions(self) -> list[_Split]:
        return [_Split(*row) for row in self.scan.plan()]

    def read(self, part: _Split | None) -> Iterator:
        return _arrow_batches(self.scan, part, self.columns)


def _split(options) -> dict:
    """``split_size`` when given; otherwise the scan's default applies."""
    size = options.get("split_size")
    return {} if size is None else {"split_size": int(size)}


def _intervals(options):
    spec = options.get("intervals")
    return None if spec is None else parse_intervals(spec)


def _true(options, name: str) -> bool:
    return str(options.get(name, "false")).lower() == "true"


def _columns(options) -> list[str] | None:
    cols = options.get("columns")
    return [c.strip() for c in cols.split(",")] if cols else None


class _ScanSource(DataSource):
    """A format read through one scan: subclasses map their options onto
    ``scan_<fmt>`` in ``scan()`` and name the residual options they take
    (``intervals``, ``unplaced_unmapped``) in ``RESIDUAL``."""

    FORMAT = ""
    RESIDUAL: tuple[str, ...] = ()

    @classmethod
    def name(cls) -> str:
        return cls.FORMAT

    def reader(self, schema) -> _ScanReader:
        o = self.options
        path = o.get("path")
        if not path:
            raise ValueError(f"format({self.FORMAT!r}) requires .load(path)")
        intervals = _intervals(o) if "intervals" in self.RESIDUAL else None
        uu = "unplaced_unmapped" in self.RESIDUAL and _true(o, "unplaced_unmapped")
        return _ScanReader(self.scan(path, o), schema, intervals, uu)


class BamDataSource(_ScanSource):
    """Splittable BAM scan + single-file write (BamSource.java:70,
    BamSink.java:60 equivalents). Read options: split_size, intervals
    (.bai-pruned + residual), unplaced_unmapped, columns (decode-pruned
    and projected)."""

    FORMAT = "bam"
    RESIDUAL = ("intervals", "unplaced_unmapped")

    def schema(self):
        from pyspark.sql.types import StructType

        from disq_spark.schemas import READS_SCHEMA

        keep = _columns(self.options)
        if keep:
            return StructType([f for f in READS_SCHEMA.fields if f.name in keep])
        return READS_SCHEMA

    def scan(self, path, o):
        from disq_spark.sources.bam_source import scan_bam

        return scan_bam(
            path, intervals=_intervals(o),
            traverse_unplaced_unmapped=_true(o, "unplaced_unmapped"),
            columns=_columns(o), **_split(o),
        )

    def writer(self, schema, overwrite: bool) -> SinkWriter:
        from disq_spark.headers import SamHeader
        from disq_spark.sinks.bam import single_file_sink

        def read_header(path):
            if path.endswith(".bam"):
                from disq_spark.sources.bam_source import read_bam_header

                return read_bam_header(path)[0]
            from disq_spark.sources.reads import read_sam_header

            return read_sam_header(path)

        header = _write_header(self.options, "bam", lambda text: SamHeader(text=text), read_header)
        return SinkWriter(self.options, overwrite, header, single_file_sink)


def _write_header(options, fmt: str, parse, read):
    """The header a ``format(fmt)`` write takes (after checking it has a
    path): ``parse(header_text)`` or ``read(header_path)``. Rows cannot
    carry it (the sequence dictionary's order defines refIDs, the #CHROM
    line the samples); the reference's caller likewise always hands the
    sink a header (BamSink.java:62-67)."""
    if not options.get("path"):
        raise ValueError(f'format("{fmt}") write requires .save(path)')
    text, path = options.get("header_text"), options.get("header_path")
    if text:
        return parse(text if text.endswith("\n") else text + "\n")
    if path:
        return read(path)
    raise ValueError(
        f'format("{fmt}") write requires option("header_path", ...) or '
        'option("header_text", ...)'
    )


@dataclass
class _PartCommit(WriterCommitMessage):
    part: str
    n: int


class SinkWriter(DataSourceArrowWriter):
    """``df.write.format(<fmt>)`` for a single-file sink: the DataSource
    writer protocol over the same task body and commit as ``write_<fmt>``
    (sinks/merge.py); tasks get the partition's Arrow batches, as the
    ``mapInArrow`` of ``write_<fmt>`` does. ``sink(header, path, **options)`` returns the
    format's ``(body, commit)``; its keyword-only parameters are the
    write options (``write_*`` flags, integer otherwise). Tasks stage
    attempt-unique parts; ``commit()`` finalizes only the parts named in
    the successful tasks' messages, so retries are safe; ``abort()``
    removes the parts directory."""

    def __init__(self, options, overwrite: bool, header, sink):
        import inspect

        path = options.get("path")
        if _dfs.exists(path) and not overwrite:
            raise ValueError(f"path exists (use mode('overwrite')): {path}")
        params = inspect.signature(sink).parameters
        kwargs = {
            k: v.lower() == "true" if k.startswith("write_") else int(v)
            for k, v in options.items()
            if k in params and params[k].kind is inspect.Parameter.KEYWORD_ONLY
        }
        self.body, self.finish = sink(header, path, **kwargs)
        # an overwrite deletes the old target only in commit(), after the
        # order check passed
        self.parts_dir = path + ".parts"
        _dfs.makedirs(self.parts_dir)

    def write(self, iterator) -> _PartCommit:
        from disq_spark.sinks import merge

        part, n = merge.stage_part(
            merge.attempt_part_path(self.parts_dir), lambda out: self.body(iterator, out)
        )
        return _PartCommit(part, n)

    def commit(self, messages) -> None:
        self.finish(self.parts_dir, sorted(m.part for m in messages if m is not None and m.part))

    def abort(self, messages) -> None:
        from disq_spark.sinks.merge import cleanup

        cleanup(self.parts_dir)


class VcfDataSource(_ScanSource):
    """Splittable plain/gzip/BGZF VCF scan + single-file write
    (VcfSource.java:71, VcfSink.java:52 equivalents). Read options:
    split_size, mode, intervals (.tbi/.idx-pruned + residual)."""

    FORMAT = "vcf"
    RESIDUAL = ("intervals",)

    def schema(self):
        from disq_spark.schemas import VARIANTS_SCHEMA

        return VARIANTS_SCHEMA

    def scan(self, path, o):
        from disq_spark.sources.variants import scan_vcf

        return scan_vcf(path, intervals=_intervals(o), mode=o.get("mode", "STRICT"), **_split(o))

    def writer(self, schema, overwrite: bool) -> SinkWriter:
        from disq_spark.headers import VcfHeader
        from disq_spark.sinks.variants import single_file_sink
        from disq_spark.sources.variants import read_header

        header = _write_header(
            self.options, "vcf", lambda text: VcfHeader.from_lines(text.splitlines()), read_header
        )
        return SinkWriter(self.options, overwrite, header, single_file_sink)


class SamDataSource(_ScanSource):
    """Splittable SAM text scan (SamSource.java:49 equivalent). Options:
    split_size, mode, intervals (brute-force residual: SAM has no index)."""

    FORMAT = "sam"
    RESIDUAL = ("intervals",)

    def schema(self):
        from disq_spark.schemas import READS_SCHEMA

        return READS_SCHEMA

    def scan(self, path, o):
        from disq_spark.sources.reads import scan_sam

        return scan_sam(path, mode=o.get("mode", "STRICT"), **_split(o))


class CramDataSource(_ScanSource):
    """Container-aligned CRAM scan (CramSource.java:67 equivalent).
    Options: split_size, reference, missing_ref_as_n, intervals
    (.crai-pruned + residual)."""

    FORMAT = "cram"
    RESIDUAL = ("intervals",)

    def schema(self):
        from disq_spark.schemas import READS_SCHEMA

        return READS_SCHEMA

    def scan(self, path, o):
        from disq_spark.sources.cram_source import scan_cram

        return scan_cram(
            path, o.get("reference"), intervals=_intervals(o),
            missing_ref_as_n=_true(o, "missing_ref_as_n"), **_split(o),
        )


class FastqDataSource(_ScanSource):
    """Splittable FASTQ text scan (beyond-reference format). Options:
    split_size."""

    FORMAT = "fastq"

    def schema(self):
        from disq_spark.sources.fastq import FASTQ_SCHEMA

        return FASTQ_SCHEMA

    def scan(self, path, o):
        from disq_spark.sources.fastq import scan_fastq

        return scan_fastq(path, **_split(o))


class FastaDataSource(_ScanSource):
    """Windowed reference FASTA scan (beyond-reference format).

    Options: window (bases per row, default 1e6), overlap (extra bases
    appended to seq for boundary-spanning k-mer ownership)."""

    FORMAT = "fasta"

    def schema(self):
        from disq_spark.sources.fasta import FASTA_WINDOW_SCHEMA

        return FASTA_WINDOW_SCHEMA

    def scan(self, path, o):
        from disq_spark.sources.fasta import scan_fasta_windows

        return scan_fasta_windows(path, int(o.get("window", 1_000_000)), int(o.get("overlap", 0)))


@dataclass
class BedFile(InputPartition):
    path: str


class BedReader(DataSourceReader):
    """BED region lists -> 1-based closed intervals (conversion happens
    here, once). One partition per file — region lists are metadata-
    sized; use sources/bed.read_bed (spark.read.text) for giant BEDs."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError('format("bed") requires .load(path)')

    def partitions(self):
        from disq_spark.sources.plan import resolve_paths

        return [BedFile(p) for p in resolve_paths(self.path, (".bed",))]

    def read(self, part: BedFile):
        import io as _io

        from disq_spark.sources.bed import parse_bed_line

        with _io.TextIOWrapper(_dfs.open_input(part.path), encoding="utf-8") as f:
            for line in f:
                parsed = parse_bed_line(line)
                if parsed is not None:
                    yield parsed


class BedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bed"

    def schema(self):
        return "contig string, start long, end long, name string"

    def reader(self, schema) -> BedReader:
        return BedReader(self.options)


class WarcStreamReader(DataSourceStreamReader):
    """spark.readStream.format("warc").load(dir) — incremental crawl
    ingestion: each microbatch picks up the segment files that appeared
    since the last committed offset (Common Crawl dumps land as
    thousands of immutable .warc.gz segments over hours).

    Offset = {"files": {basename: size}} — the set of fully-ingested
    segments with their sizes pinned at discovery. Contract matches
    Spark's own file streaming source: segments must be IMMUTABLE and
    atomically moved into the directory (a half-written file is
    ingested as-is and never re-read); growth of an already-seen file
    is ignored. Within a batch each new file fans out into
    split_size byte-range chunks through the same exactly-once
    member-snap kernel the batch source uses, so a single huge segment
    still parallelizes across the cluster.

    Known scale bound: the offset IS the seen-file map, so each
    trigger's offset JSON and listing diff grow O(segments ever seen) —
    fine for thousands of segments; a months-long tail of a ~100k-segment
    dump wants Spark's file-source pattern (seen files in a per-checkpoint
    parquet ledger keyed by batch id, offset {"ledger_version": N})."""

    def __init__(self, options: dict):
        from disq_spark.sources.warc import scan_warc

        self.path = options.get("path")
        if not self.path:
            raise ValueError("readStream format('warc') requires .load(dir)")
        self.split_size = int(options.get("split_size", 64 * 1024 * 1024))
        self.scan = scan_warc(self.path, self.split_size)

    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        from disq_spark.sources.warc import segment_sizes

        return {"files": segment_sizes(self.path)}

    def partitions(self, start: dict, end: dict):
        from disq_spark.sources.warc import plan_new_segments

        plan = plan_new_segments(
            self.path, start.get("files", {}), end.get("files", {}), self.split_size
        )
        # Spark requires >= 1 partition per batch: an empty one (None)
        return [_Split(*row) for row in plan] or [None]

    def read(self, part: _Split | None):
        return _arrow_batches(self.scan, part)

    def commit(self, end: dict) -> None:
        pass  # offsets are the full state; nothing external to release


class WarcDataSource(_ScanSource):
    """spark.read.format("warc").load(file | dir | glob) — the crawl
    ingestion source (Common Crawl .warc.gz segments) as a first-class
    Spark source over read_warc's scan. Options: split_size. Also
    streamable: spark.readStream.format("warc").load(dir) tails a
    segment directory (see WarcStreamReader)."""

    FORMAT = "warc"

    def schema(self):
        from disq_spark.sources.warc import WARC_SCHEMA

        return WARC_SCHEMA

    def scan(self, path, o):
        from disq_spark.sources.warc import scan_warc

        return scan_warc(path, **_split(o))

    def streamReader(self, schema) -> WarcStreamReader:
        return WarcStreamReader(self.options)


def register_datasources(spark) -> None:
    """Register bam/sam/cram/vcf/fastq/fasta/bed/warc with a SparkSession:
    enables spark.read.format(...) and df.write.format("bam")."""
    spark.dataSource.register(BamDataSource)
    spark.dataSource.register(SamDataSource)
    spark.dataSource.register(CramDataSource)
    spark.dataSource.register(VcfDataSource)
    spark.dataSource.register(FastqDataSource)
    spark.dataSource.register(FastaDataSource)
    spark.dataSource.register(BedDataSource)
    spark.dataSource.register(WarcDataSource)
