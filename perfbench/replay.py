"""Single-core replays of executor-side layers, run on the driver over the
workload's own input and chunk plan. Executor code cannot be wrapped from
outside, so a replay is how each layer gets a per-core rate."""

from __future__ import annotations

import statistics
import time

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from disq_spark.formats import bai, bgzf
from disq_spark.formats import bam as bamcodec
from disq_spark.formats.vcf import format_vcf_batch, parse_vcf_lines
from disq_spark.schemas import READS_COLUMNS, READS_SCHEMA, VARIANTS_SCHEMA
from disq_spark.sources import bam_source
from disq_spark.sources.plan import plan_ranges
from disq_spark.sources.variants import read_header

REPEATS = 3
MAX_CHUNKS = 2
MB = 1e6


def _rate(work: float, fn) -> float:
    """work / median seconds of REPEATS calls of fn."""
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return work / statistics.median(times)


def _deflate(data: bytes) -> float:
    payloads = [data[i : i + bgzf.MAX_PAYLOAD] for i in range(0, len(data), bgzf.MAX_PAYLOAD)][:24]
    size = sum(len(p) for p in payloads)
    return _rate(size / MB, lambda: [bgzf.compress_block(p) for p in payloads])


def bam_plan(path: str, split_size: int):
    _h, refs, voff = bam_source.read_bam_header(path)
    return refs, bam_source.plan_bam_chunks(path, split_size, refs, voff)


def reads_layers(path: str, split_size: int) -> dict[str, float]:
    refs, chunks = bam_plan(path, split_size)
    sample = chunks[:MAX_CHUNKS]
    raw = [bgzf.read_range(path, vs >> 16, ve >> 16) for vs, ve in sample]
    n_bytes = sum(len(r) for r in raw)

    def decode(**kw):
        return [bam_source.decode_chunk_cols(path, refs, vs, ve, **kw) for vs, ve in sample]

    cols = decode()
    n = sum(len(c["flags"]) for c in cols)
    frames = [pd.DataFrame(c, columns=READS_COLUMNS) for c in cols]
    rows = [r for f in frames for r in f.to_dict("records")]
    ref_index = {name: i for i, (name, _l) in enumerate(refs)}
    schema = to_arrow_schema(READS_SCHEMA)

    def to_arrow():
        for c in cols:
            pa.RecordBatch.from_pandas(pd.DataFrame(c, columns=READS_COLUMNS), schema=schema,
                                       preserve_index=False)

    return {
        "bam_source.chunks": len(chunks),
        "bgzf.inflate_mb_per_s_core": _rate(
            n_bytes / MB, lambda: [bgzf.read_range(path, vs >> 16, ve >> 16) for vs, ve in sample]),
        "bgzf.deflate_mb_per_s_core": _deflate(b"".join(raw)),
        "bam.decode_rec_per_s_core": _rate(n, decode),
        "bam.decode_pruned_rec_per_s_core": _rate(
            n, lambda: decode(with_seq=False, with_qual=False, with_tags=False)),
        "bam.encode_rec_per_s_core": _rate(
            len(rows), lambda: [bamcodec.encode_record(r, ref_index) for r in rows]),
        "arrow.reads_rec_per_s_core": _rate(n, to_arrow),
    }


def variants_layers(path: str, split_size: int) -> dict[str, float]:
    ranges = plan_ranges([path], split_size)
    sample = ranges[:MAX_CHUNKS]
    raw = [bgzf.read_range(path, r.start, r.end) for r in sample]
    n_bytes = sum(len(r) for r in raw)
    text = b"".join(raw).decode("utf-8")
    lines = [ln for ln in text.split("\n")[1:-1] if ln and not ln.startswith("#")]
    samples = read_header(path).samples
    series = pd.Series(lines, dtype="object")
    frame = parse_vcf_lines(series, samples)
    schema = to_arrow_schema(VARIANTS_SCHEMA)
    n = len(frame)
    return {
        "variants.chunks": len(ranges),
        "bgzf.inflate_mb_per_s_core": _rate(
            n_bytes / MB, lambda: [bgzf.read_range(path, r.start, r.end) for r in sample]),
        "bgzf.deflate_mb_per_s_core": _deflate(b"".join(raw)),
        "vcf.parse_rec_per_s_core": _rate(n, lambda: parse_vcf_lines(series, samples)),
        "vcf.format_rec_per_s_core": _rate(n, lambda: format_vcf_batch(frame, samples)),
        "arrow.variants_rec_per_s_core": _rate(
            n, lambda: pa.RecordBatch.from_pandas(frame, schema=schema, preserve_index=False)),
    }


def bai_layers(path: str, queries) -> dict[str, float]:
    """``read_bai`` and per-query ``chunks_for_interval`` on the driver."""
    refs, _ = bam_plan(path, 1 << 30)
    ref_id = {name: i for i, (name, _l) in enumerate(refs)}
    reads = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        idx = bai.read_bai(path + ".bai")
        reads.append(time.perf_counter() - t0)
    per_query = []
    for q in queries[:50]:
        t0 = time.perf_counter()
        for c, s, e in q:
            bai.chunks_for_interval(idx, ref_id[c], s, e)
        per_query.append(time.perf_counter() - t0)
    return {"bai.read_s": statistics.median(reads), "bai.query_s": statistics.median(per_query)}
