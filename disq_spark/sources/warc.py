"""Distributed WARC / WARC.GZ reader — the Common Crawl ingestion path.

``read_warc`` accepts one file, a glob, or a (non-recursive) directory
of ``.warc``/``.warc.gz`` shards — Common Crawl is ~100k gz segments
per dump — resolved through the same path rules as every genomics
source (``resolve_paths``: hidden/_ files skipped, lexicographic
order, reference HadoopFileSystemWrapper.java:122-139 semantics) and
read through the pluggable filesystem registry (``disq_spark.fs``), so
``s3://``/``gs://``/``memory://`` corpora work exactly like local ones.

Chunks are planned driver-side (pure metadata: one getsize per file,
like the BAM/VCF planners) and each task snaps its range start to the
next record boundary: gzip-member magic + inflate-validate for
``.warc.gz`` (members are per-record, so the file is block-splittable),
header-parse validation for plain ``.warc``. A record belongs to the
chunk its first byte falls in — every record is read exactly once for
any split size, the same contract the genomics sources test with split
matrices.

Scale shape: planning is O(#files + #chunks) on the driver; each task
reads only its byte range (+ a bounded overscan for the record spanning
its end), so a 100 TB crawl fans out to size/split_size independent
tasks with no shuffle before the first transformation.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from disq_spark import fs as _dfs
from disq_spark.formats.warc import (
    find_gzip_member_start,
    iter_gzip_members,
    parse_record,
    record_status,
    resync_record_start,
)
from disq_spark.sources.plan import Scan, resolve_paths

WARC_SCHEMA = T.StructType(
    [
        T.StructField("record_id", T.StringType(), True),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("content_length", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

_WARC_EXTS = (".warc", ".warc.gz")
_OVERSCAN = 1 << 26  # plain-warc: read-ahead granule past the chunk end


def _rows_of(headers: dict, payload: bytes):
    return (
        headers.get("WARC-Record-ID"),
        headers.get("WARC-Type"),
        headers.get("WARC-Target-URI"),
        headers.get("WARC-Date"),
        headers.get("Content-Type"),
        len(payload),
        payload,
    )


def _snap_plain(f, buf: bytes, limit: int):
    """First offset < limit in ``buf`` that starts a WARC record,
    extending the buffer through ``f`` when a candidate fails only
    because the record outruns the bytes read so far (a record larger
    than the overscan is NOT a false positive — ADVICE r6). Returns
    (offset_or_-1, buf)."""
    pos = 0
    while True:
        i = buf.find(b"WARC/", pos)
        if i < 0 or i >= limit:
            return -1, buf
        st, _ = record_status(buf, i)
        if st == "ok":
            return i, buf
        if st == "short":
            more = f.read(_OVERSCAN)
            if more:
                buf += more
                continue  # retry the same candidate with more bytes
            # EOF: the candidate is a genuinely truncated tail record
        pos = i + 1


def decode_warc_chunks(chunk_rows) -> Iterator[pd.DataFrame]:
    """The per-task kernel body, callable outside Spark too (the
    memory:// tests drive it serially — the in-process store is
    per-Python-process, so executor workers can't see driver-side
    memory blobs; every other scheme dispatches identically on driver
    and executors). ``chunk_rows`` is an iterable of
    (path, start, end, is_gz)."""
    cols = [
        "record_id", "warc_type", "url", "date", "mime",
        "content_length", "payload",
    ]
    for p, start, end, gz in chunk_rows:
        start, end = int(start), int(end)
        rows = []
        if gz:
            # the snap window must cover the whole chunk: a chunk whose
            # only member boundary sits in its last bytes would return
            # -1 under a fixed 64 MB window when split_size > 64 MB
            s = (
                0
                if start == 0
                else find_gzip_member_start(
                    p, start, limit=max(end - start, 1 << 26)
                )
            )
            if s < 0 or s >= end:
                yield pd.DataFrame(columns=cols)
                continue
            for _off, data in iter_gzip_members(p, s, end):
                pos = 0
                while pos < len(data):
                    rec = parse_record(data, pos)
                    if rec is None:
                        # poisoned framing inside a member (bad
                        # Content-Length, binary junk): resync to the
                        # next PLAUSIBLE record boundary instead of
                        # dropping the member tail — crawls DO ship
                        # corrupt records. Boundary-checked resync so a
                        # bad record's payload can't fabricate phantom
                        # top-level records (warc-in-warc payloads)
                        nxt = resync_record_start(data, pos + 1)
                        if nxt < 0:
                            break
                        pos = nxt
                        continue
                    headers, payload, pos = rec
                    rows.append(_rows_of(headers, payload))
        else:
            with _dfs.open_input(p) as f:
                f.seek(start)
                buf = f.read(end - start + _OVERSCAN)
                limit = end - start
                if start == 0:
                    s = 0
                else:
                    s, buf = _snap_plain(f, buf, limit)
                if s < 0:
                    yield pd.DataFrame(columns=cols)
                    continue
                pos = s
                while pos < limit:
                    st, rec = record_status(buf, pos)
                    # the record that STARTS in-range may span past the
                    # overscan: extend until complete
                    while st == "short":
                        more = f.read(_OVERSCAN)
                        if not more:
                            break
                        buf += more
                        st, rec = record_status(buf, pos)
                    if st == "bad":
                        # resync past poisoned framing (negative or
                        # non-numeric Content-Length, binary junk):
                        # later well-formed records in this range must
                        # still be surfaced — but only from a plausible
                        # record boundary (no phantom records out of
                        # the bad record's payload bytes)
                        nxt = resync_record_start(buf, pos + 1)
                        if nxt < 0 or nxt >= limit:
                            break
                        pos = nxt
                        continue
                    if st != "ok":
                        break  # 'short' at EOF: genuinely truncated tail
                    headers, payload, pos = rec
                    rows.append(_rows_of(headers, payload))
        yield pd.DataFrame(rows, columns=cols)


def chunk_ranges(size: int, split_size: int) -> list[tuple[int, int]]:
    """[(start, end)] byte ranges covering a file of ``size`` bytes —
    THE chunking rule, shared by the batch planner and the streaming
    reader so the two sources can't drift. A zero-size file still gets
    one (0, 0) chunk so per-file task accounting holds."""
    return [
        (s, min(s + split_size, size)) for s in range(0, max(size, 1), split_size)
    ]


def plan_warc_chunks(path: str, split_size: int) -> list[tuple]:
    """Driver-side chunk plan: (path, start, end, is_gz) per byte range,
    across every file the path resolves to."""
    chunks = []
    for p in resolve_paths(path, _WARC_EXTS):
        size = _dfs.getsize(p)
        is_gz = p.endswith(".gz")
        for s, e in chunk_ranges(size, split_size):
            chunks.append((p, s, e, is_gz))
    return chunks


def segment_sizes(path: str) -> dict[str, int]:
    """{basename: size} of the segments ``path`` resolves to ({} when it
    resolves to nothing yet) — the streaming reader's offset."""
    try:
        paths = resolve_paths(path, _WARC_EXTS)
    except FileNotFoundError:
        return {}
    return {os.path.basename(p): _dfs.getsize(p) for p in paths}


def plan_new_segments(
    path: str, seen: dict[str, int], latest: dict[str, int], split_size: int
) -> list[tuple[str, int, int]]:
    """(path, start, end) chunks of the segments in ``latest`` but not in
    ``seen`` (``segment_sizes`` maps), each cut at its size pinned in
    ``latest``: one streaming microbatch's plan. A segment that vanished
    between the two offsets is skipped (its pinned size said ingested)."""
    new = {n: size for n, size in latest.items() if n not in seen}
    if not new:
        return []
    try:
        by_name = {os.path.basename(p): p for p in resolve_paths(path, _WARC_EXTS)}
    except FileNotFoundError:
        return []
    return [
        (by_name[n], s, e)
        for n, size in sorted(new.items())
        if n in by_name
        for s, e in chunk_ranges(size, split_size)
    ]


def read_warc(
    spark: SparkSession, path: str, split_size: int = 64 * 1024 * 1024
) -> DataFrame:
    return scan_warc(path, split_size).frame(spark)


def scan_warc(path: str, split_size: int = 64 * 1024 * 1024) -> Scan:
    """The WARC scan: byte-range chunks in file order, each snapped to
    its first record in the task (gzip-ness taken from the path)."""

    def plan() -> list[tuple[str, int, int]]:
        return [(p, s, e) for p, s, e, _gz in plan_warc_chunks(path, split_size)]

    def decode(p: str, start: int, end: int) -> Iterator[pd.DataFrame]:
        return decode_warc_chunks([(p, start, end, p.endswith(".gz"))])

    return Scan(WARC_SCHEMA, None, decode, plan)
