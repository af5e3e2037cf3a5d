"""CRAM -> reads DataFrame: container-aligned partition planning + pure-
Python record decode (formats/cram_decode.py).

Mirrors the reference's CRAM path (CramSource.java:67-196):
- split planning from .crai container offsets (:146-160) or a container
  header walk (:162-174), snapping byte splits to container boundaries;
- a reference FASTA is required for sequence reconstruction
  (CramReferenceSourceBuilder.java:44-69 — bgzipped references supported
  via the gzip loader);
- each partition decodes exactly the containers starting in its byte
  range (containers are self-contained: compression header + slices),
  so records are produced exactly once — the PathChunk non-overlap
  invariant (AbstractBinarySamSource.java:95-98) by construction.

Decoder coverage: CRAM 2.1/3.0 with gzip/raw/bzip2/lzma/rANS-4x8 block
compression and the EXTERNAL/HUFFMAN/BYTE_ARRAY_LEN/BYTE_ARRAY_STOP/
BETA/GAMMA record codecs — both htsjdk's v2.1 and v3.0 default outputs
decode fully (rANS order-0 and order-1 implemented in formats/rans.py).
"""

from __future__ import annotations

from disq_spark import fs as _dfs

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from disq_spark.formats.cram import plan_cram_containers, read_crai
from disq_spark.formats.cram_decode import decode_cram_range, read_cram_header
from disq_spark.headers import SamHeader
from disq_spark.schemas import READS_COLUMNS, READS_SCHEMA
from disq_spark.sources.plan import DEFAULT_SPLIT_SIZE, plan_frame, resolve_paths

CRAM_EXTENSIONS = (".cram",)


def plan_cram(
    path: str,
    split_size: int = DEFAULT_SPLIT_SIZE,
    intervals: list | None = None,
    refs: list[tuple[str, int]] | None = None,
    include_unmapped: bool = False,
) -> list[tuple[str, int, int]]:
    """Container-aligned split plan; prefers .crai offsets when present
    (CramSource.java:146-160), else a header walk (:162-174).

    With ``intervals`` and a ``.crai``, containers whose indexed slice
    spans miss every interval are pruned at plan time (the CRAM analog
    of the BAI file-span clipping, AbstractBinarySamSource.java:117-137)
    — zero tasks for non-overlapping regions; the residual per-record
    predicate in read_cram keeps exactness. seq_id -1 (unmapped) slices
    are kept only when ``include_unmapped``. Without an index the plan
    is the full container walk and the filter does all the work, which
    is a full scan but still correct (the reference errors instead).
    """
    crai = path + ".crai"
    if _dfs.exists(crai):
        entries = read_crai(crai)
        keep: set[int] | None = None
        if intervals is not None and refs is not None:
            ref_idx = {name: i for i, (name, _l) in enumerate(refs)}
            wanted = [
                (ref_idx.get(iv.contig, -2), iv.start, iv.end) for iv in intervals
            ]
            keep = set()
            for seq_id, a_start, a_span, c_off, *_rest in entries:
                if seq_id == -1:
                    if include_unmapped:
                        keep.add(c_off)
                    continue
                a_end = a_start + max(a_span, 1) - 1  # 1-based closed slice span
                for sid, s, e in wanted:
                    if sid == seq_id and a_start <= e and a_end >= s:
                        keep.add(c_off)
                        break
        offs = sorted({e[3] for e in entries})
        size = _dfs.getsize(path)
        chunks = []
        for i, s in enumerate(offs):
            if keep is not None and s not in keep:
                continue
            e = offs[i + 1] if i + 1 < len(offs) else size
            chunks.append((path, s, e))
        return chunks
    return [(path, s, e) for s, e in plan_cram_containers(path, split_size)]


def read_cram(
    spark: SparkSession,
    path: str,
    reference_path: str | None = None,
    split_size: int = DEFAULT_SPLIT_SIZE,
    intervals: list | None = None,
    traverse_unplaced_unmapped: bool = False,
    missing_ref_as_n: bool = False,
) -> tuple[DataFrame, SamHeader]:
    """Load CRAM (file, dir, or glob) as a reads DataFrame + header."""
    paths = resolve_paths(path, CRAM_EXTENSIONS)
    text, refs = read_cram_header(paths[0])
    header = SamHeader(text=text if text.endswith("\n") else text + "\n")

    plan: list[tuple[str, int, int]] = []
    for p in paths:
        plan.extend(
            plan_cram(
                p,
                split_size,
                intervals=intervals,
                refs=refs,
                include_unmapped=traverse_unplaced_unmapped,
            )
        )

    def decode(p: str, start: int, end: int) -> Iterator[pd.DataFrame]:
        rows = decode_cram_range(
            p, start, end, refs, reference_path, missing_ref_as_n=missing_ref_as_n
        )
        if rows:
            yield pd.DataFrame(rows, columns=READS_COLUMNS)

    df = plan_frame(spark, plan, decode, READS_SCHEMA)
    if intervals is not None or traverse_unplaced_unmapped:
        from disq_spark.functions.intervals import filter_intervals

        df = filter_intervals(df, intervals, traverse_unplaced_unmapped)
    return df, header


def build_crai(path: str, out: str | None = None) -> str:
    """Build a ``.crai`` index for an existing CRAM file.

    The analog of ``samtools index`` / htslib ``cram_index()`` for a
    file written without one, and the read-side complement of the
    sink's build-during-write index (``sinks/cram.py``); the reference
    only ever *consumes* ``.crai`` (``CramSource.java:146-160``) and
    delegates creation to htsjdk.  One entry per slice:
    ``(seq_id, start, span, container_offset, slice_offset, slice_size)``
    where ``slice_offset`` is the container-header landmark and
    ``slice_size`` runs to the next landmark (or the container end).
    seq_id/start/span are taken from the slice header itself, so
    multi-slice and multi-ref (-2) containers index correctly.

    Driver-side by construction: only container headers and slice
    header blocks are parsed — no record decode, no reference needed.
    Output is gzip text, the same envelope htslib/htsjdk write
    (gzip *stream* bytes can differ across deflate implementations;
    the decompressed index content is byte-identical — asserted
    against the shipped ``valid.cram.crai`` fixture in
    ``tests/test_cram.py``).
    """
    import gzip

    from disq_spark.formats.cram import parse_file_definition, scan_containers
    from disq_spark.formats.cram_decode import SLICE_HEADER, parse_slice_header, read_block

    with _dfs.open_input(path) as f:
        data = f.read()
    major, _minor, _off = parse_file_definition(data)

    entries: list[tuple[int, int, int, int, int, int]] = []
    for c in scan_containers(path, data):
        if c.n_records <= 0:  # SAM-header container or EOF sentinel
            continue
        base = c.offset + c.header_len
        bounds = list(c.landmarks) + [c.length]
        for i, s_off in enumerate(c.landmarks):
            blk = read_block(data, base + s_off, major)
            if blk.ctype != SLICE_HEADER:
                raise ValueError(
                    f"landmark {s_off} in container @{c.offset} does not "
                    f"point at a slice header (ctype={blk.ctype})"
                )
            sl = parse_slice_header(blk.data, major)
            entries.append(
                (sl.ref_id, sl.start, sl.span, c.offset, s_off, bounds[i + 1] - s_off)
            )

    out = out or path + ".crai"
    # GzipFile never closes a caller-supplied fileobj; close the raw
    # stream explicitly (fsspec/memory sinks publish bytes on close).
    with _dfs.open_output(out) as raw:
        with gzip.GzipFile(fileobj=raw, mode="wb") as gz:
            for e in entries:
                gz.write(("\t".join(str(x) for x in e) + "\n").encode("ascii"))
    return out
