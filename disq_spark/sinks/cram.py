"""CRAM sinks: single-file with distributed .crai build-and-merge, and
sharded — completing the reference's CRAM write path
(CramSink.java:60-141, CramOutputFormat.java:51-127, CraiMerger.java:40-66)
on the pure-Python encoder (formats/cram_encode.py) and the shared write
path (sinks/merge.py).

What is CRAM's own: the part encoder (headerless container runs plus a
hidden per-part .crai fragment with part-relative container offsets and,
when indexing, BAM's reads ``.order`` sidecar), the file-definition +
SAM-header container, the spec EOF container, and the .crai merge, which
shifts each container offset by the cumulative byte length of everything
before its part — the CraiMerger offset-shift, in plain TSV. The
cross-part order rule is BAM's (sinks/bam.py::_check_cross_part_order).
"""

from __future__ import annotations

from functools import partial
import gzip
import io
import itertools

from pyspark.sql import DataFrame

from disq_spark import fs as _dfs

from disq_spark.formats import cram_encode as CE
from disq_spark.formats.gzi import open_reference
from disq_spark.headers import SamHeader
from disq_spark.sinks import merge
from disq_spark.sinks.bam import PartOrder, _check_cross_part_order

RECORDS_PER_CONTAINER = 10_000


def _row_tuples(batches):
    from disq_spark.formats.bam import _opt_int

    for row in merge.batch_rows(batches):
        yield (
            row["name"],
            int(row["flags"]),
            row["contig"],
            _opt_int(row["start"]),
            _opt_int(row["end"]),
            _opt_int(row["mapq"]),
            row["cigar"],
            row["mate_contig"],
            _opt_int(row["mate_start"]),
            _opt_int(row["template_len"]),
            row["seq"],
            row["qual"],
            dict(row["tags"]) if row["tags"] is not None else None,
            row["read_group"],
        )


def write_cram(
    df: DataFrame,
    header: SamHeader,
    path: str,
    reference_path: str | None = None,
    single_file: bool | None = None,
    write_crai: bool = True,
) -> None:
    """Write a reads DataFrame as CRAM 3.0.

    ``reference_path``: FASTA used to express mapped sequences as
    reference-relative features (required when any mapped record has a
    sequence). The .crai is a coordinate index: it is only written over a
    coordinate-sorted header (htsjdk writes CRAM indexes only for
    coordinate sort order), so a queryname/unsorted header with the
    default ``write_crai=True`` writes the CRAM without an index.
    """
    if single_file is None:
        single_file = path.endswith(".cram")
    ref_index = {name: i for i, (name, _l) in enumerate(header.sequences)}
    body = partial(_encode, ref_index=ref_index, reference_path=reference_path)
    if single_file:
        with_crai = write_crai and header.sort_order == "coordinate"
        merge.write_single(
            df, path, partial(body, with_crai=with_crai),
            partial(merge.commit_single, path, layout=_layout(header, with_crai)),
        )
    else:
        merge.write_sharded(df, path, body, _layout(header))


def _layout(header: SamHeader, with_crai: bool = False) -> merge.Layout:
    text = header.text if header.text.endswith("\n") else header.text + "\n"
    return merge.Layout(
        header=CE.file_definition() + CE.encode_file_header(text),
        terminator=CE.EOF_V3,
        ext=".cram",
        stale=(".crai",),
        check_order=_check_cross_part_order if with_crai else None,
        indexes=((".crai", _merge_crai),) if with_crai else (),
    )


def _encode(batches, out, ref_index, reference_path, with_crai: bool = False):
    """The CRAM part encoder: containers of up to RECORDS_PER_CONTAINER
    records to ``out``; returns ``(n, sidecars)``. With ``with_crai`` the
    records must be coordinate-sorted — the per-RECORD guard the .bai/.tbi
    builders have natively; crai entries alone carry only per-slice
    min/max spans, which cannot prove record order after the fact."""
    ref = open_reference(reference_path) if reference_path else None

    def get_ref(contig, s1, e1):
        if ref is None:
            raise ValueError("CRAM write of mapped sequences requires reference_path")
        return ref.get(contig, s1, e1)

    order = PartOrder("CRAM write with a coordinate sort-order header")
    tuples = _row_tuples(batches)
    n = offset = 0
    crai_rows = []
    while chunk := list(itertools.islice(tuples, RECORDS_PER_CONTAINER)):
        if with_crai:
            for _name, _flags, contig, start, *_rest in chunk:
                placed = contig is not None and start is not None
                order.add((ref_index[contig], start - 1) if placed else None)
        container, crai = CE.encode_container(chunk, ref_index, get_ref)
        out.write(container)
        crai_rows.extend(
            (rid, start, span, offset, s_off, s_size)
            for (rid, start, span, _c0, s_off, s_size) in crai
        )
        offset += len(container)
        n += len(chunk)

    def sidecars(part: str) -> None:
        if not with_crai:
            return
        with io.TextIOWrapper(_dfs.open_output(merge.fragment(part, ".crai"))) as cf:
            for r in crai_rows:
                cf.write("\t".join(str(x) for x in r) + "\n")
        order.write(part)

    return n, sidecars


def _merge_crai(path: str, fragments: list[str], lengths: list[int]) -> None:
    """Concatenate the part fragments, each container offset shifted by
    the bytes before its part (header included); gzip as the spec wants.
    GzipFile never closes a caller-supplied fileobj, so the raw stream is
    closed by its own ``with`` (fsspec/memory sinks publish on close)."""
    with _dfs.open_output(path + ".crai") as raw, gzip.GzipFile(fileobj=raw, mode="wb") as gz:
        for frag, shift in zip(fragments, itertools.accumulate(lengths)):
            with io.TextIOWrapper(_dfs.open_input(frag)) as cf:
                for line in cf:
                    rid, start, span, c_off, s_off, s_size = (int(x) for x in line.split("\t"))
                    row = (rid, start, span, c_off + shift, s_off, s_size)
                    gz.write(("\t".join(str(x) for x in row) + "\n").encode("ascii"))
