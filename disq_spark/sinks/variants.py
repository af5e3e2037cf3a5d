"""VCF sinks: single-file (plain or BGZF, optional .tbi) and sharded, on
the shared write path (sinks/merge.py).

Re-expresses VcfSink.java:52-131 / VcfSinkMultiple.java:38-72. What is
VCF's own: the part encoder (text lines built column by column from the
partition's Arrow batches by ``formats/vcf.py::format_vcf_arrow``,
BGZF-compressed when the target is .bgz/.gz — VcfSink.java:66 — fed to
the one ``PartIndexer`` when
indexing, which writes a hidden .tbi fragment and the ``.order``
sidecar), the (compressed) header and BGZF terminator, the
contig-grouped order rule and the .tbi merge (VcfSink.java:87-127).
``build_tbi`` runs the same indexer, order rule and merge over the
chunks of an existing file. Sharded output is one plain VCF per
partition.

Format/cardinality dispatch follows VcfFormat.fromPath semantics
(VcfFormat.java:82-93): a path with a VCF extension -> SINGLE, else a
directory of shards.
"""

from __future__ import annotations

import os
from functools import partial
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from disq_spark.formats import bgzf
from disq_spark.formats import tabix as tbimod
from disq_spark.formats.vcf import format_vcf_arrow
from disq_spark.headers import VcfHeader
from disq_spark.schemas import VARIANTS_SCHEMA
from disq_spark.sinks import merge
from disq_spark.sources.plan import arrow_schema


def _is_bgzf_target(path: str) -> bool:
    return path.endswith((".gz", ".bgz"))


def write_vcf(
    df: DataFrame,
    header: VcfHeader,
    path: str,
    single_file: bool | None = None,
    write_tbi: bool = False,
) -> None:
    """Write a variants DataFrame as VCF.

    ``single_file=None`` infers: VCF extension -> single file, else
    sharded directory (VcfFormat.java:91-93). ``write_tbi`` builds a
    tabix index during the distributed write and merges the per-part
    fragments with virtual-offset shifting (HeaderlessVcfOutputFormat
    .java:68-88 + TbiMerger.java:39-65); requires a BGZF target and
    coordinate-sorted input.
    """
    if single_file is None:
        single_file = path.endswith((".vcf", ".vcf.gz", ".vcf.bgz"))
    if write_tbi and not single_file:
        raise ValueError("write_tbi requires a single-file BGZF target")
    if single_file:
        merge.write_single(df, path, *single_file_sink(header, path, write_tbi=write_tbi))
    else:
        body = partial(_encode, samples=header.samples)
        merge.write_sharded(df, path, body, layout(header, False))


def single_file_sink(header: VcfHeader, path: str, *, write_tbi: bool = False):
    """``(body, commit)`` of a single-file VCF at ``path`` (BGZF when it
    ends in .gz/.bgz), shared by ``write_vcf`` and
    ``df.write.format("vcf")``; the commit runs ``finalize_single``."""
    compress = _is_bgzf_target(path)
    if write_tbi and not compress:
        raise ValueError("write_tbi requires a single-file BGZF target")

    def commit(parts_dir: str, parts: list[str]) -> None:
        finalize_single(path, parts_dir, header, parts, compress, write_tbi)

    return partial(_encode, samples=header.samples, compress=compress, with_tbi=write_tbi), commit


def layout(header: VcfHeader, compress: bool, with_tbi: bool = False) -> merge.Layout:
    """VCF's layout; its order rule and .tbi merge also commit
    ``build_tbi``."""
    text = header.text.encode("utf-8")
    return merge.Layout(
        header=bgzf.compress_all(text, terminate=False) if compress else text,
        terminator=bgzf.EOF_BLOCK if compress else b"",
        ext=".vcf",
        stale=(".tbi",),
        check_order=_check_cross_part_order if with_tbi else None,
        indexes=((".tbi", _merge_tbi),) if with_tbi else (),
    )


class PartIndexer:
    """The per-record index feed of one VCF part, shared by the part
    encoder and ``build_tbi``'s chunk scan: ``TbiBuilder.add`` plus the
    first/last (contig, pos) and contig sequence of the ``.order``
    sidecar. The builder guard proves within-part order, the sidecar
    lets the driver prove it across parts (``_check_cross_part_order``).
    Offsets are part-relative for a written part, absolute for a chunk
    of an existing file."""

    def __init__(self) -> None:
        self.tbi = tbimod.TbiBuilder()
        self.n = 0
        self.first: tuple[str, int] | None = None
        self.last: tuple[str, int] | None = None

    def add(self, contig: str, start: int, end: int, v_start: int, v_end: int) -> None:
        self.tbi.add(contig, start, end, v_start, v_end)
        self.n += 1
        self.last = (contig, start)
        if self.first is None:
            self.first = self.last

    def sidecars(self, end_voff: int, dangling: int = 0):
        """Writer of the part's ``.tbi`` fragment and ``.order`` sidecar;
        ``end_voff`` (the part's end) replaces the last record's
        ``dangling`` pre-flush end."""

        def write(part: str) -> None:
            built = self.tbi.build()
            if dangling & 0xFFFF:
                tbimod.patch_dangling_end(built, dangling, end_voff)
            tbimod.write_tbi(merge.fragment(part, ".tbi"), built, fragment=True)
            # contigs = the part's FULL contig sequence in order (the
            # builder registers them by first appearance) — first/last
            # alone would hide interior contigs from the cross-part check
            merge.write_order_sidecar(
                os.path.dirname(part),
                os.path.basename(part),
                {"first": self.first, "last": self.last, "contigs": built.names},
            )

        return write


def encode_vcf_part(
    batches: Iterator[pd.DataFrame],
    part_path: str,
    samples: list[str],
    compress: bool,
    with_tbi: bool,
) -> int:
    """Write one headerless (optionally terminatorless-BGZF) VCF part from
    pandas batches, plus a hidden .tbi fragment when indexing; returns the
    record count. Each batch goes to Arrow with ``from_pandas``, as
    ``to_batch`` does, and then through the sinks' encoder."""
    schema = arrow_schema(VARIANTS_SCHEMA)
    arrow = (pa.RecordBatch.from_pandas(pdf, schema=schema, preserve_index=False) for pdf in batches)
    return merge.stage_part(
        part_path, lambda out: _encode(arrow, out, samples, compress, with_tbi)
    )[1]


def _encode(batches, out, samples: list[str], compress: bool = False, with_tbi: bool = False):
    """The VCF part encoder: the lines ``format_vcf_arrow`` builds from
    each Arrow batch, to ``out``; returns ``(n, sidecars)``."""
    n = 0
    index = PartIndexer() if with_tbi else None
    sink = bgzf.BgzfWriter(out, terminate=False) if compress else out
    for batch in batches:
        if batch.num_rows == 0:
            continue
        lines = format_vcf_arrow(batch, samples)
        if index is None:
            sink.write(("\n".join(lines) + "\n").encode("utf-8"))
        else:
            # per-record virtual-offset tracking for the index
            cols = (batch.column(c).to_numpy(zero_copy_only=False).tolist()
                    for c in ("contig", "start", "end"))
            for line, contig, start, end in zip(lines, *cols):
                v_start = sink.virtual_offset
                sink.write(line.encode("utf-8") + b"\n")
                index.add(contig, start, end, v_start, sink.virtual_offset)
        n += batch.num_rows
    if not compress:
        return n, None
    dangling = sink.virtual_offset
    sink.close()
    return n, index.sidecars(sink.compressed_len << 16, dangling) if index is not None else None


def finalize_single(
    path: str,
    parts_dir: str,
    header: VcfHeader,
    part_paths: list[str],
    compress: bool,
    with_tbi: bool,
) -> None:
    """Driver-side single-file commit (VcfSink.java:87-127) through
    ``merge.commit_single``: header, concat in part order, one BGZF
    terminator when compressed, offset-shifted .tbi merge."""
    merge.commit_single(path, parts_dir, part_paths, layout(header, compress, with_tbi))


def _merge_tbi(path: str, fragments: list[str], lengths: list[int]) -> None:
    parts = [tbimod.read_tbi(f, fragment=True) for f in fragments]
    tbimod.write_tbi(path + ".tbi", tbimod.merge_tbi(parts, lengths[1:], base_offset=lengths[0]))


def _check_cross_part_order(parts_dir: str, part_paths: list[str]) -> None:
    """Prove coordinate order ACROSS parts before the .tbi merge (the
    per-part builder guard only proves within-part order). Each part's
    sidecar carries its FULL ordered contig sequence: a part's first
    contig must either continue the previous part's last contig at an
    equal-or-later position or be brand new, and every other contig in
    the sequence must be brand new (any contig finished in an earlier
    part — including interior ones — reappearing means the concatenation
    interleaves contigs)."""
    done: set[str] = set()
    cur: str | None = None
    cur_last = -1
    prev_part = None
    for pp in part_paths:
        base = os.path.basename(pp)
        meta = merge.read_order_sidecar(parts_dir, base)
        if meta is None:
            # the part encoder writes the .tbi fragment and the sidecar
            # together; a finalize-set part without one is unverifiable
            raise ValueError(
                f".tbi merge: part {base} has no .order sidecar — "
                "refusing to merge an unverifiable part"
            )
        first, last = meta.get("first"), meta.get("last")
        if first is None:
            continue
        fc, fp = first
        lc, lp = last
        contigs = meta.get("contigs") or ([fc] if fc == lc else [fc, lc])
        for i, c in enumerate(contigs):
            if i == 0 and cur is not None and c == cur:
                if fp < cur_last:
                    raise ValueError(
                        f".tbi merge requires globally coordinate-sorted "
                        f"parts: {base} starts at {fc}:{fp} before "
                        f"{prev_part} ended at {cur}:{cur_last}"
                    )
                continue  # legal continuation of the open contig
            if c in done or c == cur:
                raise ValueError(
                    f".tbi merge requires contig-grouped parts: {c} in "
                    f"{base} reappears after an earlier part"
                )
        # everything before this part's last contig is now finished
        if cur is not None and cur != contigs[0]:
            done.add(cur)
        done.update(contigs[:-1])
        cur, cur_last, prev_part = lc, lp, base
