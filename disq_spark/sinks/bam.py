"""BAM sinks: single-file with distributed .sbi/.bai build-and-merge, and
sharded, on the shared write path (sinks/merge.py).

Re-expresses BamSink.java:60-139 + HeaderlessBamOutputFormat.java:57-194.
What is BAM's own:
- the part encoder: headerless, terminatorless BGZF records fed to the
  one ``PartIndexer`` (also run by ``build_sbi``/``build_bai`` over the
  chunks of an existing file), which writes the hidden per-part ``.sbi``
  (every ``granularity``-th record's virtual offset,
  HeaderlessBamOutputFormat.java:111-130) and ``.bai`` fragments and the
  reads ``.order`` sidecar (``PartOrder``, shared with CRAM);
- the BGZF-compressed header (magic + text + ref dict) and the 28-byte
  BGZF EOF terminator;
- the reads cross-part order rule (``_check_cross_part_order``, also
  used by CRAM and ``build_bai``);
- the index merges with virtual-offset shifting (SbiMerger.java:39-64):
  each part's offsets shift by the cumulative compressed byte length of
  everything before it.

Scale note: concat is the only sequential step (O(bytes) locally,
O(#parts) with HDFS concat); index merge is O(#records/granularity)
driver-side time, and the ``.sbi`` merge streams, so its driver memory
is one buffer — at 100 TB use granularity 4096 (htsjdk default) to keep
fragments tiny. Sharded mode has no sequential step at all.
"""

from __future__ import annotations

import os
from functools import partial
from typing import Iterator

from pyspark.sql import DataFrame

from disq_spark.formats import bai as baimod
from disq_spark.formats import bam as bamcodec
from disq_spark.formats import bgzf
from disq_spark.formats import sbi as sbimod
from disq_spark.formats.bam import _reg2bin
from disq_spark.headers import SamHeader
from disq_spark.schemas import FLAG_UNMAPPED
from disq_spark.sinks import merge

DEFAULT_GRANULARITY = 4096


def write_bam(
    df: DataFrame,
    header: SamHeader,
    path: str,
    single_file: bool | None = None,
    write_sbi: bool = True,
    write_bai: bool | None = None,
    sbi_granularity: int = DEFAULT_GRANULARITY,
) -> None:
    if single_file is None:
        single_file = path.endswith(".bam")
    if single_file:
        body, commit = single_file_sink(
            header, path, write_sbi=write_sbi, write_bai=write_bai, sbi_granularity=sbi_granularity
        )
        merge.write_single(df, path, body, commit)
    else:
        refs = header.sequences
        merge.write_sharded(df, path, _body(refs, sbi_granularity, False, False), layout(header, refs))


def single_file_sink(
    header: SamHeader,
    path: str,
    *,
    write_sbi: bool = True,
    write_bai: bool | None = None,
    sbi_granularity: int = DEFAULT_GRANULARITY,
):
    """``(body, commit)`` of a single-file BAM at ``path``, shared by
    ``write_bam`` and ``df.write.format("bam")``; the commit runs
    ``finalize_single``."""
    if write_bai is None:
        # .bai is only meaningful for coordinate-sorted output
        # (BamSink.java:78-80)
        write_bai = header.sort_order == "coordinate"
    refs = header.sequences

    def commit(parts_dir: str, parts: list[str]) -> None:
        finalize_single(
            path, parts_dir, header, refs, parts, write_sbi, write_bai, granularity=sbi_granularity
        )

    return _body(refs, sbi_granularity, write_sbi, write_bai), commit


def _body(refs: list[tuple[str, int]], granularity: int, with_sbi: bool, with_bai: bool):
    ref_index = {name: i for i, (name, _l) in enumerate(refs)}

    def body(batches, out):
        return _encode(merge.batch_rows(batches), out, ref_index, granularity, with_sbi, with_bai)

    return body


def layout(
    header: SamHeader,
    refs: list[tuple[str, int]],
    with_sbi: bool = False,
    with_bai: bool = False,
    granularity: int = DEFAULT_GRANULARITY,
) -> merge.Layout:
    """BAM's layout; its order rule and index merges also commit
    ``build_sbi``/``build_bai``."""
    return merge.Layout(
        header=bgzf.compress_all(bamcodec.encode_bam_header(header.text, refs), terminate=False),
        terminator=bgzf.EOF_BLOCK,
        ext=".bam",
        stale=(".sbi", ".bai"),
        check_order=_check_cross_part_order if with_bai else None,
        indexes=((".sbi", partial(_merge_sbi, granularity=granularity)),) * with_sbi
        + ((".bai", partial(_merge_bai, n_ref=len(refs))),) * with_bai,
    )


class PartOrder:
    """Coordinate order of one reads part, for the ``.order`` sidecar:
    first and last placed (ref rank, 0-based pos) and whether unplaced
    reads were seen. Refuses a placed read after an unplaced one
    (coordinate sort puts unplaced reads last) and a placed read before
    its predecessor; ``what`` names the write in the error."""

    def __init__(self, what: str):
        self.what = what
        self.first: tuple[int, int] | None = None
        self.last: tuple[int, int] | None = None
        self.unplaced = False

    def add(self, key: tuple[int, int] | None) -> None:
        """``key`` = (ref rank, 0-based pos), None for an unplaced read."""
        if key is None:
            self.unplaced = True
            return
        if self.unplaced:
            raise ValueError(
                f"{self.what} requires coordinate-sorted records: "
                "placed record after unplaced reads (unplaced must sort last)"
            )
        if self.last is not None and key < self.last:
            raise ValueError(
                f"{self.what} requires coordinate-sorted records: "
                f"ref {key[0]}:{key[1]} after ref {self.last[0]}:{self.last[1]}"
            )
        self.last = key
        if self.first is None:
            self.first = key

    def write(self, part: str) -> None:
        merge.write_order_sidecar(
            os.path.dirname(part), os.path.basename(part),
            {"first": self.first, "last": self.last, "unplaced": self.unplaced},
        )


def _missing(v) -> bool:
    """None, or the NaN a pandas batch spells a null long as."""
    return v is None or v != v


class PartIndexer:
    """The per-record index feed of one BAM part, shared by the part
    encoder and ``build_sbi``/``build_bai``'s chunk scan: every
    ``granularity``-th record's start for the ``.sbi`` fragment
    (HeaderlessBamOutputFormat.java:111-130), ``BaiBuilder.add`` and the
    ``PartOrder`` of the ``.order`` sidecar for the ``.bai`` fragment.
    Offsets are part-relative for a written part, absolute for a chunk
    of an existing file."""

    def __init__(self, ref_index: dict[str, int], granularity: int, with_sbi: bool, with_bai: bool, what: str):
        self.ref_index = ref_index
        self.granularity = granularity
        self.n = 0
        self.offsets: list[int] | None = [] if with_sbi else None
        self.bai = baimod.BaiBuilder(len(ref_index)) if with_bai else None
        # PartOrder proves WITHIN-part order; its .order sidecar lets the
        # driver prove it ACROSS parts (per-part-sorted but globally-
        # interleaved input would otherwise still produce a silently-
        # corrupt merged .bai)
        self.order = PartOrder(what)

    def add(self, v_start: int, v_end: int, contig=None, start=None, end=None, flags=0) -> None:
        """One record occupying [v_start, v_end); the alignment fields
        matter only with a ``.bai``."""
        if self.offsets is not None and self.n % self.granularity == 0:
            self.offsets.append(v_start)
        self.n += 1
        if self.bai is None:
            return
        if contig is None or _missing(start):
            self.bai.add(-1, -1, -1, 0, v_start, v_end, False)
            self.order.add(None)
            return
        pos0 = int(start) - 1
        end0 = pos0 + 1 if _missing(end) else int(end)
        ref_id = self.ref_index[contig]
        self.order.add((ref_id, pos0))
        self.bai.add(
            ref_id, pos0, end0, _reg2bin(pos0, max(end0, pos0 + 1)),
            v_start, v_end, int(flags) & FLAG_UNMAPPED == 0,
        )

    def sidecars(self, end_voff: int, dangling: int = 0):
        """Writer of the part's ``.sbi``/``.bai`` fragments and ``.order``
        sidecar; ``end_voff`` is the part's end, which also replaces the
        last record's ``dangling`` pre-flush end."""

        def write(part: str) -> None:
            if self.offsets is not None:
                sbimod.write_sbi(
                    merge.fragment(part, ".sbi"),
                    sbimod.SbiIndex(end_voff >> 16, self.n, self.granularity, self.offsets + [end_voff]),
                )
            if self.bai is not None:
                built = self.bai.build()
                if dangling & 0xFFFF:
                    baimod.patch_dangling_end(built, dangling, end_voff)
                baimod.write_bai(merge.fragment(part, ".bai"), built, fragment=True)
                self.order.write(part)

        return write


def encode_part(
    rows: Iterator[dict],
    part_path: str,
    ref_index: dict[str, int],
    granularity: int,
    with_bai: bool,
) -> int:
    """Write one headerless/terminatorless BGZF part + hidden .sbi (and
    optionally .bai) fragments next to it; returns the record count.
    Empty input writes nothing."""
    return merge.stage_part(
        part_path, lambda out: _encode(rows, out, ref_index, granularity, True, with_bai)
    )[1]


def _encode(rows, out, ref_index: dict[str, int], granularity: int, with_sbi: bool, with_bai: bool):
    """The BAM part encoder: records to ``out`` as terminatorless BGZF;
    returns ``(n, sidecars)``."""
    index = PartIndexer(ref_index, granularity, with_sbi, with_bai, ".bai build")
    w = bgzf.BgzfWriter(out, terminate=False)
    for row in rows:
        v_start = w.virtual_offset
        w.write(bamcodec.encode_record(row, ref_index))
        index.add(v_start, w.virtual_offset, row["contig"], row["start"], row["end"], row["flags"])
    dangling = w.virtual_offset  # last record's end, pre-final-flush
    w.close()
    return index.n, index.sidecars(w.compressed_len << 16, dangling)


def _check_cross_part_order(parts_dir: str, part_paths: list[str]) -> None:
    """Per-part guards prove WITHIN-part coordinate order; this proves it
    ACROSS parts before a reads index merge (.bai, .crai): each part's
    first placed key must be >= the previous part's last placed key, and
    no placed part may follow a part containing unplaced reads (unplaced
    sort last). Per-part-sorted but globally-interleaved input — e.g. a
    hash repartition of sorted data — would otherwise still produce a
    silently-corrupt merged index."""
    prev_last: tuple[int, int] | None = None
    prev_part = None
    unplaced_part = None
    for pp in part_paths:
        base = os.path.basename(pp)
        meta = merge.read_order_sidecar(parts_dir, base)
        if meta is None:
            # the part encoders write the index fragment and the .order
            # sidecar together; a part in the finalize set without its
            # sidecar can only be a partially-failed or foreign file —
            # exactly when the merged index would be least trustworthy
            raise ValueError(
                f"index merge: part {base} has no .order sidecar — "
                "refusing to merge an unverifiable part"
            )
        first, last = meta.get("first"), meta.get("last")
        if first is not None:
            if unplaced_part is not None:
                raise ValueError(
                    f"index merge requires unplaced reads last: {base} has "
                    f"placed records after unplaced reads in {unplaced_part}"
                )
            if prev_last is not None and tuple(first) < tuple(prev_last):
                raise ValueError(
                    f"index merge requires globally coordinate-sorted parts: "
                    f"{base} starts at ref {first[0]}:{first[1]} "
                    f"before {prev_part} ended at ref {prev_last[0]}:{prev_last[1]}"
                )
            prev_last, prev_part = last, base
        if meta.get("unplaced"):
            unplaced_part = base


def finalize_single(
    path: str,
    parts_dir: str,
    header: SamHeader,
    refs: list[tuple[str, int]],
    part_paths: list[str],
    with_sbi: bool,
    with_bai: bool,
    granularity: int = DEFAULT_GRANULARITY,
) -> None:
    """Driver-side single-file commit (BamSink.java:96-137) through
    ``merge.commit_single``: compressed header, concat in part order,
    BGZF terminator, offset-shifted .sbi/.bai merges. ``granularity`` is
    the requested ``.sbi`` granularity, which the merge records when no
    part holds a record (else the parts' fragments carry it)."""
    merge.commit_single(
        path, parts_dir, part_paths, layout(header, refs, with_sbi, with_bai, granularity)
    )


def _merge_sbi(path: str, fragments: list[str], lengths: list[int], granularity: int) -> None:
    sbimod.merge_sbi(path, fragments, lengths[1:], granularity, base_offset=lengths[0])


def _merge_bai(path: str, fragments: list[str], lengths: list[int], n_ref: int) -> None:
    parts = [baimod.read_bai(f, fragment=True) for f in fragments]
    # no records: a legal index still carries one empty entry per
    # reference sequence
    merged = (
        baimod.merge_bai(parts, lengths[1:], base_offset=lengths[0])
        if parts
        else baimod.BaiBuilder(n_ref).build()
    )
    baimod.write_bai(path + ".bai", merged)
