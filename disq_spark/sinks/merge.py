"""The one write path every sink shares: part staging, the single-file
commit and the sharded writer.

The reference's move (Merger.java:41-63 + HadoopFileSystemWrapper
.concat:142-168): write headerless/terminatorless parts in parallel,
then concatenate header + parts + terminator in filename order. A format
contributes only what is its own — a ``Layout`` (header bytes,
terminator, shard extension, cross-part order rule, index mergers) and a
part encoder ``body(batches, out) -> (n, sidecars)`` that writes records
to ``out`` and returns the record count plus a callable that writes the
part's hidden index fragment and ``.order`` sidecar (or None).

- ``stage_part``: the one task body. Writes to ``<part>.tmp``, renames
  the part only when it holds records, then writes its sidecars.
- ``commit_single``: the one single-file commit. Check cross-part order,
  clear the old target, header, concat, terminator, index merges; a
  failure removes only what this call created, and the parts directory
  goes either way.
- ``commit_indexes``: the one index commit inside it — the order check,
  then the ``Layout.indexes`` merges with each part's shift.
- ``build_index``: the same index path for an existing file
  (``build_sbi``/``build_bai``/``build_tbi``). Each planned chunk runs
  the format's part indexer and stages its fragments like a written
  part; its virtual offsets are already absolute, so the commit shifts
  by 0.
- ``write_single`` / ``write_sharded``: one ``mapInArrow(...).collect()``
  job each. Sharded output publishes ``part-{pid:05d}{ext}`` = header +
  body + terminator per partition.

A part encoder takes the partition's ``pyarrow.RecordBatch``es as Spark
hands them over (``mapInArrow`` here, ``DataSourceArrowWriter`` for
``df.write.format``): no pandas conversion sits between the shuffle and
the encoder. Row-at-a-time encoders take their rows from ``batch_rows``.

Concat strategy is dispatched per filesystem:

- HDFS-family schemes: rename the first part onto the target, then one
  driver-side ``FileSystem.concat`` py4j call — O(#parts) metadata-only,
  no bytes move. This is what keeps single-file output viable at 100 TB.
- everything else (local, object stores, memory): stream copy at disk
  bandwidth — the reference's own fallback path. Object stores could
  plug multipart-upload compose into fs.register().

All byte/metadata I/O goes through disq_spark.fs, so parts directories
on any registered scheme work.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable, Iterator

from disq_spark import fs as _dfs

# schemes whose Hadoop FileSystem implements concat() (metadata-only)
HADOOP_CONCAT_SCHEMES = ("hdfs", "webhdfs", "viewfs")

PART_SCHEMA = "part string, n long"


@dataclass(frozen=True)
class Layout:
    """What a format adds to the shared write path.

    ``check_order(parts_dir, parts)`` raises on parts whose concatenation
    would break the index's coordinate order. Each ``indexes`` entry is
    ``(ext, merge)``: ``merge(path, fragments, lengths)`` writes
    ``path + ext`` from the parts' ``ext`` fragments, where ``lengths``
    are the concatenated byte lengths (header first), all 0 when the
    parts are chunks of an existing ``path``. ``stale`` names the index
    sidecars an overwrite clears (every ``indexes`` ext among them)."""

    header: bytes = b""
    terminator: bytes = b""
    ext: str = ""
    stale: tuple[str, ...] = ()
    check_order: Callable[[str, list[str]], None] | None = None
    indexes: tuple[tuple[str, Callable], ...] = ()


def attempt_part_path(parts_dir: str, prefix: str = "part", suffix: str = "") -> str:
    """Attempt-unique staging name: ``{prefix}-{pid:010d}-{uuid8}{suffix}``.

    The uuid suffix is the retry/speculation guard (the Hadoop
    OutputCommitter guarantee the reference gets from
    saveAsNewAPIHadoopFile, BamSink.java:82-94): two live attempts of one
    task stage to DIFFERENT paths, so neither can interleave the other's
    writes. The pid is padded to 10 digits, the width of the largest
    Spark partition id (a Java int), so lexicographic sort == partition
    order for every job, and the driver can finalize from the sorted
    collected names (``write_single``, ``build_index`` and the DataSource
    writer all do).
    """
    import uuid

    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    return os.path.join(parts_dir, f"{prefix}-{pid:010d}-{uuid.uuid4().hex[:8]}{suffix}")


def fragment(part: str, ext: str) -> str:
    """The hidden per-part file ``.{part}{ext}`` next to ``part``."""
    return os.path.join(os.path.dirname(part), f".{os.path.basename(part)}{ext}")


def stage_part(part: str, write, head: bytes = b"", tail: bytes = b"", publish: str | None = None):
    """The one task body: ``head``, ``write(out) -> (n, sidecars)`` and
    ``tail`` go to ``<part>.tmp``. With ``publish`` (a shard), the file
    is renamed onto it whatever ``n`` is. Otherwise the part is renamed
    into place only when it holds records, its ``sidecars(part)`` are
    written, and an empty one is dropped. Returns ``(part, n)``; the part
    is "" when dropped."""
    tmp = part + ".tmp"
    with _dfs.open_output(tmp) as out:
        out.write(head)
        n, sidecars = write(out)
        out.write(tail)
    if publish is not None:
        _dfs.rename(tmp, publish)
        return publish, n
    if n == 0:
        _dfs.remove(tmp)
        return "", 0
    _dfs.rename(tmp, part)
    if sidecars is not None:
        sidecars(part)
    return part, n


def collected_parts(rows) -> list[str]:
    """Finalize-set from the rows ``mapInArrow(...).collect()`` returned:
    only the attempts the scheduler reported as successful, only non-empty
    parts, in partition order. Never a directory listing — a listing would
    include losing speculative attempts and stale impostors."""
    return sorted(r.part for r in rows if r.n > 0 and r.part)


def list_parts(parts_dir: str) -> list[str]:
    paths = [
        p
        for p in _dfs.listdir(parts_dir)
        if not os.path.basename(p).startswith((".", "_")) and _dfs.getsize(p) > 0
    ]
    return sorted(paths)


def part_batch(part: str, n: int):
    """The one ``PART_SCHEMA`` row a write task returns, as Arrow."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array([part], pa.string()), pa.array([n], pa.int64())], names=["part", "n"]
    )


def batch_rows(batches) -> Iterator[dict]:
    """One dict per row of each Arrow batch, as pyspark's pandas
    converter gives them: nulls as None and a map column as a dict (built
    from the map's flat keys and items — ``MapArray.to_pylist`` is about
    10x slower, and gives pairs). The row encoders (BAM, CRAM, SAM,
    FASTQ) all read their batches through it."""
    import pyarrow as pa

    for batch in batches:
        if not batch.num_rows:
            continue
        cols = []
        for col in batch.columns:
            if pa.types.is_map(col.type):
                keys, items = _pylist(col.keys), _pylist(col.items)
                offs = col.offsets.to_numpy().tolist()
                maps = [dict(zip(keys[a:b], items[a:b])) for a, b in zip(offs, offs[1:])]
                for i in _null_rows(col):
                    maps[i] = None
                cols.append(maps)
            else:
                cols.append(_pylist(col))
        names = batch.schema.names
        for values in zip(*cols):
            yield dict(zip(names, values))


def _null_rows(col) -> list[int]:
    import numpy as np
    import pyarrow.compute as pc

    return np.flatnonzero(pc.is_null(col).to_numpy(zero_copy_only=False)).tolist() if col.null_count else []


def _pylist(col) -> list:
    """``col.to_pylist()``, through numpy for strings, binaries and
    numbers (about 3x faster): nulls as None, ints as int."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = col.type
    if pa.types.is_string(t) or pa.types.is_binary(t):
        return col.to_numpy(zero_copy_only=False).tolist()
    if not (pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_boolean(t)):
        return col.to_pylist()
    out = pc.fill_null(col, False if pa.types.is_boolean(t) else 0).to_numpy(zero_copy_only=False).tolist()
    for i in _null_rows(col):
        out[i] = None
    return out


def write_single(df, path: str, body, commit) -> None:
    """Single-file write: one ``mapInArrow`` job stages each partition's
    part under ``<path>.parts``, then ``commit(parts_dir, parts)`` runs on
    the driver. A failed job removes the parts directory and leaves any
    existing target alone."""
    parts_dir = path + ".parts"
    _dfs.makedirs(parts_dir)

    def task(batches):
        part, n = stage_part(attempt_part_path(parts_dir), lambda out: body(batches, out))
        yield part_batch(part, n)

    try:
        rows = df.mapInArrow(task, PART_SCHEMA).collect()
    except BaseException:
        cleanup(parts_dir)
        raise
    commit(parts_dir, collected_parts(rows))


def commit_single(path: str, parts_dir: str, parts: list[str], layout: Layout) -> None:
    """The one single-file commit: ``commit_indexes`` around the data
    write — clear the old target and its stale sidecars, header, concat
    in part order, terminator — then cleanup.

    The order check runs before any target byte is written, and a failure
    removes ONLY the outputs this call created — a rejected overwrite
    leaves the pre-existing target and its indexes untouched."""
    created: list[str] = []

    def write_data() -> list[int]:
        prepare_overwrite(path, layout.stale)
        header_path = os.path.join(parts_dir, "_header")
        with _dfs.open_output(header_path) as f:
            f.write(layout.header)
        created.extend([path] + [path + ext for ext, _merge in layout.indexes])
        lengths = concat_parts(path, [header_path] + parts)
        if layout.terminator:
            with _dfs.open_append(path) as f:
                f.write(layout.terminator)
        return lengths

    try:
        commit_indexes(path, parts_dir, parts, layout, write_data)
    except BaseException:
        for leftover in created:
            if _dfs.exists(leftover):
                _dfs.remove(leftover)
        raise
    finally:
        cleanup(parts_dir)


def commit_indexes(path: str, parts_dir: str, parts: list[str], layout: Layout, write_data) -> None:
    """The one index commit: the layout's cross-part order check, then
    ``write_data() -> lengths`` (header first, one per part), then each
    ``layout.indexes`` merge of the parts' fragments shifted by those
    lengths."""
    if layout.check_order is not None:
        layout.check_order(parts_dir, parts)
    lengths = write_data()
    for ext, merge_index in layout.indexes:
        merge_index(path, [fragment(p, ext) for p in parts], lengths)


def build_index(spark, path: str, ext: str, plan, index_chunk, layout: Layout) -> str:
    """Index an existing file as if its planned chunks were written parts:
    one ``plan_frame(...).collect()`` job runs ``index_chunk(key, start,
    end) -> (n, sidecars)`` per chunk — the format's part indexer over the
    chunk's records — and stages the sidecars under ``<path><ext>.parts``
    with ``attempt_part_path`` names; the collected rows (never a
    directory listing) go through ``commit_indexes``. Returns
    ``path + ext``."""
    from disq_spark.sources.plan import plan_frame

    parts_dir = path + ext + ".parts"
    _dfs.makedirs(parts_dir)

    def task(key: str, start: int, end: int):
        part = attempt_part_path(parts_dir)
        n, sidecars = index_chunk(key, start, end)
        if n:
            sidecars(part)
        yield {"part": [part if n else ""], "n": [n]}

    try:
        rows = plan_frame(spark, plan, task, PART_SCHEMA).collect()
        parts = collected_parts(rows)
        # chunks of ``path`` itself: virtual offsets are already absolute
        commit_indexes(path, parts_dir, parts, layout, lambda: [0] * (len(parts) + 1))
    finally:
        cleanup(parts_dir)
    return path + ext


def write_sharded(df, path: str, body, layout: Layout) -> None:
    """Directory output: each partition publishes ``part-{pid:05d}{ext}``
    = header + body + terminator, even when it holds no records. The old
    output is deleted first. Attempts stage to unique names and publish
    by rename, so the last of two speculative attempts wins with
    identical content."""
    prepare_overwrite(path, layout.stale)
    _dfs.makedirs(path)

    def task(batches):
        from pyspark import TaskContext

        shard = os.path.join(path, f"part-{TaskContext.get().partitionId():05d}{layout.ext}")
        part, n = stage_part(
            attempt_part_path(path, suffix=layout.ext),
            lambda out: body(batches, out),
            layout.header,
            layout.terminator,
            publish=shard,
        )
        yield part_batch(part, n)

    df.mapInArrow(task, PART_SCHEMA).collect()


def _hadoop_concat(dst: str, srcs: list[str]) -> list[int] | None:
    """O(#parts) commit on concat-capable filesystems: lengths are
    captured first (concat consumes the sources), srcs[0] is renamed to
    dst, and the rest append via one FileSystem.concat RPC
    (HadoopFileSystemWrapper.java:142-168). Returns None -> caller falls
    back to the serial copy (also the reference's fallback)."""
    scheme = _dfs.split_scheme(dst)[0]
    if scheme not in HADOOP_CONCAT_SCHEMES and not os.environ.get(
        "DISQ_SPARK_FORCE_HADOOP_CONCAT"
    ):
        return None
    try:
        lengths = [_dfs.getsize(s) for s in srcs]
        rest = _dfs.try_hadoop_concat(dst, srcs)
        return lengths if rest is not None else None
    except Exception:
        return None


def concat_parts(dst: str, srcs: list[str], buf_size: int = 8 * 1024 * 1024) -> list[int]:
    """Concatenate ``srcs`` into ``dst`` in order; returns part lengths
    (needed by the index mergers for virtual-offset shifting)."""
    lengths = _hadoop_concat(dst, srcs)
    if lengths is not None:
        return lengths
    lengths = []
    with _dfs.open_output(dst) as out:
        for src in srcs:
            lengths.append(_dfs.getsize(src))
            with _dfs.open_input(src) as f:
                shutil.copyfileobj(f, out, buf_size)
    return lengths


def cleanup(parts_dir: str) -> None:
    _dfs.rmtree(parts_dir)


def prepare_overwrite(path: str, index_exts: tuple[str, ...] = ()) -> None:
    """Delete a pre-existing output (file or shard directory) and any
    stale index sidecars (AnySamSinkMultiple.java:74-78 semantics). Stale
    sidecars are the dangerous case: a leftover .sbi/.bai next to a
    rewritten file silently mis-plans every later read."""
    if _dfs.isdir(path):
        _dfs.rmtree(path)
    elif _dfs.exists(path):
        _dfs.remove(path)
    for ext in index_exts:
        if _dfs.exists(path + ext):
            _dfs.remove(path + ext)


def write_order_sidecar(parts_dir: str, part_base: str, meta: dict) -> None:
    """Persist per-part ordering metadata (first/last coordinate keys,
    contig sequence, unplaced flag) next to the part's hidden index
    fragment, for the driver-side cross-part order validation."""
    import json

    with _dfs.open_output(os.path.join(parts_dir, f".{part_base}.order")) as f:
        f.write(json.dumps(meta).encode("utf-8"))


def read_order_sidecar(parts_dir: str, part_base: str) -> dict | None:
    """Counterpart of write_order_sidecar; None when absent (older
    fragments carry nothing to prove)."""
    import json

    path = os.path.join(parts_dir, f".{part_base}.order")
    if not _dfs.exists(path):
        return None
    with _dfs.open_input(path) as f:
        return json.loads(f.read().decode("utf-8"))
