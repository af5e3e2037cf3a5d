"""Driver-side partition planning shared by the binary/text sources.

Every format exposes one ``scan_<fmt>(path, ...) -> Scan``: the header,
the output schema, a zero-argument ``plan()`` returning the
``(key, start, end)`` rows and a ``decode(key, start, end)`` yielding
column mappings (a dict of lists or Arrow arrays, or a pandas frame from
the SAM kernel). ``read_<fmt>`` turns it into a DataFrame with ``Scan.frame``;
``spark.read.format(<fmt>)`` (sources/datasource.py) serves the same
scan through the Python DataSource API. Both hand each mapping to Spark
as one ``pyarrow.RecordBatch`` built by ``to_batch``.

The reference plans splits with Spark jobs over ``PathSplit``/``BgzfBlock``
RDDs (PathSplitSource.java:68-113, BgzfBlockSource.java:59-74). We plan
driver-side (pure metadata: file lengths + optional indexes) and decode
through ``plan_frame``: ``spark.range(n)`` in n partitions, so partition
i is plan row i, mapped by one ``mapInArrow`` worker per task. The plan
itself rides in the UDF closure as three numpy columns (key index,
start, end) plus the distinct keys — no plan DataFrame and no
PythonRDD in front of the decode, so each task runs one Python worker,
not two.

At 100 TB the plan is ~#files x (size/split) rows. At 10^6 chunks the
pickled closure is 20 B per chunk (int32 key index + two int64 offsets)
plus the distinct paths — ~20 MB, broadcast once by pyspark and
unpickled in ~16 ms per task; decode parallelism then scales with the
cluster, not the driver.
"""

from __future__ import annotations

from disq_spark import fs as _dfs

import glob
import os
from dataclasses import dataclass, replace
from typing import Any, Callable, Iterable, Mapping, NamedTuple, Sequence

import numpy as np

DEFAULT_SPLIT_SIZE = 128 * 1024 * 1024  # PathSplitSource.java:47 default


class PathRange(NamedTuple):
    path: str
    start: int
    end: int


@dataclass(frozen=True)
class Scan:
    """One format's read path. ``plan()`` runs on the driver (index reads
    and arithmetic, no Spark job); ``decode`` runs in the tasks and
    yields column mappings holding every field of ``schema`` (a
    ``StructType``) or Arrow batches already in its schema. Building a
    Scan reads headers only, so it is cheap to pickle: the plan is never
    held by the Scan."""

    schema: Any
    header: Any
    decode: Callable[[str, int, int], Iterable[Mapping]]
    plan: Callable[[], list[tuple[str, int, int]]]
    # ``sample_keys(count) -> (contigs, starts)`` of about ``count`` records
    # spread over the input, read from an index on the driver; None when
    # the scan has no such index (operators/genomics.py::coordinate_sort)
    sample_keys: Callable[[int], tuple[list, list]] | None = None

    def filtered(self, keep: Callable) -> "Scan":
        """This scan with a residual row filter in its decode: each
        mapping goes to Arrow (``to_batch``) and keeps the rows of
        ``keep(batch) -> mask``; empty batches are dropped."""
        schema, decode = arrow_schema(self.schema), self.decode

        def kept(key: str, start: int, end: int):
            for cols in decode(key, start, end):
                batch = to_batch(cols, schema)
                batch = batch.filter(keep(batch))
                if batch.num_rows:
                    yield batch

        return replace(self, decode=kept)

    def frame(self, spark):
        """The scan's DataFrame, carrying the scan as ``_disq_scan`` so an
        operator can re-plan it (``coordinate_sort`` adds its sort keys to
        the decode); any transformation of the frame drops it."""
        df = plan_frame(spark, self.plan(), self.decode, self.schema)
        df._disq_scan = self
        return df


def resolve_paths(path: str, extensions: tuple[str, ...]) -> list[str]:
    """A path may be one file, a glob, or a (non-recursive) directory of
    same-format files (README.md:85-95). Hidden/_ files are skipped
    (HiddenFileFilter.java:26-37 semantics). Sorted lexicographically
    (HadoopFileSystemWrapper.java:122-139)."""
    if _dfs.isdir(path):
        names = [
            p
            for p in _dfs.listdir(path)
            if not os.path.basename(p).startswith((".", "_")) and p.endswith(extensions)
        ]
        if not names:
            raise FileNotFoundError(f"no {extensions} files in directory {path}")
        return sorted(names)
    if any(ch in path for ch in "*?["):
        from disq_spark.fs import split_scheme

        if split_scheme(path)[0] in ("", "file"):
            names = [
                p for p in glob.glob(path) if not os.path.basename(p).startswith((".", "_"))
            ]
            return sorted(names)
        # non-local scheme: list the parent through the fs registry and
        # fnmatch the basename (one-level globs — the common segment
        # pattern; deep ** globs need backend-native listing)
        import fnmatch

        parent, pattern = path.rsplit("/", 1)
        names = [
            p
            for p in _dfs.listdir(parent)
            if fnmatch.fnmatch(os.path.basename(p), pattern)
            and not os.path.basename(p).startswith((".", "_"))
        ]
        return sorted(names)
    return [path]


def plan_ranges(paths: list[str], split_size: int = DEFAULT_SPLIT_SIZE) -> list[PathRange]:
    out = []
    for p in paths:
        size = _dfs.getsize(p)
        if size == 0:
            continue
        start = 0
        while start < size:
            out.append(PathRange(p, start, min(start + split_size, size)))
            start += split_size
    return out


def read_lines(path: str, start: int, end: int) -> list[str]:
    """Lines of a plain text file whose first byte lies in ``[start, end)``
    (Hadoop text-split ownership), read with one seek+read extended to
    the next newline, split by ``split_lines``."""
    lo = max(start - 1, 0)
    with _dfs.open_input(path) as f:
        f.seek(lo)
        data = f.read(end - lo)
        # finish the line holding byte end-1: it starts in this split
        while data and not data.endswith(b"\n"):
            more = f.read(1 << 16)
            if not more:
                break
            nl = more.find(b"\n")
            data += more if nl < 0 else more[: nl + 1]
    if start > 0:
        # the line holding byte start-1 belongs to the previous split
        data = data.partition(b"\n")[2]
    return split_lines(data)


def split_lines(data) -> list[str]:
    """The one line rule of every text read, whatever the compression:
    split UTF-8 ``data`` on ``\\n`` only (not on the other separators
    ``str.splitlines`` knows) and strip one trailing ``\\r``, as
    ``spark.read.text`` does; a final newline ends the last line."""
    lines = data.decode("utf-8").split("\n")
    if lines[-1] == "":
        lines.pop()
    return [ln[:-1] if ln.endswith("\r") else ln for ln in lines]


def arrow_schema(schema):
    """The Arrow schema of a Spark ``StructType``, as pyspark's Arrow
    exchanges spell it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


def to_batch(cols: Mapping, schema):
    """The one hand-off of decoded columns to Arrow: ``cols`` (a dict of
    lists, numpy or ``pyarrow.Array`` columns, or a pandas frame) as a
    ``RecordBatch`` in the Arrow ``schema``, one ``pa.array`` per field;
    an Arrow column of the field's type passes through unchanged.
    ``from_pandas`` keeps the null rules of pyspark's pandas converter: a
    NaN bound for a long or double column is null, a ``None`` map is null
    and ``{}`` an empty map."""
    import pyarrow as pa

    if isinstance(cols, pa.RecordBatch):
        return cols

    def column(f):
        c = cols[f.name]
        if isinstance(c, pa.Array) and c.type == f.type:
            return c
        return pa.array(c, type=f.type, from_pandas=True)

    return pa.RecordBatch.from_arrays([column(f) for f in schema], schema=schema)


def plan_frame(
    spark,
    plan: Sequence[tuple[str, int, int]],
    fn: Callable[[str, int, int], Iterable[Mapping]],
    schema,
):
    """DataFrame of ``fn(key, start, end)`` over every ``plan`` row, one
    partition per row in plan order — the file-order guarantee
    single-file sinks rely on (README.md:152-156); a repartition would
    round-robin arbitrarily. ``key`` is usually a path (a contig name
    for FASTA windows); ``fn`` runs on the executor and yields column
    mappings holding every field of ``schema`` (a ``StructType`` or a
    DDL string), which is turned into an Arrow schema once, here."""
    if isinstance(schema, str):
        from pyspark.sql.types import DataType

        schema = DataType.fromDDL(schema)
    if not plan:
        return spark.createDataFrame([], schema)
    n = len(plan)
    return spark.range(0, n, 1, n).mapInArrow(_plan_runner(plan, fn, arrow_schema(schema)), schema)


def _plan_runner(plan, fn, schema):
    """The ``mapInArrow`` function ``plan_frame`` ships: maps each
    ``spark.range`` id to its plan row and each mapping ``fn`` yields
    to a batch in the Arrow ``schema``. The plan is held as numpy
    columns plus the distinct keys, never as a list of tuples — at 10^6
    rows both pickle to ~20 MB, but the tuple list takes ~0.37 s to load
    in every task against ~0.016 s for the columns (one core of a 4-core
    x86 host)."""
    n = len(plan)
    keys = list(dict.fromkeys(k for k, _s, _e in plan))
    slot = {k: i for i, k in enumerate(keys)}
    key_ix = np.fromiter((slot[k] for k, _s, _e in plan), dtype=np.int32, count=n)
    starts = np.fromiter((s for _k, s, _e in plan), dtype=np.int64, count=n)
    ends = np.fromiter((e for _k, _s, e in plan), dtype=np.int64, count=n)

    def run(batches):
        for batch in batches:
            for i in batch.column("id").to_numpy():
                for cols in fn(keys[key_ix[i]], int(starts[i]), int(ends[i])):
                    yield to_batch(cols, schema)

    return run
