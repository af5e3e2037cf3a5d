"""Replay of the scan hand-off alone: decoded columns -> Arrow batch.

    python plans/pr12/handoff_replay.py [--seed 1] [--repeat 7]

Run from a checkout that has ``sources/plan.py::to_batch``. Builds the
perfbench inputs in a temporary directory (``perfbench/gen.py``, as the
workloads do): the ``bam_read`` BAM (``make_reads(seed, 10_000)``,
coordinate-sorted, planned in 700 KiB chunks) and the ``write_roundtrip``
VCF (``make_variants(seed, 4_000)``, BGZF, planned in 32 KiB splits).
Every chunk is decoded once, untimed. Then, on one core, it times:

- ``old``: the pandas hand-off ``spark.read.format`` used before
  ``to_batch``: a ``pd.DataFrame`` around the BAM decoder's column dict
  (the VCF kernel already returns a frame), then pyspark's private
  ``_create_converter_from_pandas`` per field and
  ``pa.Array.from_pandas`` with a null mask, copied here as it was in
  ``sources/datasource.py::_arrow_batches``;
- ``new``: ``to_batch(cols, arrow_schema(schema))``.

Prints one line per input: the median over ``--repeat`` passes of the
summed seconds over all chunks for each side, and whether every pair of
batches is ``RecordBatch.equals``.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time


def old_handoff(frame, schema):
    import pyarrow as pa
    from pyspark.sql.pandas.types import _create_converter_from_pandas, to_arrow_schema

    arrow = to_arrow_schema(schema)
    convert = [
        (f.name, _create_converter_from_pandas(f.dataType, error_on_duplicated_field_names=False))
        for f in schema.fields
    ]
    cols = [conv(frame[name]) for name, conv in convert]
    return pa.RecordBatch.from_arrays(
        [pa.Array.from_pandas(c, mask=c.isnull(), type=t.type) for c, t in zip(cols, arrow)],
        schema=arrow,
    )


def replay(name, chunks, schema, as_frame, repeat):
    from disq_spark.sources.plan import arrow_schema, to_batch

    arrow = arrow_schema(schema)
    walls = {"old": [], "new": []}
    same = True
    for _ in range(repeat):
        for side in ("old", "new"):
            t0 = time.perf_counter()
            if side == "old":
                out = [old_handoff(as_frame(c), schema) for c in chunks]
            else:
                out = [to_batch(c, arrow) for c in chunks]
            walls[side].append(time.perf_counter() - t0)
            if side == "old":
                old = out
            else:
                same = same and all(a.equals(b) for a, b in zip(old, out))
    rows = sum(b.num_rows for b in out)
    print(
        f"{name}\trows={rows}\tchunks={len(chunks)}\told_s={statistics.median(walls['old']):.3f}"
        f"\tnew_s={statistics.median(walls['new']):.3f}\tequal={same}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=7)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    import pandas as pd

    from disq_spark.schemas import READS_COLUMNS
    from disq_spark.sources.bam_source import scan_bam
    from disq_spark.sources.variants import scan_vcf
    from perfbench import gen

    with tempfile.TemporaryDirectory() as tmp:
        bam = os.path.join(tmp, "reads.bam")
        gen.write_bam_file(bam, gen.make_reads(args.seed, 10_000), "coordinate")
        vcf = os.path.join(tmp, "calls.vcf.bgz")
        gen.write_vcf_file(vcf, gen.make_variants(args.seed, 4_000))
        for name, scan, as_frame in (
            ("bam_read BAM", scan_bam(bam, 700 * 1024), lambda c: pd.DataFrame(c, columns=READS_COLUMNS)),
            ("write_roundtrip VCF", scan_vcf(vcf, 32 * 1024), lambda c: c),
        ):
            chunks = [c for row in scan.plan() for c in scan.decode(*row)]
            replay(name, chunks, scan.schema, as_frame, args.repeat)


if __name__ == "__main__":
    main()
