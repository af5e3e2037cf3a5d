"""Single-core replay of the write-path and VCF-parse kernels this change
replaced, old against new, on the perfbench inputs (no Spark session).

    python plans/pr16/codec_replay.py REPO

- ``reads_rows``: one 2,520-read Arrow batch (``gen.make_reads(7, 1248)``)
  to the row dicts the BAM/CRAM/SAM/FASTQ encoders take: pyspark's
  Arrow-to-pandas converter plus ``to_dict("records")`` (what a
  ``mapInPandas`` sink body paid) against ``sinks/merge.py::batch_rows``;
- ``vcf_format``: one 1,436-site Arrow batch (``gen.make_variants(7,
  4000)``, rows 100-1535) to VCF lines: the converter plus
  ``format_vcf_batch`` against ``format_vcf_arrow``;
- ``vcf_parse``: the same sites' 1,436 lines to an Arrow batch:
  ``parse_vcf_lines`` plus ``to_batch`` against ``parse_vcf_arrow``.

Prints one JSON line per kernel: median milliseconds of 20 calls each,
and whether both sides produced the same rows, lines or batch.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time


def _ms(fn, repeats: int = 20) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return round(1000 * statistics.median(times), 2)


def main() -> None:
    repo = os.path.abspath(sys.argv[1])
    sys.path.insert(0, repo)
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer

    from disq_spark.formats.vcf import (
        format_vcf_arrow,
        format_vcf_batch,
        parse_vcf_arrow,
        parse_vcf_lines,
    )
    from disq_spark.schemas import READS_SCHEMA, VARIANTS_SCHEMA
    from disq_spark.sinks.merge import batch_rows
    from disq_spark.sources.plan import arrow_schema, to_batch
    from perfbench import gen

    ser = ArrowStreamPandasSerializer("UTC", True, False)

    def to_pandas(batch, spark_schema):
        """A batch as a ``mapInPandas`` body receives it."""
        series = [
            ser.arrow_to_pandas(c, i, struct_in_pandas="dict", ndarray_as_list=False,
                                spark_type=f.dataType)
            for i, (c, f) in enumerate(zip(batch.columns, spark_schema.fields))
        ]
        pdf = pd.concat(series, axis=1)
        pdf.columns = spark_schema.fieldNames()
        return pdf

    cols = gen.make_reads(7, 1248)
    rschema = arrow_schema(READS_SCHEMA)
    reads = pa.RecordBatch.from_arrays([pa.array(cols[f.name], type=f.type) for f in rschema],
                                       schema=rschema)

    def nan_none(row):
        return {k: None if isinstance(v, float) and math.isnan(v) else v for k, v in row.items()}

    old_rows = [nan_none(r) for r in to_pandas(reads, READS_SCHEMA).to_dict("records")]
    print(json.dumps({
        "kernel": "reads_rows", "rows": reads.num_rows,
        "old_ms": _ms(lambda: to_pandas(reads, READS_SCHEMA).to_dict("records")),
        "new_ms": _ms(lambda: list(batch_rows([reads]))),
        "same": old_rows == list(batch_rows([reads])),
    }), flush=True)

    vschema = arrow_schema(VARIANTS_SCHEMA)
    frame = gen.make_variants(7, 4000).iloc[100:1536]
    sites = pa.RecordBatch.from_pandas(frame, schema=vschema, preserve_index=False)
    samples = gen.SAMPLES
    lines = format_vcf_arrow(sites, samples)
    print(json.dumps({
        "kernel": "vcf_format", "rows": sites.num_rows,
        "old_ms": _ms(lambda: format_vcf_batch(to_pandas(sites, VARIANTS_SCHEMA), samples)),
        "new_ms": _ms(lambda: format_vcf_arrow(sites, samples)),
        "same": list(format_vcf_batch(to_pandas(sites, VARIANTS_SCHEMA), samples)) == lines,
    }), flush=True)

    series = pd.Series(lines, dtype="object")
    print(json.dumps({
        "kernel": "vcf_parse", "rows": len(lines),
        "old_ms": _ms(lambda: to_batch(parse_vcf_lines(series, samples), vschema)),
        "new_ms": _ms(lambda: parse_vcf_arrow(lines, samples)),
        "same": to_batch(parse_vcf_lines(series, samples), vschema).equals(
            parse_vcf_arrow(lines, samples)),
    }), flush=True)


if __name__ == "__main__":
    main()
