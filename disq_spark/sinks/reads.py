"""SAM sink: single-file text (SamSink.java:53-74 pattern) and sharded, on
the shared write path (sinks/merge.py). What is SAM's own: the header
text and the part encoder (one text line per record). SAM needs no
terminator and has no index.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from disq_spark.formats.sam import format_sam_batch
from disq_spark.headers import SamHeader
from disq_spark.sinks import merge


def write_sam(
    df: DataFrame, header: SamHeader, path: str, single_file: bool | None = None
) -> None:
    if single_file is None:
        single_file = path.endswith(".sam")
    layout = merge.Layout(header=header.text.encode("utf-8"), ext=".sam")
    if single_file:
        merge.write_single(df, path, _encode, partial(merge.commit_single, path, layout=layout))
    else:
        merge.write_sharded(df, path, _encode, layout)


def _encode(batches, out):
    """The SAM part encoder: text lines to ``out``, one ``format_sam_batch``
    frame per Arrow batch; no sidecars."""
    import pandas as pd

    n = 0
    for batch in batches:
        if batch.num_rows:
            pdf = pd.DataFrame(list(merge.batch_rows([batch])), columns=batch.schema.names)
            out.write("".join(line + "\n" for line in format_sam_batch(pdf)).encode("utf-8"))
            n += batch.num_rows
    return n, None
