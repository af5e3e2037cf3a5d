"""SAM flag-derived boolean predicates (SURVEY.md §1.2 derived columns).

Each returns a Column; use ``with_flag_columns`` to materialize all of
them (e.g. before writing to parquet for the 100 TB analytic form).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from disq_spark import schemas as S

_FLAG_FIELDS = {
    "is_paired": S.FLAG_PAIRED,
    "is_proper_pair": S.FLAG_PROPER_PAIR,
    "is_unmapped": S.FLAG_UNMAPPED,
    "is_mate_unmapped": S.FLAG_MATE_UNMAPPED,
    "is_reverse": S.FLAG_REVERSE,
    "is_mate_reverse": S.FLAG_MATE_REVERSE,
    "is_first_of_pair": S.FLAG_FIRST_OF_PAIR,
    "is_second_of_pair": S.FLAG_SECOND_OF_PAIR,
    "is_secondary": S.FLAG_SECONDARY,
    "is_fail_qc": S.FLAG_FAIL_QC,
    "is_duplicate": S.FLAG_DUPLICATE,
    "is_supplementary": S.FLAG_SUPPLEMENTARY,
}


def with_flag_columns(df: DataFrame, flags_col: str = "flags") -> DataFrame:
    for name, bit in _FLAG_FIELDS.items():
        df = df.withColumn(name, F.col(flags_col).bitwiseAND(bit) != 0)
    return df


def parse_tags(df: DataFrame, tags_col: str = "tags") -> DataFrame:
    """Decode a raw-tags reads DataFrame (``read_bam(tags="raw")``) back
    to the standard map form: ``tags`` becomes map<tag, "TYPE:value">
    and ``read_group`` fills from the RG tag.

    This is the deferred half of the lazy-tags scan: the scan ships the
    undecoded aux byte span (near-zero cost), and only queries that
    actually inspect tags pay the parse — batched per Arrow chunk here,
    never row-at-a-time Python in the Spark row path."""
    import pandas as pd  # noqa: F401 — resolves the UDF type hints
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from disq_spark.formats.bam import _decode_tags

    def _parse_impl(s: "pd.Series") -> "pd.Series":
        return s.map(
            lambda b: _decode_tags(b, 0, len(b)) or None if b is not None else None
        )

    _parse_impl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _parse = pandas_udf(T.MapType(T.StringType(), T.StringType()))(_parse_impl)

    out = df.withColumn(tags_col, _parse(F.col(tags_col)))
    rg = F.col(tags_col).getItem("RG")
    return out.withColumn(
        "read_group", F.when(rg.isNotNull(), F.substring(rg, 3, 2**24))
    )


def typed_tag(tag: str, type_char: str | None = None):
    """Typed access to a SAM auxiliary tag stored as "T:value" in the
    ``tags`` map (htsjdk getAttribute parity as a Column projection).

    ``type_char=None`` returns the raw value string; 'i' -> long,
    'f' -> double, 'Z'/'A'/'H' -> string, 'B' -> array of doubles.
    """
    from pyspark.sql import functions as F

    raw = F.col("tags").getItem(tag)
    # strip the "T:" prefix positionally — Z values may contain colons
    val = F.substring(raw, 3, 2**24)
    if type_char is None or type_char in ("A", "Z", "H"):
        return val
    if type_char == "i":
        return val.cast("long")
    if type_char == "f":
        return val.cast("double")
    if type_char == "B":
        # "B:c,1,2,3" -> skip subtype, cast elements
        arr = F.split(F.expr(f"substring(tags['{tag}'], 5)"), ",")
        return F.transform(arr, lambda x: x.cast("double"))
    raise ValueError(f"unknown tag type {type_char!r}")
