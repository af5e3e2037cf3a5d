"""Parquet table loaders for the synthetic star schema (TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# DataFrame (logical plan) memo — NOT result caching: no rows are
# stored, the scan re-reads parquet on every action. What it avoids is
# re-running schema inference (one ~25 ms footer-read job per
# spark.read.parquet call) and re-analyzing the scan node for every
# query build — a 6-table query paid 6 footer jobs per invocation, and
# the bench invokes every query three times. Keyed like llm._max_df:
# (application id, path identity) where a REGULAR file's (mtime_ns, size) is
# part of the key, so a corpus rewritten at the same path gets a fresh
# scan (a directory-shaped table — whose dir stat does not change when
# part files are rewritten in place — is never memoized). The
# application id, unlike id() of the py4j session wrapper, cannot be
# reused by a later session after GC.
_DF_CACHE: dict[tuple, DataFrame] = {}


def _table_key(spark: SparkSession, sf_dir: str, name: str):
    import os
    import stat

    try:
        st = os.stat(f"{sf_dir.rstrip('/')}/{name}.parquet")
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (spark.sparkContext.applicationId, sf_dir, name, st.st_mtime_ns, st.st_size)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(name)
    key = _table_key(spark, sf_dir, name)
    if key is not None and key in _DF_CACHE:
        return _DF_CACHE[key]
    df = _load_uncached(spark, sf_dir, name)
    if key is not None:
        _DF_CACHE[key] = df
    return df


# row-count memo with the same invalidation discipline: several gate
# BUILDS need the corpus cardinality (scale_n_bits / scale_k / sample
# rates), which is a full-scan action per invocation unless memoized.
_COUNT_CACHE: dict[tuple, int] = {}


def table_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    key = _table_key(spark, sf_dir, name)
    n = _COUNT_CACHE.get(key) if key is not None else None
    if n is None:
        n = load(spark, sf_dir, name).count()
        if key is not None:
            _COUNT_CACHE[key] = n
    return n


def _load_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
        # drops and TIMESTAMP(MICROS) in others. Spark cannot read NANOS
        # natively: read nanos as long and floor-convert to microseconds
        # (integer `div`, never double division — 1.7e18 ns overflows a
        # double mantissa). MICROS arrives as a timestamp type already.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        t = df.schema["ts"].dataType
        if isinstance(t, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(t, TimestampNTZType):
            # MICROS without isAdjustedToUTC infers as TIMESTAMP_NTZ, which
            # watermarks and unix_* reject; session tz is UTC so this cast
            # is an identity on instants.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
