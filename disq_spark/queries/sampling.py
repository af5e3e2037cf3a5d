"""Gate queries for the deterministic sampling / sharding / packing
operators (operators/sampling.py). All md5-keyed, so every oracle runs
the same generated fragments in DuckDB and must hash-match exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disq_spark.functions import text as TX
from disq_spark.operators import sampling as SP
from disq_spark.queries.llm import _TOKS
from disq_spark.queries.registry import Registry
from disq_spark.queries.tables import load

QUERIES = Registry()
ORACLE = Registry()


_q = QUERIES.register


# ---------------------------------------------------------------------------
# sample_shard_stats — 30% hash sample -> 8 shards -> per-shard stats
# ---------------------------------------------------------------------------

_RATE = 0.3
_N_SHARDS = 8


@_q("sample_shard_stats")
def sample_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible subsetting + layout: the same documents land in the
    same shard on every engine, partitioning, and rerun — the property
    df.sample cannot give. Both steps are scan-time expressions."""
    d = load(spark, sf_dir, "documents")
    s = SP.assign_shards(SP.hash_sample(d, _RATE, "doc_id"), _N_SHARDS, "doc_id")
    return (
        s.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count(F.col("text"))).alias("total_tokens"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("shard")
    )


ORACLE["sample_shard_stats"] = f"""
SELECT CAST({SP.shard_sql("doc_id", _N_SHARDS)} AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM documents
WHERE {SP.uniform_sql("doc_id")} < {_RATE}
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# stratified_sample_stats — per-language rates
# ---------------------------------------------------------------------------

_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1}


@_q("stratified_sample_stats")
def stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    s = SP.stratified_sample(d, _RATES, "lang", "doc_id")
    return s.groupBy("lang").agg(F.count("*").alias("n_docs")).orderBy("lang")


_CASES = " ".join(f"WHEN '{g}' THEN {r!r}" for g, r in sorted(_RATES.items()))

ORACLE["stratified_sample_stats"] = f"""
SELECT lang, count(*) AS n_docs FROM documents
WHERE {SP.uniform_sql("doc_id")} < (CASE lang {_CASES} ELSE 0.0 END)
GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# pack_sequences_stats — concat-then-chop packing, per-shard tape stats
# ---------------------------------------------------------------------------

_BUDGET = 512
_PACK_SHARDS = 8


@_q("pack_sequences_stats")
def pack_sequences_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (the LLM-pretraining concat+chop): documents on
    a per-shard token tape in hash order, cut every 512 tokens. Output:
    tape length, pack count, and mean fill per shard."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", TX.token_count(F.col("text"))
    )
    p = SP.pack_sequences(d, _BUDGET, "toks", "doc_id", n_shards=_PACK_SHARDS)
    return (
        p.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
            (F.max("pack_id") + 1).alias("n_packs"),
            F.round(
                F.sum("toks") / ((F.max("pack_id") + 1) * float(_BUDGET)), 4
            ).alias("fill"),
        )
        .orderBy("shard")
    )


ORACLE["pack_sequences_stats"] = f"""
WITH base AS (
  SELECT doc_id,
         len({_TOKS}) AS toks,
         CAST({SP.shard_sql("doc_id", _PACK_SHARDS)} AS INT) AS shard,
         substring(md5('' || doc_id), 1, 16) AS __ord
  FROM documents
),
packed AS (
  SELECT shard, toks,
         sum(toks) OVER (PARTITION BY shard ORDER BY __ord, doc_id
                         ROWS UNBOUNDED PRECEDING) - toks AS tape_offset
  FROM base
)
SELECT shard, count(*) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST(max(CAST(floor(tape_offset / {_BUDGET}) AS BIGINT)) + 1 AS BIGINT) AS n_packs,
       round(sum(toks) / ((max(CAST(floor(tape_offset / {_BUDGET}) AS BIGINT)) + 1) * {float(_BUDGET)}), 4) AS fill
FROM packed GROUP BY shard ORDER BY shard
"""


# ---------------------------------------------------------------------------
# pack_sequences_bfd_stats — best-fit-decreasing packing (the whole-doc,
# no-cross-attention layout). FULL oracle: sequential greedy placement
# re-expressed as a recursive CTE whose per-shard state is the bin-fill
# LIST, one document placed per recursion step in the kernel's exact
# (tokens DESC, key ASC) order (operators/sampling.py bfd_oracle_ctes);
# invariants (fills <= budget, determinism under repartition) also live
# in tests/test_operators.py.
# ---------------------------------------------------------------------------
_BFD_BUDGET = 128
_BFD_SHARDS = 8


@_q("pack_sequences_bfd_stats")
def pack_sequences_bfd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tokens")
    )
    packed = SP.pack_sequences_bfd(
        d, budget=_BFD_BUDGET, token_col="n_tokens", key="doc_id",
        n_shards=_BFD_SHARDS,
    )
    bins = packed.groupBy("shard", "bin_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.max(F.col("overflow").cast("int")).alias("is_overflow"),
    )
    return (
        bins.groupBy("shard")
        .agg(
            F.count("*").alias("n_bins"),
            F.sum("fill").alias("total_tokens"),
            F.max(F.when(F.col("is_overflow") == 0, F.col("fill"))).alias(
                "max_regular_fill"
            ),
            F.sum("is_overflow").alias("n_overflow_bins"),
            F.round(
                F.sum(F.when(F.col("is_overflow") == 0, F.col("fill")).otherwise(0))
                / (
                    F.sum(F.when(F.col("is_overflow") == 0, 1).otherwise(0))
                    * F.lit(float(_BFD_BUDGET))
                ),
                4,
            ).alias("utilization"),
        )
        .orderBy("shard")
    )


ORACLE["pack_sequences_bfd_stats"] = f"""
WITH RECURSIVE {SP.bfd_oracle_ctes(_BFD_BUDGET, _BFD_SHARDS, f"len({_TOKS})")}
SELECT shard,
       count(*) AS n_bins,
       CAST(sum(fill) AS BIGINT) AS total_tokens,
       max(CASE WHEN fill <= {_BFD_BUDGET} THEN fill END) AS max_regular_fill,
       CAST(sum(CASE WHEN fill > {_BFD_BUDGET} THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_bins,
       round(sum(CASE WHEN fill <= {_BFD_BUDGET} THEN fill ELSE 0 END)
             / (sum(CASE WHEN fill <= {_BFD_BUDGET} THEN 1 ELSE 0 END) * {float(_BFD_BUDGET)}), 4) AS utilization
FROM bfd_bins GROUP BY shard ORDER BY shard
"""
