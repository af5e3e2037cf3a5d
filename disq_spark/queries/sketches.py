"""Gate queries for the sketch operators (operators/sketches.py).

Oracle parity mechanism: HLL and count-min are md5-deterministic with
integer-exact internal state, so the DuckDB oracle runs the SAME
generated SQL fragments and must hash-match bit-for-bit. The Bloom query
needs no sketch oracle at all — pruning is semantically transparent
(false positives die in the exact join that follows), so its oracle is
the plain join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disq_spark.operators import sketches as SK
from disq_spark.queries.llm import _TOKS
from disq_spark.queries.registry import Registry
from disq_spark.queries.tables import load

QUERIES = Registry()
ORACLE = Registry()


_q = QUERIES.register


# ---------------------------------------------------------------------------
# sketch_hll_distinct — per-priority distinct-customer estimate vs exact
# ---------------------------------------------------------------------------

_HLL_P = 8  # m=256 registers; raw-path valid for n >= 2.5m = 640


@_q("sketch_hll_distinct")
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order priority: HLL estimate next to the
    exact count (the sketch's selling point is that the estimate's
    register table is m rows where the exact distinct shuffles every
    key). Raw path only — deterministic across engines."""
    o = load(spark, sf_dir, "orders")
    est = SK.hll_distinct(
        o, "o_custkey", p=_HLL_P, group_cols=("o_orderpriority",), correct_small=False
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_exact")
    )
    return (
        exact.join(est, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_exact",
            F.round("est_distinct", 4).alias("est_round"),
            F.round(
                F.abs(F.col("est_distinct") - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
        .orderBy("o_orderpriority")
    )


def _hll_oracle() -> str:
    bd = _HLL_P // 4
    m = 1 << _HLL_P
    _, est_expr = SK.hll_estimate_sql(_HLL_P, correct_small=False)
    return f"""
WITH h AS (
  SELECT o_orderpriority, md5('' || o_custkey) AS __h FROM orders
),
reg AS (
  SELECT o_orderpriority, {SK.hex2int_sql("__h", bd)} AS bucket,
         max({SK.rho_sql(f"substring(__h, {bd + 1}, {SK.RHO_DIGITS})")}) AS max_rho
  FROM h GROUP BY 1, 2
),
agg AS (
  SELECT o_orderpriority,
         CAST({m} - count(*) AS BIGINT) AS __empty,
         CAST(sum(cast(pow(2, {SK.RHO_MAX} - max_rho) as bigint)) AS BIGINT) AS __occ
  FROM reg GROUP BY 1
),
est AS (
  SELECT o_orderpriority, {est_expr} AS est_distinct FROM agg
),
exact AS (
  SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
  FROM orders GROUP BY 1
)
SELECT exact.o_orderpriority, n_exact,
       round(est_distinct, 4) AS est_round,
       round(abs(est_distinct - n_exact) / n_exact, 4) AS rel_err
FROM exact JOIN est USING (o_orderpriority)
ORDER BY o_orderpriority
"""


ORACLE["sketch_hll_distinct"] = _hll_oracle()


# ---------------------------------------------------------------------------
# sketch_countmin_tokens — heavy-hitter token counts, estimate vs exact
# ---------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 256


@_q("sketch_countmin_tokens")
def sketch_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates for the top-10 exact heavy-hitter tokens of
    the documents corpus. cm_est >= n_exact always (pure over-count);
    the sketch state is depth*width integers regardless of corpus size."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).alias("tok")
    ).filter(F.length("tok") > 0)
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "tok")
        .limit(10)
    )
    cm = SK.countmin_table(toks, "tok", depth=_CM_DEPTH, width=_CM_WIDTH)
    est = SK.countmin_lookup(cm, top.select("tok"), "tok", depth=_CM_DEPTH, width=_CM_WIDTH)
    return (
        top.join(est, "tok")
        .select(
            "tok",
            "n_exact",
            "cm_est",
            (F.col("cm_est") - F.col("n_exact")).alias("overcount"),
        )
        .orderBy(F.desc("n_exact"), "tok")
    )


def _cm_oracle_full() -> str:
    wd = SK._cm_width_digits(_CM_WIDTH)
    cell_cols = [SK.hex2int_sql(f"md5('{r}:' || tok)", wd) for r in range(_CM_DEPTH)]
    cm_union = " UNION ALL ".join(
        f"SELECT {r} AS row, {cell_cols[r]} AS col, tok FROM toks_ne" for r in range(_CM_DEPTH)
    )
    probe_union = " UNION ALL ".join(
        f"SELECT tok, {r} AS row, {cell_cols[r]} AS col FROM top" for r in range(_CM_DEPTH)
    )
    return f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents
),
toks_ne AS (
  SELECT tok FROM toks WHERE length(tok) > 0
),
top AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
  FROM toks_ne GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 10
),
cells AS (
  {cm_union}
),
cm AS (
  SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2
),
probes AS (
  {probe_union}
),
est AS (
  SELECT probes.tok, CAST(min(coalesce(cm.cnt, 0)) AS BIGINT) AS cm_est
  FROM probes LEFT JOIN cm ON probes.row = cm.row AND probes.col = cm.col
  GROUP BY probes.tok
)
SELECT top.tok, n_exact, cm_est, cm_est - n_exact AS overcount
FROM top JOIN est ON top.tok = est.tok
ORDER BY n_exact DESC, top.tok
"""


ORACLE["sketch_countmin_tokens"] = _cm_oracle_full()


# ---------------------------------------------------------------------------
# bloom_semi_join — Bloom-pruned fact-side join, oracle = plain join
# ---------------------------------------------------------------------------


@_q("bloom_semi_join")
def bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue for lineitems of URGENT orders, with the fact side
    Bloom-pruned on l_orderkey before the join exchange. The bitmap is a
    plan literal — pruning costs k bit-tests per row and removes ~4/5 of
    the shuffle input; the exact join then kills Bloom false positives,
    so the result is identical to the plain join (which is the oracle)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    bitmap = SK.bloom_bitmap(urgent, "o_orderkey", m_bits=16384, k=3)
    pruned = SK.bloom_prune(li, "l_orderkey", bitmap, m_bits=16384, k=3)
    return (
        pruned.join(urgent, pruned.l_orderkey == urgent.o_orderkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
        .orderBy("ship_month")
    )


ORACLE["bloom_semi_join"] = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# profile_orders — one-look table profile (nulls / min-max / HLL distinct)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderdate")
_PROFILE_P = 8


@_q("profile_orders")
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling in two scans regardless of column count: wide
    null/min/max aggregate + stack-melt into one grouped HLL. Raw HLL
    path (deterministic) — the profiled columns all exceed 2.5 * 2^p
    distinct at sf0.01."""
    o = load(spark, sf_dir, "orders")
    return SK.profile_table(
        o, list(_PROFILE_COLS), p=_PROFILE_P, correct_small=False
    ).orderBy("col_name")


def _profile_oracle() -> str:
    p = _PROFILE_P
    bd = p // 4
    m = 1 << p
    _, est_expr = SK.hll_estimate_sql(p, correct_small=False)
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS value FROM orders"
        for c in _PROFILE_COLS
    )
    stats = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
        f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
        f"CAST(min({c}) AS VARCHAR) AS min_str, CAST(max({c}) AS VARCHAR) AS max_str "
        f"FROM orders"
        for c in _PROFILE_COLS
    )
    return f"""
WITH melted AS ({melt}),
h AS (
  SELECT col_name, md5('' || value) AS __h FROM melted WHERE value IS NOT NULL
),
reg AS (
  SELECT col_name, {SK.hex2int_sql("__h", bd)} AS bucket,
         max({SK.rho_sql(f"substring(__h, {bd + 1}, {SK.RHO_DIGITS})")}) AS max_rho
  FROM h GROUP BY 1, 2
),
agg AS (
  SELECT col_name, CAST({m} - count(*) AS BIGINT) AS __empty,
         CAST(sum(cast(pow(2, {SK.RHO_MAX} - max_rho) as bigint)) AS BIGINT) AS __occ
  FROM reg GROUP BY 1
),
est AS (
  SELECT col_name, round({est_expr}, 4) AS n_distinct_est FROM agg
),
stats AS ({stats})
SELECT stats.col_name, n_rows, n_null, coalesce(n_distinct_est, 0.0) AS n_distinct_est,
       min_str, max_str
FROM stats LEFT JOIN est ON stats.col_name = est.col_name
ORDER BY stats.col_name
"""


ORACLE["profile_orders"] = _profile_oracle()


# ---------------------------------------------------------------------------
# data_quality_checks — Deequ-style constraint verification on orders +
# a lineitem->orders referential containment (operators/checks.py). The
# o_custkey distinctness check is DESIGNED to fail (1,500 customers /
# 15,000 orders) so the gate verifies recorded failures, not just greens.
# ---------------------------------------------------------------------------

_DQ_CONSTRAINTS = [
    {"name": "orders_custkey_distinct", "kind": "distinctness",
     "column": "o_custkey", "min_ratio": 1.0},
    {"name": "orders_orderkey_complete", "kind": "completeness",
     "column": "o_orderkey", "min_ratio": 1.0},
    {"name": "orders_orderkey_distinct", "kind": "distinctness",
     "column": "o_orderkey", "min_ratio": 1.0},
    {"name": "orders_priority_pattern", "kind": "pattern",
     "column": "o_orderpriority", "pattern": "^[1-5]-", "min_ratio": 1.0},
    {"name": "orders_rowcount", "kind": "row_count", "min": 1},
    {"name": "orders_status_domain", "kind": "in_set",
     "column": "o_orderstatus", "values": ["F", "O", "P"], "min_ratio": 1.0},
    {"name": "orders_totalprice_min", "kind": "min",
     "column": "o_totalprice", "bound": 0.0},
]


@_q("data_quality_checks")
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.operators import checks as CK

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    report = CK.check_constraints(o, _DQ_CONSTRAINTS).unionByName(
        CK.containment_check(
            li, "l_orderkey", o, "o_orderkey",
            name="lineitem_orderkey_in_orders", min_ratio=1.0,
        )
    )
    return report.select(
        "name", "kind", "col", F.round("metric", 6).alias("metric"), "passed"
    ).orderBy("name")


ORACLE["data_quality_checks"] = """
SELECT * FROM (
  SELECT 'lineitem_orderkey_in_orders' AS name, 'containment' AS kind,
         'l_orderkey' AS col,
         round(avg(CASE WHEN l_orderkey IS NULL THEN NULL
                        WHEN l_orderkey IN (SELECT o_orderkey FROM orders)
                        THEN 1.0 ELSE 0.0 END), 6) AS metric,
         coalesce(avg(CASE WHEN l_orderkey IS NULL THEN NULL
                           WHEN l_orderkey IN (SELECT o_orderkey FROM orders)
                           THEN 1.0 ELSE 0.0 END) >= 1.0, false) AS passed
  FROM lineitem
  UNION ALL
  SELECT 'orders_custkey_distinct', 'distinctness', 'o_custkey',
         round(count(DISTINCT o_custkey) / CAST(count(*) AS DOUBLE), 6),
         coalesce(count(DISTINCT o_custkey) / CAST(count(*) AS DOUBLE) >= 1.0, false)
  FROM orders
  UNION ALL
  SELECT 'orders_orderkey_complete', 'completeness', 'o_orderkey',
         round(avg(CASE WHEN o_orderkey IS NULL THEN 0.0 ELSE 1.0 END), 6),
         coalesce(avg(CASE WHEN o_orderkey IS NULL THEN 0.0 ELSE 1.0 END) >= 1.0, false)
  FROM orders
  UNION ALL
  SELECT 'orders_orderkey_distinct', 'distinctness', 'o_orderkey',
         round(count(DISTINCT o_orderkey) / CAST(count(*) AS DOUBLE), 6),
         coalesce(count(DISTINCT o_orderkey) / CAST(count(*) AS DOUBLE) >= 1.0, false)
  FROM orders
  UNION ALL
  SELECT 'orders_priority_pattern', 'pattern', 'o_orderpriority',
         round(avg(CASE WHEN o_orderpriority IS NULL THEN NULL
                        WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                        THEN 1.0 ELSE 0.0 END), 6),
         coalesce(avg(CASE WHEN o_orderpriority IS NULL THEN NULL
                           WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                           THEN 1.0 ELSE 0.0 END) >= 1.0, false)
  FROM orders
  UNION ALL
  SELECT 'orders_rowcount', 'row_count', NULL,
         round(CAST(count(*) AS DOUBLE), 6),
         coalesce(CAST(count(*) AS DOUBLE) >= 1.0, false)
  FROM orders
  UNION ALL
  SELECT 'orders_status_domain', 'in_set', 'o_orderstatus',
         round(avg(CASE WHEN o_orderstatus IS NULL THEN NULL
                        WHEN o_orderstatus IN ('F', 'O', 'P')
                        THEN 1.0 ELSE 0.0 END), 6),
         coalesce(avg(CASE WHEN o_orderstatus IS NULL THEN NULL
                           WHEN o_orderstatus IN ('F', 'O', 'P')
                           THEN 1.0 ELSE 0.0 END) >= 1.0, false)
  FROM orders
  UNION ALL
  SELECT 'orders_totalprice_min', 'min', 'o_totalprice',
         round(CAST(min(o_totalprice) AS DOUBLE), 6),
         coalesce(min(o_totalprice) >= 0.0, false)
  FROM orders
) ORDER BY name
"""
