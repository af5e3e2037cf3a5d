"""Relational operator coverage: scans, filters, joins (broadcast / shuffle /
semi / anti / non-equi range), aggregations (hash, rollup, conditional
pivot), windows, sorts/limits, set ops.

The reference library (disq-bio/disq) implements none of these — users got
them from Spark RDD lambdas (SURVEY.md §2.5). Here they are first-class,
expressed declaratively so Catalyst picks physical strategies (broadcast
joins for dims, partial aggregation, AQE coalescing).

Scale notes (100 TB design point):
- Fact-fact joins (orders x lineitem) hash-shuffle on the join key; the
  dimension sides (region/nation/part/customer at TPC-H proportions) stay
  under the broadcast threshold, so every query below is a single shuffle
  stage wide at most.
- Aggregates are all algebraic (sum/count/avg) -> map-side partial
  aggregation halves shuffle volume automatically.
- Float aggregates are rounded to 2 decimals in BOTH engines: summation
  order is nondeterministic under parallelism, so exact float equality is
  not a meaningful contract at any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from disq_spark.queries.registry import Registry
from disq_spark.queries.tables import load

QUERIES = Registry()
ORACLE = Registry()


_q = QUERIES.register


# ---------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1: wide hash aggregate over the biggest fact
# ---------------------------------------------------------------------------
@_q("q1_pricing_summary")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE["q1_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                    AS sum_qty,
       round(sum(l_extendedprice), 2)                               AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 2)                                    AS avg_qty,
       round(avg(l_extendedprice), 2)                               AS avg_price,
       round(avg(l_discount), 4)                                    AS avg_disc,
       count(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q3_shipping_priority — TPC-H Q3: 3-way join + agg + top-k
# ---------------------------------------------------------------------------
@_q("q3_shipping_priority")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


ORACLE["q3_shipping_priority"] = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d')                     AS o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2)     AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q4_order_priority — EXISTS / left-semi join
# ---------------------------------------------------------------------------
@_q("q4_order_priority")
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    late = l.join(o, l.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
    )
    return (
        o.join(late.select("l_orderkey").distinct(), o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE["q4_order_priority"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q5_local_supplier — TPC-H Q5: 6-way join, broadcast dims
# ---------------------------------------------------------------------------
@_q("q5_local_supplier")
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


ORACLE["q5_local_supplier"] = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# ---------------------------------------------------------------------------
# q6_forecast_revenue — pushdown-friendly filter + single agg
# ---------------------------------------------------------------------------
@_q("q6_forecast_revenue")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


ORACLE["q6_forecast_revenue"] = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# q10_returned_items — join + agg + top-k by revenue
# ---------------------------------------------------------------------------
@_q("q10_returned_items")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


ORACLE["q10_returned_items"] = """
SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q14_promo_effect — conditional aggregation over a broadcast join
# ---------------------------------------------------------------------------
@_q("q14_promo_effect")
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01")) & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return l.join(F.broadcast(p), l.l_partkey == p.p_partkey).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
            / F.sum(disc),
            4,
        ).alias("promo_revenue_pct")
    )


ORACLE["q14_promo_effect"] = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
"""


# ---------------------------------------------------------------------------
# q18_large_orders — group-having subquery + join (TPC-H Q18 pattern)
# ---------------------------------------------------------------------------
@_q("q18_large_orders")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tot_qty"))
        .filter(F.col("tot_qty") > 150)
        .select("l_orderkey", F.round("tot_qty", 2).alias("total_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


ORACLE["q18_large_orders"] = """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50
"""


# ---------------------------------------------------------------------------
# topk_per_group — window function (row_number) top-3 per return flag
# ---------------------------------------------------------------------------
@_q("topk_per_group")
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.operators.dispatch import fan_out

    # Spark's WindowGroupLimit already keeps only the per-partition
    # top-3 per flag BEFORE the exchange, so the exchange is tiny — but
    # the partial limit full-sorts each INPUT partition, and a
    # single-file scan leaves that sort serial (measured 0.9 s of the
    # 1.1 s sf0.1 wall in one 3-task stage). fan_out parallelizes the
    # partial sort when the scan is narrower than the core count; at
    # scale the branch is a no-op (guide §2.5: window-skew family).
    l = fan_out(
        load(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
        ),
        "l_orderkey",
        "l_linenumber",
    )
    w = W.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        l.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "l_returnflag",
            "rnk",
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("l_extendedprice"),
        )
        .orderBy("l_returnflag", "rnk")
    )


ORACLE["topk_per_group"] = """
SELECT l_returnflag, rnk, l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rnk
  FROM lineitem
) t
WHERE rnk <= 3
ORDER BY l_returnflag, rnk
"""


# ---------------------------------------------------------------------------
# running_total_window — frame-based running aggregation
# ---------------------------------------------------------------------------
@_q("running_total_window")
def running_total_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("month_total"))
    )
    w = W.orderBy("month").rowsBetween(W.unboundedPreceding, 0)
    return (
        monthly.withColumn("running_total", F.round(F.sum("month_total").over(w), 2))
        .orderBy("month")
    )


ORACLE["running_total_window"] = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
         round(sum(o_totalprice), 2) AS month_total
  FROM orders GROUP BY 1
)
SELECT month, month_total,
       round(sum(month_total) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_total
FROM monthly ORDER BY month
"""


# ---------------------------------------------------------------------------
# rollup_agg — hierarchical aggregation (GROUPING SETS family)
# ---------------------------------------------------------------------------
@_q("rollup_agg")
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first()
        )
    )


ORACLE["rollup_agg"] = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# parquet_upsert_check — MERGE-INTO semantics under the gate: updates
# replace same-key rows, inserts append, delete-marked keys drop, all in
# one anti-join + union pass with an atomic directory swap. The oracle
# restates the merge declaratively over the same base table.
# ---------------------------------------------------------------------------
@_q("parquet_upsert_check")
def parquet_upsert_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.cacheutil import gate_scratch_dir
    from disq_spark.sinks.compact import upsert_parquet

    o = load(spark, sf_dir, "orders")
    base_dir = os.path.join(gate_scratch_dir("upsert"), "orders")
    o.write.parquet(base_dir)
    # insert keys must live ABOVE the base key domain at ANY scale
    # factor (a fixed +10M offset collides with real orderkeys from
    # sf~1.67 up); derive from the base's own max, oracle does the same
    ins_base = o.agg(F.max("o_orderkey")).collect()[0][0] + 1
    upd = (
        o.filter(F.col("o_orderkey") < 100)
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 2, 2))
        .withColumn("__del", F.lit(False))
    )
    dels = o.filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 150)).withColumn(
        "__del", F.lit(True)
    )
    ins = (
        o.filter(F.col("o_orderkey") < 50)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(ins_base))
        .withColumn("__del", F.lit(False))
    )
    upsert_parquet(
        spark,
        base_dir,
        upd.unionByName(dels).unionByName(ins),
        key="o_orderkey",
        delete_col="__del",
    )
    after = spark.read.parquet(base_dir)
    return after.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.sum((F.col("o_orderkey") >= ins_base).cast("long")).alias("n_inserted"),
        F.max("o_orderkey").alias("max_key"),
    )


ORACLE["parquet_upsert_check"] = """
WITH ib AS (SELECT max(o_orderkey) + 1 AS k FROM orders),
merged AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey >= 150
  UNION ALL
  SELECT o_orderkey, round(o_totalprice * 2, 2) FROM orders WHERE o_orderkey < 100
  UNION ALL
  SELECT o_orderkey + (SELECT k FROM ib), o_totalprice FROM orders WHERE o_orderkey < 50
)
SELECT count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price,
       CAST(sum(CASE WHEN o_orderkey >= (SELECT k FROM ib) THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM merged
"""


# ---------------------------------------------------------------------------
# bucketed_join_check — the co-located fact-fact join under the gate:
# both facts written bucketed on the join key, the join re-planned as a
# ZERO-EXCHANGE sort-merge join (asserted at runtime — a regression that
# reintroduces the shuffle fails the gate, not just a pytest), and the
# result hash-checked against the plain SQL join.
# ---------------------------------------------------------------------------
@_q("bucketed_join_check")
def bucketed_join_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.operators.bucketing import co_located_join, write_bucketed

    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    # re-run/crash safety: drop catalog entries AND any orphaned
    # warehouse location a previously-failed run left behind
    import shutil

    for t in ("gate_li_bucketed", "gate_or_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = os.path.join(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"), t)
        shutil.rmtree(loc.removeprefix("file:"), ignore_errors=True)
    write_bucketed(l, "gate_li_bucketed", "l_orderkey", n_buckets=8)
    write_bucketed(o, "gate_or_bucketed", "l_orderkey", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the fact-fact (non-broadcast) shape the layout exists for
        # — at gate SF the orders side would otherwise broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = co_located_join(spark, "gate_li_bucketed", "gate_or_bucketed", "l_orderkey")
        plan = j._sc._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "simple")
        if "Exchange" in plan or "SortMergeJoin" not in plan:
            raise AssertionError(f"bucketed join is not an exchange-free SMJ:\n{plan}")
        agg = (
            j.groupBy(F.month("o_orderdate").alias("order_month"))
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            )
            .orderBy("order_month")
        )
        # execute while the conf is pinned (the caller collects lazily,
        # after the finally restores it)
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


ORACLE["bucketed_join_check"] = """
SELECT month(o.o_orderdate) AS order_month, count(*) AS n,
       round(sum(l.l_quantity), 2) AS sum_qty,
       round(sum(l.l_extendedprice), 2) AS sum_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY order_month
"""


# ---------------------------------------------------------------------------
# date_spine_gap_fill — time-series completeness: a generated calendar
# spine (sequence/explode over the data's own min..max day) left-joined
# to sparse daily revenue, zero-filling silent days. The spine is a
# 1-row aggregate exploded to #days rows — broadcast-join shape, no
# shuffle of the fact side beyond its own daily partial agg.
# ---------------------------------------------------------------------------
SPINE_MIN_VALUE = 100.0


@_q("date_spine_gap_fill")
def date_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.queries.tables import load as _load

    e = _load(spark, sf_dir, "events")
    daily = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > SPINE_MIN_VALUE))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum("value").alias("rev"))
    )
    spine = (
        e.agg(F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1"))
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    filled = spine.join(F.broadcast(daily), "day", "left").select(
        "day", F.coalesce(F.col("rev"), F.lit(0.0)).alias("rev")
    )
    return filled.agg(
        F.count("*").alias("n_days"),
        F.sum((F.col("rev") == 0.0).cast("long")).alias("n_zero_days"),
        F.round(F.sum("rev"), 2).alias("total_rev"),
        F.round(F.avg("rev"), 4).alias("avg_daily_rev"),
    )


ORACLE["date_spine_gap_fill"] = f"""
WITH daily AS (
  SELECT ts::DATE AS day, sum(value) AS rev FROM events
  WHERE event_type = 'purchase' AND value > {SPINE_MIN_VALUE}
  GROUP BY 1
),
spine AS (
  SELECT unnest(generate_series(min(ts)::DATE, max(ts)::DATE, INTERVAL 1 DAY))::DATE AS day
  FROM events
),
filled AS (
  SELECT s.day, coalesce(d.rev, 0.0) AS rev FROM spine s LEFT JOIN daily d USING (day)
)
SELECT count(*) AS n_days,
       CAST(sum(CASE WHEN rev = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_days,
       round(sum(rev), 2) AS total_rev,
       round(avg(rev), 4) AS avg_daily_rev
FROM filled
"""


# ---------------------------------------------------------------------------
# window_nav_funcs — navigation/distribution window functions in one
# pass: lag/lead (prev/next order totalprice), ntile quartiles, and
# cume_dist over each customer's order history. One shuffle on custkey;
# the ntile groupBy on top is a cheap 4-key partial agg. Ties broken by
# orderkey so both engines order identically.
# ---------------------------------------------------------------------------
@_q("window_nav_funcs")
def window_nav_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    per = o.select(
        "o_custkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
    )
    return (
        per.groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.round(F.sum(F.coalesce(F.col("prev_price"), F.lit(0.0))), 2).alias("sum_prev"),
            F.round(F.sum(F.coalesce(F.col("next_price"), F.lit(0.0))), 2).alias("sum_next"),
            F.round(F.sum("cd"), 4).alias("sum_cume_dist"),
        )
        .orderBy("quartile")
    )


ORACLE["window_nav_funcs"] = """
WITH per AS (
  SELECT o_custkey, o_totalprice,
         lag(o_totalprice) OVER w AS prev_price,
         lead(o_totalprice) OVER w AS next_price,
         ntile(4) OVER w AS quartile,
         cume_dist() OVER w AS cd
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT quartile, count(*) AS n,
       round(sum(o_totalprice), 2) AS sum_price,
       round(sum(coalesce(prev_price, 0.0)), 2) AS sum_prev,
       round(sum(coalesce(next_price, 0.0)), 2) AS sum_next,
       round(sum(cd), 4) AS sum_cume_dist
FROM per GROUP BY quartile ORDER BY quartile
"""


# ---------------------------------------------------------------------------
# grouping_sets_agg — the general GROUPING SETS form (rollup/cube are its
# special cases): two independent single-column groupings plus the grand
# total in ONE pass (Spark expands to a union-free Expand node — one scan,
# one shuffle, vs three scans if written as a UNION ALL of group-bys).
# ---------------------------------------------------------------------------
@_q("grouping_sets_agg")
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    l.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
    )


ORACLE["grouping_sets_agg"] = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# pivot_status — conditional pivot (manual, engine-portable)
# ---------------------------------------------------------------------------
@_q("pivot_status")
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)), 2).alias("qty_open"),
            F.round(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)), 2).alias("qty_filled"),
        )
        .orderBy("l_returnflag")
    )


ORACLE["pivot_status"] = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END), 2) AS qty_open,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END), 2) AS qty_filled
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# set_op_customers — INTERSECT: customers active in both 1996 and 1997
# ---------------------------------------------------------------------------
@_q("set_op_customers")
def set_op_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.intersect(y97).agg(F.count("*").alias("n_both_years"))


ORACLE["set_op_customers"] = """
SELECT count(*) AS n_both_years FROM (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
  INTERSECT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
) t
"""


# ---------------------------------------------------------------------------
# anti_join_customers — customers with no orders, by segment
# ---------------------------------------------------------------------------
@_q("anti_join_customers")
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_inactive"))
        .orderBy("c_mktsegment")
    )


ORACLE["anti_join_customers"] = """
SELECT c_mktsegment, count(*) AS n_inactive
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# range_join_quantity — non-equi range join (genomic interval-join analog).
# Dim side (part, filtered) is broadcast; at 100 TB the fact side streams
# through a BroadcastNestedLoop with a tight residual predicate, the same
# physical shape our genomic interval join uses (see operators/interval_join).
# ---------------------------------------------------------------------------
@_q("range_join_quantity")
def range_join_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    return (
        l.join(
            F.broadcast(p),
            (F.col("l_quantity") >= F.col("p_size") - 1) & (F.col("l_quantity") <= F.col("p_size") + 1),
        )
        .groupBy("p_size")
        .agg(F.count("*").alias("n_lines"))
        .orderBy("p_size")
    )


ORACLE["range_join_quantity"] = """
SELECT p_size, count(*) AS n_lines
FROM lineitem, part
WHERE p_size <= 5 AND l_orderkey % 10 = 0
  AND l_quantity BETWEEN p_size - 1 AND p_size + 1
GROUP BY p_size ORDER BY p_size
"""


# ---------------------------------------------------------------------------
# distinct_stats — exact + approximate distinct (approx checked rows-only
# against exact in tests; the oracle uses exact distinct for the exact cols)
# ---------------------------------------------------------------------------
@_q("distinct_stats")
def distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


ORACLE["distinct_stats"] = """
SELECT count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_partkey)  AS n_parts,
       count(DISTINCT l_suppkey)  AS n_supps
FROM lineitem
"""


# ---------------------------------------------------------------------------
# q7_nation_volume — TPC-H Q7 analog: bidirectional nation-to-nation trade
# volume (two independent dimension chains off the same fact row; both
# nation sides broadcast, so the only shuffle is the final aggregate)
# ---------------------------------------------------------------------------
@_q("q7_nation_volume")
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.cn_key)
        .join(F.broadcast(n2), s.s_nationkey == n2.sn_key)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            # decimal sum: exact, so large-group rounding matches the
            # oracle bit-for-bit (float sums differ in the 2nd decimal
            # under parallel reduction order)
            # round the DECIMAL (half-up, both engines), THEN cast: a
            # decimal .035 tie would flip if squeezed through binary
            # double first
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")), 2
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE["q7_nation_volume"] = """
SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# q11_important_parts — TPC-H Q11 analog: per-part value vs a scalar
# aggregate threshold (cross-join of a 1-row aggregate; Catalyst
# broadcasts the scalar, no correlated subquery machinery needed)
# ---------------------------------------------------------------------------
@_q("q11_important_parts")
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    value = l.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("val")
    )
    total = value.agg((F.sum("val") * 0.0007).alias("threshold"))
    return (
        value.crossJoin(F.broadcast(total))
        .filter(F.col("val") > F.col("threshold"))
        .select("l_partkey", F.round("val", 2).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
        .limit(20)
    )


ORACLE["q11_important_parts"] = """
WITH value AS (
  SELECT l_partkey, sum(l_extendedprice * l_quantity) AS val
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, round(val, 2) AS part_value
FROM value
WHERE val > (SELECT sum(val) * 0.0007 FROM value)
ORDER BY part_value DESC, l_partkey LIMIT 20
"""


# ---------------------------------------------------------------------------
# q15_top_supplier — TPC-H Q15: suppliers achieving the max revenue in a
# window (self-referential max over an aggregate)
# ---------------------------------------------------------------------------
@_q("q15_top_supplier")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    s = load(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(F.col("s_suppkey"), F.col("s_name"), "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLE["q15_top_supplier"] = """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# q16_part_supplier_kinds — TPC-H Q16 analog: distinct supplier counts per
# part attribute bucket (countDistinct under a grouped agg)
# ---------------------------------------------------------------------------
@_q("q16_part_supplier_kinds")
def q16_part_supplier_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
        .limit(25)
    )


ORACLE["q16_part_supplier_kinds"] = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 5, 10, 15, 20, 25)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 25
"""


# ---------------------------------------------------------------------------
# q19_discounted_revenue — TPC-H Q19: OR-of-ANDs predicate across the
# join (brand x size x quantity bands); exercises predicate pushdown
# through a join with a disjunctive residual
# ---------------------------------------------------------------------------
@_q("q19_discounted_revenue")
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size") <= 15) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(band).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


ORACLE["q19_discounted_revenue"] = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size <= 5  AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size <= 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size <= 15 AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# q22_sales_opportunity — TPC-H Q22 analog: above-average-balance
# customers with no orders (scalar subquery + anti join)
# ---------------------------------------------------------------------------
@_q("q22_sales_opportunity")
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    big = o.filter(F.col("o_totalprice") > 300_000.0)
    no_orders = rich.join(big, rich.c_custkey == big.o_custkey, "left_anti")
    return (
        no_orders.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
        .orderBy("nationkey")
    )


ORACLE["q22_sales_opportunity"] = """
SELECT c_nationkey AS nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
GROUP BY c_nationkey ORDER BY nationkey
"""


# ---------------------------------------------------------------------------
# q13_customer_distribution — TPC-H Q13: orders-per-customer histogram
# (left outer join + double aggregation)
# ---------------------------------------------------------------------------
@_q("q13_customer_distribution")
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(~F.col("o_orderpriority").startswith("1"))
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE["q13_customer_distribution"] = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND NOT starts_with(o_orderpriority, '1')
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# q17_small_quantity_revenue — TPC-H Q17: rows below 20% of the per-part
# average quantity (correlated-aggregate turned into a join)
# ---------------------------------------------------------------------------
@_q("q17_small_quantity_revenue")
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    avg_qty = l.groupBy(F.col("l_partkey").alias("p_key")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thresh")
    )
    return (
        l.join(avg_qty, l.l_partkey == avg_qty.p_key)
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


ORACLE["q17_small_quantity_revenue"] = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly, count(*) AS n_items
FROM lineitem l
WHERE l_quantity < (
  SELECT 0.2 * avg(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey
)
"""


# ---------------------------------------------------------------------------
# quantile_stats — discrete rank-based percentiles via window functions.
# (Interpolating quantiles — Spark `percentile` / DuckDB quantile_cont —
# produce engine-specific ulp differences that flip a rounding tie; the
# rank formulation selects an actual data value, so it matches exactly.)
# ---------------------------------------------------------------------------
@_q("quantile_stats")
def quantile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    l = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    wn = W.partitionBy("l_returnflag")
    ranked = l.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )

    def pick(p):
        return F.min(
            F.when(F.col("rn") >= F.ceil(F.lit(p) * F.col("n")), F.col("l_extendedprice"))
        )

    return (
        ranked.groupBy("l_returnflag")
        .agg(
            pick(0.5).alias("p50"),
            pick(0.9).alias("p90"),
            pick(0.99).alias("p99"),
            F.max("n").alias("n"),
        )
        .orderBy("l_returnflag")
    )


ORACLE["quantile_stats"] = """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       min(CASE WHEN rn >= ceil(0.5 * n) THEN l_extendedprice END) AS p50,
       min(CASE WHEN rn >= ceil(0.9 * n) THEN l_extendedprice END) AS p90,
       min(CASE WHEN rn >= ceil(0.99 * n) THEN l_extendedprice END) AS p99,
       max(n) AS n
FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# salted_join_check — the skew operator through the gate: salting must be
# result-invariant, so the oracle is the PLAIN join
# ---------------------------------------------------------------------------
@_q("salted_join_check")
def salted_join_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.operators.skew import salted_join

    l = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_extendedprice"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(l, s, "s_suppkey", n_salts=8)
    return (
        joined.groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 0).alias("revenue"))
        .orderBy("nationkey")
    )


ORACLE["salted_join_check"] = """
SELECT s_nationkey AS nationkey, count(*) AS n,
       round(sum(l_extendedprice), 0) AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey ORDER BY nationkey
"""


# ---------------------------------------------------------------------------
# cube_agg — full CUBE over two dims (rollup_agg covers ROLLUP)
# ---------------------------------------------------------------------------
@_q("cube_agg")
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE["cube_agg"] = """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# array_hof — higher-order array functions (transform/filter/aggregate)
# over per-order collected line quantities
# ---------------------------------------------------------------------------
@_q("array_hof")
def array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    per_order = l.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.col("l_quantity").cast("double"))).alias("qtys")
    )
    return (
        per_order.select(
            "l_orderkey",
            F.size("qtys").alias("n_lines"),
            F.round(
                F.aggregate("qtys", F.lit(0.0), lambda acc, x: acc + x), 2
            ).alias("total_qty"),
            F.size(F.filter("qtys", lambda x: x > 25.0)).alias("n_large"),
            F.round(F.element_at("qtys", -1), 2).alias("max_qty"),
        )
        .orderBy(F.desc("total_qty"), "l_orderkey")
        .limit(30)
    )


ORACLE["array_hof"] = """
WITH per_order AS (
  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS DOUBLE))) AS qtys
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       len(qtys) AS n_lines,
       round(list_sum(qtys), 2) AS total_qty,
       len(list_filter(qtys, x -> x > 25.0)) AS n_large,
       round(qtys[-1], 2) AS max_qty
FROM per_order ORDER BY total_qty DESC, l_orderkey LIMIT 30
"""


# ---------------------------------------------------------------------------
# semi_join_customers — left-semi join (EXISTS shape; anti covered by
# anti_join_customers)
# ---------------------------------------------------------------------------
@_q("semi_join_customers")
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400_000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"), F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
        .orderBy("c_mktsegment")
    )


ORACLE["semi_join_customers"] = """
SELECT c_mktsegment, count(*) AS n_customers, round(avg(c_acctbal), 2) AS avg_bal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# q2_min_cost_supplier — TPC-H Q2 analog (no partsupp table in this schema:
# supply cost is derived as the supplier's average unit price on lineitem).
# Correlated-min shape: cheapest EUROPE supplier per small part.
# Scale: the (part, supplier) cost aggregate shuffles on a compound key
# whose cardinality is bounded by |part|x|supplier| — far smaller than
# lineitem — and the min-per-part is a window over that reduced set, so
# the expensive fact scan happens exactly once. Dims broadcast.
# ---------------------------------------------------------------------------
@_q("q2_min_cost_supplier")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    cost = (
        l.groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias("supply_cost"))
    )
    euro = (
        cost.join(F.broadcast(s), cost.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = W.partitionBy("l_partkey").orderBy("supply_cost", "l_suppkey")
    best = euro.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .select(
            F.col("s_acctbal"),
            F.col("s_name"),
            F.col("n_name"),
            F.col("p_partkey"),
            F.col("p_brand"),
            F.col("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey")
        .limit(25)
    )


ORACLE["q2_min_cost_supplier"] = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         round(avg(l_extendedprice / l_quantity), 2) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), euro AS (
  SELECT c.*, s_acctbal, s_name, n_name,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY supply_cost, l_suppkey) AS rk
  FROM cost c
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supply_cost
FROM euro JOIN part ON l_partkey = p_partkey
WHERE rk = 1 AND p_size < 10
ORDER BY s_acctbal DESC, p_partkey LIMIT 25
"""


# ---------------------------------------------------------------------------
# q8_market_share — TPC-H Q8: one nation's share of revenue inside a
# region's market, by year (conditional aggregation over a 5-way join).
# Scale: single lineitem scan; orders co-shuffles on orderkey; every
# other side broadcasts. share = algebraic ratio of two partial sums.
# ---------------------------------------------------------------------------
@_q("q8_market_share")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n_c = load(spark, sf_dir, "nation").alias("nc")
    n_s = load(spark, sf_dir, "nation").alias("ns")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("nc.n_nationkey"))
        .join(F.broadcast(r), F.col("nc.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("ns.n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("ns.n_name") == "NATION_5", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


ORACLE["q8_market_share"] = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN ns.n_name = 'NATION_5'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region   ON nc.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY o_year ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# q9_product_type_profit — TPC-H Q9 analog (supply cost proxied from
# p_retailprice since there is no partsupp): profit by supplier nation
# and order year for parts whose name contains 'bolt'.
# Scale: the part filter prunes the broadcast side BEFORE the join, so
# the lineitem scan is reduced by the join's selectivity; groupBy is
# low-cardinality (25 nations x 7 years) -> map-side partials dominate.
# ---------------------------------------------------------------------------
@_q("q9_product_type_profit")
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").contains("bolt"))
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


ORACLE["q9_product_type_profit"] = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.5 * p_retailprice * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, year(o_orderdate) ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# q12_priority_shipping — TPC-H Q12 analog (no l_shipmode column: classes
# are slow vs fast shipments, > 60 days after order date): count urgent
# vs non-urgent orders per class.
# Scale: fact-fact join on orderkey then a 2-row aggregate; AQE coalesces
# the post-join partitions. The date arithmetic stays in codegen.
# ---------------------------------------------------------------------------
@_q("q12_priority_shipping")
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .withColumn(
            "ship_class",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                F.lit("SLOW"),
            ).otherwise(F.lit("FAST")),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


ORACLE["q12_priority_shipping"] = """
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
            THEN 'SLOW' ELSE 'FAST' END AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY ship_class ORDER BY ship_class
"""


# ---------------------------------------------------------------------------
# q20_part_promotion — TPC-H Q20 analog (availqty proxied by shipped
# quantity): suppliers who moved >20% of a 'red' part's 1996 volume,
# surfaced via a left-semi join (EXISTS chain in the original).
# Scale: the qualifying-supplier set is computed on an aggregate whose
# size is bounded by |part|x|supplier|; the semi-join against supplier
# broadcasts that set. A window sum (not a self-join) derives the
# per-part total from the same shuffle.
# ---------------------------------------------------------------------------
@_q("q20_part_promotion")
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_name").startswith("red"))
    s = load(spark, sf_dir, "supplier")
    per = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = per.withColumn("part_total", F.sum("qty").over(W.partitionBy("l_partkey")))
    qualifying = tot.filter(F.col("qty") > 0.2 * F.col("part_total")).select("l_suppkey").distinct()
    return (
        s.join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_suppkey")
    )


ORACLE["q20_part_promotion"] = """
WITH per AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey
), tot AS (
  SELECT *, sum(qty) OVER (PARTITION BY l_partkey) AS part_total FROM per
)
SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier
WHERE EXISTS (SELECT 1 FROM tot WHERE l_suppkey = s_suppkey
              AND qty > 0.2 * part_total)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# q21_sole_returned_supplier — TPC-H Q21 analog (no receipt/commit dates:
# "kept orders waiting" becomes "sole supplier whose lines were returned
# on a multi-supplier order" — the same EXISTS + NOT-EXISTS shape).
# Scale: one shuffle on (orderkey, suppkey), then a window over orderkey
# replaces the original's two correlated subqueries (each a self-join of
# lineitem at 100 TB); supplier broadcasts at the end.
# ---------------------------------------------------------------------------
@_q("q21_sole_returned_supplier")
def q21_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    per = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r")
    )
    w = W.partitionBy("l_orderkey")
    flagged = per.withColumn("n_supps", F.count("*").over(w)).withColumn(
        "n_r_supps", F.sum("has_r").over(w)
    )
    sole = flagged.filter(
        (F.col("has_r") == 1) & (F.col("n_r_supps") == 1) & (F.col("n_supps") > 1)
    )
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


ORACLE["q21_sole_returned_supplier"] = """
WITH per AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
  FROM lineitem GROUP BY l_orderkey, l_suppkey
), flagged AS (
  SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS n_supps,
         sum(has_r) OVER (PARTITION BY l_orderkey) AS n_r_supps
  FROM per
)
SELECT s_name, count(*) AS numwait
FROM flagged JOIN supplier ON l_suppkey = s_suppkey
WHERE has_r = 1 AND n_r_supps = 1 AND n_supps > 1
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
"""


# ---------------------------------------------------------------------------
# zorder_stats — Morton-key layout fingerprint over (l_partkey, l_suppkey):
# per z-bucket row counts + key ranges. Exact integer quantization +
# bit interleave, so the oracle replays the identical arithmetic
# (operators/zorder.py generates both engines' fragments).
# ---------------------------------------------------------------------------
ZORDER_BITS = 8
ZORDER_BUCKET_SHIFT = 12


@_q("zorder_stats")
def zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.operators.zorder import z_value

    li = load(spark, sf_dir, "lineitem")
    z = z_value(li, ["l_partkey", "l_suppkey"], ZORDER_BITS)
    return (
        z.groupBy(
            F.shiftright("__z", ZORDER_BUCKET_SHIFT).alias("z_bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("__z").alias("z_min"),
            F.max("__z").alias("z_max"),
        )
        .orderBy("z_bucket")
    )


def _zorder_oracle() -> str:
    from disq_spark.operators.zorder import interleave_sql, quantize_sql

    qp = quantize_sql("l_partkey", "mn_p", "mx_p", ZORDER_BITS, "//")
    qs = quantize_sql("l_suppkey", "mn_s", "mx_s", ZORDER_BITS, "//")
    z = interleave_sql([qp, qs], ZORDER_BITS)
    return f"""
WITH s AS (
  SELECT min(l_partkey) AS mn_p, max(l_partkey) AS mx_p,
         min(l_suppkey) AS mn_s, max(l_suppkey) AS mx_s
  FROM lineitem
),
z AS (SELECT cast({z} AS BIGINT) AS zv FROM lineitem, s)
SELECT zv >> {ZORDER_BUCKET_SHIFT} AS z_bucket, count(*) AS n,
       min(zv) AS z_min, max(zv) AS z_max
FROM z GROUP BY z_bucket ORDER BY z_bucket
"""


ORACLE["zorder_stats"] = _zorder_oracle()
