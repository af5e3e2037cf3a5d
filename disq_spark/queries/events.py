"""Event-stream analytics over the ``events`` table: tumbling windows,
sessionization, as-of joins, semi-structured (JSON) extraction.

These are the batch formulations; ``disq_spark.streaming`` carries the
Structured Streaming (watermark + window / applyInPandasWithState)
versions of the same operators, tested separately (no SQL oracle exists
for streaming semantics).

Scale notes: all three patterns shuffle once on ``user_id`` (or the
window key), which is the minimum possible; per-user state for
sessionization is a single sorted pass inside each hash partition via
window functions, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from disq_spark.queries.registry import Registry
from disq_spark.queries.tables import load

QUERIES = Registry()
ORACLE = Registry()


_q = QUERIES.register


# ---------------------------------------------------------------------------
# windowed_event_agg — tumbling 1-hour windows per event type
# ---------------------------------------------------------------------------
@_q("windowed_event_agg")
def windowed_event_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


ORACLE["windowed_event_agg"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


# ---------------------------------------------------------------------------
# sessionize — gap-based sessions (30 min), lag + running conditional sum
# ---------------------------------------------------------------------------
@_q("sessionize")
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_min = 30
    with_flag = e.withColumn(
        "new_session",
        F.when(
            (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)) > gap_min * 60,
            1,
        )
        .otherwise(0)
        .cast("long"),
    )
    # first event per user has lag NULL -> new_session 0; session count = 1 + sum(flags)
    return (
        with_flag.groupBy("user_id")
        .agg(
            (F.sum("new_session") + 1).alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


ORACLE["sessionize"] = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN (epoch_us(ts) // 1000000) - lag(epoch_us(ts) // 1000000)
                OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
FROM flagged GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# asof_join_events — for each purchase, the latest prior 'view' by the same
# user. The gate formulation is join + window (portable SQL); the scale
# formulation (sort-merge per user partition via applyInPandas merge_asof)
# lives in disq_spark.operators.asof and is differentially tested against
# this one.
# ---------------------------------------------------------------------------
@_q("asof_join_events")
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    joined = p.join(v, (F.col("p_user") == F.col("v_user")) & (F.col("v_ts") <= F.col("p_ts")), "left")
    w = W.partitionBy("purchase_id").orderBy(F.desc("v_ts"), F.desc("view_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            F.col("p_user").alias("user_id"),
            "view_id",
            (F.col("p_ts").cast("long") - F.col("v_ts").cast("long")).alias("lag_seconds"),
        )
        .orderBy("purchase_id")
    )


ORACLE["asof_join_events"] = """
WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
     v AS (SELECT user_id, event_id AS view_id, ts AS v_ts FROM events WHERE event_type = 'view'),
     j AS (
       SELECT p.purchase_id, p.user_id, v.view_id,
              (epoch_us(p.p_ts) // 1000000) - (epoch_us(v.v_ts) // 1000000) AS lag_seconds,
              row_number() OVER (PARTITION BY p.purchase_id ORDER BY v.v_ts DESC, v.view_id DESC) AS rn
       FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.v_ts <= p.p_ts
     )
SELECT purchase_id, user_id, view_id, lag_seconds FROM j WHERE rn = 1 ORDER BY purchase_id
"""


# ---------------------------------------------------------------------------
# json_props_extract — semi-structured extraction from the props column
# ---------------------------------------------------------------------------
@_q("json_props_extract")
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.round(F.min(k), 2).alias("min_k"),
            F.round(F.max(k), 2).alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE["json_props_extract"] = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
       round(min(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 2) AS min_k,
       round(max(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 2) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# interval_bin_join — the binned genomic overlap-join operator
# (operators/genomics.interval_join) exercised on synthetic intervals; the
# oracle is the naive non-equi join, so this differentially verifies the
# bin-dedup trick end-to-end.
# ---------------------------------------------------------------------------
@_q("interval_bin_join")
def interval_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.operators.genomics import interval_join

    e = load(spark, sf_dir, "events")
    pts = e.select(
        F.col("event_type").alias("contig"),
        (F.floor(F.col("value") * 100).cast("long") + 1).alias("start"),
        (F.floor(F.col("value") * 100).cast("long") + 51).alias("end"),
        "event_id",
    )
    types = e.select(F.col("event_type").alias("contig")).distinct()
    tiles = (
        types.crossJoin(spark.range(20).select(F.col("id").alias("tile_id")))
        .select(
            "contig",
            "tile_id",
            (F.col("tile_id") * 2500 + 1).alias("start"),
            (F.col("tile_id") * 2500 + 3000).alias("end"),
        )
    )
    joined = interval_join(pts, tiles, right_prefix="t_", bin_size=512)
    return (
        joined.groupBy(F.col("contig"), F.col("t_tile_id").alias("tile_id"))
        .agg(F.count("*").alias("n"))
        .orderBy("contig", "tile_id")
    )


ORACLE["interval_bin_join"] = """
WITH pts AS (
  SELECT event_type AS contig,
         CAST(floor(value * 100) AS BIGINT) + 1 AS s,
         CAST(floor(value * 100) AS BIGINT) + 51 AS e,
         event_id
  FROM events
),
tiles AS (
  SELECT t.contig, g.i AS tile_id, g.i * 2500 + 1 AS s, g.i * 2500 + 3000 AS e
  FROM (SELECT DISTINCT event_type AS contig FROM events) t,
       (SELECT unnest(generate_series(0, 19)) AS i) g
)
SELECT pts.contig AS contig, tiles.tile_id, count(*) AS n
FROM pts JOIN tiles
  ON pts.contig = tiles.contig AND pts.s <= tiles.e AND pts.e >= tiles.s
GROUP BY 1, 2 ORDER BY contig, tile_id
"""


# ---------------------------------------------------------------------------
# hourly_active_users — exact count-distinct per tumbling window
# ---------------------------------------------------------------------------
@_q("hourly_active_users")
def hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("hour")
        .select(F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"), "active_users", "n_events")
    )


ORACLE["hourly_active_users"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       count(DISTINCT user_id) AS active_users,
       count(*) AS n_events
FROM events GROUP BY date_trunc('hour', ts) ORDER BY 1
"""


# ---------------------------------------------------------------------------
# event_funnel — per-user previous-event transition counts (lag window)
# ---------------------------------------------------------------------------
@_q("event_funnel")
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
        .orderBy("from_type", "to_type")
    )


ORACLE["event_funnel"] = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n
FROM seq WHERE from_type IS NOT NULL
GROUP BY from_type, to_type ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# retention_cohorts — weekly signup-free retention matrix: cohort = first
# active ISO week; cell = distinct users of that cohort active k weeks
# later. Two shuffles (distinct user-week activity, cohort groupBy) with
# the cohort-size side broadcast back — the standard product-analytics
# rollup at any scale.
# ---------------------------------------------------------------------------
@_q("retention_cohorts")
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    act = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count_distinct("user_id").alias("cohort_size")
    )
    cells = (
        act.join(cohort, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"),
            "week_offset",
            "n_active",
            F.round(F.col("n_active") * 100.0 / F.col("cohort_size"), 2).alias(
                "retention_pct"
            ),
        )
        .orderBy("cohort", "week_offset")
    )


ORACLE["retention_cohorts"] = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
  FROM cohort GROUP BY cohort_week
),
cells AS (
  SELECT cohort_week,
         CAST(datediff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
         CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_active
  FROM act JOIN cohort ON act.user_id = cohort.user_id
  GROUP BY 1, 2
)
SELECT strftime(cells.cohort_week, '%Y-%m-%d') AS cohort, week_offset, n_active,
       round(n_active * 100.0 / cohort_size, 2) AS retention_pct
FROM cells JOIN sizes ON cells.cohort_week = sizes.cohort_week
ORDER BY cohort, week_offset
"""


# ---------------------------------------------------------------------------
# rollup_cascade_day — day-grain continuous aggregate produced by the
# minute -> hour -> day cascade (operators/rollup.py): one raw scan, the
# coarser grains re-aggregate 60x/24x smaller inputs. The oracle states
# the day grain directly — re-aggregation must be lossless for
# sum/count/min/max.
# ---------------------------------------------------------------------------
@_q("rollup_cascade_day")
def rollup_cascade_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.operators.rollup import cascade_rollup

    e = load(spark, sf_dir, "events")
    day = cascade_rollup(e, ts="ts", keys=("event_type",), value="value")["day"]
    return day.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "n",
        F.round("total", 2).alias("total"),
        F.round("vmin", 4).alias("vmin"),
        F.round("vmax", 4).alias("vmax"),
    ).orderBy("event_type", "day")


ORACLE["rollup_cascade_day"] = """
SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n, round(sum(value), 2) AS total,
       round(min(value), 4) AS vmin, round(max(value), 4) AS vmax
FROM events GROUP BY 1, 2 ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# event_spike_detection — monitoring-style anomaly pass: hourly counts
# per event type, flagged when count > 2x the trailing-24h mean. The
# comparison is kept in exact integers (n * slots > 2 * trailing_sum)
# instead of a float z-score, so the flag set is engine-deterministic;
# one shuffle for the hourly rollup, one window pass per type.
# ---------------------------------------------------------------------------
@_q("event_spike_detection")
def event_spike_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    trail_sum = F.sum("n").over(w)
    trail_cnt = F.count("n").over(w)
    flagged = (
        hourly.withColumn("t_sum", trail_sum)
        .withColumn("t_cnt", trail_cnt)
        .filter(
            (F.col("t_cnt") >= 12)
            & (F.col("n") * F.col("t_cnt") > 2 * F.col("t_sum"))
        )
    )
    return flagged.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
        "n",
        F.round(F.col("t_sum") / F.col("t_cnt"), 2).alias("trailing_mean"),
    ).orderBy("event_type", "hour")


ORACLE["event_spike_detection"] = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, hour, n,
         sum(n) OVER (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS t_sum,
         count(n) OVER (PARTITION BY event_type ORDER BY hour
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS t_cnt
  FROM hourly
)
SELECT event_type, strftime(hour, '%Y-%m-%d %H:00') AS hour, CAST(n AS BIGINT) AS n,
       round(t_sum * 1.0 / t_cnt, 2) AS trailing_mean
FROM t WHERE t_cnt >= 12 AND n * t_cnt > 2 * t_sum
ORDER BY event_type, hour
"""


# ---------------------------------------------------------------------------
# funnel_conversion — windowed conversion: of each day's first-time
# signups, how many purchase within 7 days. First-signup via min(ts) per
# user; conversion via the earliest qualifying purchase (one join +
# integer comparisons — the exists-within-window shape).
# ---------------------------------------------------------------------------
@_q("funnel_conversion")
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchase = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("p_ts")
    )
    conv = (
        signup.join(purchase, "user_id", "left")
        .withColumn(
            "converted",
            (
                F.col("p_ts").isNotNull()
                & (F.col("p_ts") >= F.col("signup_ts"))
                & (F.col("p_ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS"))
            ).cast("long"),
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.max("converted").alias("converted"))
    )
    return (
        conv.groupBy(F.date_format("signup_ts", "yyyy-MM-dd").alias("signup_day"))
        .agg(
            F.count("*").alias("n_signups"),
            F.sum("converted").alias("n_converted"),
            F.round(F.sum("converted") * 100.0 / F.count("*"), 2).alias("conv_pct"),
        )
        .orderBy("signup_day")
    )


ORACLE["funnel_conversion"] = """
WITH signup AS (
  SELECT user_id, min(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT s.user_id, s.signup_ts,
         max(CASE WHEN p.ts IS NOT NULL AND p.ts >= s.signup_ts
                   AND p.ts <= s.signup_ts + INTERVAL 7 DAY THEN 1 ELSE 0 END) AS converted
  FROM signup s
  LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    ON s.user_id = p.user_id
  GROUP BY s.user_id, s.signup_ts
)
SELECT strftime(signup_ts, '%Y-%m-%d') AS signup_day,
       count(*) AS n_signups,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(sum(converted) * 100.0 / count(*), 2) AS conv_pct
FROM conv GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# streaming_hourly_counts — Structured Streaming under the full hash
# gate: a bounded parquet stream driven to completion (availableNow +
# complete output mode + memory sink) must equal the batch aggregation,
# so the streaming engine's answer is oracle-checked like any batch
# query. At scale the same plan runs unbounded with a watermark; the
# bounded-equals-batch identity is the correctness contract tested here
# (pytest covers the watermarked append-mode variants).
# ---------------------------------------------------------------------------
@_q("streaming_hourly_counts")
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.queries._stream_util import bounded_stream, run_to_completion

    stream = bounded_stream(spark, sf_dir, "events", ["ts", "event_type"])
    agg = stream.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"))
    if spark.catalog.tableExists("stream_gate_hourly"):
        spark.catalog.dropTempView("stream_gate_hourly")  # re-run safety
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_gate_hourly")
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q, "streaming_hourly_counts")
    return (
        spark.table("stream_gate_hourly")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
        )
        .orderBy("hour", "event_type")
    )


ORACLE["streaming_hourly_counts"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


# ---------------------------------------------------------------------------
# streaming_sessionize_gate — session_window (gap-based streaming
# sessionization) under the full hash gate. The engine's native session
# merge semantics are: windows [ts, ts+gap) merge while they OVERLAP, so
# a gap of exactly `gap` starts a NEW session (strict <). The oracle
# replays that with lag+cumsum in exact MICROsecond arithmetic (event
# timestamps carry micros; flooring to seconds would misclassify
# near-boundary gaps). Duration = last-first+gap, per session_window's
# [first, last+gap) definition — all integer math, hash-exact.
# ---------------------------------------------------------------------------
_SESS_GAP_MIN = 30


@_q("streaming_sessionize_gate")
def streaming_sessionize_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.queries._stream_util import bounded_stream, run_to_completion

    stream = bounded_stream(spark, sf_dir, "events", ["event_id", "ts", "user_id"])
    sess = stream.groupBy(
        F.session_window("ts", f"{_SESS_GAP_MIN} minutes"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    if spark.catalog.tableExists("stream_gate_sessions"):
        spark.catalog.dropTempView("stream_gate_sessions")  # re-run safety
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_gate_sessions")
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q, "streaming_sessionize_gate")
    dur_us = F.unix_micros(F.col("session_window.end")) - F.unix_micros(
        F.col("session_window.start")
    )
    return (
        spark.table("stream_gate_sessions")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max(dur_us).alias("max_session_us"),
            F.sum(dur_us).alias("total_session_us"),
        )
        .orderBy("user_id")
    )


ORACLE["streaming_sessionize_gate"] = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY ts, event_id)
              >= {_SESS_GAP_MIN * 60 * 1000000} THEN 1 ELSE 0 END AS brk
  FROM events
),
sid AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS s
  FROM flagged
),
sess AS (
  SELECT user_id, s, count(*) AS n_events,
         epoch_us(max(ts)) - epoch_us(min(ts)) + {_SESS_GAP_MIN * 60 * 1000000} AS dur_us
  FROM sid GROUP BY user_id, s
)
SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(max(dur_us) AS BIGINT) AS max_session_us,
       CAST(sum(dur_us) AS BIGINT) AS total_session_us
FROM sess GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# streaming_interval_join_gate — watermarked stream-stream attribution
# join under the full hash gate: purchases joined to views by the same
# user within the 30 minutes BEFORE the purchase. Inner stream-stream
# joins emit matches as both sides arrive (the watermark only bounds
# state), so draining bounded streams must produce exactly the batch
# join — the oracle recomputes it in exact microsecond arithmetic.
# ---------------------------------------------------------------------------
_SJ_WINDOW_MIN = 30


@_q("streaming_interval_join_gate")
def streaming_interval_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.queries._stream_util import bounded_stream, run_to_completion
    from disq_spark.streaming.joins import stream_interval_join

    ev = bounded_stream(spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type"])
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    views = ev.filter(F.col("event_type") == "view").drop("event_type")
    joined = stream_interval_join(
        purchases, views, window=f"{_SJ_WINDOW_MIN} minutes", watermark="1 hour"
    )
    if spark.catalog.tableExists("stream_gate_ivjoin"):
        spark.catalog.dropTempView("stream_gate_ivjoin")  # re-run safety
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_gate_ivjoin")
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q, "streaming_interval_join_gate")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("r_ts"))
    return spark.table("stream_gate_ivjoin").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("user_id").alias("n_buyers"),
        F.countDistinct("event_id").alias("n_purchases_matched"),
        F.sum(gap_us).alias("sum_gap_us"),
        F.max(gap_us).alias("max_gap_us"),
    )


ORACLE["streaming_interval_join_gate"] = f"""
SELECT count(*) AS n_pairs,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_buyers,
       CAST(count(DISTINCT p.event_id) AS BIGINT) AS n_purchases_matched,
       CAST(sum(epoch_us(p.ts) - epoch_us(v.ts)) AS BIGINT) AS sum_gap_us,
       CAST(max(epoch_us(p.ts) - epoch_us(v.ts)) AS BIGINT) AS max_gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND epoch_us(v.ts) <= epoch_us(p.ts)
 AND epoch_us(v.ts) >= epoch_us(p.ts) - {_SJ_WINDOW_MIN * 60 * 1000000}
"""


# ---------------------------------------------------------------------------
# streaming_hll_gate — streaming sketch maintenance under the full hash
# gate: the register table a bounded stream accumulates (complete mode)
# must be BIT-IDENTICAL to the batch registers, which the oracle
# recomputes in SQL (md5-deterministic rho/bucket arithmetic). Register
# equality is the mergeable-state contract every incremental/distributed
# HLL deployment relies on.
# ---------------------------------------------------------------------------
_SHLL_P = 8


@_q("streaming_hll_gate")
def streaming_hll_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.queries._stream_util import bounded_stream, run_to_completion
    from disq_spark.streaming.sketches import streaming_hll_registers

    stream = bounded_stream(spark, sf_dir, "events", ["user_id"])
    # one stateful aggregation only (groupBy bucket / max rho) — a second
    # chained merge agg trips Spark's multiple-stateful-operator check
    regs = streaming_hll_registers(stream, "user_id", p=_SHLL_P)
    if spark.catalog.tableExists("stream_gate_hll"):
        spark.catalog.dropTempView("stream_gate_hll")  # re-run safety
    q = (
        regs.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_gate_hll")
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q, "streaming_hll_gate")
    return (
        spark.table("stream_gate_hll")
        .select(F.col("bucket").cast("long"), F.col("max_rho").cast("long"))
        .orderBy("bucket")
    )


def _streaming_hll_oracle() -> str:
    from disq_spark.operators import sketches as SK

    bd = _SHLL_P // 4
    return f"""
WITH h AS (SELECT md5('' || user_id) AS __h FROM events)
SELECT cast({SK.hex2int_sql("__h", bd)} AS BIGINT) AS bucket,
       cast(max({SK.rho_sql(f"substring(__h, {bd + 1}, {SK.RHO_DIGITS})")}) AS BIGINT) AS max_rho
FROM h GROUP BY bucket ORDER BY bucket
"""


ORACLE["streaming_hll_gate"] = _streaming_hll_oracle()


# ---------------------------------------------------------------------------
# streaming_countmin_gate — streaming count-min cells under the full hash
# gate: complete-mode cell counts from a bounded stream are integer-exact
# and must equal the SQL-recomputed batch cells.
# ---------------------------------------------------------------------------
_SCM_DEPTH = 4
_SCM_WIDTH = 256


@_q("streaming_countmin_gate")
def streaming_countmin_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.queries._stream_util import bounded_stream, run_to_completion
    from disq_spark.streaming.sketches import streaming_countmin

    stream = bounded_stream(spark, sf_dir, "events", ["event_type"])
    cells = streaming_countmin(stream, "event_type", depth=_SCM_DEPTH, width=_SCM_WIDTH)
    if spark.catalog.tableExists("stream_gate_cm"):
        spark.catalog.dropTempView("stream_gate_cm")  # re-run safety
    q = (
        cells.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_gate_cm")
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q, "streaming_countmin_gate")
    return (
        spark.table("stream_gate_cm")
        .select(
            F.col("row").cast("long"), F.col("col").cast("long"), F.col("cnt")
        )
        .orderBy("row", "col")
    )


def _streaming_cm_oracle() -> str:
    from disq_spark.operators import sketches as SK

    wd = len(f"{_SCM_WIDTH - 1:x}")
    selects = []
    for r in range(_SCM_DEPTH):
        h = "md5('" + str(r) + ":' || event_type)"
        selects.append(
            f"SELECT {r} AS row, cast({SK.hex2int_sql(h, wd)} AS BIGINT) AS col FROM events"
        )
    rows = " UNION ALL ".join(selects)
    return f"""
WITH cells AS ({rows})
SELECT row, col, count(*) AS cnt FROM cells GROUP BY row, col ORDER BY row, col
"""


ORACLE["streaming_countmin_gate"] = _streaming_cm_oracle()


# ---------------------------------------------------------------------------
# streaming_quality_gate — the Deequ-style constraint suite maintained
# INCREMENTALLY over a bounded stream (complete mode): the very same
# check_constraints operator runs on the stream because every kind it
# compiles to — completeness/min/max/pattern/in_set/row_count — is a
# mergeable aggregate. distinctness is deliberately absent: exact
# count-distinct is not a one-pass mergeable metric (use the streaming
# HLL registers for an approximate distinctness monitor). The metrics a
# micro-batch pipeline gates on must equal the batch answer exactly —
# that equality is this gate.
# ---------------------------------------------------------------------------

_SQ_CONSTRAINTS = [
    {"name": "orders_orderkey_complete", "kind": "completeness",
     "column": "o_orderkey", "min_ratio": 1.0},
    {"name": "orders_priority_pattern", "kind": "pattern",
     "column": "o_orderpriority", "pattern": "^[1-5]-", "min_ratio": 1.0},
    {"name": "orders_rowcount", "kind": "row_count", "min": 1},
    {"name": "orders_status_domain", "kind": "in_set",
     "column": "o_orderstatus", "values": ["F", "O", "P"], "min_ratio": 1.0},
    {"name": "orders_totalprice_max", "kind": "max",
     "column": "o_totalprice", "bound": 1e6},
    {"name": "orders_totalprice_min", "kind": "min",
     "column": "o_totalprice", "bound": 0.0},
]


@_q("streaming_quality_gate")
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disq_spark.operators.checks import check_constraints
    from disq_spark.queries._stream_util import bounded_stream, run_to_completion

    stream = bounded_stream(
        spark, sf_dir, "orders",
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )
    report = check_constraints(stream, _SQ_CONSTRAINTS)
    if spark.catalog.tableExists("stream_gate_quality"):
        spark.catalog.dropTempView("stream_gate_quality")  # re-run safety
    q = (
        report.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_gate_quality")
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q, "streaming_quality_gate")
    return (
        spark.table("stream_gate_quality")
        .select("name", "kind", "col", F.round("metric", 6).alias("metric"), "passed")
        .orderBy("name")
    )


ORACLE["streaming_quality_gate"] = """
SELECT * FROM (
  SELECT 'orders_orderkey_complete' AS name, 'completeness' AS kind, 'o_orderkey' AS col,
         round(avg(CASE WHEN o_orderkey IS NULL THEN 0.0 ELSE 1.0 END), 6) AS metric,
         coalesce(avg(CASE WHEN o_orderkey IS NULL THEN 0.0 ELSE 1.0 END) >= 1.0, false) AS passed
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
  SELECT 'orders_totalprice_max', 'max', 'o_totalprice',
         round(CAST(max(o_totalprice) AS DOUBLE), 6),
         coalesce(max(o_totalprice) <= 1000000.0, false)
  FROM orders
  UNION ALL
  SELECT 'orders_totalprice_min', 'min', 'o_totalprice',
         round(CAST(min(o_totalprice) AS DOUBLE), 6),
         coalesce(min(o_totalprice) >= 0.0, false)
  FROM orders
) ORDER BY name
"""
