"""Temporal-join suite: as-of join and range join over the events
stream (operators Spark lacks natively; see operators/temporal.py for
the scalable compositions).

Oracle discipline: the as-of oracle mirrors the union-merge windowing
EXACTLY (same interleave ordering, same tie-breaks) rather than using
DuckDB's ASOF JOIN keyword, whose tie resolution among equal right
timestamps is unspecified; the range oracle is a plain non-equi join
DuckDB executes as an IEJoin. Timestamps surface as epoch micros.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.operators.temporal import (
    asof_join, range_join_count,
)
from sanctions_data_pipeline_spark.plans.helpers import lcount, persist
from sanctions_data_pipeline_spark.plans.registry import register


# --------------------------------------------------------------------------
# q_asof_join — for each click, the user's most recent STRICTLY-prior
# purchase (point-in-time state lookup)
# --------------------------------------------------------------------------
@register("q_asof_join", headline=True, oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id, NULL::BIGINT AS p_event_id,
         NULL::DOUBLE AS p_value, 0 AS kind
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, NULL, event_id, value, 1
  FROM events WHERE event_type = 'purchase'
), filled AS (
  SELECT user_id, ts, event_id, kind,
         last_value(p_event_id IGNORE NULLS) OVER w AS asof_p_event_id,
         last_value(p_value IGNORE NULLS) OVER w AS asof_p_value
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, p_event_id, p_value
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       asof_p_event_id, round(asof_p_value, 6) AS asof_p_value
FROM filled WHERE kind = 0
""")
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.col("event_id").alias("p_event_id"), F.col("value").alias("p_value"))
    out = asof_join(clicks, purchases, on="user_id", ts="ts",
                    right_cols=["p_event_id", "p_value"], strict=True)
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        "asof_p_event_id", F.round("asof_p_value", 6).alias("asof_p_value"))


# --------------------------------------------------------------------------
# q_range_join — clicks within the 5 minutes before each error (no
# equi-key; bucketed range join, 2-bucket fan-out)
# --------------------------------------------------------------------------
@register("q_range_join", headline=True, oracle="""
SELECT e.event_id, epoch_us(e.ts) AS ts_us, count(c.ts) AS n_clicks
FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT ts FROM events WHERE event_type = 'click') c
  ON epoch_us(c.ts) > epoch_us(e.ts) - 300000000
 AND epoch_us(c.ts) <= epoch_us(e.ts)
GROUP BY e.event_id, e.ts
""")
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("ts")
    out = range_join_count(errors, clicks, ts="ts",
                           window_us=300_000_000, agg_alias="n_clicks")
    return out.select("event_id", F.unix_micros("ts").alias("ts_us"),
                      "n_clicks")


# --------------------------------------------------------------------------
# q_scd2 — SCD-2 (slowly-changing-dimension type 2) history build: for
# each customer, collapse the order-status sequence into change
# intervals [valid_from, valid_to), valid_to NULL for the current one.
# Two windows over the SAME (custkey | orderdate,orderkey) key — one
# shuffle total, the second window reuses the first's partitioning.
# The sort key includes o_orderkey so ties on date are deterministic.
# Scale: partitioned by customer key (millions of small windows), never
# a global sort.
# --------------------------------------------------------------------------
@register("q_scd2", oracle="""
WITH ordered AS (
  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
         LAG(o_orderstatus) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS prev_status
  FROM orders
), changes AS (
  SELECT * FROM ordered
  WHERE prev_status IS NULL OR prev_status <> o_orderstatus
)
SELECT o_custkey, o_orderstatus AS status,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS valid_from,
       STRFTIME(LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                '%Y-%m-%d') AS valid_to
FROM changes
""")
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (orders
               .withColumn("prev_status", F.lag("o_orderstatus").over(w))
               .filter(F.col("prev_status").isNull()
                       | (F.col("prev_status") != F.col("o_orderstatus"))))
    return changes.select(
        "o_custkey", F.col("o_orderstatus").alias("status"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd")
         .alias("valid_to"))


# --------------------------------------------------------------------------
# q_funnel — ordered conversion funnel view -> click -> purchase: users
# whose first view is followed by a click, then a purchase after that
# click. Each stage is a per-user MIN aggregate joined forward (no
# window, no self-cartesian); the three stage counts meet in 1-row
# broadcast cross joins.
# --------------------------------------------------------------------------
@register("q_funnel", oracle="""
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_buy
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
       (SELECT COUNT(*) FROM c) AS n_clicked,
       (SELECT COUNT(*) FROM p) AS n_purchased
""")
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    # v and c each feed the next funnel stage's join AND a final count:
    # persist the narrow user-keyed stage frames so each stage's
    # events scan + agg runs once (round-12 subtree lint)
    v = persist(ev.filter(F.col("event_type") == "view")
                .groupBy("user_id").agg(F.min(us).alias("t_view")))
    c = persist(ev.filter(F.col("event_type") == "click").alias("e")
                .join(v, "user_id")
                .filter(us > F.col("t_view"))
                .groupBy("user_id").agg(F.min(us).alias("t_click")))
    p = (ev.filter(F.col("event_type") == "purchase").alias("e")
         .join(c, "user_id")
         .filter(us > F.col("t_click"))
         .groupBy("user_id").agg(F.min(us).alias("t_buy")))
    return (v.agg(F.count(F.lit(1)).alias("n_viewed"))
            .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_clicked"))))
            .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchased")))))


# --------------------------------------------------------------------------
# q_retention — cohort retention: users grouped by first-seen day,
# distinct-active counts per whole-week offset. One agg builds the
# cohort table (user-keyed, |users| rows), joined back onto the fact
# stream on the same user key — AQE broadcasts it while small and
# falls back to a co-partitioned shuffle join when the user dimension
# outgrows the broadcast threshold at scale.
# --------------------------------------------------------------------------
@register("q_retention", oracle="""
WITH first_seen AS (
  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
)
SELECT STRFTIME(DATE_TRUNC('day', f.t0), '%Y-%m-%d') AS cohort_day,
       CAST(FLOOR(DATE_DIFF('day', CAST(f.t0 AS DATE), CAST(e.ts AS DATE))
                  / 7) AS BIGINT) AS week_offset,
       COUNT(DISTINCT e.user_id) AS n_active
FROM events e JOIN first_seen f ON e.user_id = f.user_id
GROUP BY 1, 2
""")
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    return (ev.join(first_seen, "user_id")
            .groupBy(
                F.date_format(F.date_trunc("day", "t0"), "yyyy-MM-dd")
                 .alias("cohort_day"),
                F.floor(F.datediff(F.to_date("ts"), F.to_date("t0")) / F.lit(7))
                 .alias("week_offset"))
            .agg(F.countDistinct("user_id").alias("n_active")))


# --------------------------------------------------------------------------
# q_rollup_reuse — continuous-aggregate pattern: a DAILY aggregate
# computed FROM the HOURLY pre-aggregate, not from raw events — the
# hypertable/materialized-rollup trick that turns a 100 TB raw scan
# into a re-aggregation of a table 4-6 orders of magnitude smaller.
# Correctness requires the measures to be re-aggregable: counts sum,
# and the value sum stays DECIMAL through both levels, cast to double
# only at the daily edge.
# --------------------------------------------------------------------------
@register("q_rollup_reuse", oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,4))) AS v
  FROM events GROUP BY 1, 2
)
SELECT strftime(date_trunc('day', h), '%Y-%m-%d') AS day, event_type,
       -- DuckDB types SUM(BIGINT) as HUGEINT, which pandas renders as
       -- float64 ("73.0") and the driver's value-hash then mismatches
       -- Spark's bigint "73" (round-2 driver FAIL). Cast back to BIGINT.
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(v), 4) * 10000 AS BIGINT) / 10000.0 AS total_value
FROM hourly GROUP BY 1, 2
""")
def q_rollup_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import _as_exact_double

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("value").cast("decimal(18,4)")).alias("v")))
    return (hourly.groupBy(
                F.date_format(F.date_trunc("day", "h"), "yyyy-MM-dd").alias("day"),
                "event_type")
            .agg(F.sum("n").alias("n_events"),
                 _as_exact_double(F.sum("v")).alias("total_value")))


# --------------------------------------------------------------------------
# cg_asof_pandas — the SAME strict as-of join as q_asof_join, computed
# through the other engine surface: cogroup().applyInPandas with a
# per-user pandas merge_asof. Demonstrates the cogrouped-Pandas API and
# pins it to the identical SQL oracle as the window implementation —
# two independent execution paths, one semantics. Scale: cogroup
# shuffles both sides once on user_id; each group is two small sorted
# frames merged in C (pandas), no cross product.
# --------------------------------------------------------------------------
@register("cg_asof_pandas", oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id, NULL::BIGINT AS p_event_id,
         NULL::DOUBLE AS p_value, 0 AS kind
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, NULL, event_id, value, 1
  FROM events WHERE event_type = 'purchase'
), filled AS (
  SELECT user_id, ts, event_id, kind,
         last_value(p_event_id IGNORE NULLS) OVER w AS asof_p_event_id,
         last_value(p_value IGNORE NULLS) OVER w AS asof_p_value
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, p_event_id, p_value
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       asof_p_event_id, round(asof_p_value, 6) AS asof_p_value
FROM filled WHERE kind = 0
""")
def cg_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.unix_micros("ts").alias("p_ts_us"),
                         F.col("event_id").alias("p_event_id"),
                         F.round("value", 6).alias("p_value")))

    def merge(left, right):
        if not len(left):
            return pd.DataFrame({"event_id": pd.Series(dtype="int64"),
                                 "user_id": pd.Series(dtype="int64"),
                                 "ts_us": pd.Series(dtype="int64"),
                                 "asof_p_event_id": pd.Series(dtype="Int64"),
                                 "asof_p_value": pd.Series(dtype="float64")})
        left = left.sort_values("ts_us")
        # among equal purchase timestamps the LAST (max p_event_id) wins,
        # matching the window oracle's ordering
        right = right.sort_values(["p_ts_us", "p_event_id"])
        out = pd.merge_asof(left, right.drop(columns=["user_id"]),
                            left_on="ts_us", right_on="p_ts_us",
                            allow_exact_matches=False)  # STRICTLY prior
        return pd.DataFrame({
            "event_id": out["event_id"].astype("int64"),
            "user_id": out["user_id"].astype("int64"),
            "ts_us": out["ts_us"].astype("int64"),
            "asof_p_event_id": out["p_event_id"].astype("Int64"),
            "asof_p_value": out["p_value"].astype("float64"),
        })

    merge.__annotations__ = {"left": pd.DataFrame, "right": pd.DataFrame,
                             "return": pd.DataFrame}
    return (clicks.groupBy("user_id")
            .cogroup(purchases.groupBy("user_id"))
            .applyInPandas(merge,
                           "event_id long, user_id long, ts_us long, "
                           "asof_p_event_id long, asof_p_value double"))


# --------------------------------------------------------------------------
# q_range_frame — time-RANGE window frame: per event, aggregates over
# the trailing ONE HOUR of the same user's events (RANGE BETWEEN
# INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) — a frame defined by the
# ORDER-BY VALUE, not by row offsets, so simultaneous events are frame
# peers and gaps shrink the frame. Complements q_moving_avg's
# ROWS-frame. Spark's rangeBetween needs a numeric sort key, so the
# frame runs over epoch microseconds with a literal hour radius; only
# order-independent aggregates (count, max) are emitted, keeping the
# output exact on both engines regardless of frame-internal
# accumulation order. Scale: one shuffle on user_id; each partition
# sorts its own user's events only.
# --------------------------------------------------------------------------
@register("q_range_frame", oracle="""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       COUNT(*) OVER w AS n_events_1h,
       MAX(value) OVER w AS max_value_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
""")
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    w = (W.partitionBy("user_id").orderBy(F.unix_micros("ts"))
         .rangeBetween(-hour_us, 0))
    return ev.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        F.max("value").over(w).alias("max_value_1h"))


# --------------------------------------------------------------------------
# q_asof_forward — FORWARD as-of join: for each click, the EARLIEST
# strictly-later purchase by the same user (the "next event after"
# direction kdb/pandas asof searches support; q_asof_join covers
# backward). Same union-merge trick, mirrored: purchases sort BEFORE
# clicks at equal timestamps (kind asc), so a CURRENT ROW ->
# UNBOUNDED FOLLOWING frame sees only strictly-later purchases, and
# first_value IGNORE NULLS picks the earliest with a deterministic
# (p_event_id, p_value) tie-break. One shuffle on user_id.
# --------------------------------------------------------------------------
@register("q_asof_forward", oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id, NULL::BIGINT AS p_event_id,
         NULL::DOUBLE AS p_value, 1 AS kind
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, NULL, event_id, value, 0
  FROM events WHERE event_type = 'purchase'
), filled AS (
  SELECT user_id, ts, event_id, kind,
         first_value(p_event_id IGNORE NULLS) OVER w AS next_p_event_id,
         first_value(p_value IGNORE NULLS) OVER w AS next_p_value
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, p_event_id, p_value
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       next_p_event_id, round(next_p_value, 6) AS next_p_value
FROM filled WHERE kind = 1
""")
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("long").alias("p_event_id"),
        F.lit(None).cast("double").alias("p_value"),
        F.lit(1).alias("kind"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.col("event_id").alias("p_event_id"),
        F.col("value").alias("p_value"), F.lit(0).alias("kind"))
    w = (W.partitionBy("user_id")
         .orderBy("ts", "kind", "p_event_id", "p_value")
         .rowsBetween(W.currentRow, W.unboundedFollowing))
    merged = clicks.unionByName(purchases).select(
        "event_id", "user_id", "ts", "kind",
        F.first("p_event_id", ignorenulls=True).over(w)
         .alias("next_p_event_id"),
        F.first("p_value", ignorenulls=True).over(w).alias("next_p_value"))
    return (merged.filter(F.col("kind") == 1)
            .select("event_id", "user_id",
                    F.unix_micros("ts").alias("ts_us"),
                    "next_p_event_id",
                    F.round("next_p_value", 6).alias("next_p_value")))


# --------------------------------------------------------------------------
# q_interval_merge — interval coalescing (union of overlapping
# validity windows): each event opens a 30-minute window per user;
# overlapping/touching windows merge into maximal islands via the
# running-max-end trick (one window shuffle on user_id, no self-join —
# the O(n log n) distributed form of interval union).
# --------------------------------------------------------------------------
@register("q_interval_merge", oracle="""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts + INTERVAL 30 MINUTE) AS e
  FROM events
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM iv
), islands AS (
  SELECT user_id, s, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT user_id, CAST(MIN(s) AS BIGINT) AS start_us,
       CAST(MAX(e) AS BIGINT) AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM islands GROUP BY user_id, island
""")
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        F.unix_micros(F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"))
    w = W.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    brk = F.when(F.col("s") > prev_max_e, 1).otherwise(0)
    return (iv.withColumn("__brk", brk)
            .withColumn("__island",
                        F.sum("__brk").over(w.rowsBetween(W.unboundedPreceding, 0)))
            .groupBy("user_id", "__island")
            .agg(F.min("s").cast("bigint").alias("start_us"),
                 F.max("e").cast("bigint").alias("end_us"),
                 lcount("n_events"))
            .drop("__island"))
