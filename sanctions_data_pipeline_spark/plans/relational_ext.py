"""Extended relational suite (SURVEY.md §2, block 1 continued).

Operator families not covered by the core suite: decorrelated scalar
subqueries, explicit grouping sets, exact percentiles, sliding window
frames, argmax aggregation, set intersection/difference, and
semi-structured JSON extraction.

Scale notes (100 TB): the Q17-style decorrelation turns a per-row
correlated subquery into ONE extra aggregate over the (brand-pruned)
fact table plus a key-co-partitioned join — both shuffles are on
l_partkey so AQE coalesces them into the same exchange; grouping sets /
percentile / argmax are single-pass hash aggregations with map-side
partials; window frames shuffle once on the partition key; JSON
extraction is a JVM-side expression (no Python), so it stays inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.plans.helpers import (
    _as_exact_double, drate, dsum, dval, lcount, local_frame, persist,
    sql_dsum, ts_str,
)
from sanctions_data_pipeline_spark.plans.registry import register


# --------------------------------------------------------------------------
# q17_small_qty — TPC-H Q17-style correlated scalar subquery
# ("lineitems with quantity below 20% of the part's average"),
# decorrelated into a per-part aggregate + join. The per-part stats are
# computed only over the brand's lineitems (semi-join prune first), which
# leaves the values identical — a part's average uses only its own rows.
# --------------------------------------------------------------------------
@register("q17_small_qty", oracle=f"""
WITH pp AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sumq,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_partkey
)
SELECT {sql_dsum("CAST(l_extendedprice AS DECIMAL(18,4))", "total_price")},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
              JOIN pp USING (l_partkey)
WHERE p_brand = 'Brand#13'
  AND CAST(l_quantity AS DECIMAL(18,4)) * 5 * n < sumq
""")
def q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = (load_table(spark, sf_dir, "part")
                   .filter(F.col("p_brand") == "Brand#13")
                   .select("p_partkey"))
    li_b = li.join(F.broadcast(brand_parts),
                   li.l_partkey == brand_parts.p_partkey, "left_semi")
    per_part = (li_b.groupBy("l_partkey")
                .agg(F.sum(dval("l_quantity")).alias("_sumq"),
                     F.count(F.lit(1)).alias("_n")))
    # decimal compare is exact: qty*5*n and sumq are both exact decimals,
    # so the predicate is engine- and order-independent
    return (
        li_b.join(per_part, "l_partkey")
        .filter(dval("l_quantity") * 5 * F.col("_n") < F.col("_sumq"))
        .agg(dsum(dval("l_extendedprice"), "total_price"), lcount("n_items"))
    )


# --------------------------------------------------------------------------
# q_grouping_sets — explicit GROUPING SETS ((r_name), (c_mktsegment), ())
# two independent rollup dimensions + grand total in ONE pass/shuffle
# --------------------------------------------------------------------------
@register("q_grouping_sets", oracle=f"""
SELECT r_name, c_mktsegment,
       {sql_dsum("CAST(c_acctbal AS DECIMAL(18,4))", "total_acctbal")},
       COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
""")
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupingSets([["r_name"], ["c_mktsegment"], []],
                      "r_name", "c_mktsegment")
        .agg(dsum(dval("c_acctbal"), "total_acctbal"), lcount("n_customers"))
    )


# --------------------------------------------------------------------------
# q_percentile — EXACT percentiles (median / p90) per group. The exact
# percentile is a sort-based agg; at 100 TB prefer q_approx_sketch's
# t-digest unless exactness is required. Both engines interpolate
# linearly on the sorted values; scores rounded to 6dp on both sides.
# --------------------------------------------------------------------------
@register("q_percentile", oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50_value,
       round(quantile_cont(value, 0.9), 6) AS p90_value,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
""")
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50_value"),
            F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90_value"),
            lcount("n_events"),
        )
    )


# --------------------------------------------------------------------------
# q_moving_avg — sliding ROWS frame per user (last-4-events moving sum +
# running cumulative sum). One shuffle on user_id; frames are evaluated
# in a single sorted pass per partition. Decimal window sums -> exact
# doubles, so results are frame-order-deterministic on both engines.
# --------------------------------------------------------------------------
@register("q_moving_avg", oracle="""
SELECT user_id, event_id,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER mov, 4) * 10000 AS BIGINT)
           / 10000.0 AS moving_sum4,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER cum, 4) * 10000 AS BIGINT)
           / 10000.0 AS cum_sum,
       CAST(COUNT(*) OVER mov AS BIGINT) AS n_in_frame
FROM events
WINDOW mov AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
       cum AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
""")
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = W.partitionBy("user_id").orderBy("ts", "event_id")
    mov = base.rowsBetween(-3, 0)
    cum = base.rowsBetween(W.unboundedPreceding, 0)
    return ev.select(
        "user_id", "event_id",
        _as_exact_double(F.sum(dval("value")).over(mov)).alias("moving_sum4"),
        _as_exact_double(F.sum(dval("value")).over(cum)).alias("cum_sum"),
        F.count(F.lit(1)).over(mov).cast("bigint").alias("n_in_frame"),
    )


# --------------------------------------------------------------------------
# q_argmax — argmax aggregation (max_by / arg_max): top customer per
# nation WITHOUT a window sort — single hash agg carrying (key, best)
# pairs. Tie-break is deterministic via an exact bigint sort key
# (acctbal-cents << 33 | custkey); acctbal has 2 decimals so the
# scaled value is integer-exact on both engines.
# --------------------------------------------------------------------------
@register("q_argmax", oracle="""
SELECT n_name,
       arg_max(c_name,
               CAST(round(c_acctbal * 100) AS BIGINT) * 8589934592 + c_custkey)
           AS top_customer,
       MAX(c_acctbal) AS max_acctbal,
       COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""")
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    sort_key = (F.round(F.col("c_acctbal") * 100).cast("bigint")
                * F.lit(8589934592).cast("bigint") + F.col("c_custkey"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.max_by("c_name", sort_key).alias("top_customer"),
            F.max("c_acctbal").alias("max_acctbal"),
            lcount("n_customers"),
        )
    )


# --------------------------------------------------------------------------
# q_intersect_except — set intersection / difference (distinct
# semantics): nations that have customers vs nations that have
# suppliers. Both inputs reduce to tiny distinct sets before the set
# op, so the final exchanges are trivial.
# --------------------------------------------------------------------------
@register("q_intersect_except", oracle="""
SELECT n_name, 'both' AS kind FROM (
  SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
  INTERSECT
  SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
)
UNION ALL
SELECT n_name, 'customers_only' AS kind FROM (
  SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
  EXCEPT
  SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
)
""")
def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # cn/sn each feed the intersect AND the except branch: persist the
    # single-column join projections so each scan + broadcast join runs
    # once (round-12 subtree lint)
    cn = persist(cust.join(F.broadcast(nation),
                           cust.c_nationkey == nation.n_nationkey)
                 .select("n_name"))
    sn = persist(supp.join(F.broadcast(nation),
                           supp.s_nationkey == nation.n_nationkey)
                 .select("n_name"))
    both = cn.intersect(sn).select("n_name", F.lit("both").alias("kind"))
    cust_only = (cn.distinct().exceptAll(sn.distinct())
                 .select("n_name", F.lit("customers_only").alias("kind")))
    return both.unionAll(cust_only)


# --------------------------------------------------------------------------
# q_json_props — semi-structured extraction: pull a typed field out of
# the JSON `props` column and aggregate it. get_json_object is a
# JVM-side expression (stays in whole-stage codegen — no Python, no
# Arrow hop), and the extraction happens before the shuffle so only
# (event_type, int) pairs move.
# --------------------------------------------------------------------------
@register("q_json_props", oracle="""
SELECT event_type,
       CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
       COUNT(DISTINCT CAST(props->>'k' AS INTEGER)) AS n_distinct_k,
       MIN(CAST(props->>'k' AS INTEGER)) AS min_k,
       MAX(CAST(props->>'k' AS INTEGER)) AS max_k,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
""")
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).cast("bigint").alias("sum_k"),
            F.countDistinct(k).alias("n_distinct_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            lcount("n_events"),
        )
    )


# --------------------------------------------------------------------------
# q_gap_fill — time-series densification: per-event-type hourly buckets
# with missing hours zero-filled over the global [min,max] hour range.
# The grid is (|event_types| x |hours|) — tiny — generated with
# sequence+explode and broadcast against the aggregated counts, so the
# only fact-table shuffle is the bucket aggregation itself.
# --------------------------------------------------------------------------
@register("q_gap_fill", oracle=f"""
WITH b AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
), et AS (SELECT DISTINCT event_type FROM events),
grid AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM et, b
), c AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         COUNT(*) AS n_events,
         {sql_dsum("CAST(value AS DECIMAL(18,4))", "total_value")}
  FROM events GROUP BY 1, 2
)
SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS bucket,
       COALESCE(c.n_events, 0) AS n_events,
       COALESCE(c.total_value, 0.0) AS total_value
FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h
""")
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import ts_str

    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    counts = (ev.groupBy(F.col("event_type"), hour.alias("h"))
              .agg(lcount("n_events"), dsum(dval("value"), "total_value")))
    bounds = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
                    F.date_trunc("hour", F.max("ts")).alias("h1"))
    grid = (ev.select("event_type").distinct()
            .crossJoin(F.broadcast(bounds))
            .select("event_type",
                    F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour")))
                     .alias("h")))
    return (grid.join(counts, ["event_type", "h"], "left")
            .select("event_type",
                    ts_str(F.col("h"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
                    F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
                    F.coalesce("total_value", F.lit(0.0)).alias("total_value")))


# --------------------------------------------------------------------------
# q_unpivot — wide->long melt of a per-segment metric table (the
# DataFrame unpivot/stack operator). All melted values are doubles
# derived from exact decimal aggs, so the long table hash-matches the
# oracle's UNION ALL formulation.
# --------------------------------------------------------------------------
@register("q_unpivot", oracle=f"""
WITH w AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS DOUBLE) AS n_customers,
         {sql_dsum("CAST(c_acctbal AS DECIMAL(18,4))", "total_acctbal")},
         CAST(MIN(c_acctbal) AS DOUBLE) AS min_acctbal,
         CAST(MAX(c_acctbal) AS DOUBLE) AS max_acctbal
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, 'n_customers' AS metric, n_customers AS value FROM w
UNION ALL
SELECT c_mktsegment, 'total_acctbal', total_acctbal FROM w
UNION ALL
SELECT c_mktsegment, 'min_acctbal', min_acctbal FROM w
UNION ALL
SELECT c_mktsegment, 'max_acctbal', max_acctbal FROM w
""")
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    wide = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("double").alias("n_customers"),
        dsum(dval("c_acctbal"), "total_acctbal"),
        F.min("c_acctbal").cast("double").alias("min_acctbal"),
        F.max("c_acctbal").cast("double").alias("max_acctbal"),
    )
    return wide.unpivot(
        "c_mktsegment",
        ["n_customers", "total_acctbal", "min_acctbal", "max_acctbal"],
        "metric", "value")


# --------------------------------------------------------------------------
# q_stats_moments — per-group stddev + correlation computed from EXACT
# moment sums (n, Sx, Sxx, Sy, Syy, Sxy as decimals/bigints), combined
# into the textbook formulas in double at the edge. Naive
# stddev()/corr() aggs are accumulation-order-dependent; moment sums
# are exact and order-free, so both engines evaluate the identical
# IEEE expression tree -> bit-identical results. One hash agg, six
# map-side-combined sums.
# --------------------------------------------------------------------------
@register("q_stats_moments", oracle="""
WITH m AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) * 10000 AS BIGINT) / 10000.0 AS DOUBLE) AS sx,
         CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))), 4) * 10000 AS BIGINT) / 10000.0 AS DOUBLE) AS sxx,
         CAST(SUM(CAST(props->>'k' AS INTEGER)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(props->>'k' AS BIGINT) * CAST(props->>'k' AS BIGINT)) AS DOUBLE) AS syy,
         CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4)) * CAST(props->>'k' AS INTEGER)), 4) * 10000 AS BIGINT) / 10000.0 AS DOUBLE) AS sxy
  FROM events GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6) AS std_value,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_vk
FROM m
""")
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    x = dval("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _as_exact_double(F.sum(x)).alias("sx"),
        _as_exact_double(F.sum(x * x)).alias("sxx"),
        F.sum(k).cast("double").alias("sy"),
        F.sum(k.cast("bigint") * k.cast("bigint")).cast("double").alias("syy"),
        _as_exact_double(F.sum(x * k)).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_events"),
        F.round(F.sqrt((n * sxx - sx * sx) / (n * (n - F.lit(1)))), 6)
         .alias("std_value"),
        F.round((n * sxy - sx * sy)
                / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)), 6)
         .alias("corr_vk"),
    )


# --------------------------------------------------------------------------
# q_upsert_latest — MERGE INTO semantics (SCD type-1, latest wins) as a
# single hash agg: base = orders, change set = every 10th order marked
# shipped with bumped priority. One shuffle on the merge key, max_by
# picks the newest payload, n_versions counts how many versions met.
# --------------------------------------------------------------------------
@register("q_upsert_latest", oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 0 THEN 'S' ELSE o_orderstatus END
           AS o_orderstatus,
       CASE WHEN o_orderkey % 10 = 0 THEN '1-URGENT' ELSE o_orderpriority END
           AS o_orderpriority,
       CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS n_versions
FROM orders
""")
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators.merge import upsert_latest

    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    updates = (orders.filter(F.col("o_orderkey") % 10 == 0)
               .select("o_orderkey",
                       F.lit("S").alias("o_orderstatus"),
                       F.lit("1-URGENT").alias("o_orderpriority")))
    return upsert_latest(orders, updates, ["o_orderkey"])


# --------------------------------------------------------------------------
# q13_custdist — TPC-H Q13 shape: LEFT OUTER join fact→dim with an
# ON-clause filter, per-customer order counts, then the distribution
# of those counts. Exercises null-generating outer join + double agg.
# Expressed through the spark.sql SQL surface over registered temp
# views (same Catalyst plan as the DataFrame API).
# --------------------------------------------------------------------------
@register("q13_custdist", oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
""")
def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
          SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """)


# --------------------------------------------------------------------------
# q19_disjunctive — TPC-H Q19 shape: revenue under an OR-of-ANDs
# predicate spanning both join sides. Catalyst extracts the common
# join key and pushes the single-side conjuncts (p_brand/p_size,
# l_quantity bounds) below the join — the disjunction does NOT force
# a cartesian or a full scan of either side.
# --------------------------------------------------------------------------
@register("q19_disjunctive", oracle=f"""
SELECT {sql_dsum("CAST(l_extendedprice AS DECIMAL(18,4))"
                 " * (1 - CAST(l_discount AS DECIMAL(8,4)))", "revenue")},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
""")
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    pred = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 35)))
    rev = dval("l_extendedprice") * (F.lit(1).cast("decimal(8,4)") - drate("l_discount"))
    return joined.filter(pred).agg(dsum(rev, "revenue"), lcount("n_items"))


# --------------------------------------------------------------------------
# q21_sole_returner — TPC-H Q21 shape: semi + anti self-join on the
# fact table. Suppliers whose 'R'-flagged line is in a multi-supplier
# order where NO other supplier flagged 'R': EXISTS(other supplier in
# order) AND NOT EXISTS(other supplier with 'R'). Both existence
# probes are one self-join each on l_orderkey — no window, no
# cartesian; AQE picks broadcast for the aggregated probe sides.
# --------------------------------------------------------------------------
@register("q21_sole_returner", oracle="""
WITH r AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
), anysupp AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp FROM lineitem
  GROUP BY l_orderkey
), rsupp AS (
  SELECT l_orderkey, COUNT(*) AS n_rsupp FROM r GROUP BY l_orderkey
)
SELECT s.s_name, COUNT(*) AS numwait
FROM r
JOIN anysupp USING (l_orderkey)
JOIN rsupp USING (l_orderkey)
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE anysupp.n_supp > 1 AND rsupp.n_rsupp = 1
GROUP BY s.s_name
""")
def q21_sole_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    r = (li.filter(F.col("l_returnflag") == "R")
         .select("l_orderkey", "l_suppkey").distinct())
    anysupp = (li.groupBy("l_orderkey")
               .agg(F.countDistinct("l_suppkey").alias("n_supp")))
    rsupp = r.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_rsupp"))
    return (r.join(anysupp, "l_orderkey")
            .join(rsupp, "l_orderkey")
            .filter((F.col("n_supp") > 1) & (F.col("n_rsupp") == 1))
            .join(sup, r.l_suppkey == sup.s_suppkey)
            .groupBy("s_name")
            .agg(lcount("numwait")))


# --------------------------------------------------------------------------
# q_dq_audit — one-pass data-quality audit of the fact tables: row
# counts, null counts, key uniqueness, and referential integrity
# (lineitem rows whose order key has no parent order — counted via a
# left anti join, never a driver-side check). Every metric is a plain
# aggregate so the whole audit is two scans + one anti join; on a
# cluster this is the pre-flight gate a 100 TB load runs before
# publishing a snapshot.
# --------------------------------------------------------------------------
@register("q_dq_audit", oracle="""
SELECT 'orders' AS tbl,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_custkey) AS n_null_keys,
       COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_dup_keys,
       CAST(0 AS BIGINT) AS n_orphans
FROM orders
UNION ALL
SELECT 'lineitem',
       COUNT(*),
       COUNT(*) - COUNT(l_partkey),
       CAST(0 AS BIGINT),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
FROM lineitem
""")
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o_audit = orders.agg(
        F.lit("orders").alias("tbl"),
        lcount("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("n_null_keys"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_dup_keys"),
        F.lit(0).cast("bigint").alias("n_orphans"))
    orphans = (li.join(orders.select("o_orderkey"),
                       li.l_orderkey == F.col("o_orderkey"), "left_anti")
               .agg(lcount("n")))
    l_audit = (li.agg(
        F.lit("lineitem").alias("tbl"),
        lcount("n_rows"),
        (F.count(F.lit(1)) - F.count("l_partkey")).alias("n_null_keys"),
        F.lit(0).cast("bigint").alias("n_dup_keys"))
        .crossJoin(F.broadcast(orphans))
        .withColumnRenamed("n", "n_orphans"))
    return o_audit.unionByName(l_audit)


# --------------------------------------------------------------------------
# q_variant_props — the same semi-structured extraction through Spark
# 4's VARIANT type: parse_json once into a binary variant value, then
# typed variant_get paths. Versus per-field get_json_object string
# re-parsing, a VARIANT column parses each document ONCE and serves
# every subsequent path from its binary encoding — at 100 TB with many
# extracted fields that is the difference between k string parses and
# one. Oracle: DuckDB's native JSON path semantics on the same rows.
# --------------------------------------------------------------------------
@register("q_variant_props", oracle="""
SELECT event_type,
       CAST(SUM(CAST(props->>'k' AS INTEGER) * 2) AS BIGINT) AS sum_2k,
       CAST(SUM(CASE WHEN CAST(props->>'k' AS INTEGER) > 50
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
""")
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("pv", F.parse_json("props"))
    k = F.variant_get("pv", "$.k", "int")
    return (v.groupBy("event_type")
            .agg(F.sum(k * 2).cast("bigint").alias("sum_2k"),
                 F.sum(F.when(k > 50, 1).otherwise(0)).cast("bigint")
                  .alias("n_hot"),
                 lcount("n_events")))


# --------------------------------------------------------------------------
# q_keyset_page — keyset (seek) pagination: page 3 of the order list
# ordered by (o_orderdate, o_orderkey), fetched as WHERE key > last-
# seen-key LIMIT n. Unlike OFFSET pagination (which scans and discards
# every earlier row — O(page_number) per page, unusable at 100 TB),
# the seek predicate pushes to the scan and each page costs O(page).
# The page-2 boundary key is computed inline the same way a client
# would carry it (a 1-row broadcast, not a collect).
# --------------------------------------------------------------------------
@register("q_keyset_page", oracle="""
WITH ordered AS (
  SELECT o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
SELECT o_orderkey, o_date, o_totalprice
FROM ordered WHERE rn > 40 AND rn <= 60
""")
def q_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    page = 20
    # boundary = last key of page 2, exactly as a paging client would
    # hold it; TakeOrderedAndProject keeps this a top-k, never a sort
    boundary = (orders.orderBy("o_orderdate", "o_orderkey")
                .limit(2 * page)
                .groupBy()
                .agg(F.max_by("o_orderdate", F.struct("o_orderdate", "o_orderkey"))
                      .alias("b_date"),
                     F.max_by("o_orderkey", F.struct("o_orderdate", "o_orderkey"))
                      .alias("b_key")))
    seek = orders.crossJoin(F.broadcast(boundary)).filter(
        (F.col("o_orderdate") > F.col("b_date"))
        | ((F.col("o_orderdate") == F.col("b_date"))
           & (F.col("o_orderkey") > F.col("b_key"))))
    return (seek.orderBy("o_orderdate", "o_orderkey").limit(page)
            .select("o_orderkey",
                    ts_str("o_orderdate").alias("o_date"), "o_totalprice"))


# --------------------------------------------------------------------------
# q_robust_stats — median + MAD (median absolute deviation), the
# outlier threshold that survives heavy tails where mean/stddev break.
# Two exact percentile passes: the global median is a 1-row broadcast
# (never collected), the deviations re-aggregate against it. Exact
# percentile math matches DuckDB's percentile_cont interpolation on
# both engines; outputs rounded at the edge.
# --------------------------------------------------------------------------
@register("q_robust_stats", oracle="""
WITH m AS (
  SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal) AS med
  FROM customer
)
SELECT round(m.med, 6) AS median_bal,
       round(percentile_cont(0.5) WITHIN GROUP
             (ORDER BY ABS(c_acctbal - m.med)), 6) AS mad_bal,
       CAST(SUM(CASE WHEN ABS(c_acctbal - m.med) >
                          3 * (SELECT percentile_cont(0.5) WITHIN GROUP
                               (ORDER BY ABS(c2.c_acctbal - m2.med))
                               FROM customer c2, m m2)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM customer, m
GROUP BY m.med
""")
def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    med = cust.agg(F.expr("percentile(c_acctbal, 0.5)").alias("med"))
    # dev feeds the MAD percentile AND the outlier count: persist the
    # narrow 3-double frame so the scan + median cross-join runs once
    # (round-12 subtree lint)
    dev = persist(cust.crossJoin(F.broadcast(med)).select(
        "c_acctbal", "med",
        F.abs(F.col("c_acctbal") - F.col("med")).alias("adev")))
    mad = (dev.groupBy("med")
           .agg(F.expr("percentile(adev, 0.5)").alias("mad")))
    return (dev.join(F.broadcast(mad), "med")
            .groupBy("med", "mad")
            .agg(F.sum(F.when(F.col("adev") > 3 * F.col("mad"), 1)
                        .otherwise(0)).cast("bigint").alias("n_outliers"))
            .select(F.round("med", 6).alias("median_bal"),
                    F.round("mad", 6).alias("mad_bal"), "n_outliers"))


# --------------------------------------------------------------------------
# q_period_over_period — month-over-month revenue: monthly exact sums,
# then lag + growth ratio over the (tiny, bounded) month sequence.
# Both operands of the single division are exact scaled doubles, so
# the ratio is bit-identical cross-engine; the window runs over ~84
# month rows — the pre-aggregate-then-window shape that keeps the
# window sort off the fact table entirely.
# --------------------------------------------------------------------------
@register("q_period_over_period", oracle="""
WITH m AS (
  SELECT STRFTIME(o_orderdate, '%Y-%m') AS month,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS tot_s
  FROM orders GROUP BY 1
)
SELECT month, tot_s / 10000.0 AS revenue,
       LAG(tot_s) OVER (ORDER BY month) / 10000.0 AS prev_revenue,
       round(CAST(tot_s AS DOUBLE)
             / CAST(LAG(tot_s) OVER (ORDER BY month) AS DOUBLE), 6) AS growth
FROM m
""")
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = (orders.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                              .alias("month"))
               .agg((F.round(F.sum(dval("o_totalprice")), 4) * 10000)
                    .cast("bigint").alias("tot_s")))
    w = W.orderBy("month")
    return monthly.select(
        "month",
        (F.col("tot_s") / F.lit(10000.0)).alias("revenue"),
        (F.lag("tot_s").over(w) / F.lit(10000.0)).alias("prev_revenue"),
        F.round(F.col("tot_s").cast("double")
                / F.lag("tot_s").over(w).cast("double"), 6).alias("growth"))


# --------------------------------------------------------------------------
# q_lateral_topk — correlated LATERAL subquery (SQL:1999 lateral
# derived table, Spark 4 native): per nation, the top-2 customers by
# balance via a correlated ordered-limit. Catalyst de-correlates this
# into a ranked window under the hood — the surface is the point:
# users port LATERAL queries verbatim.
# --------------------------------------------------------------------------
@register("q_lateral_topk", oracle="""
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) t
""")
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
    """)


# --------------------------------------------------------------------------
# q_window_distinct — COUNT(DISTINCT) OVER a window, which Spark does
# not support natively: re-expressed with the dense_rank identity
# (distinct count within a partition == max dense_rank), the standard
# composition. One shuffle on the partition key serves both windows.
# --------------------------------------------------------------------------
@register("q_window_distinct", oracle="""
SELECT DISTINCT o_custkey,
       CAST(COUNT(DISTINCT o_orderpriority)
            OVER (PARTITION BY o_custkey) AS BIGINT) AS n_priorities,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
FROM orders
WHERE o_custkey < 500
""")
def q_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    wp = W.partitionBy("o_custkey")
    dr = F.dense_rank().over(wp.orderBy("o_orderpriority"))
    return (orders
            .withColumn("__dr", dr)
            .withColumn("n_priorities", F.max("__dr").over(wp).cast("bigint"))
            .withColumn("n_orders", F.count(F.lit(1)).over(wp).cast("bigint"))
            .select("o_custkey", "n_priorities", "n_orders")
            .distinct())


# --------------------------------------------------------------------------
# q_sketch_merge — mergeable distinct-count sketches (DataSketches
# HLL, Spark 3.5+): per-event-type user sketches REAGGREGATE to the
# global estimate by unioning sketch BLOBS, never re-scanning raw
# rows. This is the at-scale rollup contract (daily sketches -> any
# period) that plain approx_count_distinct cannot provide.
#
# Oracle contract (same pattern as q_approx_sketch): DuckDB's HLL is
# a different implementation, so the estimates cross the driver hash
# as in-query INVARIANT BOOLEANS — per-type estimate within 2% of the
# exact distinct, union-of-sketches estimate equal to the direct
# global sketch's (the merge identity), and that union estimate
# within 2% of the exact global distinct — beside the exact counts,
# which hash-match bit-for-bit. Raw estimate values stay pinned in
# tests/test_relational_ext.py.
# --------------------------------------------------------------------------
@register("q_sketch_merge", oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
         AS exact_total,
       TRUE AS est_within_2pct,
       TRUE AS merge_eq_direct,
       TRUE AS total_within_2pct
FROM events GROUP BY event_type
""")
def q_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per = (ev.groupBy("event_type")
           .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
                F.count_distinct("user_id").alias("exact_users")))
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint")
        .alias("est_total"))
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14)))
        .cast("bigint").alias("direct_total"),
        F.count_distinct("user_id").alias("exact_total"))
    est = F.hll_sketch_estimate("sk").cast("bigint")
    tol = lambda exact: F.greatest(F.lit(2.0), F.lit(0.02) * exact)  # noqa: E731
    return (per
            .crossJoin(F.broadcast(merged))
            .crossJoin(F.broadcast(direct))
            .select(
                "event_type",
                F.col("exact_users").cast("bigint").alias("exact_users"),
                F.col("exact_total").cast("bigint").alias("exact_total"),
                (F.abs(est - F.col("exact_users"))
                 <= tol(F.col("exact_users"))).alias("est_within_2pct"),
                (F.col("est_total") == F.col("direct_total"))
                .alias("merge_eq_direct"),
                (F.abs(F.col("est_total") - F.col("exact_total"))
                 <= tol(F.col("exact_total"))).alias("total_within_2pct")))


# --------------------------------------------------------------------------
# q_cdc_diff — change-data-capture between two snapshots of a keyed
# table: FULL OUTER join on the key, null-safe value compare, rows
# classified insert / delete / update (unchanged rows drop out). The
# daily-snapshot diff every warehouse pipeline runs; one shuffle per
# side on the key, comparison fully codegen'd. Snapshots are derived
# deterministically from orders: NEW shifts the key window and bumps
# the priority of a deterministic subset (real updates).
# --------------------------------------------------------------------------
@register("q_cdc_diff", oracle="""
WITH old AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, o_orderpriority AS prio
  FROM orders WHERE o_orderkey < 3000
), new AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CASE WHEN o_orderkey % 10 = 0 THEN '0-BUMPED' ELSE o_orderpriority
         END AS prio
  FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 4000
)
SELECT COALESCE(o.k, n.k) AS k,
       CASE WHEN o.k IS NULL THEN 'insert'
            WHEN n.k IS NULL THEN 'delete'
            ELSE 'update' END AS change
FROM old o FULL OUTER JOIN new n ON o.k = n.k
WHERE o.k IS NULL OR n.k IS NULL
   OR o.status IS DISTINCT FROM n.status
   OR o.prio IS DISTINCT FROM n.prio
""")
def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old = (orders.filter(F.col("o_orderkey") < 3000)
           .select(F.col("o_orderkey").alias("k"),
                   F.col("o_orderstatus").alias("status"),
                   F.col("o_orderpriority").alias("prio")))
    new = (orders.filter((F.col("o_orderkey") >= 1000)
                         & (F.col("o_orderkey") < 4000))
           .select(F.col("o_orderkey").alias("k"),
                   F.col("o_orderstatus").alias("status"),
                   F.when(F.col("o_orderkey") % 10 == 0, F.lit("0-BUMPED"))
                    .otherwise(F.col("o_orderpriority")).alias("prio")))
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.k") == F.col("n.k"), "full_outer")
    changed = (F.col("o.k").isNull() | F.col("n.k").isNull()
               | ~F.col("o.status").eqNullSafe(F.col("n.status"))
               | ~F.col("o.prio").eqNullSafe(F.col("n.prio")))
    change = (F.when(F.col("o.k").isNull(), "insert")
              .when(F.col("n.k").isNull(), "delete")
              .otherwise("update"))
    return (joined.filter(changed)
            .select(F.coalesce(F.col("o.k"), F.col("n.k")).alias("k"),
                    change.alias("change")))


# --------------------------------------------------------------------------
# q_ewma — exponential smoothing per user over event values, exact:
# the recurrence y_t = a*x_t + (1-a)*y_{t-1} is a sequential fold, so
# it runs as aggregate() over the per-user time-sorted value list —
# the standard distributed shape for bounded-cardinality groups (one
# shuffle on user_id; a group's history folds inside one task). Both
# engines fold the identical sorted list, so doubles match exactly.
# --------------------------------------------------------------------------
@register("q_ewma", oracle="""
WITH s AS (
  SELECT user_id,
         list_transform(
           list_sort(list({'t': epoch_us(ts), 'e': event_id, 'v': value})),
           x -> x.v) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
       round(list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma
FROM s
""")
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vals = F.expr(
        "transform(array_sort(collect_list(struct(unix_micros(ts) AS t,"
        " event_id AS e, value AS v))), x -> x.v)")
    # fold seeded with the first element (DuckDB list_reduce semantics)
    ewma = F.expr(
        "aggregate(slice(__vals, 2, size(__vals)), __vals[0],"
        " (acc, x) -> CAST(0.3 * x + 0.7 * acc AS DOUBLE))")
    return (ev.groupBy("user_id").agg(vals.alias("__vals"))
            .select("user_id",
                    F.size("__vals").cast("bigint").alias("n_events"),
                    F.round(ewma, 6).alias("ewma")))


# --------------------------------------------------------------------------
# q_mode_stat — deterministic per-group mode: most frequent value,
# ties to the smallest value (plain mode() is tie-nondeterministic on
# both engines, so both sides rank (count desc, value asc)).
# --------------------------------------------------------------------------
@register("q_mode_stat", oracle="""
SELECT event_type, v AS mode_value, CAST(c AS BIGINT) AS n FROM (
  SELECT event_type, v, c,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY c DESC, v) AS rk
  FROM (SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS v, COUNT(*) AS c
        FROM events GROUP BY event_type, CAST(FLOOR(value) AS BIGINT))
) WHERE rk = 1
""")
def q_mode_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    counted = (ev.groupBy("event_type",
                          F.floor("value").cast("bigint").alias("v"))
               .agg(lcount("c")))
    w = W.partitionBy("event_type").orderBy(F.desc("c"), F.asc("v"))
    return (counted.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("event_type", F.col("v").alias("mode_value"),
                    F.col("c").cast("bigint").alias("n")))


# --------------------------------------------------------------------------
# q_histogram — fixed-bin value histogram per event type (10 bins over
# [0, 10)): one groupBy over (type, bin) — the map-side-combinable
# shape; bin edges are constants so the entire bucketing codegens.
# --------------------------------------------------------------------------
@register("q_histogram", oracle="""
SELECT event_type,
       CAST(LEAST(FLOOR(value), 9) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type, CAST(LEAST(FLOOR(value), 9) AS BIGINT)
""")
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = F.least(F.floor("value"), F.lit(9)).cast("bigint")
    return (ev.groupBy("event_type", b.alias("bin"))
            .agg(lcount("n")))


# --------------------------------------------------------------------------
# q_pivot_multi — pivot with MULTIPLE aggregate measures per pivoted
# value (count + decimal-exact sum): Spark emits `{value}_{agg}`
# columns from one shuffle; explicit pivot values keep the plan
# inference-scan-free. Oracle spells out the same CASE-sum lattice.
# --------------------------------------------------------------------------
@register("q_pivot_multi", oracle=f"""
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS urgent_n,
       {sql_dsum("CASE WHEN o_orderpriority = '1-URGENT' THEN "
                 "CAST(o_totalprice AS DECIMAL(18,4)) ELSE 0 END", "urgent_total")},
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
            AS BIGINT) AS low_n,
       {sql_dsum("CASE WHEN o_orderpriority = '5-LOW' THEN "
                 "CAST(o_totalprice AS DECIMAL(18,4)) ELSE 0 END", "low_total")}
FROM orders GROUP BY o_orderstatus
""")
def q_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    piv = (orders.groupBy("o_orderstatus")
           .pivot("o_orderpriority", ["1-URGENT", "5-LOW"])
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.coalesce(dval("o_totalprice"),
                                 F.lit(0).cast("decimal(18,4)"))).alias("t")))
    out_t = lambda c: _as_exact_double(F.coalesce(  # noqa: E731
        F.col(c), F.lit(0).cast("decimal(28,4)")))
    return piv.select(
        "o_orderstatus",
        F.coalesce(F.col("1-URGENT_n"), F.lit(0)).cast("bigint").alias("urgent_n"),
        out_t("`1-URGENT_t`").alias("urgent_total"),
        F.coalesce(F.col("5-LOW_n"), F.lit(0)).cast("bigint").alias("low_n"),
        out_t("`5-LOW_t`").alias("low_total"))


# --------------------------------------------------------------------------
# q_new_returning — growth analytics: per day, events from NEW vs
# RETURNING users plus the cumulative distinct-user count. First-seen
# day per user is one agg; the daily rollup joins it back (broadcast —
# the user dim is tiny relative to events); the cumulative curve is a
# window over the (small) day table, not the event stream.
# --------------------------------------------------------------------------
@register("q_new_returning", oracle="""
WITH fs AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
), daily AS (
  SELECT CAST(e.ts AS DATE) AS day,
         CAST(SUM(CASE WHEN CAST(e.ts AS DATE) = f.first_day
                       THEN 1 ELSE 0 END) AS BIGINT) AS new_events,
         CAST(SUM(CASE WHEN CAST(e.ts AS DATE) <> f.first_day
                       THEN 1 ELSE 0 END) AS BIGINT) AS returning_events,
         CAST(COUNT(DISTINCT CASE WHEN CAST(e.ts AS DATE) = f.first_day
                                  THEN e.user_id END) AS BIGINT) AS new_users
  FROM events e JOIN fs f ON e.user_id = f.user_id
  GROUP BY CAST(e.ts AS DATE)
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day, new_events, returning_events,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_users
FROM daily
""")
def q_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    fs = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    joined = ev.join(F.broadcast(fs), "user_id")
    is_new = day == F.col("first_day")
    daily = (joined.groupBy(day.alias("day"))
             .agg(F.sum(F.when(is_new, 1).otherwise(0)).cast("bigint")
                   .alias("new_events"),
                  F.sum(F.when(~is_new, 1).otherwise(0)).cast("bigint")
                   .alias("returning_events"),
                  F.count_distinct(F.when(is_new, F.col("user_id")))
                   .cast("bigint").alias("new_users")))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_events", "returning_events",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users")))


# --------------------------------------------------------------------------
# q_rank_functions — the remaining rank-family windows in one pass:
# percent_rank, cume_dist, and nth_value(2) per nation over customer
# balances — one shuffle serves all three (same partition+order).
# --------------------------------------------------------------------------
@register("q_rank_functions", oracle="""
SELECT c_custkey, c_nationkey,
       CAST(FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5) AS BIGINT)
         / 1000000.0 AS pct_rank,
       CAST(FLOOR(CUME_DIST() OVER w * 1000000 + 0.5) AS BIGINT)
         / 1000000.0 AS cume,
       NTH_VALUE(c_custkey, 2) OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS second_richest
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
""")
def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"),
                                             F.asc("c_custkey"))

    # floor(x*1e6 + 0.5) instead of round(x, 6): the rank ratios land
    # EXACTLY on .5 ulp boundaries (they are small-integer quotients),
    # where Spark's HALF_UP and DuckDB's float round disagree (seen at
    # sf0.1: 3/15000 rows off by 1e-6). floor of the identical IEEE
    # double is deterministic on both engines.
    def r6(c):
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return cust.select(
        "c_custkey", "c_nationkey",
        r6(F.percent_rank().over(w)).alias("pct_rank"),
        r6(F.cume_dist().over(w)).alias("cume"),
        F.nth_value("c_custkey", 2).over(
            w.rowsBetween(W.unboundedPreceding, 0)).alias("second_richest"))


# --------------------------------------------------------------------------
# q_bitmap_rollup — EXACT mergeable distinct-count rollup via Spark's
# bitmap aggregates (bitmap_construct_agg / bitmap_count, Spark 3.5+):
# daily distinct users computed as per-(day, bitmap-bucket) bitmaps that
# sum to the exact distinct — the mergeable-rollup pattern (HLL's exact
# sibling). The bitmap blobs are the materialization a continuous
# aggregate would store; re-aggregating a coarser period ORs bitmaps
# instead of rescanning raw events. The oracle only sees the final
# exact counts (COUNT(DISTINCT)) — bitmaps are engine machinery.
# Scale: shuffle carries (day, bucket, 4KB-bitmap) rows — one per
# 32768-id bucket per day — regardless of event count; map-side
# partial bitmap_construct_agg absorbs the raw volume.
# --------------------------------------------------------------------------
@register("q_bitmap_rollup", oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
""")
def q_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id")
    per_bucket = (ev.groupBy("day", F.bitmap_bucket_number("user_id")
                             .alias("bucket"))
                  .agg(F.bitmap_construct_agg(
                      F.bitmap_bit_position("user_id")).alias("bm"),
                      lcount("n_ev")))
    return (per_bucket.groupBy("day")
            .agg(F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_users"),
                 F.sum("n_ev").cast("bigint").alias("n_events")))


# --------------------------------------------------------------------------
# q_recursive_walk — WITH RECURSIVE hierarchy walk (Spark 4 recursive
# CTE, SPARK-24497): customers form a synthetic tree (parent(c) =
# c_custkey / 10, custkey < 10 are roots), the recursion computes each
# node's depth and root, then rolls up per depth — the org-chart /
# BOM-explosion shape. Identical SQL on both engines; the recursion
# terminates structurally (custkey shrinks by 10x per level).
# Scale: each recursion level is one self-join on the (bounded) new
# frontier — the engine's native fixpoint operator, not a driver loop.
# --------------------------------------------------------------------------
_REC_SQL = """
WITH RECURSIVE walk(custkey, root, depth) AS (
  SELECT c_custkey, c_custkey, 0
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, w.root, w.depth + 1
  FROM customer c JOIN walk w ON CAST(FLOOR(c.c_custkey / 10.0) AS BIGINT) = w.custkey
  WHERE c.c_custkey >= 10
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots,
       CAST(MIN(custkey) AS BIGINT) AS min_key,
       CAST(MAX(custkey) AS BIGINT) AS max_key
FROM walk GROUP BY depth
"""


@register("q_recursive_walk", oracle=_REC_SQL, headline=True)
def q_recursive_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_REC_SQL).select(
        F.col("depth").cast("bigint").alias("depth"),
        "n_nodes", "n_roots", "min_key", "max_key")


# --------------------------------------------------------------------------
# q_transpose — DataFrame.transpose (Spark 4 API): flip a bounded
# per-language metrics table so languages become columns and metrics
# become rows (the dashboard orientation). Transpose is a driver-side
# pivot of an already-aggregated BOUNDED table — the big scan happens
# before it, so the op is scale-free. Oracle rebuilds the same shape
# with conditional aggregation over explicit language columns.
# --------------------------------------------------------------------------
_LANGS = ("de", "en", "es", "fr", "zh")

_TRANSPOSE_ORACLE = f"""
WITH g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY lang
)
SELECT 'n_docs' AS key,
       {", ".join(f"(SELECT n_docs FROM g WHERE lang = '{l}') AS {l}"
                  for l in _LANGS)}
UNION ALL
SELECT 'n_chars' AS key,
       {", ".join(f"(SELECT n_chars FROM g WHERE lang = '{l}') AS {l}"
                  for l in _LANGS)}
"""


@register("q_transpose", oracle=_TRANSPOSE_ORACLE)
def q_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    agg = (docs.filter(F.col("lang").isin(*_LANGS))
           .groupBy("lang")
           .agg(lcount("n_docs"),
                F.sum("n_chars").cast("bigint").alias("n_chars")))
    # anchor on the full language list so a language with zero docs
    # still yields its (NULL-valued) column — schema parity with the
    # oracle's fixed column set on any corpus slice
    langs = local_frame([(l,) for l in _LANGS], "lang string")
    g = langs.join(agg, "lang", "left").orderBy("lang")
    return g.transpose()


# --------------------------------------------------------------------------
# q_markov_transitions — user-journey transition matrix: per user,
# events ordered by (ts, event_id) pair into consecutive (from, to)
# event-type transitions; global counts + row-normalized probabilities.
# One window shuffle on user_id (lag), one bounded agg — the classic
# clickstream Markov model, exact int/int probability both engines.
# --------------------------------------------------------------------------
@register("q_markov_transitions", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(FLOOR((n * 1.0 / sum(n) OVER (PARTITION BY from_type)) * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS p
FROM t
""")
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id", "event_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id"))
         .alias("prev_type"))
    t = (seq.filter(F.col("prev_type").isNotNull())
         .groupBy(F.col("prev_type").alias("from_type"),
                  F.col("event_type").alias("to_type"))
         .agg(lcount("n")))
    wf = W.partitionBy("from_type")
    # pround6: HALF_UP round vs DuckDB float round diverge exactly at
    # .5 ulp boundaries of small-int quotients (see q_rank_functions);
    # both engines compute the SAME q = n/sum then floor(q*1e6 + 0.5)
    from sanctions_data_pipeline_spark.plans.helpers import pround6
    return t.select("from_type", "to_type", "n",
                    pround6(F.col("n") / F.sum("n").over(wf)).alias("p"))
