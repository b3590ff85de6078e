"""Second TPC-H-shape batch (SURVEY.md §2, block 1).

Shapes not yet covered by `relational.py` / `relational_ext.py`:
correlated EXISTS with a non-equi conjunct (Q4), bidirectional
nation-pair volume (Q7), market-share ratio of conditional aggregates
(Q8), top-k by aggregated revenue (Q10), promo revenue percentage
(Q14), HAVING-filtered fact self-aggregation feeding a join (Q18), and
scalar-subquery threshold + anti-join (Q22). The synthetic lineitem
lacks commit/receipt dates and partsupp, so Q4's lateness predicate is
re-expressed on l_shipdate vs o_orderdate; the partsupp-based shapes
(Q2/Q9/Q11/Q12/Q16/Q20) are re-expressed in tpch_shapes2.py.

Scale notes (100 TB): nation/region are always broadcast; Q18's big-order
probe aggregates lineitem down to (orderkey) keys before any join, so the
join input is orders-sized, not lineitem-sized; Q22's scalar threshold is
a 1-row broadcast cross join (no driver collect); ratio outputs divide
two decimal-exact doubles so results are partition-order independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.plans.helpers import (
    SQL_REVENUE, _as_exact_double, dsum, dval, drate, lcount, local_frame,
    sql_dsum, ts_str,
)
from sanctions_data_pipeline_spark.plans.registry import register

_REVENUE_SQL = SQL_REVENUE


def _revenue() -> F.Column:
    return dval("l_extendedprice") * (F.lit(1).cast("decimal(8,4)") - drate("l_discount"))


# --------------------------------------------------------------------------
# q4_order_priority — Q4 shape: per-priority order counts where a
# correlated EXISTS holds. The EXISTS carries a non-equi conjunct
# (shipped >30 days after order date), so this exercises a left-semi
# join with a mixed equi + range condition. Catalyst plans the equi
# part as the join key and evaluates the range conjunct as a join
# residual — no fan-out, no dedup needed.
# --------------------------------------------------------------------------
@register("q4_order_priority", oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
""")
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAY"))
    return (orders.join(li, cond, "left_semi")
            .groupBy("o_orderpriority")
            .agg(lcount("order_count")))


# --------------------------------------------------------------------------
# q7_volume_shipping — Q7 shape: shipped revenue between two specific
# nations, both directions, by ship year. Five-way join where nation
# (twice) is broadcast. The pair disjunction spans both sides so
# Catalyst cannot push it down itself; the IMPLIED per-side filters
# (each nation ∈ {N1,N2}) are added explicitly, pruning supplier and
# customer to 2/25 nations BEFORE they reach the fact joins — at scale
# this shrinks the lineitem join output ~12× before the residual pair
# check.
# --------------------------------------------------------------------------
@register("q7_volume_shipping", oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
       {sql_dsum(SQL_REVENUE, "revenue")}
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
GROUP BY n1.n_name, n2.n_name, CAST(YEAR(l_shipdate) AS BIGINT)
""")
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    pair_nations = nation.filter(F.col("n_name").isin("NATION_3", "NATION_8"))
    n1 = F.broadcast(pair_nations.select(F.col("n_nationkey").alias("sn_key"),
                                         F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(pair_nations.select(F.col("n_nationkey").alias("cn_key"),
                                         F.col("n_name").alias("cust_nation")))
    pair = (((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
            | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3")))
    # pre-prune the dims to the two nations BEFORE the fact joins
    sup2 = F.broadcast(sup.join(n1, sup.s_nationkey == F.col("sn_key"))
                       .select("s_suppkey", "supp_nation"))
    cust2 = cust.join(n2, cust.c_nationkey == F.col("cn_key")) \
                .select("c_custkey", "cust_nation")
    return (li.join(sup2, li.l_suppkey == F.col("s_suppkey"))
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust2, orders.o_custkey == F.col("c_custkey"))
            .filter(pair)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("bigint").alias("l_year"))
            .agg(dsum(_revenue(), "revenue")))


# --------------------------------------------------------------------------
# q8_market_share — Q8 shape: one supplier nation's share of a region's
# PROMO-part revenue, by order year. The share is a ratio of two
# conditional aggregates; both are computed decimal-exact and cast to
# double before ONE division, so the result is bit-identical across
# engines and partition orders.
# --------------------------------------------------------------------------
@register("q8_market_share", oracle=f"""
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
       CAST(ROUND(SUM(CASE WHEN n1.n_name = 'NATION_3' THEN {_REVENUE_SQL}
                           ELSE CAST(0 AS DECIMAL(18,4)) END), 4) * 10000 AS BIGINT)
         / CAST(CAST(ROUND(SUM({_REVENUE_SQL}), 4) * 10000 AS BIGINT) AS DOUBLE)
         AS mkt_share
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
JOIN region   ON r_regionkey = n2.n_regionkey
WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
GROUP BY CAST(YEAR(o_orderdate) AS BIGINT)
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("cn_key"),
                       F.col("n_regionkey").alias("cn_region"))
    nat_rev = F.when(F.col("supp_nation") == "NATION_3", _revenue()).otherwise(
        F.lit(0).cast("decimal(18,4)"))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(n1), sup.s_nationkey == F.col("sn_key"))
            .join(F.broadcast(n2), cust.c_nationkey == F.col("cn_key"))
            .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
            .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
            .agg(((F.round(F.sum(nat_rev), 4) * 10000).cast("bigint")
                  / (F.round(F.sum(_revenue()), 4) * 10000).cast("bigint").cast("double")
                  ).alias("mkt_share")))


# --------------------------------------------------------------------------
# q10_returned_items — Q10 shape: top 20 customers by revenue lost to
# returns in a quarter. Aggregation keys include all customer output
# attributes (one shuffle), then a deterministic global top-k
# (revenue DESC, custkey tie-break) — Spark plans this as
# TakeOrderedAndProject: per-partition heaps, no global sort.
# --------------------------------------------------------------------------
@register("q10_returned_items", oracle=f"""
SELECT c_custkey, c_name, n_name,
       {sql_dsum(SQL_REVENUE, "revenue")}
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation   ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(dsum(_revenue(), "revenue"))
            .orderBy(F.col("revenue").desc(), "c_custkey")
            .limit(20))


# --------------------------------------------------------------------------
# q14_promo_revenue — Q14 shape: percentage of one month's revenue from
# PROMO-type parts. Conditional-aggregate ratio, same decimal-exact
# division discipline as q8.
# --------------------------------------------------------------------------
@register("q14_promo_revenue", oracle=f"""
SELECT 100.0 * (CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN {_REVENUE_SQL}
                                    ELSE CAST(0 AS DECIMAL(18,4)) END), 4) * 10000 AS BIGINT)
         / CAST(CAST(ROUND(SUM({_REVENUE_SQL}), 4) * 10000 AS BIGINT) AS DOUBLE))
         AS promo_revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
""")
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(
        F.lit(0).cast("decimal(18,4)"))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .agg((F.lit(100.0)
                  * ((F.round(F.sum(promo), 4) * 10000).cast("bigint")
                     / (F.round(F.sum(_revenue()), 4) * 10000).cast("bigint").cast("double"))
                  ).alias("promo_revenue")))


# --------------------------------------------------------------------------
# q18_large_orders — Q18 shape: orders whose total quantity exceeds a
# threshold, with customer context. The HAVING probe aggregates the
# fact table down to (orderkey, sum_qty) FIRST, so the subsequent joins
# move orders-sized data, never lineitem-sized; at 100 TB the only
# lineitem shuffle is the map-side-combined groupBy on its natural key.
# --------------------------------------------------------------------------
@register("q18_large_orders", oracle=f"""
SELECT c_custkey, c_name, o_orderkey,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
       {sql_dsum("CAST(l_quantity AS DECIMAL(18,4))", "sum_qty")}
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_custkey, c_name, o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d'), o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 200
""")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(dval("l_quantity")).alias("_qty_dec"))
           .filter(F.col("_qty_dec") > F.lit(200).cast("decimal(18,4)")))
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_custkey", "c_name", "o_orderkey",
                    ts_str("o_orderdate").alias("o_date"), "o_totalprice",
                    _as_exact_double(F.col("_qty_dec")).alias("sum_qty")))


# --------------------------------------------------------------------------
# q22_idle_customers — Q22 shape: per-segment count/balance of
# customers with above-average positive balances and no URGENT orders
# (every synthetic customer has at least one order, so the anti-join
# probe filters on priority to stay selective but non-empty). The
# global-average threshold is a 1-row aggregate broadcast-cross-joined
# back (never collected to the driver); the comparison is cross-
# multiplied onto scaled bigints (bal*10^4*count > sum*10^4) so the
# threshold has NO division and is integer-exact on both engines. The
# existence probe is a left-anti join on the customer key.
# --------------------------------------------------------------------------
@register("q22_idle_customers", oracle=f"""
WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)) * 10000) AS BIGINT) AS scaled_sum,
         COUNT(*) AS n_pos
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment AS segment, COUNT(*) AS numcust,
       {sql_dsum("CAST(c_acctbal AS DECIMAL(18,4))", "totacctbal")}
FROM customer, thr
WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY', 'HOUSEHOLD')
  AND CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 10000 AS BIGINT) * n_pos > scaled_sum
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""")
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = (load_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"))
    scaled = (dval("c_acctbal") * 10000).cast("bigint")
    thr = (cust.filter(F.col("c_acctbal") > 0.0)
           .agg(F.sum(scaled).alias("scaled_sum"), F.count(F.lit(1)).alias("n_pos")))
    return (cust.filter(F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY", "HOUSEHOLD"))
            .crossJoin(F.broadcast(thr))
            .filter(scaled * F.col("n_pos") > F.col("scaled_sum"))
            .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(lcount("numcust"),
                 dsum(dval("c_acctbal"), "totacctbal")))


# --------------------------------------------------------------------------
# q15_top_supplier — Q15 shape: supplier(s) achieving the maximum
# quarterly revenue. The max threshold is a 1-row aggregate broadcast
# back onto the per-supplier revenue table (no driver collect, no
# window over a global sort); revenue is decimal-exact so the equality
# against the max is safe on both engines.
# --------------------------------------------------------------------------
@register("q15_top_supplier", oracle=f"""
WITH rev AS (
  SELECT l_suppkey, {sql_dsum(SQL_REVENUE, "total_revenue")}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (li.groupBy("l_suppkey")
           .agg(dsum(_revenue(), "total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("_max_rev"))
    return (rev.crossJoin(F.broadcast(mx))
            .filter(F.col("total_revenue") == F.col("_max_rev"))
            .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue"))


# --------------------------------------------------------------------------
# q_window_navigation — navigation/distribution window functions not
# exercised elsewhere: ntile, percent_rank, cume_dist, lead, lag. The
# ordering key (c_acctbal, c_custkey) is UNIQUE, which makes ntile
# deterministic (ntile depends on row order among ties, so a non-unique
# sort key would be engine-dependent). Partitioned by market segment —
# bounded cardinality, so each window sorts one segment's rows, never a
# global sort.
# --------------------------------------------------------------------------
@register("q_window_navigation", oracle="""
SELECT c_custkey, c_mktsegment AS segment,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
       LEAD(c_custkey) OVER w AS next_cust,
       c_acctbal - LAG(c_acctbal) OVER w AS bal_step
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""")
def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey", F.col("c_mktsegment").alias("segment"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lead("c_custkey").over(w).alias("next_cust"),
        (F.col("c_acctbal") - F.lag("c_acctbal").over(w)).alias("bal_step"))


# --------------------------------------------------------------------------
# q_multi_distinct — several COUNT(DISTINCT) over different columns in
# ONE aggregate: Catalyst plans this with an Expand (one row replica
# per distinct-set) feeding a single shuffle — not one job per
# distinct. The mixed plain COUNT rides along for free. Per-group
# output keyed by return flag (bounded cardinality).
# --------------------------------------------------------------------------
@register("q_multi_distinct", oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_supp,
       COUNT(DISTINCT l_partkey) AS n_part,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""")
def q_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_suppkey").alias("n_supp"),
                 F.countDistinct("l_partkey").alias("n_part"),
                 F.countDistinct("l_orderkey").alias("n_orders"),
                 lcount("n_rows")))


# --------------------------------------------------------------------------
# q_nullsafe_join — null-safe equality join (<=> / IS NOT DISTINCT
# FROM): NULL keys MATCH each other, unlike plain equi-join semantics
# where NULL = NULL is unknown. Spark still plans <=> as a HASHED join
# key (EqualNullSafe is a valid hash key, no nested-loop fallback).
# Null keys are derived with NULLIF so the shape is exercised on data
# that ships none.
# --------------------------------------------------------------------------
@register("q_nullsafe_join", oracle="""
WITH o AS (
  SELECT NULLIF(o_orderstatus, 'P') AS status_key, o_orderkey
  FROM orders
), d AS (
  SELECT * FROM (VALUES ('O', 'open'), ('F', 'finished'),
                        (NULL, 'pending')) AS t(status_key, status_name)
)
SELECT d.status_name, COUNT(o.o_orderkey) AS n_orders
FROM o JOIN d ON o.status_key IS NOT DISTINCT FROM d.status_key
GROUP BY d.status_name
""")
def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_key"),
        "o_orderkey")
    dim = F.broadcast(local_frame(
        [("O", "open"), ("F", "finished"), (None, "pending")],
        "status_key string, status_name string"))
    return (orders.join(dim, orders.status_key.eqNullSafe(dim.status_key))
            .groupBy("status_name")
            .agg(F.count("o_orderkey").alias("n_orders")))


# --------------------------------------------------------------------------
# q_pivot_native — the DataFrame pivot() API with EXPLICIT pivot values
# (never inferred: value inference is an extra full scan — unacceptable
# at 100 TB). Absent cells surface as NULL from pivot-count and are
# coalesced to 0 to match SQL CASE-sum semantics.
# --------------------------------------------------------------------------
@register("q_pivot_native", oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
FROM orders
GROUP BY o_orderpriority
""")
def q_pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    wide = (orders.groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["O", "F", "P"])
            .agg(F.count(F.lit(1))))
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_pending"))


# --------------------------------------------------------------------------
# q_try_arith — ANSI-safe arithmetic/casting: try_cast turns malformed
# input into NULL instead of failing the job (the difference between a
# quarantine row and a dead 100 TB pipeline), try_divide absorbs
# divide-by-zero. Malformed values are derived deterministically from
# customer names (the digits-only suffix casts; the full name doesn't).
# --------------------------------------------------------------------------
@register("q_try_arith", oracle="""
SELECT c_mktsegment AS segment,
       COUNT(TRY_CAST(c_name AS BIGINT)) AS n_name_casts,
       COUNT(TRY_CAST(REGEXP_EXTRACT(c_name, '[0-9]+$', 0) AS BIGINT))
         AS n_suffix_casts,
       CAST(SUM(CASE WHEN c_acctbal / NULLIF(FLOOR(c_acctbal), 0) IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_div_nulls
FROM customer
GROUP BY c_mktsegment
""")
def q_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (cust.groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count(F.try_to_number(F.col("c_name"), F.lit("999999999")))
                 .alias("n_name_casts"),
                F.count(F.expr("try_cast(regexp_extract(c_name, '[0-9]+$', 0)"
                               " AS bigint)")).alias("n_suffix_casts"),
                F.sum(F.when(F.try_divide(F.col("c_acctbal"),
                                          F.floor("c_acctbal")).isNull(), 1)
                       .otherwise(0)).cast("bigint").alias("n_div_nulls")))
