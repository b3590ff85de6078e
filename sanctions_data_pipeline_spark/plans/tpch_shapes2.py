"""Third TPC-H-shape batch — completes all 22 TPC-H query shapes.

The synthetic schema has no ``partsupp`` table and no
commit/receipt/shipmode lineitem columns, so the four partsupp-based
queries (Q2/Q11/Q16/Q20) and Q9/Q12 are re-expressed on the columns
that exist while keeping each query's defining PLAN SHAPE intact:

- Q2  — correlated per-group MIN subquery resolved as an unordered
        window-min (one shuffle), not a self-join;
- Q9  — multi-way fact join with an arithmetic measure spanning three
        tables (revenue minus retail cost);
- Q11 — group sum HAVING a fraction of the GLOBAL sum (1-row broadcast
        threshold, scaled-bigint cross-multiplication, no division);
- Q12 — join + conditional CASE-sums by priority class with a non-equi
        lateness predicate;
- Q16 — COUNT(DISTINCT) over a de-duplicated fact projection with a
        NOT-IN dimension exclusion (broadcast anti join);
- Q20 — nested aggregation feeding a correlated threshold, then a
        semi join back onto the dimension.

Scale notes (100 TB): every dimension access is broadcast; the Q2/Q20
threshold comparisons stay inside the per-part aggregate's partitioning
(window over the groupBy key reuses the agg shuffle); Q11's global sum
is a 1-row broadcast; no query carries a division or a raw double
aggregate, so results are partition-order independent and engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.plans.helpers import (
    SQL_REVENUE, _as_exact_double, dsum, dval, lcount, local_frame, persist,
    sql_dsum,
)
from sanctions_data_pipeline_spark.plans.registry import register


def _revenue() -> F.Column:
    return dval("l_extendedprice") * (F.lit(1).cast("decimal(8,4)")
                                      - F.col("l_discount").cast("decimal(8,4)"))


def _scaled_bigint(dec_col: F.Column) -> F.Column:
    """decimal -> exact scaled bigint (x10^4), the portable comparison
    currency used wherever two aggregates must be compared without
    division (see helpers._as_exact_double for why)."""
    return (F.round(dec_col, 4) * 10000).cast("bigint")


# --------------------------------------------------------------------------
# q2_min_cost_supplier — Q2 shape: for each part in a type/size slice,
# the EUROPE supplier(s) offering the minimum cost, where cost is the
# minimum extended price the supplier actually charged for that part
# (partsupp.ps_supplycost re-expressed from lineitem). The correlated
# MIN-per-part subquery is an unordered window-min OVER the same key
# the aggregate just shuffled on — Catalyst reuses the partitioning, so
# the threshold costs no extra shuffle. Part filter is applied BEFORE
# the fact aggregation via a broadcast join (155/2000 parts), and the
# region restriction prunes suppliers before they touch lineitem.
# --------------------------------------------------------------------------
@register("q2_min_cost_supplier", oracle="""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost_dec
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size < 25
  GROUP BY l_partkey, l_suppkey
), ranked AS (
  SELECT *, MIN(cost_dec) OVER (PARTITION BY l_partkey) AS min_dec
  FROM cost
)
SELECT p_partkey, p_brand, s_name, s_acctbal,
       CAST(ROUND(cost_dec, 4) * 10000 AS BIGINT) / 10000.0 AS supp_cost
FROM ranked
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE cost_dec = min_dec
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice")
    part = load_table(spark, sf_dir, "part")
    part_f = part.filter((F.col("p_type") == "STANDARD") & (F.col("p_size") < 25)) \
                 .select("p_partkey", "p_brand")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sup_eu = (sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
              .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
              .select("s_suppkey", "s_name", "s_acctbal"))
    cost = (li.join(F.broadcast(part_f), li.l_partkey == part_f.p_partkey)
            .join(F.broadcast(sup_eu.select("s_suppkey")),
                  li.l_suppkey == F.col("s_suppkey"))
            # partition by l_partkey ALONE: hashpartitioning(partkey)
            # satisfies the (partkey, suppkey) agg's clustering AND the
            # window's, so the whole query runs on ONE exchange
            # (verified by test_q2_window_reuses_agg_shuffle)
            .repartition("l_partkey")
            .groupBy("l_partkey", "l_suppkey")
            .agg(F.min(dval("l_extendedprice")).alias("cost_dec")))
    min_dec = F.min("cost_dec").over(W.partitionBy("l_partkey"))
    return (cost.withColumn("min_dec", min_dec)
            .filter(F.col("cost_dec") == F.col("min_dec"))
            .join(F.broadcast(part_f), cost.l_partkey == part_f.p_partkey)
            .join(F.broadcast(sup_eu), cost.l_suppkey == sup_eu.s_suppkey)
            .select("p_partkey", "p_brand", "s_name", "s_acctbal",
                    _as_exact_double(F.col("cost_dec")).alias("supp_cost")))


# --------------------------------------------------------------------------
# q9_product_profit — Q9 shape: profit by supplier nation and order
# year over a name-sliced part set, where profit = revenue minus retail
# cost (p_retailprice * quantity standing in for ps_supplycost *
# quantity). The measure spans lineitem, part, and orders; all decimal
# arithmetic is exact (inputs have <= 4 decimals), so the grouped sum
# is engine- and partition-order-independent.
# --------------------------------------------------------------------------
@register("q9_product_profit", oracle=f"""
SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
       {sql_dsum(SQL_REVENUE + " - CAST(p_retailprice AS DECIMAL(18,4))"
                 " * CAST(l_quantity AS DECIMAL(18,4))", "sum_profit")}
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, CAST(YEAR(o_orderdate) AS BIGINT)
""")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_name").like("%widget%"))
            .select("p_partkey", "p_retailprice"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    profit = _revenue() - dval("p_retailprice") * dval("l_quantity")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("bigint").alias("o_year"))
            .agg(dsum(profit, "sum_profit")))


# --------------------------------------------------------------------------
# q11_important_parts — Q11 shape: parts whose shipped value (from
# suppliers in a four-nation slice) exceeds 1.5x the average per-part value of
# that slice (Q11's fixed global fraction would go empty as part count
# grows; an average-relative threshold keeps the query meaningful at
# every scale factor while preserving the shape: group sum HAVING a
# function of the GLOBAL aggregate). The global sum+count is a 1-row
# aggregate broadcast-cross-joined back (never collected); the test is
# cross-multiplied on scaled bigints (2*value*n_parts > 3*total), so
# there is no division and the comparison is integer-exact on both
# engines. The per-part and global aggregates share one source subtree
# — Spark reuses the exchange.
# --------------------------------------------------------------------------
@register("q11_important_parts", oracle="""
WITH pv AS (
  SELECT l_partkey,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS value_s
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_12', 'NATION_13')
  GROUP BY l_partkey
), g AS (
  SELECT SUM(value_s) AS total_s, COUNT(*) AS n_parts FROM pv
)
SELECT l_partkey AS p_partkey, value_s / 10000.0 AS part_value
FROM pv, g
WHERE 2 * value_s * n_parts > 3 * total_s
""")
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8", "NATION_12", "NATION_13"))
    sup_f = (sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
             .select("s_suppkey"))
    # pv feeds the grand-total agg AND the final threshold probe:
    # persist the narrow per-part census so the lineitem x supplier
    # join+agg runs once (round-12 subtree lint)
    pv = persist(li.join(F.broadcast(sup_f), li.l_suppkey == sup_f.s_suppkey)
                 .groupBy("l_partkey")
                 .agg(_scaled_bigint(F.sum(dval("l_extendedprice")))
                      .alias("value_s")))
    total = pv.agg(F.sum("value_s").alias("total_s"), lcount("n_parts"))
    # cross-multiply as decimal(38,0): value_s is already ×10^4, so the
    # int64 product overflows near 10^19 (≈ the 100 TB lineitem total);
    # DuckDB silently widens to HUGEINT, Spark ANSI would throw.
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (pv.crossJoin(F.broadcast(total))
            .filter(2 * dec(F.col("value_s")) * F.col("n_parts")
                    > 3 * dec(F.col("total_s")))
            .select(F.col("l_partkey").alias("p_partkey"),
                    (F.col("value_s") / F.lit(10000.0)).alias("part_value")))


# --------------------------------------------------------------------------
# q12_late_lines — Q12 shape: per line-status counts of late shipments
# (shipped >60 days after the order date) during 1996, split into
# high/low order-priority classes with conditional CASE-sums. The
# lateness predicate is a non-equi conjunct evaluated as a join
# residual; the priority classification never leaves the JVM.
# --------------------------------------------------------------------------
@register("q12_late_lines", oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
""")
def q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, (li.l_orderkey == orders.o_orderkey)
                    & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAY")))
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).cast("bigint")
                  .alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).cast("bigint")
                  .alias("low_line_count")))


# --------------------------------------------------------------------------
# q16_supplier_cnt — Q16 shape: distinct supplier counts per part
# (brand, type, size) bucket over a de-duplicated fact projection,
# excluding one brand, one type, a size list, and a NOT-IN supplier set
# (re-expressed as a broadcast left-anti join — never a nested loop).
# The distinct runs inside the grouped COUNT(DISTINCT), one Expand +
# one shuffle.
# --------------------------------------------------------------------------
@register("q16_supplier_cnt", oracle="""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_name LIKE '%9')
GROUP BY p_brand, p_type, p_size
""")
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (load_table(spark, sf_dir, "part")
            .filter((F.col("p_brand") != "Brand#5") & (F.col("p_type") != "PROMO")
                    & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    excluded = (load_table(spark, sf_dir, "supplier")
                .filter(F.col("s_name").like("%9")).select("s_suppkey"))
    return (li.join(F.broadcast(excluded),
                    li.l_suppkey == excluded.s_suppkey, "left_anti")
            .join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


# --------------------------------------------------------------------------
# q20_top_share_suppliers — Q20 shape: suppliers who shipped more than
# 2x the average per-supplier share of any 'large%' part during 1996
# (ps_availqty threshold re-expressed as a share-of-part threshold,
# which keeps the result non-empty at every scale factor). Nested
# aggregation: per-(part,supplier) quantities roll up to per-part
# totals; the correlated threshold joins the two on the part key (the
# rollup reuses the finer agg's partitioning), and qualifying supplier
# keys semi-join back onto the supplier dimension. Comparisons are
# scaled-bigint cross-multiplied — no division.
# --------------------------------------------------------------------------
@register("q20_top_share_suppliers", oracle="""
WITH q AS (
  SELECT l_partkey, l_suppkey,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS sq
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'large%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey
), tot AS (
  SELECT l_partkey AS pk, SUM(sq) AS tq, COUNT(*) AS n_supp
  FROM q GROUP BY l_partkey
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM q JOIN tot ON pk = l_partkey
                    WHERE sq * n_supp > 2 * tq)
""")
def q20_top_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_name").like("large%")).select("p_partkey"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    q = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
         # one hashpartitioning(l_partkey) serves the fine agg, the
         # per-part rollup, AND the threshold join (all cluster on the
         # part key) — same single-exchange trick as q2
         .repartition("l_partkey")
         .groupBy("l_partkey", "l_suppkey")
         .agg(_scaled_bigint(F.sum(dval("l_quantity"))).alias("sq")))
    tot = (q.groupBy(F.col("l_partkey").alias("pk"))
           .agg(F.sum("sq").alias("tq"), lcount("n_supp")))
    qual = (q.join(tot, q.l_partkey == tot.pk)
            .filter(F.col("sq").cast("decimal(38,0)") * F.col("n_supp")
                    > 2 * F.col("tq").cast("decimal(38,0)"))
            .select("l_suppkey"))
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (sup.join(qual, sup.s_suppkey == qual.l_suppkey, "left_semi")
            .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
            .select("s_suppkey", "s_name", "n_name"))


# --------------------------------------------------------------------------
# q_null_skew_outer — the null-skew outer-join bypass: when a LEFT
# join's key is mostly NULL (here ~75% of orders after NULLIF), naive
# execution still ships every null-keyed row through the join even
# though none can match. Splitting the input on key nullability joins
# ONLY the matchable minority and unions the null majority straight
# through with a NULL payload — identical semantics to the plain LEFT
# JOIN the oracle runs, with the join input shrunk 4x (at 100 TB, the
# difference between shuffling 25 TB and 100 TB on a shuffle join).
# --------------------------------------------------------------------------
@register("q_null_skew_outer", oracle="""
WITH o AS (
  SELECT NULLIF(o_orderstatus, 'O') AS status_key, o_totalprice
  FROM orders
), d AS (
  SELECT * FROM (VALUES ('F', 'finished'), ('P', 'pending'))
       AS t(status_key, status_name)
)
SELECT d.status_name, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 4) * 10000
            AS BIGINT) / 10000.0 AS total_price
FROM o LEFT JOIN d ON o.status_key = d.status_key
GROUP BY d.status_name
""")
def q_null_skew_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_key"),
        "o_totalprice")
    dim = F.broadcast(local_frame([("F", "finished"), ("P", "pending")],
                                  "status_key string, status_name string"))
    matchable = (orders.filter(F.col("status_key").isNotNull())
                 .join(dim, "status_key", "left")
                 .select("status_name", "o_totalprice"))
    null_bypass = (orders.filter(F.col("status_key").isNull())
                   .select(F.lit(None).cast("string").alias("status_name"),
                           "o_totalprice"))
    return (matchable.unionByName(null_bypass)
            .groupBy("status_name")
            .agg(lcount("n_orders"),
                 dsum(dval("o_totalprice"), "total_price")))
