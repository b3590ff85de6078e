"""Round-4 analytics extensions (SURVEY.md §2): concentration /
inequality measures (Lorenz, HHI), classical hypothesis tests
(chi-square, one-way ANOVA), robust per-group screens (z-score
outliers, winsorization), gaps-and-islands streaks, sorted listagg,
and a referential-integrity audit.

Same cross-engine float discipline as the other plan modules: exact
integer / decimal accumulation (x4 fixed-point through
``plans.helpers``), doubles only at the output edge as one identical
IEEE expression tree on both engines, sums of per-group double
contributions always folded in sorted key order (the tx_js_divergence
pattern), 6dp rounding on ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sanctions_data_pipeline_spark.catalog import load_table, widen_small_scan
from sanctions_data_pipeline_spark.plans.helpers import (
    SQL_REVENUE, dval, lcount, persist,
)
from sanctions_data_pipeline_spark.plans.registry import register

# x4 fixed-point customer spend (the q_gini_coefficient convention)
_SPEND_X4_SQL = ("CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)"
                 " * 10000 AS BIGINT)")


def _spend_x4_col():
    return (F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 4)
            * 10000).cast("bigint")


# ---------------------------------------------------------------------------
# q_lorenz_deciles — the Lorenz curve as a decile table (the
# concentration view next to q_gini_coefficient's scalar): customers
# ranked by total spend, NTILE(10), per decile the exact spend sum and
# the cumulative share of total spend. Deciles over the same
# range-partitioned global sort convention as dp_curriculum; all sums
# are exact x4 bigints, each share one double division.
# ---------------------------------------------------------------------------
_LORENZ_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey, {_SPEND_X4_SQL} AS x4
  FROM orders GROUP BY o_custkey
),
d AS (
  SELECT x4, NTILE(10) OVER (ORDER BY x4, o_custkey) AS decile FROM spend
),
g AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(x4) AS BIGINT) AS dx4
  FROM d GROUP BY decile
)
SELECT decile, n_customers,
       dx4 / 10000.0 AS decile_spend,
       round(CAST(CAST(sum(dx4) OVER (ORDER BY decile) AS BIGINT) AS DOUBLE)
             / CAST(CAST(sum(dx4) OVER () AS BIGINT) AS DOUBLE), 6)
         AS cum_share
FROM g
"""


@register("q_lorenz_deciles", headline=True, oracle=_LORENZ_ORACLE)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the decimal spend map side of the custkey agg is CPU-heavy:
    # parallelize an under-split local scan (no-op at cluster scale)
    orders = widen_small_scan(load_table(spark, sf_dir, "orders"),
                              "o_custkey")
    # sharded_ntile's bounds job + per-shard window + carry-in each
    # re-execute their input lineage (the helper's documented cost
    # note): persist the bounded per-customer spend so the scan + agg
    # run once, not three times
    spend = persist(orders.groupBy("o_custkey")
                    .agg(_spend_x4_col().alias("x4")))
    from sanctions_data_pipeline_spark.plans.helpers import sharded_ntile

    # sharded NTILE(10) over customer spend — no one-task sort; the
    # cum/tot windows below run on the bounded 10-row decile grid
    d = sharded_ntile(spend, F.col("x4"),
                      [F.asc("x4"), F.asc("o_custkey")], 10, "decile")
    g = d.groupBy("decile").agg(lcount("n_customers"),
                                F.sum("x4").cast("bigint").alias("dx4"))
    cum = F.sum("dx4").over(W.orderBy("decile")).cast("bigint")
    tot = F.sum("dx4").over(W.partitionBy()).cast("bigint")
    return g.select(
        "decile", "n_customers",
        (F.col("dx4") / F.lit(10000.0)).alias("decile_spend"),
        F.round(cum.cast("double") / tot.cast("double"), 6).alias("cum_share"))


# ---------------------------------------------------------------------------
# q_hhi_concentration — Herfindahl-Hirschman index of supplier revenue
# concentration per nation (the antitrust-standard market-concentration
# scalar): HHI = Σ_i share_i² over each nation's suppliers. Revenue is
# decimal-exact x4 per supplier (< 2^53 headroom to ~sf10000); shares
# square-and-sum as doubles folded in sorted revenue order on BOTH
# engines (transform-then-list_aggregate, the sim_ndcg_eval pattern),
# so the accumulation is bit-identical.
#
# Scale: one map-side-combined revenue agg (shuffle on suppkey), one
# nation-level agg whose state is each nation's supplier revenue list
# (bounded by suppliers-per-nation, ~4k at sf1000).
# ---------------------------------------------------------------------------
_HHI_ORACLE = f"""
WITH sup AS (
  SELECT s_nationkey, l_suppkey,
         CAST(ROUND(SUM({SQL_REVENUE}), 4) * 10000 AS BIGINT) AS rx4
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, l_suppkey
),
n AS (
  SELECT s_nationkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(rx4) AS BIGINT) AS tot,
         list_sort(list(rx4)) AS lst
  FROM sup GROUP BY s_nationkey
)
SELECT n_name AS nation, n_suppliers,
       tot / 10000.0 AS total_revenue,
       round(list_aggregate(list_transform(lst,
               x -> (CAST(x AS DOUBLE) / CAST(tot AS DOUBLE))
                    * (CAST(x AS DOUBLE) / CAST(tot AS DOUBLE))), 'sum'), 6)
         AS hhi
FROM n JOIN nation ON s_nationkey = n_nationkey
"""


@register("q_hhi_concentration", headline=True, oracle=_HHI_ORACLE)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the decimal revenue map side of the suppkey agg is CPU-heavy:
    # parallelize an under-split local scan (no-op at cluster scale)
    li = widen_small_scan(load_table(spark, sf_dir, "lineitem"),
                          "l_suppkey")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = dval("l_extendedprice") * (F.lit(1).cast("decimal(8,4)")
                                     - F.col("l_discount").cast("decimal(8,4)"))
    per_sup = (li.join(F.broadcast(sup),
                       li.l_suppkey == sup.s_suppkey)
               .groupBy("s_nationkey", "l_suppkey")
               .agg((F.round(F.sum(rev), 4) * 10000).cast("bigint")
                    .alias("rx4")))
    n = (per_sup.groupBy("s_nationkey")
         .agg(lcount("n_suppliers"),
              F.sum("rx4").cast("bigint").alias("tot"),
              F.array_sort(F.collect_list("rx4")).alias("lst")))
    tot_d = F.col("tot").cast("double")
    hhi = F.aggregate(
        F.transform(F.col("lst"),
                    lambda x: (x.cast("double") / tot_d)
                    * (x.cast("double") / tot_d)),
        F.lit(0.0), lambda acc, x: acc + x)
    return (n.join(F.broadcast(nat), n.s_nationkey == nat.n_nationkey)
            .select(F.col("n_name").alias("nation"), "n_suppliers",
                    (F.col("tot") / F.lit(10000.0)).alias("total_revenue"),
                    F.round(hhi, 6).alias("hhi")))


# ---------------------------------------------------------------------------
# q_chi_square — Pearson chi-square test of independence between order
# priority and customer market segment, over the COMPLETE margin grid
# (zero-observed cells included, per the textbook definition): expected
# counts E = row_total · col_total / N from exact integer margins, the
# statistic Σ (O−E)²/E folded in sorted (priority, segment) order so
# the double accumulation is bit-identical across engines.
#
# Scale: one join shuffled on custkey, three bounded margin aggs; the
# grid is |priorities| × |segments| rows — driver-safe by construction.
# ---------------------------------------------------------------------------
_CHI2_ORACLE = """
WITH j AS (
  SELECT o_orderpriority AS pri, c_mktsegment AS seg
  FROM orders JOIN customer ON o_custkey = c_custkey
),
obs AS (SELECT pri, seg, CAST(count(*) AS BIGINT) AS o FROM j GROUP BY 1, 2),
rm  AS (SELECT pri, CAST(count(*) AS BIGINT) AS rc FROM j GROUP BY 1),
cm  AS (SELECT seg, CAST(count(*) AS BIGINT) AS cc FROM j GROUP BY 1),
t   AS (SELECT CAST(sum(rc) AS BIGINT) AS n FROM rm),
grid AS (
  SELECT rm.pri, cm.seg, rc, cc, COALESCE(obs.o, 0) AS o, t.n
  FROM rm CROSS JOIN cm CROSS JOIN t
  LEFT JOIN obs ON obs.pri = rm.pri AND obs.seg = cm.seg
),
contrib AS (
  SELECT pri || '|' || seg AS k,
         (CAST(o AS DOUBLE)
          - CAST(rc AS DOUBLE) * CAST(cc AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(o AS DOUBLE)
            - CAST(rc AS DOUBLE) * CAST(cc AS DOUBLE) / CAST(n AS DOUBLE))
         / (CAST(rc AS DOUBLE) * CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)) AS c,
         n
  FROM grid
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST((count(DISTINCT split_part(k, '|', 1)) - 1)
            * (count(DISTINCT split_part(k, '|', 2)) - 1) AS BIGINT) AS dof,
       round(list_aggregate(list_transform(
               list_sort(list({'k': k, 'c': c})), s -> s.c), 'sum'), 6)
         AS chi2
FROM contrib
"""


@register("q_chi_square", oracle=_CHI2_ORACLE)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # ONE pass over the orders x customer join (round-12 subtree lint:
    # obs, the row marginals and the column marginals each re-ran it):
    # the marginals are exact integer sums of the bounded observed
    # grid, so they derive from the persisted obs census instead.
    j = (orders.join(cust, orders.o_custkey == cust.c_custkey)
         .select(F.col("o_orderpriority").alias("pri"),
                 F.col("c_mktsegment").alias("seg")))
    obs = persist(j.groupBy("pri", "seg").agg(lcount("o")))
    rm = obs.groupBy("pri").agg(F.sum("o").cast("bigint").alias("rc"))
    cm = obs.groupBy("seg").agg(F.sum("o").cast("bigint").alias("cc"))
    t = rm.agg(F.sum("rc").cast("bigint").alias("n"))
    grid = (F.broadcast(rm).crossJoin(F.broadcast(cm))
            .crossJoin(F.broadcast(t))
            .join(obs, ["pri", "seg"], "left")
            .withColumn("o", F.coalesce(F.col("o"), F.lit(0)).cast("bigint")))
    e = (F.col("rc").cast("double") * F.col("cc").cast("double")
         / F.col("n").cast("double"))
    contrib = grid.select(
        F.concat_ws("|", "pri", "seg").alias("k"),
        ((F.col("o").cast("double") - e) * (F.col("o").cast("double") - e)
         / e).alias("c"),
        "n")
    chi2 = F.aggregate(
        F.transform(F.array_sort(F.collect_list(F.struct("k", "c"))),
                    lambda s: s["c"]),
        F.lit(0.0), lambda acc, x: acc + x)
    return contrib.agg(
        F.max("n").cast("bigint").alias("n"),
        lcount("n_cells"),
        ((F.count_distinct(F.split_part(F.col("k"), F.lit("|"), F.lit(1))) - 1)
         * (F.count_distinct(F.split_part(F.col("k"), F.lit("|"), F.lit(2)))
            - 1)).cast("bigint").alias("dof"),
        F.round(chi2, 6).alias("chi2"))


# ---------------------------------------------------------------------------
# q_anova_f — one-way ANOVA F statistic of line-item discount across
# return-flag groups: SSB/SSW from exact integer moment sums (discount
# as x4 ints ≤ 1000, so Σx and Σx² stay bigint-exact beyond sf1000),
# per-group contributions S_g²/n_g folded in sorted group order. The
# classic "does this dimension matter" screen before segmenting a
# metric.
# ---------------------------------------------------------------------------
_ANOVA_ORACLE = """
WITH x AS (
  SELECT l_returnflag AS g,
         CAST(CAST(l_discount AS DECIMAL(8,4)) * 10000 AS BIGINT) AS x4
  FROM lineitem
),
grp AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(x4) AS BIGINT) AS s_g
  FROM x GROUP BY g
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x4) AS BIGINT) AS s,
         CAST(sum(x4 * x4) AS BIGINT) AS ss
  FROM x
),
parts AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         list_aggregate(list_transform(
           list_sort(list({'g': g, 'v': CAST(s_g AS DOUBLE)
                                        * CAST(s_g AS DOUBLE)
                                        / CAST(n_g AS DOUBLE)})),
           s -> s.v), 'sum') AS sum_sg2
  FROM grp
)
SELECT k, n AS n_rows,
       -- mean squares, not raw sums of squares: SSW is extensive
       -- (~5e11 at x10) and round(x, 6) diverges across engines past
       -- 2^53/1e6; the mean squares are intensive and stay inside the
       -- pround6 envelope at any sf
       CAST(FLOOR(((sum_sg2 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
                  * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS ms_between,
       CAST(FLOOR(((CAST(ss AS DOUBLE) - sum_sg2)
                   / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                  * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS ms_within,
       round(((sum_sg2 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
             / ((CAST(ss AS DOUBLE) - sum_sg2)
                / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f_stat
FROM parts CROSS JOIN tot
"""


@register("q_anova_f", oracle=_ANOVA_ORACLE)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("g"),
        (F.col("l_discount").cast("decimal(8,4)") * 10000).cast("bigint")
        .alias("x4"))
    grp = x.groupBy("g").agg(lcount("n_g"),
                             F.sum("x4").cast("bigint").alias("s_g"))
    tot = x.agg(lcount("n"), F.sum("x4").cast("bigint").alias("s"),
                F.sum(F.col("x4") * F.col("x4")).cast("bigint").alias("ss"))
    parts = grp.select(
        "g", (F.col("s_g").cast("double") * F.col("s_g").cast("double")
              / F.col("n_g").cast("double")).alias("v")
    ).agg(
        lcount("k"),
        F.aggregate(
            F.transform(F.array_sort(F.collect_list(F.struct("g", "v"))),
                        lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v).alias("sum_sg2"))
    from sanctions_data_pipeline_spark.plans.helpers import pround6

    j = parts.crossJoin(F.broadcast(tot))
    n_d, s_d = F.col("n").cast("double"), F.col("s").cast("double")
    ss_d, k_d = F.col("ss").cast("double"), F.col("k").cast("double")
    ssb = F.col("sum_sg2") - s_d * s_d / n_d
    ssw = ss_d - F.col("sum_sg2")
    return j.select(
        "k", F.col("n").alias("n_rows"),
        pround6(ssb / (k_d - F.lit(1.0))).alias("ms_between"),
        pround6(ssw / (n_d - k_d)).alias("ms_within"),
        F.round((ssb / (k_d - F.lit(1.0))) / (ssw / (n_d - k_d)), 6)
        .alias("f_stat"))


# ---------------------------------------------------------------------------
# q_zscore_outliers — per-event-type standard-score screen: mean/std
# from exact decimal moment sums (the q_stats_moments envelope), every
# row scored map-side against the broadcast per-type stats, |z| > 3
# flagged. The first-pass anomaly sieve over a 100 TB metric stream:
# one grouped agg (25 rows) + one broadcast-join scan, nothing else.
# ---------------------------------------------------------------------------
_ZSCORE_ORACLE = """
WITH m AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) / 10000.0 AS DOUBLE) AS sx,
         CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))
                             * CAST(value AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) / 10000.0 AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
),
s AS (
  SELECT event_type, n, sx / n AS mean,
         sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS std
  FROM m
),
z AS (
  SELECT e.event_type,
         abs((CAST(CAST(ROUND(CAST(value AS DECIMAL(18,4)), 4) * 10000
                   AS BIGINT) AS DOUBLE) / 10000.0 - mean) / std) AS az
  FROM events e JOIN s ON e.event_type = s.event_type
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (az > 3.0) AS BIGINT) AS n_outliers,
       round(max(az), 6) AS max_abs_z
FROM z GROUP BY event_type
"""


@register("q_zscore_outliers", oracle=_ZSCORE_ORACLE)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import _as_exact_double

    ev = load_table(spark, sf_dir, "events")
    x = dval("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _as_exact_double(F.sum(x)).alias("sx"),
        _as_exact_double(F.sum(x * x)).alias("sxx"))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    s = m.select("event_type", (sx / n).alias("mean"),
                 F.sqrt((n * sxx - sx * sx) / (n * (n - F.lit(1))))
                 .alias("std"))
    xd = (F.round(dval("value"), 4) * 10000).cast("bigint") \
        .cast("double") / F.lit(10000.0)
    z = (ev.join(F.broadcast(s), "event_type")
         .select("event_type",
                 F.abs((xd - F.col("mean")) / F.col("std")).alias("az")))
    return z.groupBy("event_type").agg(
        lcount("n_events"),
        F.sum(F.when(F.col("az") > 3.0, 1).otherwise(0)).cast("bigint")
        .alias("n_outliers"),
        F.round(F.max("az"), 6).alias("max_abs_z"))


# ---------------------------------------------------------------------------
# q_winsorize — percentile clamping per event type with EXACT discrete
# order statistics (the value at rank ceil(p·n) of the x4-int sort —
# no interpolation, so both engines pick the identical element):
# winsorized vs raw mean, entirely in exact fixed-point until the final
# division. The standard robust-mean prep before training on a
# heavy-tailed metric.
#
# Scale: ranks come from a window partitioned by event_type (natural
# key); everything else is one grouped agg.
# ---------------------------------------------------------------------------
_WINSOR_ORACLE = """
WITH x AS (
  SELECT event_type, event_id,
         CAST(ROUND(CAST(value AS DECIMAL(18,4)), 4) * 10000 AS BIGINT) AS x4
  FROM events
),
r AS (
  SELECT event_type, x4,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY x4, event_id) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM x
),
p AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         CAST(min(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                       THEN x4 END) AS BIGINT) AS p05x4,
         CAST(min(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                       THEN x4 END) AS BIGINT) AS p95x4
  FROM r GROUP BY event_type
)
SELECT r.event_type, p.n AS n_events,
       p05x4 / 10000.0 AS p05, p95x4 / 10000.0 AS p95,
       CAST(sum(x4) AS BIGINT) / 10000.0 / p.n AS mean_raw,
       CAST(sum(least(greatest(x4, p05x4), p95x4)) AS BIGINT) / 10000.0
         / p.n AS mean_winsor
FROM r JOIN p ON r.event_type = p.event_type
GROUP BY r.event_type, p.n, p05x4, p95x4
"""


@register("q_winsorize", headline=True, oracle=_WINSOR_ORACLE)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = ev.select("event_type", "event_id",
                  (F.round(dval("value"), 4) * 10000).cast("bigint")
                  .alias("x4"))
    wr = W.partitionBy("event_type").orderBy("x4", "event_id")
    wn = W.partitionBy("event_type")
    # r feeds the percentile agg AND the clamp join: persist so the
    # per-type window sort runs once, not twice
    r = persist(x.select("event_type", "x4",
                         F.row_number().over(wr).alias("rn"),
                         F.count(F.lit(1)).over(wn).cast("bigint").alias("n")
                         ))
    p = r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_ev"),
        F.min(F.when(F.col("rn") == F.ceil(0.05 * F.col("n")).cast("bigint"),
                     F.col("x4"))).cast("bigint").alias("p05x4"),
        F.min(F.when(F.col("rn") == F.ceil(0.95 * F.col("n")).cast("bigint"),
                     F.col("x4"))).cast("bigint").alias("p95x4"))
    j = r.drop("n", "rn").join(F.broadcast(p), "event_type")
    clamped = F.least(F.greatest(F.col("x4"), F.col("p05x4")),
                      F.col("p95x4"))
    return (j.groupBy("event_type", "n_ev", "p05x4", "p95x4")
            .agg(F.sum("x4").cast("bigint").alias("sraw"),
                 F.sum(clamped).cast("bigint").alias("swin"))
            .select("event_type", F.col("n_ev").alias("n_events"),
                    (F.col("p05x4") / F.lit(10000.0)).alias("p05"),
                    (F.col("p95x4") / F.lit(10000.0)).alias("p95"),
                    (F.col("sraw") / F.lit(10000.0) / F.col("n_ev"))
                    .alias("mean_raw"),
                    (F.col("swin") / F.lit(10000.0) / F.col("n_ev"))
                    .alias("mean_winsor")))


# ---------------------------------------------------------------------------
# q_islands_streaks — gaps-and-islands over each customer's active
# MONTHS (the classic consecutive-runs idiom: month_index − row_number
# is constant within a run): per customer, number of distinct active
# months, number of islands, and the longest consecutive-month streak.
# Windows partition by customer (natural key) — no global sort.
# ---------------------------------------------------------------------------
_ISLANDS_ORACLE = """
WITH d AS (
  SELECT DISTINCT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
  FROM orders
),
r AS (
  SELECT o_custkey, m,
         m - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
  FROM d
),
i AS (
  SELECT o_custkey, grp, CAST(count(*) AS BIGINT) AS len
  FROM r GROUP BY o_custkey, grp
)
SELECT o_custkey,
       CAST(sum(len) AS BIGINT) AS n_active_months,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(max(len) AS BIGINT) AS max_streak
FROM i GROUP BY o_custkey
"""


@register("q_islands_streaks", oracle=_ISLANDS_ORACLE)
def q_islands_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = (orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint").alias("m"))
        .distinct())
    r = d.select(
        "o_custkey", "m",
        (F.col("m") - F.row_number().over(
            W.partitionBy("o_custkey").orderBy("m"))).alias("grp"))
    i = r.groupBy("o_custkey", "grp").agg(lcount("len"))
    return i.groupBy("o_custkey").agg(
        F.sum("len").cast("bigint").alias("n_active_months"),
        lcount("n_islands"),
        F.max("len").cast("bigint").alias("max_streak"))


# ---------------------------------------------------------------------------
# q_listagg_nations — ordered string aggregation (LISTAGG / string_agg
# ... WITHIN GROUP): per region, its nations as one comma-joined,
# alphabetically sorted string. The report-formatting aggregate every
# SQL engine ships; Spark expresses it as sort-then-concat over a
# collected array (order made explicit, so the result is deterministic
# under any partitioning).
# ---------------------------------------------------------------------------
_LISTAGG_ORACLE = """
SELECT r_name AS region,
       CAST(count(*) AS BIGINT) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@register("q_listagg_nations", oracle=_LISTAGG_ORACLE)
def q_listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (nat.join(F.broadcast(reg),
                     nat.n_regionkey == reg.r_regionkey)
            .groupBy(F.col("r_name").alias("region"))
            .agg(lcount("n_nations"),
                 F.concat_ws(",", F.array_sort(F.collect_list("n_name")))
                 .alias("nations")))


# ---------------------------------------------------------------------------
# dq_referential — referential-integrity audit across the star schema's
# four foreign keys: child row counts and orphan counts (child rows
# whose key has no parent) via anti-joins. The data-quality gate every
# warehouse load runs; each row is one exact-count pair.
#
# Scale: four anti-joins shuffled on their keys (parents deduplicated
# to key columns first, so the shuffled parent side is minimal).
# ---------------------------------------------------------------------------
_REF_ORACLE = """
SELECT 'lineitem.l_orderkey->orders' AS fk,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL
SELECT 'lineitem.l_partkey->part',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT CAST(count(*) AS BIGINT) FROM orders),
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
"""


@register("dq_referential", oracle=_REF_ORACLE)
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    # one count-star per CHILD table, shared across its audits — the
    # lineitem count ran once per FK (3x) before (round-12 subtree
    # lint; the anti-joins stay separate: each prunes to its own key)
    li_n = persist(li.agg(lcount("n_child")))
    orders_n = orders.agg(lcount("n_child"))

    def audit(fk: str, child: DataFrame, key: str, parent: DataFrame,
              pkey: str, n_child: DataFrame) -> DataFrame:
        orphans = child.join(parent.select(pkey).distinct(),
                             child[key] == F.col(pkey), "left_anti")
        return (n_child
                .crossJoin(orphans.agg(lcount("n_orphans")))
                .select(F.lit(fk).alias("fk"), "n_child", "n_orphans"))

    parts = [
        audit("lineitem.l_orderkey->orders", li, "l_orderkey",
              orders, "o_orderkey", li_n),
        audit("lineitem.l_partkey->part", li, "l_partkey",
              load_table(spark, sf_dir, "part"), "p_partkey", li_n),
        audit("lineitem.l_suppkey->supplier", li, "l_suppkey",
              load_table(spark, sf_dir, "supplier"), "s_suppkey", li_n),
        audit("orders.o_custkey->customer", orders, "o_custkey",
              load_table(spark, sf_dir, "customer"), "c_custkey",
              orders_n),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Batch 2: training-data / text / graph extensions. Token semantics
# follow the corpus-wide convention (lowercase, whitespace-normalized,
# split on single spaces) so every documents-table op agrees on
# positions and counts.
# ---------------------------------------------------------------------------
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


# ---------------------------------------------------------------------------
# tx_code_detect — code-vs-prose screen (the language-agnostic marker
# heuristic every pretraining mixture uses to route documents to the
# code pipeline): densities of braces/brackets, semicolons, assignment
# '=', and digits per character, combined into one weighted score.
# Pure map-side column algebra — exact integer counts, one identical
# double tree, no UDF, no shuffle.
# ---------------------------------------------------------------------------
_CODE_ORACLE = """
WITH m AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(replace(replace(replace(replace(
                text, '{', ''), '}', ''), '[', ''), ']', ''))
              AS BIGINT) AS braces,
         CAST(length(text) - length(replace(text, ';', ''))
              AS BIGINT) AS semis,
         CAST(length(text) - length(replace(text, '=', ''))
              AS BIGINT) AS eqs,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS digits
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, n_chars, braces, semis,
       round((2.0 * braces + 2.0 * semis + 1.0 * eqs + 0.5 * digits)
             / CAST(n_chars AS DOUBLE), 6) AS code_score,
       (2.0 * braces + 2.0 * semis + 1.0 * eqs + 0.5 * digits)
         / CAST(n_chars AS DOUBLE) > 0.05 AS is_code
FROM m
"""


@register("tx_code_detect", oracle=_CODE_ORACLE)
def tx_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)

    def count_of(chars: str):
        out = F.col("text")
        for ch in chars:
            out = F.replace(out, F.lit(ch), F.lit(""))
        return (F.length("text") - F.length(out)).cast("bigint")

    m = docs.select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars"),
        count_of("{}[]").alias("braces"),
        count_of(";").alias("semis"),
        count_of("=").alias("eqs"),
        (F.length("text")
         - F.length(F.regexp_replace("text", "[0-9]", "")))
        .cast("bigint").alias("digits"))
    score = ((F.lit(2.0) * F.col("braces") + F.lit(2.0) * F.col("semis")
              + F.lit(1.0) * F.col("eqs") + F.lit(0.5) * F.col("digits"))
             / F.col("n_chars").cast("double"))
    return m.select("doc_id", "n_chars", "braces", "semis",
                    F.round(score, 6).alias("code_score"),
                    (score > 0.05).alias("is_code"))


# ---------------------------------------------------------------------------
# dp_span_mask — deterministic MLM-style token masking accounting
# (BERT's 15%-ish corruption, made reproducible at any parallelism):
# token (doc, pos) is masked iff the first hex byte of
# md5('<doc_id>:<pos>') is below 0x26 (38/256 ≈ 14.8%) — a pure
# content-addressed coin flip both engines evaluate identically as a
# STRING compare on the hex prefix. Per doc: token count, masked
# count, mask rate. Map-side explode + one grouped agg.
# ---------------------------------------------------------------------------
_SPANMASK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE length(text) > 0
),
m AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(
           list_transform(toks, (x, i) ->
             substring(md5(doc_id || ':' || i), 1, 2) < '26'),
           b -> b)) AS BIGINT) AS n_masked
  FROM t
)
SELECT doc_id, n_tokens, n_masked,
       round(CAST(n_masked AS DOUBLE) / n_tokens, 6) AS mask_rate
FROM m
"""


@register("dp_span_mask", headline=True, oracle=_SPANMASK_ORACLE)
def dp_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import textstats as tx

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    e = docs.select(
        "doc_id",
        F.posexplode(tx.tokens(F.col("text"))).alias("pos", "tok"))
    masked = (F.substring(
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("pos") + 1)), 1, 2)
        < "26")
    return (e.select("doc_id", masked.alias("masked"))
            .groupBy("doc_id")
            .agg(lcount("n_tokens"),
                 F.sum(F.when(F.col("masked"), 1).otherwise(0))
                 .cast("bigint").alias("n_masked"),
                 F.round(F.sum(F.when(F.col("masked"), 1).otherwise(0))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("mask_rate")))


# ---------------------------------------------------------------------------
# sim_reciprocal_nn — mutual nearest neighbors: pairs where each vector
# is in the other's exact top-k (the high-precision match criterion of
# bitext/translation mining — Artetxe & Schwenk, ACL 2019 — and a
# strong near-dup signal). Composes the exact kNN graph with itself:
# one self-join on the (directed) top-k edge set.
# ---------------------------------------------------------------------------
_RNN_K = 3

_RNN_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round(list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v))), 6) AS cos,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v))) DESC,
                            b.vec_id) AS rnk
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
top AS (SELECT src, dst, cos FROM s WHERE rnk <= {_RNN_K})
SELECT t1.src AS i, t1.dst AS j, t1.cos
FROM top t1 JOIN top t2 ON t1.src = t2.dst AND t1.dst = t2.src
WHERE t1.src < t1.dst
"""


@register("sim_reciprocal_nn", oracle=_RNN_ORACLE)
def sim_reciprocal_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    # persist: the reciprocal join references the kNN graph TWICE
    # (forward + flipped), and Spark does not dedupe common subplans —
    # unpersisted, the whole quadratic scoring pass ran twice per job
    # (measured 30 s vs 20 s for one emb_knn_graph at the ×10 tier).
    # The cached table is n×k narrow rows.
    top = persist(sim.knn_graph(vecs, k=_RNN_K)
                  .select("src_id", "dst_id", "cos"))
    back = top.select(F.col("src_id").alias("dst_id"),
                      F.col("dst_id").alias("src_id"))
    return (top.join(back, ["src_id", "dst_id"])
            .filter(F.col("src_id") < F.col("dst_id"))
            .select(F.col("src_id").alias("i"),
                    F.col("dst_id").alias("j"), "cos"))


# ---------------------------------------------------------------------------
# gr_degree_stats — degree distribution of the co-purchase graph (the
# first diagnostic before any graph algorithm: is this power-law or
# flat, where is the hub tail): node degrees over the gr_kcore edge
# rule (partkey < 100, any co-occurrence), rolled into a degree ->
# node-count histogram. Exact counts end to end.
# ---------------------------------------------------------------------------
_DEGREE_ORACLE = """
WITH co AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_partkey < 100
),
edges AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM co a JOIN co b ON a.o = b.o AND a.p <> b.p
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM edges GROUP BY src)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
"""


@register("gr_degree_stats", oracle=_DEGREE_ORACLE)
def gr_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 100)
    co = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("p")).distinct()
    edges = (co.join(co.withColumnRenamed("p", "q"), "o")
             .filter(F.col("p") != F.col("q"))
             .select(F.col("p").alias("src"), F.col("q").alias("dst"))
             .distinct())
    deg = edges.groupBy("src").agg(lcount("degree"))
    return deg.groupBy("degree").agg(lcount("n_nodes"))


# ---------------------------------------------------------------------------
# tx_sentence_stats — sentence segmentation metrics per document (the
# readability-adjacent shape stats every curation report carries):
# split on terminal punctuation runs followed by a space, drop empty
# fragments, count sentences and words-per-sentence. Identical regex
# (RE2-safe subset) on both engines; all counts exact, one division.
# ---------------------------------------------------------------------------
_SENT_PAT = "[.!?]+ "

_SENT_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{_SENT_PAT}'),
                     x -> length(trim(x)) > 0) AS sents,
         len({_TOKS}) AS n_words
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       round(CAST(n_words AS DOUBLE) / len(sents), 6)
         AS words_per_sentence
FROM s WHERE len(sents) > 0
"""


@register("tx_sentence_stats", oracle=_SENT_ORACLE)
def tx_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import textstats as tx

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    s = docs.select(
        "doc_id",
        F.filter(F.split("text", _SENT_PAT),
                 lambda x: F.length(F.trim(x)) > 0).alias("sents"),
        F.size(tx.tokens(F.col("text"))).cast("bigint").alias("n_words"))
    return (s.filter(F.size("sents") > 0)
            .select("doc_id",
                    F.size("sents").cast("bigint").alias("n_sentences"),
                    "n_words",
                    F.round(F.col("n_words").cast("double")
                            / F.size("sents"), 6)
                    .alias("words_per_sentence")))


# ---------------------------------------------------------------------------
# tok_char_coverage — SentencePiece-style character-coverage table (the
# `character_coverage` knob made inspectable): corpus character
# frequencies over the normalized text, ranked desc, cumulative share —
# tells you how many code points a vocab must keep to cover 99.xx% of
# the corpus. Exact bigint counts; each share one division over the
# rank-ordered cumulative sum.
# ---------------------------------------------------------------------------
_CHARCOV_TOP = 20

_CHARCOV_ORACLE = f"""
WITH c AS (
  SELECT unnest(regexp_extract_all({_NORM}, '.')) AS ch FROM documents
),
f AS (SELECT ch, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY ch),
r AS (
  SELECT ch, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, ch) AS rnk,
         CAST(sum(cnt) OVER () AS BIGINT) AS tot,
         CAST(sum(cnt) OVER (ORDER BY cnt DESC, ch) AS BIGINT) AS cum
  FROM f
)
SELECT rnk, ch, cnt,
       round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_coverage
FROM r WHERE rnk <= {_CHARCOV_TOP}
"""


@register("tok_char_coverage", oracle=_CHARCOV_ORACLE)
def tok_char_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    c = docs.select(F.explode(F.split(norm, "")).alias("ch")) \
        .filter(F.length("ch") > 0)
    f = c.groupBy("ch").agg(lcount("cnt"))
    wr = W.orderBy(F.desc("cnt"), F.asc("ch"))
    r = f.select(
        "ch", "cnt",
        F.row_number().over(wr).alias("rnk"),
        F.sum("cnt").over(W.partitionBy()).cast("bigint").alias("tot"),
        F.sum("cnt").over(wr).cast("bigint").alias("cum"))
    return (r.filter(F.col("rnk") <= _CHARCOV_TOP)
            .select("rnk", "ch", "cnt",
                    F.round(F.col("cum").cast("double")
                            / F.col("tot").cast("double"), 6)
                    .alias("cum_coverage")))


# ---------------------------------------------------------------------------
# tok_wordpiece — WordPiece greedy longest-match-first encoding (Wu et
# al. 2016, the BERT tokenizer's inference rule): per word, repeatedly
# take the LONGEST vocab piece matching at the cursor (continuation
# pieces carry the ## prefix); a word with no match at any cursor
# collapses to one [UNK]. The vocab is built deterministically from the
# corpus itself (all single characters + the most frequent length-2..4
# word substrings, position-tagged), bounded driver state like the
# unigram model. The greedy loop runs as one JVM higher-order fold per
# word — no Python per row. Oracled (round-7 conversion): the trained
# vocab DOES have a SQL twin — the top-60 ranking is deterministic
# (count desc, piece asc) and the greedy longest-match walk replays
# as a WITH RECURSIVE cursor over (word, pos) with a precomputed
# best-match-length table; the pure-python train+encode replay in
# tests/test_analytics.py stays as the third independent check.
#
# Scale: vocab training is one bounded TakeOrdered over substring
# counts; encoding is a map-side corpus pass over DISTINCT words.
# ---------------------------------------------------------------------------
_WP_MAX_LEN = 4
_WP_VOCAB = 60  # multi-char pieces kept (plus all single chars)


def _wordpiece_vocab(spark: SparkSession, sf_dir: str) -> set[str]:
    """Deterministic corpus-derived vocab: every single character seen
    (initial and ## forms), plus the _WP_VOCAB most frequent
    position-tagged substrings of length 2..4 (count = sum of word
    corpus frequencies; ties by piece string)."""
    from sanctions_data_pipeline_spark.operators import textstats as tx

    docs = load_table(spark, sf_dir, "documents")
    words = (docs.select(F.explode(tx.tokens(F.col("text"))).alias("w"))
             .groupBy("w").agg(lcount("c")))
    subs = words.select(
        "c",
        F.explode(F.flatten(F.transform(
            F.sequence(F.lit(2), F.lit(_WP_MAX_LEN)),
            # Spark's sequence(1, stop) DESCENDS when stop < 1, so words
            # shorter than ln must yield an empty position list explicitly
            lambda ln: F.when(
                F.length("w") >= ln,
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - ln + 1),
                    lambda i: F.when(
                        i == 1, F.substring(F.col("w"), 1, ln)
                    ).otherwise(
                        F.concat(F.lit("##"), F.col("w").substr(i, ln)))))
            .otherwise(F.array().cast("array<string>"))))).alias("p"))
    top = (subs.filter(F.col("p").isNotNull())
           .groupBy("p").agg(F.sum("c").cast("bigint").alias("n"))
           .orderBy(F.desc("n"), F.asc("p")).limit(_WP_VOCAB).collect())
    chars = (words.select(F.explode(F.split("w", "")).alias("ch"))
             .filter(F.length("ch") > 0).distinct().collect())
    vocab = {r["p"] for r in top}
    for r in chars:
        vocab.add(r["ch"])
        vocab.add("##" + r["ch"])
    return vocab


def wordpiece_pieces(word, vocab: set[str]):
    """array<string> greedy longest-match segmentation of ``word``
    against the literal vocab map; [UNK] when stuck. One aggregate
    fold, cursor carried in a struct — the viterbi_pieces discipline
    with greedy instead of min-cost."""
    kv = []
    for piece in sorted(vocab):
        kv.append(F.lit(piece))
        kv.append(F.lit(1))
    m = F.create_map(*kv)
    n = F.length(word)

    def step(acc, _):
        pos = acc["pos"]  # 0-based cursor
        exhausted = (pos >= n) | acc["unk"]
        # longest match wins: build the when-chain ascending so the
        # LAST wrap (the longest ln) is the outermost branch
        best = None
        for ln in range(1, _WP_MAX_LEN + 1):
            raw = F.substring(word, (pos + 1).cast("int"), ln)
            tagged = F.when(pos > 0, F.concat(F.lit("##"), raw)).otherwise(raw)
            hit = (pos + ln <= n) & F.element_at(m, tagged).isNotNull()
            cand = F.struct(F.lit(ln).alias("ln"), tagged.alias("piece"))
            best = F.when(hit, cand).otherwise(best) if best is not None \
                else F.when(hit, cand)
        return (F.when(exhausted, acc)
                .when(best.isNull(),
                      F.struct(n.cast("int").alias("pos"),
                               F.array(F.lit("[UNK]")).alias("pieces"),
                               F.lit(True).alias("unk")))
                .otherwise(F.struct(
                    (pos + best["ln"]).cast("int").alias("pos"),
                    F.concat(acc["pieces"],
                             F.array(best["piece"])).alias("pieces"),
                    F.lit(False).alias("unk"))))

    init = F.struct(F.lit(0).cast("int").alias("pos"),
                    F.array().cast("array<string>").alias("pieces"),
                    F.lit(False).alias("unk"))
    return F.aggregate(F.sequence(F.lit(1), n), init, step)


_WORDPIECE_ORACLE = f"""
WITH RECURSIVE
t AS (
  SELECT doc_id, unnest({_TOKS}) AS w FROM documents
),
tw AS (SELECT doc_id, w FROM t WHERE length(w) > 0),
words AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY w),
subs AS (
  SELECT CASE WHEN i = 1 THEN substr(w, 1, CAST(ln AS INTEGER))
              ELSE '##' || substr(w, CAST(i AS INTEGER),
                                  CAST(ln AS INTEGER)) END AS p,
         sum(c) AS n
  FROM words,
       LATERAL (SELECT unnest(range(2, {_WP_MAX_LEN + 1})) AS ln) l,
       LATERAL (SELECT unnest(range(1, length(w) - ln + 2)) AS i) s
  GROUP BY 1
),
top AS (SELECT p FROM subs ORDER BY n DESC, p LIMIT {_WP_VOCAB}),
chars AS (
  SELECT DISTINCT substr(w, CAST(i AS INTEGER), 1) AS ch
  FROM words, LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) s
),
vocab AS (
  SELECT p FROM top
  UNION SELECT ch FROM chars
  UNION SELECT '##' || ch FROM chars
),
dw AS (SELECT DISTINCT w FROM tw),
pos AS (
  SELECT w, CAST(i AS INTEGER) AS pos
  FROM dw, LATERAL (SELECT unnest(range(0, length(w))) AS i) s
),
best AS (
  SELECT p.w, p.pos, CAST(max(l.ln) AS INTEGER) AS best_ln
  FROM pos p
  JOIN (SELECT unnest(range(1, {_WP_MAX_LEN + 1})) AS ln) l
    ON p.pos + l.ln <= length(p.w)
  JOIN vocab v
    ON v.p = CASE WHEN p.pos = 0
                  THEN substr(p.w, 1, CAST(l.ln AS INTEGER))
                  ELSE '##' || substr(p.w, p.pos + 1,
                                      CAST(l.ln AS INTEGER)) END
  GROUP BY p.w, p.pos
),
walk AS (
  SELECT w, 0 AS pos, 0 AS np FROM dw
  UNION ALL
  SELECT wk.w, wk.pos + b.best_ln, wk.np + 1
  FROM walk wk JOIN best b ON b.w = wk.w AND b.pos = wk.pos
  WHERE wk.pos < length(wk.w)
),
enc AS (SELECT w, CAST(max(np) AS BIGINT) AS np FROM walk GROUP BY w)
SELECT tw.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(e.np) AS BIGINT) AS n_pieces,
       CAST(0 AS BIGINT) AS n_unk_words,
       round(CAST(sum(e.np) AS DOUBLE) / count(*), 6) AS pieces_per_word
FROM tw JOIN enc e ON tw.w = e.w
GROUP BY tw.doc_id
"""


@register("tok_wordpiece", oracle=_WORDPIECE_ORACLE)
def tok_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import textstats as tx

    vocab = _wordpiece_vocab(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = (docs.select("doc_id",
                         F.explode(tx.tokens(F.col("text"))).alias("w"))
             .filter(F.length("w") > 0))
    enc = words.select(
        "doc_id", wordpiece_pieces(F.col("w"), vocab).alias("st"))
    per = enc.select(
        "doc_id", F.size(F.col("st")["pieces"]).alias("np"),
        F.col("st")["unk"].cast("int").alias("unk"))
    return (per.groupBy("doc_id")
            .agg(lcount("n_words"),
                 F.sum("np").cast("bigint").alias("n_pieces"),
                 F.sum("unk").cast("bigint").alias("n_unk_words"))
            .withColumn("pieces_per_word",
                        F.round(F.col("n_pieces").cast("double")
                                / F.col("n_words"), 6)))


# ---------------------------------------------------------------------------
# dd_minhash_est_error — sketch-accuracy eval for the MinHash index
# (the measurement MMDS ch.3 prescribes before trusting banding
# thresholds): for every LSH candidate pair, the MinHash Jaccard
# ESTIMATE (fraction of agreeing signature components) against the
# exact Jaccard the verifier computed, with the absolute error. The
# in-engine counterpart of dd_lsh_tuning's analytic S-curve. Built on
# the PORTABLE md5 machinery (dd_minhash_lsh_portable's conventions:
# 32-bit md5 shingle ids, per-hash md5("h:" || hs) minhashes) so the
# whole estimate-vs-exact study replays verbatim in DuckDB; the xxhash
# production index keeps its own pytest pins (dd_minhash_lsh). The
# pytest replay additionally recomputes the md5 pipeline in pure
# python and pins the corpus-wide MMDS error bound
# (stderr ~ 1/sqrt(n_hashes)).
#
# Scale: signatures are map-side; the only shuffles are the LSH
# bucket join and two id-key joins carrying (id, 16-long) rows.
# ---------------------------------------------------------------------------
_MHE_N, _MHE_BANDS, _MHE_R, _MHE_K = 16, 8, 2, 3

_MHE_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_MHE_TOKS = f"string_split({_MHE_NORM}, ' ')"

_MHE_ORACLE = f"""
WITH arr AS (
  SELECT doc_id, {_MHE_TOKS} AS t FROM documents WHERE length(text) > 0
),
sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8))::BIGINT AS hs
  FROM arr, unnest(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= {_MHE_K}
),
sig AS (
  SELECT doc_id,
         {", ".join(
             f"min(('0x' || substr(md5('{h}:' || hs), 1, 8))::BIGINT) AS m{h}"
             for h in range(_MHE_N))}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, b,
         CASE b {" ".join(
             f"WHEN {b} THEN m{_MHE_R * b} || ':' || m{_MHE_R * b + 1}"
             for b in range(_MHE_BANDS))} END AS bsig
  FROM sig, unnest(range(0, {_MHE_BANDS})) AS u(b)
),
cand AS (
  SELECT DISTINCT l.doc_id AS i, r.doc_id AS j
  FROM banded l JOIN banded r ON l.b = r.b AND l.bsig = r.bsig
  WHERE l.doc_id < r.doc_id
),
sets AS (
  SELECT doc_id, list(hs) AS ls FROM sh GROUP BY doc_id
)
SELECT c.i, c.j,
       round(CAST(len(list_intersect(a.ls, b.ls)) AS DOUBLE)
             / CAST(len(list_distinct(a.ls || b.ls)) AS DOUBLE), 6)
         AS jac_exact,
       round(({" + ".join(
           f"CASE WHEN si.m{h} = sj.m{h} THEN 1 ELSE 0 END"
           for h in range(_MHE_N))}) / {float(_MHE_N)}, 6) AS jac_est,
       round(abs(
           round(({" + ".join(
               f"CASE WHEN si.m{h} = sj.m{h} THEN 1 ELSE 0 END"
               for h in range(_MHE_N))}) / {float(_MHE_N)}, 6)
           - round(CAST(len(list_intersect(a.ls, b.ls)) AS DOUBLE)
                   / CAST(len(list_distinct(a.ls || b.ls)) AS DOUBLE), 6)), 6)
         AS abs_err
FROM cand c
JOIN sets a ON a.doc_id = c.i JOIN sets b ON b.doc_id = c.j
JOIN sig si ON si.doc_id = c.i JOIN sig sj ON sj.doc_id = c.j
"""


@register("dd_minhash_est_error", oracle=_MHE_ORACLE)
def dd_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import textstats as tx

    def md5_32(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    arr = docs.select("doc_id", tx.tokens(F.col("text")).alias("t")) \
              .filter(F.size("t") >= _MHE_K)
    sh = persist(arr.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(t) - 3),"
            " i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))")).alias("s"),
    ).select("doc_id", md5_32(F.col("s")).alias("hs")).distinct())
    # sh feeds the signature agg AND the exact-set agg; sig feeds the
    # banding AND two probe-join sides; sets feeds two join sides —
    # persist all three so the shingle pipeline runs once instead of
    # up to 7x (round-12 subtree lint; the dd_minhash_lsh discipline)
    sig = persist(sh.groupBy("doc_id").agg(*[
        F.min(md5_32(F.concat_ws(":", F.lit(h), F.col("hs")))).alias(f"m{h}")
        for h in range(_MHE_N)
    ]))
    banded = sig.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.concat_ws(":", *[F.col(f"m{_MHE_R * b + r}")
                               for r in range(_MHE_R)])
            for b in range(_MHE_BANDS)
        ])).alias("b", "bsig"),
    )
    cand = (banded.select(F.col("doc_id").alias("i"), "b", "bsig")
            .join(banded.select(F.col("doc_id").alias("j"), "b", "bsig"),
                  ["b", "bsig"])
            .filter(F.col("i") < F.col("j"))
            .select("i", "j").distinct())
    sets = persist(sh.groupBy("doc_id").agg(F.collect_set("hs").alias("ls")))
    jac = F.round(
        F.size(F.array_intersect("ls_i", "ls_j")).cast("double")
        / F.size(F.array_union("ls_i", "ls_j")).cast("double"), 6)
    est = F.round(
        sum(F.when(F.col(f"mi{h}") == F.col(f"mj{h}"), 1).otherwise(0)
            for h in range(_MHE_N)) / F.lit(float(_MHE_N)), 6)
    return (
        cand
        .join(sets.select(F.col("doc_id").alias("i"),
                          F.col("ls").alias("ls_i")), "i")
        .join(sets.select(F.col("doc_id").alias("j"),
                          F.col("ls").alias("ls_j")), "j")
        .join(sig.select(F.col("doc_id").alias("i"),
                         *[F.col(f"m{h}").alias(f"mi{h}")
                           for h in range(_MHE_N)]), "i")
        .join(sig.select(F.col("doc_id").alias("j"),
                         *[F.col(f"m{h}").alias(f"mj{h}")
                           for h in range(_MHE_N)]), "j")
        .select("i", "j", jac.alias("jac_exact"), est.alias("jac_est"),
                F.round(F.abs(est - jac), 6).alias("abs_err")))


# ---------------------------------------------------------------------------
# io_jsonl_roundtrip — JSON-lines sink/source fidelity check (the
# interchange format every training-data pipeline speaks): write the
# documents table to JSONL, read it back, and emit per-doc identity
# evidence (md5 of the round-tripped text). The oracle computes the
# same rows straight from the parquet, so ANY escaping/encoding
# corruption in the sink or source breaks the value hash.
# ---------------------------------------------------------------------------
_JSONL_ORACLE = """
SELECT doc_id, lang, source,
       CAST(length(text) AS BIGINT) AS n_chars_rt,
       md5(text) AS text_md5
FROM documents
"""


@register("io_jsonl_roundtrip", oracle=_JSONL_ORACLE)
def io_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text", "lang", "source")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        os.path.basename(sf_dir.rstrip("/")), "docs_jsonl")
    docs.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string").json(path)
    return back.select(
        "doc_id", "lang", "source",
        F.length("text").cast("bigint").alias("n_chars_rt"),
        F.md5(F.col("text")).alias("text_md5"))


# ---------------------------------------------------------------------------
# io_partitioned_pruned — hive-partitioned parquet sink + partition-
# pruned source: events written `partitionBy(event_type)`, then read
# back with an event-type predicate that must prune to ONE directory
# (the layout decision that turns a 100 TB scan into a 4 TB one; the
# pruning itself is pinned by tests/test_analytics.py on the plan's
# "partition filters"). Output: the kept type's per-hour counts, oracle
# straight off the unpartitioned parquet.
# ---------------------------------------------------------------------------
_PART_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       CAST(count(*) AS BIGINT) AS n_events
FROM events WHERE event_type = 'click'
GROUP BY 1
"""


def _partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        os.path.basename(sf_dir.rstrip("/")), "events_by_type")
    (ev.select("event_id", "ts", "user_id", "value", "event_type")
       .write.mode("overwrite").partitionBy("event_type").parquet(path))
    return path


@register("io_partitioned_pruned", oracle=_PART_ORACLE)
def io_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _partitioned_events_path(spark, sf_dir)
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    return (back.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("hour_start"))
        .agg(lcount("n_events")))


# ---------------------------------------------------------------------------
# q_mann_kendall — Mann-Kendall trend test (Mann 1945, Kendall 1975 —
# the standard nonparametric "is this series trending" monitor) over
# the daily event-count series: S = Σ_{i<j} sign(x_j − x_i) as an exact
# integer over the day self-join (the series is calendar-bounded, so
# the pair set is |days|² — tiny), tie-corrected variance, one
# closed-form z. Everything integer until the final double tree.
# ---------------------------------------------------------------------------
_MK_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
s AS (
  SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.d < b.d
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM daily),
ties AS (
  SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS corr
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x)
  WHERE t > 1
)
SELECT m, s,
       round((CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0)
              * (2.0 * CAST(m AS DOUBLE) + 5.0) - CAST(corr AS DOUBLE))
             / 18.0, 6) AS var_s,
       round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
                  WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
                  ELSE 0.0 END
             / sqrt((CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0)
                     * (2.0 * CAST(m AS DOUBLE) + 5.0)
                     - CAST(corr AS DOUBLE)) / 18.0), 6) AS z
FROM s CROSS JOIN m CROSS JOIN ties
"""


@register("q_mann_kendall", oracle=_MK_ORACLE)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # daily feeds both self-join sides, the series count AND the tie
    # census (4 consumers): persist the bounded one-row-per-day census
    # so the orders scan + agg runs once (round-12 subtree lint)
    daily = persist(orders.groupBy(F.to_date("o_orderdate").alias("d"))
                    .agg(lcount("x")))
    b = daily.select(F.col("d").alias("d2"), F.col("x").alias("x2"))
    s = (daily.join(b, F.col("d") < F.col("d2"))
         .agg(F.sum(F.when(F.col("x2") > F.col("x"), 1)
                    .when(F.col("x2") < F.col("x"), -1)
                    .otherwise(0)).cast("bigint").alias("s")))
    m = daily.agg(lcount("m"))
    ties = (daily.groupBy("x").agg(lcount("t"))
            .filter(F.col("t") > 1)
            .agg(F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0)).cast("bigint").alias("corr")))
    j = s.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(ties))
    m_d = F.col("m").cast("double")
    var_s = (m_d * (m_d - F.lit(1.0)) * (F.lit(2.0) * m_d + F.lit(5.0))
             - F.col("corr").cast("double")) / F.lit(18.0)
    num = (F.when(F.col("s") > 0, F.col("s").cast("double") - F.lit(1.0))
           .when(F.col("s") < 0, F.col("s").cast("double") + F.lit(1.0))
           .otherwise(F.lit(0.0)))
    return j.select("m", "s", F.round(var_s, 6).alias("var_s"),
                    F.round(num / F.sqrt(var_s), 6).alias("z"))


# ---------------------------------------------------------------------------
# q_acf — autocorrelation function of the daily event-count series at
# lags 1..7 (the first diagnostic for any forecasting model; the
# weekly lag should light up on seasonal traffic): r_L =
# Σ(x_t−x̄)(x_{t+L}−x̄) / Σ(x_t−x̄)², products folded in day order on
# both engines so the double accumulation is bit-identical. Counts and
# the day index are exact integers; x̄ is one exact division.
# ---------------------------------------------------------------------------
_ACF_MAX_LAG = 7

_ACF_ORACLE = f"""
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
g AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(x) AS BIGINT) AS sx
      FROM daily),
den AS (
  SELECT list_aggregate(list_transform(
           list_sort(list({{'i': i,
                           'v': (CAST(x AS DOUBLE)
                                 - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
                                * (CAST(x AS DOUBLE)
                                   - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))}})),
           s -> s.v), 'sum') AS d0
  FROM daily CROSS JOIN g
),
lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
num AS (
  SELECT lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         list_aggregate(list_transform(
           list_sort(list({{'i': a.i,
                           'v': (CAST(a.x AS DOUBLE)
                                 - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
                                * (CAST(b.x AS DOUBLE)
                                   - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))}})),
           s -> s.v), 'sum') AS nsum
  FROM lags JOIN daily a ON true JOIN daily b ON b.i = a.i + lag
  CROSS JOIN g
  GROUP BY lag
)
SELECT lag, n_pairs, round(nsum / d0, 6) AS acf
FROM num CROSS JOIN den
"""


@register("q_acf", oracle=_ACF_ORACLE)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # daily feeds three consumers (g, dg, the lag probe b): persist the
    # bounded day-count census so the events scan + agg runs once
    # (round-12 subtree lint; one row per calendar day at any scale)
    daily = persist(ev.groupBy(
        (F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                 / F.lit(86400000000)).cast("bigint")).alias("i"))
        .agg(lcount("x")))
    g = daily.agg(lcount("m"), F.sum("x").cast("bigint").alias("sx"))
    dg = daily.crossJoin(F.broadcast(g))
    mean = F.col("sx").cast("double") / F.col("m").cast("double")

    def fold_sorted(struct_col):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(struct_col)),
                        lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v)

    den = dg.select(F.struct(
        F.col("i").alias("i"),
        ((F.col("x").cast("double") - mean)
         * (F.col("x").cast("double") - mean)).alias("v")).alias("sv")) \
        .agg(fold_sorted(F.col("sv")).alias("d0"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag"))
    b = daily.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    pairs = (F.broadcast(lags).join(dg, F.lit(True))
             .join(b, F.col("ib") == F.col("i") + F.col("lag")))
    num = (pairs.select(
        "lag",
        F.struct(F.col("i").alias("i"),
                 ((F.col("x").cast("double") - mean)
                  * (F.col("xb").cast("double") - mean)).alias("v"))
        .alias("sv"))
        .groupBy("lag")
        .agg(lcount("n_pairs"), fold_sorted(F.col("sv")).alias("nsum")))
    return (num.crossJoin(F.broadcast(den))
            .select("lag", "n_pairs",
                    F.round(F.col("nsum") / F.col("d0"), 6).alias("acf")))


# ---------------------------------------------------------------------------
# q_ks_test — two-sample Kolmogorov-Smirnov distance between the
# discount distributions of returned vs non-returned line items:
# D = max over values of |F̂₁(v) − F̂₂(v)|, computed from exact integer
# cumulative counts over the sorted distinct-value grid — no sum of
# doubles anywhere (max is order-independent), so the statistic is
# bit-identical at any partitioning and any scale. The distribution-
# drift gate every data-quality pipeline wants next to q_chi_square's
# categorical test.
# ---------------------------------------------------------------------------
_KS_ORACLE = """
WITH x AS (
  SELECT CAST(CAST(l_discount AS DECIMAL(8,4)) * 10000 AS BIGINT) AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp
  FROM lineitem
),
cnt AS (
  SELECT v,
         CAST(sum(grp) AS BIGINT) AS c1,
         CAST(sum(1 - grp) AS BIGINT) AS c2
  FROM x GROUP BY v
),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM cnt
),
cum AS (
  SELECT v,
         CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS f1,
         CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS f2
  FROM cnt
)
SELECT n1, n2,
       round(max(abs(CAST(f1 AS DOUBLE) / n1
                     - CAST(f2 AS DOUBLE) / n2)), 6) AS ks_d,
       round(max(abs(CAST(f1 AS DOUBLE) / n1
                     - CAST(f2 AS DOUBLE) / n2))
             * sqrt(CAST(n1 AS DOUBLE) * n2
                    / (CAST(n1 AS DOUBLE) + n2)), 6) AS ks_stat
FROM cum CROSS JOIN tot
GROUP BY n1, n2
"""


@register("q_ks_test", oracle=_KS_ORACLE)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        (F.col("l_discount").cast("decimal(8,4)") * 10000).cast("bigint")
        .alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("grp"))
    cnt = x.groupBy("v").agg(
        F.sum("grp").cast("bigint").alias("c1"),
        F.sum(1 - F.col("grp")).cast("bigint").alias("c2"))
    tot = cnt.agg(F.sum("c1").cast("bigint").alias("n1"),
                  F.sum("c2").cast("bigint").alias("n2"))
    w = W.orderBy("v")   # distinct-discount grid: bounded (<= 11 values)
    cum = cnt.select(
        "v", F.sum("c1").over(w).cast("bigint").alias("f1"),
        F.sum("c2").over(w).cast("bigint").alias("f2"))
    j = cum.crossJoin(F.broadcast(tot))
    gap = F.abs(F.col("f1").cast("double") / F.col("n1")
                - F.col("f2").cast("double") / F.col("n2"))
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    return (j.groupBy("n1", "n2")
            .agg(F.round(F.max(gap), 6).alias("ks_d"),
                 F.round(F.max(gap) * F.sqrt(n1d * n2d / (n1d + n2d)), 6)
                 .alias("ks_stat")))


# ---------------------------------------------------------------------------
# q_theil_index — Theil T inequality index of supplier revenue within
# each nation (the decomposable entropy-based member of the
# concentration family next to HHI/Lorenz/Gini):
# T = (1/n) Σ (x_i/μ) ln(x_i/μ). Same bounded per-nation revenue list
# as q_hhi_concentration; terms fold in sorted revenue order on both
# engines, revenues exact x4 bigints, μ one exact division.
# ---------------------------------------------------------------------------
_THEIL_ORACLE = f"""
WITH sup AS (
  SELECT s_nationkey, l_suppkey,
         CAST(ROUND(SUM({SQL_REVENUE}), 4) * 10000 AS BIGINT) AS rx4
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, l_suppkey
),
n AS (
  SELECT s_nationkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(rx4) AS BIGINT) AS tot,
         list_sort(list(rx4)) AS lst
  FROM sup GROUP BY s_nationkey
)
SELECT n_name AS nation, n_suppliers,
       round(list_aggregate(list_transform(lst,
               x -> (CAST(x AS DOUBLE)
                     / (CAST(tot AS DOUBLE) / n_suppliers))
                    * ln(CAST(x AS DOUBLE)
                         / (CAST(tot AS DOUBLE) / n_suppliers))), 'sum')
             / n_suppliers, 6) AS theil_t
FROM n JOIN nation ON s_nationkey = n_nationkey
"""


@register("q_theil_index", oracle=_THEIL_ORACLE)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = dval("l_extendedprice") * (F.lit(1).cast("decimal(8,4)")
                                     - F.col("l_discount").cast("decimal(8,4)"))
    per_sup = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
               .groupBy("s_nationkey", "l_suppkey")
               .agg((F.round(F.sum(rev), 4) * 10000).cast("bigint")
                    .alias("rx4")))
    n = (per_sup.groupBy("s_nationkey")
         .agg(lcount("n_suppliers"),
              F.sum("rx4").cast("bigint").alias("tot"),
              F.array_sort(F.collect_list("rx4")).alias("lst")))
    mu = F.col("tot").cast("double") / F.col("n_suppliers")
    theil = F.aggregate(
        F.transform(F.col("lst"),
                    lambda x: (x.cast("double") / mu)
                    * F.log(x.cast("double") / mu)),
        F.lit(0.0), lambda acc, v: acc + v) / F.col("n_suppliers")
    return (n.join(F.broadcast(nat), n.s_nationkey == nat.n_nationkey)
            .select(F.col("n_name").alias("nation"), "n_suppliers",
                    F.round(theil, 6).alias("theil_t")))


# ---------------------------------------------------------------------------
# dq_uniqueness — per-column cardinality/null profile of the orders
# table (the profiling pass every warehouse runs before declaring keys
# and building dashboards): per column, row count, exact distinct
# count, null count, uniqueness ratio. One pass per column expressed as
# a union of exact aggregates; uniqueness_profile(approx=True) is the
# 100 TB switch — HLL++ sketches instead of exact distincts
# (q_approx_sketch's machinery), pinned within rsd by tests.
# ---------------------------------------------------------------------------
_UNIQ_COLS = ("o_orderkey", "o_custkey", "o_orderstatus",
              "o_orderpriority")

_UNIQ_ORACLE = "\nUNION ALL\n".join(f"""
SELECT '{c}' AS col,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       round(CAST(count(DISTINCT {c}) AS DOUBLE) / count(*), 6)
         AS uniqueness
FROM orders""" for c in _UNIQ_COLS)


def uniqueness_profile(df: DataFrame, cols=_UNIQ_COLS,
                       approx: bool = False, rsd: float = 0.01) -> DataFrame:
    """Per-column cardinality/null profile. ``approx=True`` is the
    100 TB switch: COUNT(DISTINCT) becomes the HyperLogLog++ sketch
    (approx_count_distinct, relative error ``rsd``) — fixed-size
    mergeable state through the map-side combine instead of a per-value
    shuffle; rows/nulls stay exact either way. The registry form keeps
    the exact path (the oracle is exact); the equality-within-rsd pin
    lives in tests/test_analytics.py."""
    nd = (F.approx_count_distinct(F.col("__c"), rsd=rsd) if approx
          else F.count_distinct(F.col("__c")))
    parts = []
    for c in cols:
        parts.append(df.withColumn("__c", F.col(c)).agg(
            lcount("n_rows"),
            nd.cast("bigint").alias("n_distinct"),
            (F.count(F.lit(1)) - F.count(F.col("__c"))).cast("bigint")
            .alias("n_nulls"),
            F.round(nd.cast("double") / F.count(F.lit(1)), 6)
            .alias("uniqueness"))
            .select(F.lit(c).alias("col"), "n_rows", "n_distinct",
                    "n_nulls", "uniqueness"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register("dq_uniqueness", oracle=_UNIQ_ORACLE)
def dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return uniqueness_profile(load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# q_runs_test — Wald-Wolfowitz runs test for randomness of the daily
# event-count series (the companion to q_mann_kendall: trend asks
# "drifting?", runs asks "serially dependent?"): days labeled
# above/below the median daily count (exact order statistic, ties-at-
# median dropped per the textbook rule), the number of sign runs vs
# its null mean/variance, one closed-form z. Exact integers end to
# end; the run count itself is a lag-window sum over the bounded day
# series.
# ---------------------------------------------------------------------------
_RUNS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
med AS (
  SELECT CAST(min(x) AS BIGINT) AS m FROM (
    SELECT x, ROW_NUMBER() OVER (ORDER BY x, d) AS rn,
           count(*) OVER () AS n
    FROM daily
  ) WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
),
lab AS (
  SELECT d, CASE WHEN x > m THEN 1 ELSE 0 END AS s
  FROM daily CROSS JOIN med WHERE x <> m
),
runs AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s) AS BIGINT) AS n1,
         CAST(count(*) - sum(s) AS BIGINT) AS n2,
         CAST(1 + sum(CASE WHEN prev IS NOT NULL AND s <> prev
                           THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM (SELECT s, LAG(s) OVER (ORDER BY d) AS prev FROM lab)
)
SELECT n, n1, n2, r,
       round(2.0 * n1 * n2 / CAST(n AS DOUBLE) + 1.0, 6) AS mean_r,
       -- degenerate series (one-sided labels or n < 2) has no null
       -- variance: z is NULL rather than a division by zero
       CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
         round((CAST(r AS DOUBLE)
                - (2.0 * n1 * n2 / CAST(n AS DOUBLE) + 1.0))
               / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         * (CAST(n AS DOUBLE) - 1.0))), 6)
       END AS z
FROM runs
"""


@register("q_runs_test", oracle=_RUNS_ORACLE)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = (orders.groupBy(F.to_date("o_orderdate").alias("d"))
             .agg(lcount("x")))
    wr = W.orderBy("x", "d")
    med = (daily.select(
        "x", F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"))
        .filter(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint"))
        .agg(F.min("x").cast("bigint").alias("m")))
    lab = (daily.crossJoin(F.broadcast(med))
           .filter(F.col("x") != F.col("m"))
           .select("d", F.when(F.col("x") > F.col("m"), 1).otherwise(0)
                   .alias("s")))
    seq = lab.select("s", F.lag("s").over(W.orderBy("d")).alias("prev"))
    runs = seq.agg(
        lcount("n"),
        F.sum("s").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("bigint").alias("n2"),
        (1 + F.sum(F.when(F.col("prev").isNotNull()
                          & (F.col("s") != F.col("prev")), 1)
                   .otherwise(0))).cast("bigint").alias("r"))
    n_d = F.col("n").cast("double")
    mean_r = F.lit(2.0) * F.col("n1") * F.col("n2") / n_d + F.lit(1.0)
    var_r = (F.lit(2.0) * F.col("n1") * F.col("n2")
             * (F.lit(2.0) * F.col("n1") * F.col("n2") - n_d)
             / (n_d * n_d * (n_d - F.lit(1.0))))
    defined = (F.col("n1") > 0) & (F.col("n2") > 0) & (F.col("n") > 1)
    return runs.select(
        "n", "n1", "n2", "r",
        F.round(mean_r, 6).alias("mean_r"),
        F.when(defined,
               F.round((F.col("r").cast("double") - mean_r)
                       / F.sqrt(var_r), 6)).alias("z"))


# ---------------------------------------------------------------------------
# q_cramers_v — Cramér's V effect size for the q_chi_square contingency
# (chi-square says "dependent?", V says "how much"): V = sqrt(χ² /
# (n · min(r−1, c−1))), plus the φ² mean-square contingency. Same
# complete-margin-grid statistic, same sorted-fold discipline; on the
# independent synthetic pairing V ≈ 0 by construction.
# ---------------------------------------------------------------------------
_CRAMER_ORACLE = _CHI2_ORACLE.replace(
    """SELECT CAST(max(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST((count(DISTINCT split_part(k, '|', 1)) - 1)
            * (count(DISTINCT split_part(k, '|', 2)) - 1) AS BIGINT) AS dof,
       round(list_aggregate(list_transform(
               list_sort(list({'k': k, 'c': c})), s -> s.c), 'sum'), 6)
         AS chi2
FROM contrib""",
    """SELECT CAST(max(n) AS BIGINT) AS n,
       round(list_aggregate(list_transform(
               list_sort(list({'k': k, 'c': c})), s -> s.c), 'sum')
             / max(n), 6) AS phi2,
       round(sqrt(list_aggregate(list_transform(
               list_sort(list({'k': k, 'c': c})), s -> s.c), 'sum')
             / (CAST(max(n) AS DOUBLE)
                * least(count(DISTINCT split_part(k, '|', 1)) - 1,
                        count(DISTINCT split_part(k, '|', 2)) - 1))), 6)
         AS cramers_v
FROM contrib""")


@register("q_cramers_v", oracle=_CRAMER_ORACLE)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # ONE pass over the orders x customer join (round-12 subtree lint):
    # marginals derive from the persisted bounded obs census — exact
    # integer sums, identical counts (same fix as q_chi_square)
    j = (orders.join(cust, orders.o_custkey == cust.c_custkey)
         .select(F.col("o_orderpriority").alias("pri"),
                 F.col("c_mktsegment").alias("seg")))
    obs = persist(j.groupBy("pri", "seg").agg(lcount("o")))
    rm = obs.groupBy("pri").agg(F.sum("o").cast("bigint").alias("rc"))
    cm = obs.groupBy("seg").agg(F.sum("o").cast("bigint").alias("cc"))
    t = rm.agg(F.sum("rc").cast("bigint").alias("n"))
    grid = (F.broadcast(rm).crossJoin(F.broadcast(cm))
            .crossJoin(F.broadcast(t))
            .join(obs, ["pri", "seg"], "left")
            .withColumn("o", F.coalesce(F.col("o"), F.lit(0)).cast("bigint")))
    e = (F.col("rc").cast("double") * F.col("cc").cast("double")
         / F.col("n").cast("double"))
    contrib = grid.select(
        F.concat_ws("|", "pri", "seg").alias("k"),
        ((F.col("o").cast("double") - e) * (F.col("o").cast("double") - e)
         / e).alias("c"),
        "n")
    chi2 = F.aggregate(
        F.transform(F.array_sort(F.collect_list(F.struct("k", "c"))),
                    lambda s: s["c"]),
        F.lit(0.0), lambda acc, x: acc + x)
    mindim = F.least(
        F.count_distinct(F.split_part(F.col("k"), F.lit("|"), F.lit(1))) - 1,
        F.count_distinct(F.split_part(F.col("k"), F.lit("|"), F.lit(2))) - 1)
    return contrib.agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(chi2 / F.max("n"), 6).alias("phi2"),
        F.round(F.sqrt(chi2 / (F.max("n").cast("double") * mindim)), 6)
        .alias("cramers_v"))


# ---------------------------------------------------------------------------
# q_welch_ttest — Welch's unequal-variance two-sample t-test of mean
# event value, click vs view (the pairwise companion to q_anova_f's
# k-group screen, robust to variance imbalance): means/variances from
# exact decimal moment sums (the q_stats_moments envelope), t statistic
# and Welch-Satterthwaite degrees of freedom as one identical double
# tree. One grouped agg; nothing else.
# ---------------------------------------------------------------------------
_WELCH_ORACLE = """
WITH m AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) / 10000.0 AS DOUBLE) AS sx,
         CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))
                             * CAST(value AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) / 10000.0 AS DOUBLE) AS sxx
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY event_type
),
s AS (
  SELECT event_type, n, sx / n AS mean,
         (n * sxx - sx * sx) / (n * (n - 1)) AS var
  FROM m
),
w AS (
  SELECT a.n AS n1, b.n AS n2,
         a.mean AS mean1, b.mean AS mean2,
         a.var / a.n AS va, b.var / b.n AS vb
  FROM s a JOIN s b ON a.event_type = 'click' AND b.event_type = 'view'
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       round(mean1, 6) AS mean_click, round(mean2, 6) AS mean_view,
       round((mean1 - mean2) / sqrt(va + vb), 6) AS t_stat,
       round((va + vb) * (va + vb)
             / (va * va / (n1 - 1) + vb * vb / (n2 - 1)), 6) AS dof
FROM w
"""


@register("q_welch_ttest", oracle=_WELCH_ORACLE)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import _as_exact_double

    ev = load_table(spark, sf_dir, "events") \
        .filter(F.col("event_type").isin("click", "view"))
    x = dval("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _as_exact_double(F.sum(x)).alias("sx"),
        _as_exact_double(F.sum(x * x)).alias("sxx"))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    s = m.select("event_type", "n", (sx / n).alias("mean"),
                 ((n * sxx - sx * sx) / (n * (n - F.lit(1)))).alias("var"))
    a = s.filter(F.col("event_type") == "click") \
        .select(F.col("n").alias("n1"), F.col("mean").alias("mean1"),
                (F.col("var") / F.col("n")).alias("va"))
    b = s.filter(F.col("event_type") == "view") \
        .select(F.col("n").alias("n2"), F.col("mean").alias("mean2"),
                (F.col("var") / F.col("n")).alias("vb"))
    w = a.crossJoin(F.broadcast(b))
    va, vb = F.col("va"), F.col("vb")
    return w.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(F.col("mean1"), 6).alias("mean_click"),
        F.round(F.col("mean2"), 6).alias("mean_view"),
        F.round((F.col("mean1") - F.col("mean2")) / F.sqrt(va + vb), 6)
        .alias("t_stat"),
        F.round((va + vb) * (va + vb)
                / (va * va / (F.col("n1") - F.lit(1.0))
                   + vb * vb / (F.col("n2") - F.lit(1.0))), 6).alias("dof"))


# ---------------------------------------------------------------------------
# sim_mrr_eval — mean-reciprocal-rank eval of the sign-LSH index (the
# rank-SENSITIVE companion to sim_recall_eval's recall@k): per query,
# where does the TRUE nearest neighbor (exact cosine rank 1) land in
# the approx ranking — rr = 1/rank, 0 when the index misses it in its
# bucket. In-engine eval, no driver loops; the corpus-side plan is the
# same bucket join the index itself runs.
# ---------------------------------------------------------------------------
def _mrr_oracle() -> str:
    from sanctions_data_pipeline_spark.plans.training_data import (
        _COS, _sql_bucket)

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_sql_bucket("v")} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 20),
truth AS (
  SELECT query_id, neighbor_id AS true_nn FROM (
    SELECT query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {_COS.format(a="qv", b="v")} DESC,
                                       e.vec_id) AS rnk
    FROM q, e WHERE e.vec_id <> query_id
  ) WHERE rnk = 1
), approx AS (
  SELECT query_id, neighbor_id, arnk FROM (
    SELECT query_id, b.vec_id AS neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {_COS.format(a="qv", b="b.v")} DESC,
                                       b.vec_id) AS BIGINT) AS arnk
    FROM q JOIN b USING (bucket) WHERE b.vec_id <> query_id
  ) WHERE arnk <= 10
)
SELECT t.query_id, t.true_nn, a.arnk AS approx_rank,
       round(COALESCE(1.0 / a.arnk, 0.0), 6) AS rr
FROM truth t LEFT JOIN approx a
  ON t.query_id = a.query_id AND t.true_nn = a.neighbor_id
"""


@register("sim_mrr_eval", oracle=_mrr_oracle())
def sim_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    q = vecs.filter(F.col("vec_id") < 20)
    truth = (sim.brute_force_topk(q, vecs, k=1)
             .select("query_id", F.col("neighbor_id").alias("true_nn")))
    approx = (sim.lsh_topk(q, vecs, k=10, n_bits=8)
              .select("query_id", F.col("neighbor_id").alias("__an"),
                      F.col("rnk").cast("bigint").alias("arnk")))
    j = truth.join(
        approx, (truth.query_id == approx.query_id)
        & (truth.true_nn == approx.__an), "left") \
        .select(truth.query_id, "true_nn", "arnk")
    return j.select(
        "query_id", "true_nn", F.col("arnk").alias("approx_rank"),
        F.round(F.coalesce(F.lit(1.0) / F.col("arnk"), F.lit(0.0)), 6)
        .alias("rr"))


# ---------------------------------------------------------------------------
# q_levene_test — Brown-Forsythe/Levene variance-homogeneity test of
# discount across return flags (the assumption check you run BEFORE
# trusting q_anova_f's pooled variance): one-way ANOVA F over absolute
# deviations from each group's MEDIAN (the robust Brown-Forsythe
# variant). The median is an exact discrete order statistic of the x4
# ints, so every deviation is an exact integer and the whole moment
# pipeline stays bigint-exact; mean squares via pround6 (the
# q_anova_f lesson — never round an extensive statistic).
# ---------------------------------------------------------------------------
_LEVENE_ORACLE = """
WITH x AS (
  SELECT l_returnflag AS g,
         CAST(CAST(l_discount AS DECIMAL(8,4)) * 10000 AS BIGINT) AS x4
  FROM lineitem
),
med AS (
  SELECT g, CAST(min(CASE WHEN rn = CAST(ceil(n / 2.0) AS BIGINT)
                          THEN x4 END) AS BIGINT) AS m
  FROM (SELECT g, x4,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY x4) AS rn,
               count(*) OVER (PARTITION BY g) AS n
        FROM x)
  GROUP BY g
),
z AS (
  SELECT x.g, abs(x4 - m) AS z FROM x JOIN med ON x.g = med.g
),
grp AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(z) AS BIGINT) AS s_g
  FROM z GROUP BY g
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(z) AS BIGINT) AS s,
         CAST(sum(z * z) AS BIGINT) AS ss
  FROM z
),
parts AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         list_aggregate(list_transform(
           list_sort(list({'g': g, 'v': CAST(s_g AS DOUBLE)
                                        * CAST(s_g AS DOUBLE)
                                        / CAST(n_g AS DOUBLE)})),
           s -> s.v), 'sum') AS sum_sg2
  FROM grp
)
SELECT k, n AS n_rows,
       round(((sum_sg2 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
               / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
             / ((CAST(ss AS DOUBLE) - sum_sg2)
                / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS w_stat
FROM parts CROSS JOIN tot
"""


@register("q_levene_test", oracle=_LEVENE_ORACLE)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("g"),
        (F.col("l_discount").cast("decimal(8,4)") * 10000).cast("bigint")
        .alias("x4"))
    wr = W.partitionBy("g").orderBy("x4")
    wn = W.partitionBy("g")
    med = (x.select("g", "x4", F.row_number().over(wr).alias("rn"),
                    F.count(F.lit(1)).over(wn).alias("n"))
           .groupBy("g")
           .agg(F.min(F.when(
               F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint"),
               F.col("x4"))).cast("bigint").alias("m")))
    # z feeds two aggregations (grp and tot): persist the narrow
    # (g, z) frame so the scan + median join runs once (round-12 lint)
    z = persist(x.join(F.broadcast(med), "g")
                .select("g", F.abs(F.col("x4") - F.col("m")).alias("z")))
    grp = z.groupBy("g").agg(lcount("n_g"),
                             F.sum("z").cast("bigint").alias("s_g"))
    tot = z.agg(lcount("n"), F.sum("z").cast("bigint").alias("s"),
                F.sum(F.col("z") * F.col("z")).cast("bigint").alias("ss"))
    parts = grp.select(
        "g", (F.col("s_g").cast("double") * F.col("s_g").cast("double")
              / F.col("n_g").cast("double")).alias("v")
    ).agg(
        lcount("k"),
        F.aggregate(
            F.transform(F.array_sort(F.collect_list(F.struct("g", "v"))),
                        lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v).alias("sum_sg2"))
    j = parts.crossJoin(F.broadcast(tot))
    n_d, s_d = F.col("n").cast("double"), F.col("s").cast("double")
    ss_d, k_d = F.col("ss").cast("double"), F.col("k").cast("double")
    ssb = F.col("sum_sg2") - s_d * s_d / n_d
    ssw = ss_d - F.col("sum_sg2")
    return j.select(
        "k", F.col("n").alias("n_rows"),
        F.round((ssb / (k_d - F.lit(1.0))) / (ssw / (n_d - k_d)), 6)
        .alias("w_stat"))


# ---------------------------------------------------------------------------
# io_csv_roundtrip — CSV sink/source fidelity twin of
# io_jsonl_roundtrip, through the package's quarantining CSV reader
# (sources/csv_source.py): write the documents table as quoted CSV,
# read it back PERMISSIVE, and emit per-doc md5 identity. Quoting /
# escaping / header bugs in either direction break the value hash; a
# row landing in the corrupt-record quarantine would change the row
# count.
# ---------------------------------------------------------------------------
@register("io_csv_roundtrip", oracle=_JSONL_ORACLE)
def io_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from sanctions_data_pipeline_spark.sources.csv_source import (
        read_documents_csv, write_documents_csv)

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text", "lang", "source", "n_chars")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        os.path.basename(sf_dir.rstrip("/")), "docs_csv")
    write_documents_csv(docs, path)
    back = read_documents_csv(spark, path) \
        .filter(F.col("_corrupt_record").isNull())
    return back.select(
        "doc_id", "lang", "source",
        F.length("text").cast("bigint").alias("n_chars_rt"),
        F.md5(F.col("text")).alias("text_md5"))


# ---------------------------------------------------------------------------
# q_seasonal_decompose — classical additive decomposition of the daily
# event series (the moving-average method every forecasting text opens
# with): trend = centered 7-day moving mean (exact bigint window sums,
# one division), seasonal = day-of-week mean of the detrended series
# (folded in day order — bounded, bit-identical), residual = the rest.
# The capstone over q_acf / q_mann_kendall / q_weekday_seasonality:
# same series, full decomposition. One row per day.
# ---------------------------------------------------------------------------
_DECOMP_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(dayofweek(date_trunc('day', ts)) AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2, 3
),
tr AS (
  SELECT i, day, dow, x,
         CAST(sum(x) OVER w AS DOUBLE) / CAST(count(x) OVER w AS DOUBLE)
           AS trend
  FROM daily
  WINDOW w AS (ORDER BY i ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
sea AS (
  SELECT dow,
         list_aggregate(list_transform(
           list_sort(list({'i': i, 'v': CAST(x AS DOUBLE) - trend})),
           s -> s.v), 'sum')
           / count(*) AS seasonal
  FROM tr GROUP BY dow
)
SELECT day, x, round(trend, 6) AS trend,
       round(seasonal, 6) AS seasonal,
       round(CAST(x AS DOUBLE) - trend - seasonal, 6) AS residual
FROM tr JOIN sea USING (dow)
"""


@register("q_seasonal_decompose", oracle=_DECOMP_ORACLE)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                 / F.lit(86400000000)).cast("bigint")).alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.dayofweek(F.date_trunc("day", "ts")).cast("bigint").alias("dow"))
        .agg(lcount("x")))
    w = W.orderBy("i").rowsBetween(-3, 3)
    tr = daily.select(
        "i", "day", "dow", "x",
        (F.sum("x").over(w).cast("double")
         / F.count("x").over(w).cast("double")).alias("trend"))
    sea = (tr.select("dow", F.struct(
        F.col("i").alias("i"),
        (F.col("x").cast("double") - F.col("trend")).alias("v")).alias("sv"))
        .groupBy("dow")
        .agg((F.aggregate(
            F.transform(F.array_sort(F.collect_list("sv")),
                        lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v)
            / F.count(F.lit(1))).alias("seasonal")))
    return (tr.join(F.broadcast(sea), "dow")
            .select("day", "x", F.round("trend", 6).alias("trend"),
                    F.round("seasonal", 6).alias("seasonal"),
                    F.round(F.col("x").cast("double") - F.col("trend")
                            - F.col("seasonal"), 6).alias("residual")))


# ---------------------------------------------------------------------------
# tx_lexical_diversity — vocabulary-diversity screen per document
# (bot/template text has pathologically low diversity even when the
# Gopher shape rules pass): type-token ratio and Herdan's C
# (log V / log N — the length-robust variant). Map-side HOF counts,
# one identical log-ratio tree.
# ---------------------------------------------------------------------------
_LEXDIV_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE length(text) > 0
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
  FROM t
)
SELECT doc_id, n_tokens, n_types,
       round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
       CASE WHEN n_tokens > 1
            THEN round(ln(CAST(n_types AS DOUBLE))
                       / ln(CAST(n_tokens AS DOUBLE)), 6) END AS herdan_c
FROM m
"""


@register("tx_lexical_diversity", oracle=_LEXDIV_ORACLE)
def tx_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import textstats as tx

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    m = docs.select(
        "doc_id",
        F.size(tx.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(tx.tokens(F.col("text")))).cast("bigint")
        .alias("n_types"))
    return m.select(
        "doc_id", "n_tokens", "n_types",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6)
        .alias("ttr"),
        F.when(F.col("n_tokens") > 1,
               F.round(F.log(F.col("n_types").cast("double"))
                       / F.log(F.col("n_tokens").cast("double")), 6))
        .alias("herdan_c"))
