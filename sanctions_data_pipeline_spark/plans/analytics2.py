"""Round-4 analytics, continued (SURVEY.md §2): technical-analysis
style screens over the daily event-value series (Bollinger bands,
drawdown-from-peak, RSI) and rank statistics (Spearman correlation).

Mirrors the reference's time-series monitoring surface (reference
analyzes per-day aggregate movements of scraped sanction totals) the
Spark-first way: one daily pre-aggregation (map-side combine into a
tiny day-grid), then bounded window math over the day series. The day
grid is O(days) regardless of input scale, so every op here scans the
events table once, shuffles only (day, exact-int aggregate) pairs, and
runs the window pass on a table of a few thousand rows — at 100 TB the
scan dominates and parallelizes; the series math stays trivial.

Cross-engine float discipline (same as plans/analytics.py): daily
values are x4 fixed-point bigints (exact, order-independent); moving
means/variances fold the windowed values in day order on both engines
so double accumulation is bit-identical; ratios rounded to 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sanctions_data_pipeline_spark.catalog import load_table, widen_small_scan
from sanctions_data_pipeline_spark.plans.helpers import (
    lcount, local_frame, persist, pround6)
from sanctions_data_pipeline_spark.plans.registry import register

# Daily value series: x4 fixed-point sum of events.value per UTC day.
# Exact bigint on both engines (decimal accumulate, one scale shift).
_DAILY_SQL = """
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS x4
  FROM events GROUP BY 1, 2
"""


def _daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg((F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
           * 10000).cast("bigint").alias("x4"))


# ---------------------------------------------------------------------------
# q_bollinger_bands — 20-day trailing Bollinger bands over the daily
# event-value series: moving mean, population stddev, mean ± 2σ, and
# %B (where today sits inside the band). The mean comes from exact
# window sums; the variance folds the windowed values in day order
# (list-over-window → sort → sequential double fold, bit-identical on
# both engines — the q_acf discipline applied inside a moving frame).
# ---------------------------------------------------------------------------
_BOLL_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
w AS (
  SELECT i, day, x4,
         CAST(count(*) OVER win AS BIGINT) AS n,
         CAST(sum(x4) OVER win AS BIGINT) AS s,
         list(x4) OVER win AS xs
  FROM daily
  WINDOW win AS (ORDER BY i ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
m AS (
  SELECT i, day, x4, n,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean4,
         sqrt(list_aggregate(list_transform(list_sort(xs),
           v -> (CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))),
           'sum') / CAST(n AS DOUBLE)) AS sd4
  FROM w
)
SELECT day, n, x4 / 10000.0 AS x,
       round(mean4 / 10000.0, 6) AS mean,
       round(sd4 / 10000.0, 6) AS sd,
       round((mean4 + 2.0 * sd4) / 10000.0, 6) AS upper,
       round((mean4 - 2.0 * sd4) / 10000.0, 6) AS lower,
       CASE WHEN sd4 > 0.0
            THEN round((CAST(x4 AS DOUBLE) - (mean4 - 2.0 * sd4))
                       / ((mean4 + 2.0 * sd4) - (mean4 - 2.0 * sd4)), 6)
       END AS pct_b
FROM m
"""


@register("q_bollinger_bands", headline=True, oracle=_BOLL_ORACLE)
def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_value(spark, sf_dir)
    win = W.orderBy("i").rowsBetween(-19, 0)
    w = daily.select(
        "i", "day", "x4",
        F.count(F.lit(1)).over(win).cast("bigint").alias("n"),
        F.sum("x4").over(win).cast("bigint").alias("s"),
        F.collect_list("x4").over(win).alias("xs"))
    mean4 = F.col("s").cast("double") / F.col("n").cast("double")
    sd4 = F.sqrt(
        F.aggregate(
            F.transform(F.array_sort(F.col("xs")),
                        lambda v: (v.cast("double") - mean4)
                        * (v.cast("double") - mean4)),
            F.lit(0.0), lambda acc, v: acc + v) / F.col("n").cast("double"))
    m = w.select("day", "n", "x4", mean4.alias("mean4"), sd4.alias("sd4"))
    up4 = F.col("mean4") + F.lit(2.0) * F.col("sd4")
    lo4 = F.col("mean4") - F.lit(2.0) * F.col("sd4")
    return m.select(
        "day", "n", (F.col("x4") / F.lit(10000.0)).alias("x"),
        F.round(F.col("mean4") / 10000.0, 6).alias("mean"),
        F.round(F.col("sd4") / 10000.0, 6).alias("sd"),
        F.round(up4 / 10000.0, 6).alias("upper"),
        F.round(lo4 / 10000.0, 6).alias("lower"),
        F.when(F.col("sd4") > 0.0,
               F.round((F.col("x4").cast("double") - lo4) / (up4 - lo4), 6))
        .alias("pct_b"))


# ---------------------------------------------------------------------------
# q_drawdown — running peak and drawdown-from-peak of the cumulative
# daily event-value series (the "how far below the high-water mark"
# monitor). Cumulative sums accumulate in DECIMAL(38,0)/HUGEINT so the
# running total never wraps (the q_gini_coefficient overflow lesson),
# and surface as bigint/1e4 doubles — exact while the grand total is
# under ~9.2e14 currency units.
# ---------------------------------------------------------------------------
_DRAWDOWN_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
c0 AS (
  SELECT i, day,
         sum(CAST(x4 AS HUGEINT)) OVER (ORDER BY i) AS cum4
  FROM daily
),
c AS (
  SELECT i, day, cum4,
         max(cum4) OVER (ORDER BY i) AS peak4
  FROM c0
)
SELECT day,
       CAST(cum4 AS BIGINT) / 10000.0 AS cum_value,
       CAST(peak4 AS BIGINT) / 10000.0 AS peak_value,
       CAST(peak4 - cum4 AS BIGINT) / 10000.0 AS drawdown,
       CASE WHEN CAST(peak4 AS BIGINT) > 0
            THEN round(CAST(CAST(peak4 - cum4 AS BIGINT) AS DOUBLE)
                       / CAST(CAST(peak4 AS BIGINT) AS DOUBLE), 6)
       END AS drawdown_pct
FROM c
"""


@register("q_drawdown", oracle=_DRAWDOWN_ORACLE)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_value(spark, sf_dir)
    wc = W.orderBy("i").rowsBetween(W.unboundedPreceding, 0)
    c = daily.select(
        "i", "day",
        F.sum(F.col("x4").cast("decimal(38,0)")).over(wc).alias("cum4"))
    c = c.select(
        "day", "cum4", F.max("cum4").over(wc).alias("peak4"))
    cum_b = F.col("cum4").cast("bigint")
    peak_b = F.col("peak4").cast("bigint")
    dd_b = (F.col("peak4") - F.col("cum4")).cast("bigint")
    return c.select(
        "day",
        (cum_b / F.lit(10000.0)).alias("cum_value"),
        (peak_b / F.lit(10000.0)).alias("peak_value"),
        (dd_b / F.lit(10000.0)).alias("drawdown"),
        F.when(peak_b > 0,
               F.round(dd_b.cast("double") / peak_b.cast("double"), 6))
        .alias("drawdown_pct"))


# ---------------------------------------------------------------------------
# q_rsi — 14-day relative strength index of the daily event-value
# series (cutler's SMA variant: sums of gains vs losses over the
# trailing window — the recursive Wilder EWMA is deliberately avoided
# so the statistic stays an exact windowed integer sum on both
# engines). RSI = 100·gains/(gains+losses); flat windows → NULL.
# ---------------------------------------------------------------------------
_RSI_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
d AS (
  SELECT i, day,
         x4 - lag(x4) OVER (ORDER BY i) AS diff
  FROM daily
),
g AS (
  SELECT i, day,
         greatest(diff, 0) AS gain,
         greatest(-diff, 0) AS loss
  FROM d WHERE diff IS NOT NULL
),
w AS (
  SELECT day,
         CAST(count(*) OVER win AS BIGINT) AS n_diffs,
         CAST(sum(gain) OVER win AS BIGINT) AS gains,
         CAST(sum(loss) OVER win AS BIGINT) AS losses
  FROM g
  WINDOW win AS (ORDER BY i ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT day, n_diffs,
       gains / 10000.0 AS gain_sum,
       losses / 10000.0 AS loss_sum,
       CASE WHEN gains + losses > 0
            THEN round(100.0 * CAST(gains AS DOUBLE)
                       / (CAST(gains AS DOUBLE) + CAST(losses AS DOUBLE)), 6)
       END AS rsi
FROM w
"""


@register("q_rsi", oracle=_RSI_ORACLE)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_value(spark, sf_dir)
    wl = W.orderBy("i")
    d = daily.select(
        "i", "day", (F.col("x4") - F.lag("x4").over(wl)).alias("diff"))
    g = d.filter(F.col("diff").isNotNull()).select(
        "i", "day",
        F.greatest(F.col("diff"), F.lit(0)).alias("gain"),
        F.greatest(-F.col("diff"), F.lit(0)).alias("loss"))
    win = W.orderBy("i").rowsBetween(-13, 0)
    w = g.select(
        "day",
        F.count(F.lit(1)).over(win).cast("bigint").alias("n_diffs"),
        F.sum("gain").over(win).cast("bigint").alias("gains"),
        F.sum("loss").over(win).cast("bigint").alias("losses"))
    gd, ld = F.col("gains").cast("double"), F.col("losses").cast("double")
    return w.select(
        "day", "n_diffs",
        (F.col("gains") / F.lit(10000.0)).alias("gain_sum"),
        (F.col("losses") / F.lit(10000.0)).alias("loss_sum"),
        F.when(F.col("gains") + F.col("losses") > 0,
               F.round(F.lit(100.0) * gd / (gd + ld), 6)).alias("rsi"))


# ---------------------------------------------------------------------------
# q_spearman_corr — Spearman rank correlation between daily event
# count and daily event value (do busier days move more money?).
# Ranks are row_number over (metric, day) — the deterministic
# tie-break both engines share — so Σd² is an exact integer and
# ρ = 1 − 6Σd²/(m(m²−1)) is one identical double tree. Integer-exact
# in double to ~2500 years of days.
# ---------------------------------------------------------------------------
_SPEARMAN_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(count(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS v4
  FROM events GROUP BY 1
),
r AS (
  SELECT row_number() OVER (ORDER BY n, i) AS rn,
         row_number() OVER (ORDER BY v4, i) AS rv
  FROM daily
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum((rn - rv) * (rn - rv)) AS BIGINT) AS sum_d2
  FROM r
)
SELECT m, sum_d2,
       CASE WHEN m > 1
            THEN round(1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
                       / (CAST(m AS DOUBLE)
                          * (CAST(m AS DOUBLE) * CAST(m AS DOUBLE) - 1.0)), 6)
       END AS spearman_rho
FROM s
"""


@register("q_spearman_corr", oracle=_SPEARMAN_ORACLE)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
    ).agg(lcount("n"),
          (F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
           * 10000).cast("bigint").alias("v4"))
    r = daily.select(
        F.row_number().over(W.orderBy("n", "i")).alias("rn"),
        F.row_number().over(W.orderBy("v4", "i")).alias("rv"))
    s = r.agg(
        lcount("m"),
        F.sum((F.col("rn") - F.col("rv")) * (F.col("rn") - F.col("rv")))
        .cast("bigint").alias("sum_d2"))
    m_d = F.col("m").cast("double")
    return s.select(
        "m", "sum_d2",
        F.when(F.col("m") > 1,
               F.round(F.lit(1.0) - F.lit(6.0) * F.col("sum_d2").cast("double")
                       / (m_d * (m_d * m_d - F.lit(1.0))), 6))
        .alias("spearman_rho"))


# ---------------------------------------------------------------------------
# tt_reservoir_sample — deterministic fixed-k per-source document
# sample (the "reservoir" every corpus-inspection dashboard needs):
# rank documents within each source by (md5(doc_id), doc_id) and keep
# the first 50. md5 of the decimal-string id is a portable uniform
# key, so the sample is stable across engines, partitionings, and
# scales — unlike rand()-based sampling. At 100 TB this is one
# hash + one per-source top-k (partial top-k map-side via window rank
# over the shuffle on source).
# ---------------------------------------------------------------------------
_RESERVOIR_K = 50

_RESERVOIR_ORACLE = f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         md5(CAST(doc_id AS VARCHAR)) AS sk
  FROM documents
),
r AS (
  SELECT source, doc_id, n_chars, sk,
         row_number() OVER (PARTITION BY source ORDER BY sk, doc_id) AS rk
  FROM keyed
)
SELECT source, rk, doc_id, n_chars, sk AS sample_key
FROM r WHERE rk <= {_RESERVOIR_K}
"""


@register("tt_reservoir_sample", oracle=_RESERVOIR_ORACLE)
def tt_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "source", "doc_id", "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("sk"))
    w = W.partitionBy("source").orderBy("sk", "doc_id")
    return (keyed.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _RESERVOIR_K)
            .select("source", "rk", "doc_id", "n_chars",
                    F.col("sk").alias("sample_key")))


# ---------------------------------------------------------------------------
# q_interevent_stats — per-user inter-arrival statistics (the burst /
# dormancy profile behind s_velocity_check): number of events, gaps,
# exact µs min/max gap, and mean gap in seconds. Gaps are exact
# bigint microsecond differences over a (ts, event_id)-ordered lag —
# deterministic under timestamp ties; one shuffle on user_id.
# ---------------------------------------------------------------------------
_INTEREVENT_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_us
  FROM events
),
g AS (
  SELECT user_id, us - prev_us AS gap_us FROM e WHERE prev_us IS NOT NULL
)
SELECT user_id,
       CAST(count(*) + 1 AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       CAST(FLOOR((CAST(sum(gap_us) AS BIGINT) / CAST(count(*) AS DOUBLE)
                   / 1000000.0) * 1000000 + 0.5) AS BIGINT) / 1000000.0
         AS mean_gap_s
FROM g GROUP BY user_id
"""


@register("q_interevent_stats", oracle=_INTEREVENT_ORACLE)
def q_interevent_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select("user_id", F.unix_micros("ts").alias("us"),
                  F.lag(F.unix_micros("ts")).over(w).alias("prev_us"))
    g = e.filter(F.col("prev_us").isNotNull()) \
         .select("user_id", (F.col("us") - F.col("prev_us")).alias("gap_us"))
    return g.groupBy("user_id").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        pround6(F.sum("gap_us").cast("bigint")
                / F.count(F.lit(1)).cast("double") / F.lit(1000000.0))
        .alias("mean_gap_s"))


# ---------------------------------------------------------------------------
# q_user_entropy — Shannon entropy of each user's event-type mix (the
# behavioral-diversity feature next to q_interevent_stats' timing
# profile). Counts are exact; −Σ p·ln p folds the per-type terms in
# event-type order on both engines (the tx_js_divergence discipline),
# and the normalized variant divides by ln(k). One shuffle on
# (user_id, event_type), then a tiny per-user fold.
# ---------------------------------------------------------------------------
_USER_ENTROPY_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type
),
t AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k,
         list_sort(list({'t': event_type, 'c': c})) AS cs
  FROM c GROUP BY user_id
)
SELECT user_id, n, k,
       round(list_aggregate(list_transform(cs,
         s -> -(CAST(s.c AS DOUBLE) / CAST(n AS DOUBLE))
              * ln(CAST(s.c AS DOUBLE) / CAST(n AS DOUBLE))), 'sum'), 6)
         AS entropy,
       CASE WHEN k > 1
            THEN round(list_aggregate(list_transform(cs,
                   s -> -(CAST(s.c AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(s.c AS DOUBLE) / CAST(n AS DOUBLE))), 'sum')
                 / ln(CAST(k AS DOUBLE)), 6)
       END AS norm_entropy
FROM t
"""


@register("q_user_entropy", oracle=_USER_ENTROPY_ORACLE)
def q_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(lcount("c"))
    t = c.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        lcount("k"),
        F.array_sort(F.collect_list(
            F.struct(F.col("event_type").alias("t"), F.col("c").alias("c"))))
        .alias("cs"))
    p = lambda s: s["c"].cast("double") / F.col("n").cast("double")  # noqa: E731
    ent = F.aggregate(
        F.transform(F.col("cs"), lambda s: -p(s) * F.log(p(s))),
        F.lit(0.0), lambda acc, v: acc + v)
    return t.select(
        "user_id", "n", "k",
        F.round(ent, 6).alias("entropy"),
        F.when(F.col("k") > 1,
               F.round(ent / F.log(F.col("k").cast("double")), 6))
        .alias("norm_entropy"))


# ---------------------------------------------------------------------------
# tx_bigram_pmi — corpus collocations: top-100 adjacent bigrams by
# pointwise mutual information, min count 5 (the phrase-mining /
# tokenizer-merge-candidate view on top of tx_ngrams' raw counts).
# PMI = ln p(xy) − ln p(x) − ln p(y) computed as a sum-of-logs tree
# over exact integer counts (overflow-free at any corpus size, and
# bit-identical across engines). Bigrams explode map-side off the
# scan; the unigram side is a broadcast join on each word.
# ---------------------------------------------------------------------------
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"

_BIGRAM_PMI_ORACLE = f"""
WITH t AS (
  SELECT {_TOKS} AS toks FROM documents WHERE length(text) > 0
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
),
n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
bi AS (
  SELECT b.w1, b.w2, CAST(count(*) AS BIGINT) AS c_xy
  FROM t, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {{'w1': toks[i], 'w2': toks[i + 1]}})) AS u(b)
  WHERE len(toks) >= 2
  GROUP BY b.w1, b.w2
),
nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bigrams FROM bi),
s AS (
  SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
         round(ln(CAST(c_xy AS DOUBLE)) - ln(CAST(n_bigrams AS DOUBLE))
               - (ln(CAST(u1.c AS DOUBLE)) - ln(CAST(n_tokens AS DOUBLE)))
               - (ln(CAST(u2.c AS DOUBLE)) - ln(CAST(n_tokens AS DOUBLE))),
               6) AS pmi
  FROM bi JOIN uni u1 ON bi.w1 = u1.w
          JOIN uni u2 ON bi.w2 = u2.w
  CROSS JOIN n CROSS JOIN nb
  WHERE c_xy >= 5
)
SELECT w1, w2, c_xy, c_x, c_y, pmi
FROM s ORDER BY pmi DESC, w1, w2 LIMIT 100
"""


@register("tx_bigram_pmi", headline=True, oracle=_BIGRAM_PMI_ORACLE)
def tx_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import textstats as tx

    # tokenize once, and persist the shared census tables: uni feeds
    # three consumers (token total + both unigram join sides) and bi
    # two (bigram total + the scored join) — Spark does not dedupe
    # common subplans, so the unpersisted form re-tokenized the corpus
    # five times. The scan is also widened (serial single-row-group
    # local split; no-op at cluster scale).
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"),
                            "doc_id").filter(F.length("text") > 0)
    t = persist(docs.select(tx.tokens(F.col("text")).alias("toks")))
    uni = persist(t.select(F.explode("toks").alias("w"))
                  .groupBy("w").agg(lcount("c")))
    n = uni.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    bi = persist(t.filter(F.size("toks") >= 2)
                 .select(F.explode(F.expr(
                     "transform(sequence(1, size(toks) - 1),"
                     " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"))
                     .alias("b"))
                 .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
                 .agg(lcount("c_xy")))
    nb = bi.agg(F.sum("c_xy").cast("bigint").alias("n_bigrams"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    s = (bi.filter(F.col("c_xy") >= 5)
         .join(F.broadcast(u1), "w1").join(F.broadcast(u2), "w2")
         .crossJoin(F.broadcast(n)).crossJoin(F.broadcast(nb)))
    ln = lambda c: F.log(c.cast("double"))  # noqa: E731
    pmi = F.round(
        ln(F.col("c_xy")) - ln(F.col("n_bigrams"))
        - (ln(F.col("c_x")) - ln(F.col("n_tokens")))
        - (ln(F.col("c_y")) - ln(F.col("n_tokens"))), 6)
    return (s.select("w1", "w2", "c_xy", "c_x", "c_y", pmi.alias("pmi"))
            .orderBy(F.desc("pmi"), "w1", "w2").limit(100))


# ---------------------------------------------------------------------------
# io_orc_roundtrip — ORC sink/source fidelity (the third columnar
# round-trip next to JSONL and CSV; ORC is Spark's other native
# columnar format and the usual Hive-interop handoff): write the
# documents table as ORC, read it back, emit per-doc md5 identity.
# ---------------------------------------------------------------------------
_ORC_ORACLE = """
SELECT doc_id, lang, source,
       CAST(length(text) AS BIGINT) AS n_chars_rt,
       md5(text) AS text_md5
FROM documents
"""


@register("io_orc_roundtrip", oracle=_ORC_ORACLE)
def io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text", "lang", "source")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        os.path.basename(sf_dir.rstrip("/")), "docs_orc")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.select(
        "doc_id", "lang", "source",
        F.length("text").cast("bigint").alias("n_chars_rt"),
        F.md5(F.col("text")).alias("text_md5"))


# ---------------------------------------------------------------------------
# q_pettitt_test — Pettitt's nonparametric changepoint test on the
# daily event-count series (the "did the level shift, and when"
# companion to q_mann_kendall's monotone-trend test). U_t is built
# from per-day V_t = Σ_j sgn(x_t − x_j) via one bounded day×day
# self-join (O(days²) pairs — thousands of rows regardless of input
# scale), then a prefix sum: U_t = Σ_{s≤t} V_s. K = max|U_t| over
# t < n; p ≈ 2·exp(−6K²/(n³+n²)). Everything integer-exact until the
# final exp.
# ---------------------------------------------------------------------------
_PETTITT_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
v AS (
  SELECT a.i, a.day,
         CAST(sum(CASE WHEN a.x > b.x THEN 1
                       WHEN a.x < b.x THEN -1 ELSE 0 END) AS BIGINT) AS vt
  FROM daily a JOIN daily b ON a.i <> b.i
  GROUP BY a.i, a.day
),
u AS (
  SELECT i, day,
         CAST(sum(vt) OVER (ORDER BY i) AS BIGINT) AS ut,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM v
),
k AS (
  SELECT i, day, ut, n,
         row_number() OVER (ORDER BY abs(ut) DESC, i) AS rk
  FROM u
  WHERE i < (SELECT max(i) FROM u)
)
SELECT n, day AS t_star, ut AS u_t, CAST(abs(ut) AS BIGINT) AS k_stat,
       round(2.0 * exp(-6.0 * CAST(abs(ut) AS DOUBLE)
                       * CAST(abs(ut) AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          * CAST(n AS DOUBLE)
                          + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
         AS p_value
FROM k WHERE rk = 1
"""


@register("q_pettitt_test", oracle=_PETTITT_ORACLE)
def q_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(lcount("x")))
    b = daily.select(F.col("i").alias("i2"), F.col("x").alias("x2"))
    v = (daily.join(b, F.col("i") != F.col("i2"))
         .groupBy("i", "day")
         .agg(F.sum(F.when(F.col("x") > F.col("x2"), 1)
                    .when(F.col("x") < F.col("x2"), -1)
                    .otherwise(0)).cast("bigint").alias("vt")))
    wu = W.orderBy("i").rowsBetween(W.unboundedPreceding, 0)
    u = v.select(
        "i", "day",
        F.sum("vt").over(wu).cast("bigint").alias("ut"),
        F.count(F.lit(1)).over(W.orderBy("i").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing)).cast("bigint")
        .alias("n"),
        F.max("i").over(W.orderBy("i").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing)).alias("max_i"))
    k = (u.filter(F.col("i") < F.col("max_i"))
         .withColumn("rk", F.row_number().over(
             W.orderBy(F.abs(F.col("ut")).desc(), "i")))
         .filter(F.col("rk") == 1))
    n_d = F.col("n").cast("double")
    k_d = F.abs(F.col("ut")).cast("double")
    return k.select(
        "n", F.col("day").alias("t_star"), F.col("ut").alias("u_t"),
        F.abs(F.col("ut")).cast("bigint").alias("k_stat"),
        F.round(F.lit(2.0) * F.exp(F.lit(-6.0) * k_d * k_d
                                   / (n_d * n_d * n_d + n_d * n_d)), 6)
        .alias("p_value"))


# ---------------------------------------------------------------------------
# s_round_amount_bias — round-number bias per user (an AML screen the
# reference's sanctions domain implies next to s_aml_structuring:
# humans structuring transfers pick round amounts far more often than
# organic activity does). Share of purchase-event values that are
# exact multiples of 100, with a binomial z-score against the global
# base rate. Exact x4 fixed-point modulus; one shuffle on user_id;
# the global rate is a one-row broadcast.
# ---------------------------------------------------------------------------
_ROUND_BIAS_ORACLE = """
WITH x AS (
  SELECT user_id,
         CASE WHEN CAST(ROUND(CAST(value AS DECIMAL(18,4)), 4) * 10000
                   AS BIGINT) % 1000000 = 0
              THEN 1 ELSE 0 END AS is_round
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
),
u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(is_round) AS BIGINT) AS n_round
  FROM x GROUP BY user_id
),
g AS (
  SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(sum(n_round) AS BIGINT) AS tot_round
  FROM u
)
SELECT user_id, n, n_round,
       round(CAST(n_round AS DOUBLE) / CAST(n AS DOUBLE), 6) AS round_share,
       CASE WHEN CAST(tot_round AS DOUBLE) / CAST(tot AS DOUBLE) > 0.0
             AND CAST(tot_round AS DOUBLE) / CAST(tot AS DOUBLE) < 1.0
            THEN round((CAST(n_round AS DOUBLE)
                        - CAST(n AS DOUBLE) * (CAST(tot_round AS DOUBLE)
                                               / CAST(tot AS DOUBLE)))
                       / sqrt(CAST(n AS DOUBLE)
                              * (CAST(tot_round AS DOUBLE) / CAST(tot AS DOUBLE))
                              * (1.0 - CAST(tot_round AS DOUBLE)
                                 / CAST(tot AS DOUBLE))), 6)
       END AS z_score
FROM u CROSS JOIN g
"""


@register("s_round_amount_bias", oracle=_ROUND_BIAS_ORACLE)
def s_round_amount_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = (ev.filter((F.col("event_type") == "purchase")
                   & F.col("value").isNotNull())
         .select("user_id",
                 F.when((F.round(F.col("value").cast("decimal(18,4)"), 4)
                         * 10000).cast("bigint") % 1000000 == 0, 1)
                 .otherwise(0).alias("is_round")))
    u = x.groupBy("user_id").agg(
        lcount("n"), F.sum("is_round").cast("bigint").alias("n_round"))
    g = u.agg(F.sum("n").cast("bigint").alias("tot"),
              F.sum("n_round").cast("bigint").alias("tot_round"))
    j = u.crossJoin(F.broadcast(g))
    p0 = F.col("tot_round").cast("double") / F.col("tot").cast("double")
    n_d = F.col("n").cast("double")
    nr_d = F.col("n_round").cast("double")
    return j.select(
        "user_id", "n", "n_round",
        F.round(nr_d / n_d, 6).alias("round_share"),
        F.when((p0 > 0.0) & (p0 < 1.0),
               F.round((nr_d - n_d * p0)
                       / F.sqrt(n_d * p0* (F.lit(1.0) - p0)), 6))
        .alias("z_score"))


# ---------------------------------------------------------------------------
# q_business_days — business-day (Mon-Fri) span between order date and
# each line's ship date, entirely in closed-form integer arithmetic
# (no calendar explode, no UDF): full weeks contribute 5 days, the
# remainder is corrected by the start weekday's position. The order×
# line join is the natural orderkey equi-join; everything else is
# map-side column algebra that whole-stage-codegens.
# ---------------------------------------------------------------------------
_BUSDAYS_ORACLE = """
WITH j AS (
  SELECT l_orderkey, l_linenumber,
         strftime(o_orderdate, '%Y-%m-%d') AS order_day,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
         CAST(date_diff('day', date_trunc('day', o_orderdate),
                        date_trunc('day', l_shipdate)) AS BIGINT) AS nd,
         CAST(isodow(date_trunc('day', o_orderdate)) - 1 AS BIGINT) AS d0
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
b AS (
  SELECT *,
         (nd // 7) * 5
         + least(nd % 7, greatest(5 - d0, 0))
         + greatest(least(nd % 7 - (7 - d0), 5 - greatest(5 - d0, 0)), 0)
           AS bd
  FROM j WHERE nd >= 0
)
SELECT l_orderkey, l_linenumber, order_day, ship_day, nd AS calendar_days,
       CAST(bd AS BIGINT) AS business_days
FROM b
"""


@register("q_business_days", oracle=_BUSDAYS_ORACLE)
def q_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_orderkey", "l_linenumber",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("bigint").alias("nd"),
        F.weekday(F.to_date("o_orderdate")).cast("bigint").alias("d0"))
    nd, d0 = F.col("nd"), F.col("d0")
    head = F.least(nd % 7, F.greatest(F.lit(5) - d0, F.lit(0)))
    wrap = F.greatest(
        F.least(nd % 7 - (F.lit(7) - d0),
                F.lit(5) - F.greatest(F.lit(5) - d0, F.lit(0))),
        F.lit(0))
    bd = (nd / 7).cast("bigint") * 5 + head + wrap
    return (j.filter(nd >= 0)
            .select("l_orderkey", "l_linenumber", "order_day", "ship_day",
                    nd.alias("calendar_days"),
                    bd.cast("bigint").alias("business_days")))


# ---------------------------------------------------------------------------
# emb_norm_stats — per-label L2-norm profile of the embedding space
# (the first drift check on an embedding pipeline: a label whose norms
# collapse or explode signals a bad encoder batch). Norms are the
# sequential-fold dot (== DuckDB list_inner_product) shared by every
# similarity op; per-label mean folds the norms in vec_id order.
# ---------------------------------------------------------------------------
_NORM_STATS_ORACLE = """
WITH e AS (
  SELECT vec_id, label,
         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       round(list_aggregate(list_transform(
               list_sort(list({'i': vec_id, 'v': nrm})), s -> s.v), 'sum')
             / count(*), 6) AS mean_norm
FROM e GROUP BY label
"""


@register("emb_norm_stats", oracle=_NORM_STATS_ORACLE)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators.similarity import (
        as_double, dot)

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label",
        F.sqrt(dot(as_double(F.col("embedding")),
                   as_double(F.col("embedding")))).alias("nrm"))
    fold = F.aggregate(
        F.transform(F.array_sort(F.collect_list(
            F.struct(F.col("vec_id").alias("i"), F.col("nrm").alias("v")))),
            lambda s: s["v"]),
        F.lit(0.0), lambda acc, v: acc + v)
    return e.groupBy("label").agg(
        lcount("n"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(fold / F.count(F.lit(1)), 6).alias("mean_norm"))


# ---------------------------------------------------------------------------
# sim_cosine_histogram — the pairwise-cosine distribution profile on a
# deterministic pair sample (each vector vs its id-successor): 20
# equal-width buckets over [-1, 1]. The cheap "is my embedding space
# healthy / anisotropic" diagnostic (a collapsed space piles mass near
# 1.0). The successor join is an equi-join — O(n) pairs, no quadratic
# blowup at scale — and bucket counts are exact integers.
# ---------------------------------------------------------------------------
_COS_HIST_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
p AS (
  SELECT round(list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
),
h AS (
  SELECT least(greatest(CAST(floor((cos + 1.0) * 10.0) AS BIGINT), 0), 19)
           AS bucket
  FROM p
)
SELECT bucket,
       round(-1.0 + bucket * 0.1, 1) AS lo,
       round(-1.0 + (bucket + 1) * 0.1, 1) AS hi,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM h GROUP BY bucket
"""


@register("sim_cosine_histogram", oracle=_COS_HIST_ORACLE)
def sim_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators.similarity import (
        as_double, dot)

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    a = e.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("ia"), F.col("v").alias("vb"))
    p = a.join(b, "ia").select(
        F.round(dot(F.col("va"), F.col("vb"))
                / (F.sqrt(dot(F.col("va"), F.col("va")))
                   * F.sqrt(dot(F.col("vb"), F.col("vb")))), 6).alias("cos"))
    h = p.select(
        F.least(F.greatest(F.floor((F.col("cos") + 1.0) * 10.0)
                           .cast("bigint"), F.lit(0)), F.lit(19))
        .alias("bucket"))
    return h.groupBy("bucket").agg(lcount("n_pairs")).select(
        "bucket",
        F.round(F.lit(-1.0) + F.col("bucket") * 0.1, 1).alias("lo"),
        F.round(F.lit(-1.0) + (F.col("bucket") + 1) * 0.1, 1).alias("hi"),
        "n_pairs")


# ---------------------------------------------------------------------------
# q_quantile_bins — equal-frequency (NTILE) binning of order totals
# with per-bin boundaries and exact sums: the bucketizer-fitting step
# of a feature pipeline (bin edges learned here feed a Bucketizer at
# serving time). Global NTILE needs a total order — at 100 TB swap
# row_number for a sampled range partitioner (approxQuantile edges);
# the per-bin stats stay one hash agg either way.
# ---------------------------------------------------------------------------
_QBINS_ORACLE = """
WITH d AS (
  SELECT o_orderkey,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 4) * 10000
              AS BIGINT) AS v4,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       min(v4) / 10000.0 AS lo,
       max(v4) / 10000.0 AS hi,
       CAST(sum(v4) AS BIGINT) / 10000.0 AS bin_sum
FROM d GROUP BY bin
"""


@register("q_quantile_bins", oracle=_QBINS_ORACLE)
def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    from sanctions_data_pipeline_spark.plans.helpers import sharded_ntile

    pre = orders.select(
        "o_orderkey", F.col("o_totalprice"),
        (F.round(F.col("o_totalprice").cast("decimal(18,4)"), 4) * 10000)
        .cast("bigint").alias("v4"))
    # sharded NTILE (the SURVEY "sampled range partitioner" promise):
    # range-shard on price, per-shard rank, broadcast count carry-in
    d = sharded_ntile(pre, F.col("o_totalprice"),
                      [F.asc("o_totalprice"), F.asc("o_orderkey")],
                      10, "bin")
    return d.groupBy("bin").agg(
        lcount("n"),
        (F.min("v4") / F.lit(10000.0)).alias("lo"),
        (F.max("v4") / F.lit(10000.0)).alias("hi"),
        (F.sum("v4").cast("bigint") / F.lit(10000.0)).alias("bin_sum"))


# ---------------------------------------------------------------------------
# q_poisson_dispersion — variance-to-mean ratio (index of dispersion)
# of the daily event-count series, with the chi-square dispersion
# statistic (m−1)·D: the over/under-dispersion check that decides
# whether a Poisson traffic model is even admissible. All moment sums
# are exact bigints; one identical double tree at the edge.
# ---------------------------------------------------------------------------
_DISPERSION_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM daily
)
SELECT m, sx AS n_events,
       round(CAST(sx AS DOUBLE) / CAST(m AS DOUBLE), 6) AS mean,
       round((CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
             / CAST(m AS DOUBLE), 6) AS variance,
       CASE WHEN sx > 0 THEN
         round(((CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
                / CAST(m AS DOUBLE))
               / (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)), 6)
       END AS dispersion,
       CASE WHEN sx > 0 THEN
         round((CAST(m AS DOUBLE) - 1.0)
               * ((CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                     / CAST(m AS DOUBLE)) / CAST(m AS DOUBLE))
               / (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)), 6)
       END AS chi2_stat
FROM s
"""


@register("q_poisson_dispersion", oracle=_DISPERSION_ORACLE)
def q_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                                / F.lit(86400000000)).cast("bigint")
                        .alias("i"))
             .agg(lcount("x")))
    s = daily.agg(lcount("m"),
                  F.sum("x").cast("bigint").alias("sx"),
                  F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"))
    m_d = F.col("m").cast("double")
    sx_d = F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    var = (sxx_d - sx_d * sx_d / m_d) / m_d
    mean = sx_d / m_d
    return s.select(
        "m", F.col("sx").alias("n_events"),
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.when(F.col("sx") > 0, F.round(var / mean, 6)).alias("dispersion"),
        F.when(F.col("sx") > 0,
               F.round((m_d - F.lit(1.0)) * var / mean, 6))
        .alias("chi2_stat"))


# ---------------------------------------------------------------------------
# gr_transitivity — global clustering coefficient (transitivity) of
# the co-purchase graph: 3·triangles / wedges, over the same oriented
# edge-iterator triangle count as gr_triangle_count (training_data.py:
# 1756) and exact per-node degree wedge counts. One number that says
# whether the graph is clumpy or random; all counts exact bigints.
# ---------------------------------------------------------------------------
_TRANSITIVITY_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_orderkey < 2000
), e0 AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e0 e1 JOIN e0 e2 ON e1.v = e2.u
  JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
  GROUP BY node
), w AS (
  SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
         CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg
)
SELECT n_nodes, (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
       n_triangles, n_wedges,
       CASE WHEN n_wedges > 0
            THEN round(3.0 * CAST(n_triangles AS DOUBLE)
                       / CAST(n_wedges AS DOUBLE), 6)
       END AS transitivity
FROM w CROSS JOIN tri
"""


@register("gr_transitivity", oracle=_TRANSITIVITY_ORACLE)
def gr_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 2000)
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct())
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    # e0 fed SIX consumers (three triangle join sides, two degree
    # union branches, the edge count): persist the narrow edge list so
    # the distinct + wedge-join pipeline runs once (round-12 subtree
    # lint), and emit both degree endpoints with one explode instead
    # of a doubled union subtree.
    e0 = persist(a.join(b, "o").filter(F.col("u") < F.col("v"))
                 .select("u", "v").distinct())
    e1 = e0.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e0.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e0.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (e1.join(e2, "b").join(e3, ["a", "c"])
           .agg(lcount("n_triangles")))
    deg = (e0.select(F.explode(F.array("u", "v")).alias("node"))
           .groupBy("node").agg(lcount("d")))
    w = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint"))
        .cast("bigint").alias("n_wedges"),
        lcount("n_nodes"))
    ne = e0.agg(lcount("n_edges"))
    j = w.crossJoin(F.broadcast(tri)).crossJoin(F.broadcast(ne))
    return j.select(
        "n_nodes", "n_edges", "n_triangles", "n_wedges",
        F.when(F.col("n_wedges") > 0,
               F.round(F.lit(3.0) * F.col("n_triangles").cast("double")
                       / F.col("n_wedges").cast("double"), 6))
        .alias("transitivity"))


# ---------------------------------------------------------------------------
# tok_oov_rate — per-document out-of-vocabulary mass against the
# corpus top-1000 vocabulary (the deployment-time companion to
# tok_vocab's coverage curve: which documents does a fixed-size vocab
# serve badly?). Vocabulary ranked by (count desc, token) — the
# deterministic tie-break — and broadcast against the exploded corpus;
# rates are exact-integer divisions rounded at the edge.
# ---------------------------------------------------------------------------
_VOCAB_K = 1000

_OOV_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE length(text) > 0
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
),
vocab AS (
  SELECT w FROM uni ORDER BY c DESC, w LIMIT {_VOCAB_K}
),
d AS (
  SELECT t.doc_id, u.w
  FROM t, unnest(toks) AS u(w)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM d LEFT JOIN vocab ON d.w = vocab.w
GROUP BY doc_id
"""


@register("tok_oov_rate", oracle=_OOV_ORACLE)
def tok_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import textstats as tx

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    uni = (t.select(F.explode("toks").alias("w"))
           .groupBy("w").agg(lcount("c")))
    vocab = (uni.orderBy(F.desc("c"), "w").limit(_VOCAB_K)
             .select("w", F.lit(1).alias("in_vocab")))
    d = t.select("doc_id", F.explode("toks").alias("w"))
    j = d.join(F.broadcast(vocab), "w", "left")
    return j.groupBy("doc_id").agg(
        lcount("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_oov"),
        F.round(F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                .cast("double") / F.count(F.lit(1)).cast("double"), 6)
        .alias("oov_rate"))


# ---------------------------------------------------------------------------
# pr_user_recs — "customers also bought": top-3 recommendations per
# order, scoring candidate items by the sum of Salton-cosine strengths
# (pr_item_cosine's formula, training_data.py:2245) to the order's own
# items, excluding items already in the order. The per-candidate score
# folds its cosine contributions in source-item order so the double
# sum is bit-identical across engines. Co-occurrence and degree aggs
# shuffle (long,long) pairs only; the degree table broadcasts.
# ---------------------------------------------------------------------------
_USER_RECS_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_orderkey < 4000
), cooc AS (
  SELECT a.p AS i, b.p AS j, CAST(COUNT(*) AS BIGINT) AS c
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p HAVING COUNT(*) >= 2
), deg AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM li GROUP BY p
), sym AS (
  SELECT i, j, c FROM cooc
  UNION ALL
  SELECT j AS i, i AS j, c FROM cooc
), edge AS (
  SELECT sym.i, sym.j, sym.c / sqrt(di.d * dj.d) AS cos
  FROM sym JOIN deg di ON di.p = sym.i JOIN deg dj ON dj.p = sym.j
), cand AS (
  SELECT li.o, edge.j AS item,
         CAST(count(*) AS BIGINT) AS n_paths,
         list_aggregate(list_transform(
           list_sort(list({'i': edge.i, 'v': edge.cos})), s -> s.v),
           'sum') AS score
  FROM li JOIN edge ON edge.i = li.p
  WHERE NOT EXISTS (SELECT 1 FROM li own
                    WHERE own.o = li.o AND own.p = edge.j)
  GROUP BY li.o, edge.j
), ranked AS (
  SELECT o, item, n_paths, round(score, 6) AS score,
         row_number() OVER (PARTITION BY o
                            ORDER BY round(score, 6) DESC, item) AS rk
  FROM cand
)
SELECT o AS orderkey, rk, item, n_paths, score
FROM ranked WHERE rk <= 3
"""


@register("pr_user_recs", headline=True, oracle=_USER_RECS_ORACLE)
def pr_user_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # li feeds five consumers (both co-occurrence join sides, the
    # degree agg, the candidate expansion and the owned anti join):
    # persist the bounded (l_orderkey < 4000) distinct slice so the
    # scan + distinct shuffle run once, not five times
    li = persist(load_table(spark, sf_dir, "lineitem")
                 .filter(F.col("l_orderkey") < 4000)
                 .select(F.col("l_orderkey").alias("o"),
                         F.col("l_partkey").alias("p")).distinct())
    a = li.select("o", F.col("p").alias("i"))
    b = li.select("o", F.col("p").alias("j"))
    cooc = (a.join(b, "o").filter(F.col("i") < F.col("j"))
            .groupBy("i", "j").agg(lcount("c"))
            .filter(F.col("c") >= 2))
    # the di/dj broadcast sides below both consume this agg: persist so
    # it runs once, not twice (round-12 subtree lint; bounded by the
    # slice's distinct parts)
    deg = persist(li.groupBy("p").agg(lcount("d")))
    # symmetrize with one map-side explode instead of unionAll of two
    # copies of the co-occurrence subtree (Spark does not dedupe
    # common subplans — the union form ran the wedge join twice)
    sym = (cooc.select(F.explode(F.array(
        F.struct(F.col("i").alias("i"), F.col("j").alias("j")),
        F.struct(F.col("j").alias("i"), F.col("i").alias("j"))))
        .alias("__e"), "c")
        .select(F.col("__e.i").alias("i"), F.col("__e.j").alias("j"), "c"))
    di = deg.select(F.col("p").alias("i"), F.col("d").alias("di"))
    dj = deg.select(F.col("p").alias("j"), F.col("d").alias("dj"))
    edge = (sym.join(F.broadcast(di), "i").join(F.broadcast(dj), "j")
            .select("i", "j",
                    (F.col("c") / F.sqrt(F.col("di") * F.col("dj")))
                    .alias("cos")))
    cand = li.join(edge, F.col("p") == F.col("i"))
    own = li.select("o", F.col("p").alias("j"))
    cand = cand.join(own, ["o", "j"], "left_anti")
    agg = (cand.groupBy("o", F.col("j").alias("item"))
           .agg(lcount("n_paths"),
                F.aggregate(
                    F.transform(F.array_sort(F.collect_list(
                        F.struct(F.col("i").alias("i"),
                                 F.col("cos").alias("v")))),
                        lambda s: s["v"]),
                    F.lit(0.0), lambda acc, v: acc + v).alias("score")))
    ranked = agg.select(
        F.col("o").alias("orderkey"), "item", "n_paths",
        F.round("score", 6).alias("score")).withColumn(
        "rk", F.row_number().over(
            W.partitionBy("orderkey")
            .orderBy(F.desc(F.round(F.col("score"), 6)), "item")))
    return (ranked.filter(F.col("rk") <= 3)
            .select("orderkey", "rk", "item", "n_paths", "score"))


# ---------------------------------------------------------------------------
# io_schema_evolution — mergeSchema read across two parquet snapshot
# generations (v1 lacks the `source` column; v2 carries it): the
# schema-drift path every long-lived lake hits. Verifies Spark fills
# the missing column with NULL and that downstream coalesce logic
# sees one unified schema. Oracle reconstructs the same union from
# the documents table directly.
# ---------------------------------------------------------------------------
_SCHEMA_EVO_ORACLE = """
SELECT doc_id, lang,
       CASE WHEN doc_id % 2 = 0 THEN 'legacy' ELSE source END AS source_filled,
       CAST(length(text) AS BIGINT) AS n_chars_rt,
       CASE WHEN doc_id % 2 = 0 THEN 'v1' ELSE 'v2' END AS generation
FROM documents
"""


@register("io_schema_evolution", oracle=_SCHEMA_EVO_ORACLE)
def io_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    root = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        os.path.basename(sf_dir.rstrip("/")), "docs_evo")
    v1 = docs.filter(F.col("doc_id") % 2 == 0) \
        .select("doc_id", "text", "lang")
    v2 = docs.filter(F.col("doc_id") % 2 != 0) \
        .select("doc_id", "text", "lang", "source")
    v1.write.mode("overwrite").parquet(os.path.join(root, "gen=v1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "gen=v2"))
    back = spark.read.option("mergeSchema", "true") \
        .option("basePath", root).parquet(
            os.path.join(root, "gen=v1"), os.path.join(root, "gen=v2"))
    return back.select(
        "doc_id", "lang",
        F.coalesce(F.col("source"), F.lit("legacy")).alias("source_filled"),
        F.length("text").cast("bigint").alias("n_chars_rt"),
        F.col("gen").cast("string").alias("generation"))


# ---------------------------------------------------------------------------
# q_grubbs_test — Grubbs' maximum-deviation outlier test on the daily
# event-count series: G = max|x − x̄| / s (sample sd). Flags whether
# the most extreme day is statistically surprising; argmax day ties
# break to the earliest. Moment sums are exact bigints; G is one
# identical double tree; the argmax is a deterministic window rank.
# ---------------------------------------------------------------------------
_GRUBBS_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM daily
),
d AS (
  SELECT i, day, x, m, sx, sxx,
         abs(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
           AS dev
  FROM daily CROSS JOIN s
),
r AS (
  SELECT *, row_number() OVER (ORDER BY dev DESC, i) AS rk FROM d
)
SELECT m, day AS worst_day, x AS worst_count,
       round(dev, 6) AS max_dev,
       round(dev / sqrt((CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           / CAST(m AS DOUBLE))
                        / (CAST(m AS DOUBLE) - 1.0)), 6) AS g_stat
FROM r WHERE rk = 1 AND m > 1
"""


@register("q_grubbs_test", oracle=_GRUBBS_ORACLE)
def q_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(lcount("x")))
    s = daily.agg(lcount("m"),
                  F.sum("x").cast("bigint").alias("sx"),
                  F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"))
    d = daily.crossJoin(F.broadcast(s))
    m_d, sx_d = F.col("m").cast("double"), F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    dev = F.abs(F.col("x").cast("double") - sx_d / m_d)
    r = d.select("i", "day", "x", "m", "sx", "sxx", dev.alias("dev")) \
         .withColumn("rk", F.row_number().over(
             W.orderBy(F.desc("dev"), "i")))
    sd = F.sqrt((sxx_d - sx_d * sx_d / m_d) / (m_d - F.lit(1.0)))
    return (r.filter((F.col("rk") == 1) & (F.col("m") > 1))
            .select("m", F.col("day").alias("worst_day"),
                    F.col("x").alias("worst_count"),
                    F.round("dev", 6).alias("max_dev"),
                    F.round(F.col("dev") / sd, 6).alias("g_stat")))


# ---------------------------------------------------------------------------
# q_hourly_heatmap — the weekday × hour activity grid (ISO weekday,
# Monday=1) with each cell's share of total traffic and share within
# its weekday — the load-shaping view behind capacity planning and
# the anomaly baselines st_anomaly compares against. Exact counts;
# two exact-integer divisions per cell.
# ---------------------------------------------------------------------------
_HEATMAP_ORACLE = """
WITH c AS (
  SELECT CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hr,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT dow, hr, n,
         CAST(sum(n) OVER () AS BIGINT) AS tot,
         CAST(sum(n) OVER (PARTITION BY dow) AS BIGINT) AS dow_tot
  FROM c
)
SELECT dow, hr, n,
       round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
       round(CAST(n AS DOUBLE) / CAST(dow_tot AS DOUBLE), 6) AS dow_share
FROM t
"""


@register("q_hourly_heatmap", oracle=_HEATMAP_ORACLE)
def q_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        (F.weekday("ts") + 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr")).agg(lcount("n"))
    t = c.select(
        "dow", "hr", "n",
        F.sum("n").over(W.rowsBetween(W.unboundedPreceding,
                                      W.unboundedFollowing))
        .cast("bigint").alias("tot"),
        F.sum("n").over(W.partitionBy("dow").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing))
        .cast("bigint").alias("dow_tot"))
    return t.select(
        "dow", "hr", "n",
        F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 6)
        .alias("share"),
        F.round(F.col("n").cast("double") / F.col("dow_tot").cast("double"),
                6).alias("dow_share"))


# ---------------------------------------------------------------------------
# q_asof_nearest — nearest-in-time purchase for every click (either
# direction; ties prefer the backward match): the bidirectional
# completion of q_asof_join/q_asof_forward (temporal.py:48/:371).
# Two union-tagged window fills per user — backward includes same-µs
# purchases, forward is strictly later — then one equi-join on the
# click id picks the smaller |Δt|. No range self-join: O(n log n)
# window passes, one shuffle per direction on user_id.
# ---------------------------------------------------------------------------
_ASOF_NEAREST_ORACLE = """
WITH back AS (
  SELECT user_id, ts, event_id, kind, p_event_id,
         last_value(p_event_id IGNORE NULLS) OVER w AS b_id,
         last_value(p_us IGNORE NULLS) OVER w AS b_us
  FROM (
    SELECT user_id, ts, event_id, NULL::BIGINT AS p_event_id,
           NULL::BIGINT AS p_us, 1 AS kind
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id, ts, NULL, event_id, epoch_us(ts), 0
    FROM events WHERE event_type = 'purchase'
  )
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, p_event_id
               ROWS UNBOUNDED PRECEDING)
),
fwd AS (
  SELECT user_id, ts, event_id, kind,
         first_value(p_event_id IGNORE NULLS) OVER w AS f_id,
         first_value(p_us IGNORE NULLS) OVER w AS f_us
  FROM (
    SELECT user_id, ts, event_id, NULL::BIGINT AS p_event_id,
           NULL::BIGINT AS p_us, 1 AS kind
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id, ts, NULL, event_id, epoch_us(ts), 0
    FROM events WHERE event_type = 'purchase'
  )
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, p_event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
j AS (
  SELECT b.event_id, b.user_id, epoch_us(b.ts) AS ts_us,
         b.b_id, b.b_us, f.f_id, f.f_us
  FROM (SELECT * FROM back WHERE kind = 1) b
  JOIN (SELECT * FROM fwd WHERE kind = 1) f ON b.event_id = f.event_id
)
SELECT event_id, user_id, ts_us,
       CASE WHEN b_id IS NOT NULL
             AND (f_id IS NULL OR ts_us - b_us <= f_us - ts_us)
            THEN b_id ELSE f_id END AS near_p_event_id,
       CASE WHEN b_id IS NOT NULL
             AND (f_id IS NULL OR ts_us - b_us <= f_us - ts_us)
            THEN CAST(-(ts_us - b_us) AS BIGINT)
            WHEN f_id IS NOT NULL THEN CAST(f_us - ts_us AS BIGINT)
       END AS delta_us
FROM j
"""


@register("q_asof_nearest", oracle=_ASOF_NEAREST_ORACLE)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("bigint").alias("p_event_id"),
        F.lit(None).cast("bigint").alias("p_us"),
        F.lit(1).alias("kind"))
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("bigint").alias("event_id"),
        F.col("event_id").alias("p_event_id"),
        F.unix_micros("ts").alias("p_us"), F.lit(0).alias("kind"))
    tagged = clicks.unionByName(purch)
    order = [F.col("ts"), F.col("kind"), F.col("p_event_id")]
    wb = (W.partitionBy("user_id").orderBy(*order)
          .rowsBetween(W.unboundedPreceding, 0))
    wf = (W.partitionBy("user_id").orderBy(*order)
          .rowsBetween(1, W.unboundedFollowing))
    back = tagged.select(
        "event_id", "user_id", "ts", "kind",
        F.last("p_event_id", ignorenulls=True).over(wb).alias("b_id"),
        F.last("p_us", ignorenulls=True).over(wb).alias("b_us")
    ).filter(F.col("kind") == 1)
    fwd = tagged.select(
        "event_id", "kind",
        F.first("p_event_id", ignorenulls=True).over(wf).alias("f_id"),
        F.first("p_us", ignorenulls=True).over(wf).alias("f_us")
    ).filter(F.col("kind") == 1).drop("kind")
    j = back.join(fwd, "event_id").withColumn(
        "ts_us", F.unix_micros("ts"))
    take_back = F.col("b_id").isNotNull() & (
        F.col("f_id").isNull()
        | (F.col("ts_us") - F.col("b_us") <= F.col("f_us") - F.col("ts_us")))
    return j.select(
        "event_id", "user_id", "ts_us",
        F.when(take_back, F.col("b_id")).otherwise(F.col("f_id"))
        .alias("near_p_event_id"),
        F.when(take_back, -(F.col("ts_us") - F.col("b_us")))
        .when(F.col("f_id").isNotNull(), F.col("f_us") - F.col("ts_us"))
        .cast("bigint").alias("delta_us"))


# ---------------------------------------------------------------------------
# q_concurrency_profile — how many 30-minute event windows are open
# over time (the load-overlap view on q_interval_merge's windows,
# temporal.py:409): classic +1/−1 sweep — every window start adds one,
# every end subtracts one, ends sort before starts at the same µs so
# touching windows don't double-count — then per-day max of the
# running sum. The sweep runs the SHARDED prefix-sum plan
# (helpers.sharded_global_window): µs-range shards sweep in parallel,
# each seeded with the broadcast carry-in of the preceding shards'
# delta totals — value-identical to the one-task global window.
# ---------------------------------------------------------------------------
_CONCURRENCY_ORACLE = """
WITH pts AS (
  SELECT epoch_us(ts) AS us, 1 AS delta FROM events
  UNION ALL
  SELECT epoch_us(ts + INTERVAL 30 MINUTE), -1 FROM events
),
run AS (
  SELECT us, delta,
         CAST(sum(delta) OVER (ORDER BY us, delta
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
  FROM pts
)
SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_changes,
       CAST(max(conc) AS BIGINT) AS max_concurrency
FROM run GROUP BY 1
"""


@register("q_concurrency_profile", oracle=_CONCURRENCY_ORACLE)
def q_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    starts = ev.select(F.unix_micros("ts").alias("us"),
                       F.lit(1).alias("delta"))
    ends = ev.select(
        (F.unix_micros("ts") + F.lit(30 * 60 * 1000000)).alias("us"),
        F.lit(-1).alias("delta"))
    pts = starts.unionByName(ends)
    # sharded global prefix-sum (range-shard on us + broadcast carry-in)
    # instead of the single-partition Window.orderBy sweep: the 2|events|
    # sweep points sort n_shards-way parallel
    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_global_window)
    run = sharded_global_window(
        pts, F.col("us"), [F.asc("us"), F.asc("delta")],
        sums=[("delta", "conc")])
    return (run.groupBy(
        F.date_format((F.col("us") / 1000000).cast("timestamp"),
                      "yyyy-MM-dd").alias("day"))
        .agg(lcount("n_changes"),
             F.max("conc").cast("bigint").alias("max_concurrency")))


# ---------------------------------------------------------------------------
# tt_temporal_split — time-based train/test split with leakage
# accounting (the split an evaluation pipeline actually needs when the
# model will see the future: random tt_split leaks). Cutoff = min day
# + 80% of the day span (deterministic, data-derived); per user the
# train/test event counts and whether the user SPANS the cutoff (those
# users' test rows leak user-level state into training — the quantity
# tt_leakage_check monitors).
# ---------------------------------------------------------------------------
_TEMPORAL_SPLIT_ORACLE = """
WITH b AS (
  SELECT CAST(min(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS lo,
         CAST(max(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS hi
  FROM events
),
x AS (
  SELECT user_id,
         CASE WHEN CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT)
                   < lo + CAST(floor((hi - lo) * 0.8) AS BIGINT)
              THEN 1 ELSE 0 END AS is_train
  FROM events CROSS JOIN b
)
SELECT user_id,
       CAST(sum(is_train) AS BIGINT) AS n_train,
       CAST(sum(1 - is_train) AS BIGINT) AS n_test,
       CASE WHEN sum(is_train) > 0 AND sum(1 - is_train) > 0 THEN 'spans'
            WHEN sum(is_train) > 0 THEN 'train_only'
            ELSE 'test_only' END AS bucket
FROM x GROUP BY user_id
"""


@register("tt_temporal_split", oracle=_TEMPORAL_SPLIT_ORACLE)
def tt_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                  / F.lit(86400000000)).cast("bigint")
    b = ev.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    x = ev.crossJoin(F.broadcast(b)).select(
        "user_id",
        F.when(day < F.col("lo")
               + F.floor((F.col("hi") - F.col("lo")) * 0.8).cast("bigint"),
               1).otherwise(0).alias("is_train"))
    g = x.groupBy("user_id").agg(
        F.sum("is_train").cast("bigint").alias("n_train"),
        F.sum(1 - F.col("is_train")).cast("bigint").alias("n_test"))
    return g.select(
        "user_id", "n_train", "n_test",
        F.when((F.col("n_train") > 0) & (F.col("n_test") > 0), "spans")
        .when(F.col("n_train") > 0, "train_only")
        .otherwise("test_only").alias("bucket"))


# ---------------------------------------------------------------------------
# s_alias_graph — entity clusters by alias-key overlap: two sanctioned
# entities sharing any name-variant key (s_name_variants,
# sanctions.py:86) are aliases of the same underlying actor; the
# transitive closure is exactly connected components over the
# shared-key pair graph (operators/dedup.py:417's min-label
# propagation + pointer jumping). Oracled (round-7 conversion): the
# transitive closure replays in DuckDB as a WITH RECURSIVE
# reachability walk (component id = min reachable id — exact on any
# graph, practical on the fixture's entity count); the python
# union-find replay in tests/test_analytics2.py stays as the third
# independent check.
# ---------------------------------------------------------------------------
def _alias_graph_oracle() -> str:
    from sanctions_data_pipeline_spark.data import sanctions_fixture as fx
    from sanctions_data_pipeline_spark.functions import names as _nm

    return f"""
WITH RECURSIVE {fx.sql_cte("aliases")},
vk AS (
  SELECT DISTINCT entity_id, v[i] AS variant_key
  FROM (SELECT entity_id, {_nm.sql_variant_keys("whole_name")} AS v
        FROM aliases) q,
       LATERAL (SELECT generate_subscripts(v, 1) AS i) s
),
pairs AS (
  SELECT DISTINCT a.entity_id AS i, b.entity_id AS j
  FROM vk a JOIN vk b USING (variant_key)
  WHERE a.entity_id < b.entity_id
),
edges AS (SELECT i, j FROM pairs UNION SELECT j AS i, i AS j FROM pairs),
nodes AS (SELECT DISTINCT entity_id AS id FROM vk),
reach AS (
  SELECT id AS a, id AS b FROM nodes
  UNION
  SELECT r.a, e.j AS b FROM reach r JOIN edges e ON r.b = e.i
),
comp AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a)
SELECT CAST(c.id AS INTEGER) AS entity_id,
       CAST(c.cluster_id AS BIGINT) AS cluster_id,
       CAST(z.cnt AS BIGINT) AS cluster_size
FROM comp c JOIN (SELECT cluster_id, count(*) AS cnt
                  FROM comp GROUP BY cluster_id) z
  ON c.cluster_id = z.cluster_id
"""


@register("s_alias_graph", oracle=_alias_graph_oracle())
def s_alias_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators.dedup import (
        connected_components)
    from sanctions_data_pipeline_spark.plans.registry import REGISTRY

    # variants feeds both self-join sides AND the member roster (3
    # consumers of the variant-key pipeline); members feeds the size
    # census AND the final join — persist both narrow keyed frames
    # (round-12 subtree lint)
    variants = persist(REGISTRY["s_name_variants"].build(spark, sf_dir)
                       .select("entity_id", "variant_key").distinct())
    a = variants.select(F.col("variant_key"), F.col("entity_id").alias("i"))
    b = variants.select(F.col("variant_key"), F.col("entity_id").alias("j"))
    pairs = (a.join(b, "variant_key").filter(F.col("i") < F.col("j"))
             .select("i", "j").distinct())
    cc = connected_components(pairs)
    members = persist(variants.select(F.col("entity_id").alias("id"))
                      .distinct()
                      .join(cc, "id", "left")
                      .select("id", F.coalesce("cluster_id", F.col("id"))
                              .alias("cluster_id")))
    sizes = members.groupBy("cluster_id").agg(lcount("cluster_size"))
    return (members.join(sizes, "cluster_id")
            .select(F.col("id").alias("entity_id"), "cluster_id",
                    "cluster_size"))


# ---------------------------------------------------------------------------
# tx_boilerplate — cross-source boilerplate census: 8-gram shingles
# that repeat across many documents AND more than one source are
# template/navigation text, not content (the cross-site dedup signal
# dd_winnow's within-doc fingerprints don't see). Shingles explode
# map-side off the scan; one (shingle) agg with exact doc/source
# counts; top-100 by (doc frequency desc, shingle).
# ---------------------------------------------------------------------------
_BOILER_N = 8
_BOILER_MIN_DOCS = 10

_BOILERPLATE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {_TOKS} AS toks
  FROM documents WHERE length(text) > 0
),
sh AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(toks[i:i+{_BOILER_N - 1}], ' ') AS shingle
  FROM t, unnest(generate_series(1, len(toks) - {_BOILER_N - 1})) AS u(i)
  WHERE len(toks) >= {_BOILER_N}
),
c AS (
  SELECT shingle,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM sh GROUP BY shingle
)
SELECT shingle, n_docs, n_sources
FROM c
WHERE n_docs >= {_BOILER_MIN_DOCS} AND n_sources >= 2
ORDER BY n_docs DESC, shingle LIMIT 100
"""


@register("tx_boilerplate", oracle=_BOILERPLATE_ORACLE)
def tx_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import textstats as tx

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = docs.select("doc_id", "source", tx.tokens(F.col("text")).alias("toks"))
    sh = (t.filter(F.size("toks") >= _BOILER_N)
          .select("doc_id", "source", F.explode(F.expr(
              f"transform(sequence(1, size(toks) - {_BOILER_N - 1}),"
              f" i -> array_join(slice(toks, i, {_BOILER_N}), ' '))"))
              .alias("shingle"))
          .distinct())
    c = sh.groupBy("shingle").agg(
        lcount("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"))
    return (c.filter((F.col("n_docs") >= _BOILER_MIN_DOCS)
                     & (F.col("n_sources") >= 2))
            .orderBy(F.desc("n_docs"), "shingle").limit(100))


# ---------------------------------------------------------------------------
# q_durbin_watson — Durbin-Watson serial-correlation statistic of the
# mean-centered daily count series: DW = Σ(x_t − x_{t−1})² / Σ(x−x̄)².
# The numerator is an exact integer (differences of counts); the
# denominator expands to sxx − sx²/m — also exact — so DW is a single
# double division. The companion to q_acf (DW ≈ 2(1 − r₁)) and
# q_runs_test on the same series.
# ---------------------------------------------------------------------------
_DW_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
d AS (
  SELECT i, x, x - lag(x) OVER (ORDER BY i) AS dx FROM daily
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(CASE WHEN dx IS NULL THEN 0 ELSE dx * dx END) AS BIGINT)
           AS sdx2
  FROM d
)
SELECT m, sdx2 AS num_x1,
       round((CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)),
             6) AS denom,
       round(CAST(sdx2 AS DOUBLE)
             / (CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                  / CAST(m AS DOUBLE)), 6) AS dw_stat
FROM s WHERE m > 1
"""


@register("q_durbin_watson", oracle=_DW_ORACLE)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                                / F.lit(86400000000)).cast("bigint")
                        .alias("i"))
             .agg(lcount("x")))
    d = daily.select(
        "i", "x", (F.col("x") - F.lag("x").over(W.orderBy("i"))).alias("dx"))
    s = d.agg(
        lcount("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.when(F.col("dx").isNull(), 0)
              .otherwise(F.col("dx") * F.col("dx"))).cast("bigint")
        .alias("sdx2"))
    m_d, sx_d = F.col("m").cast("double"), F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    den = sxx_d - sx_d * sx_d / m_d
    return (s.filter(F.col("m") > 1)
            .select("m", F.col("sdx2").alias("num_x1"),
                    F.round(den, 6).alias("denom"),
                    F.round(F.col("sdx2").cast("double") / den, 6)
                    .alias("dw_stat")))


# ---------------------------------------------------------------------------
# q_rolling_mad — robust rolling-window outlier flags on the daily
# count series: 21-day centered window, median and MAD from exact
# order statistics over the collected window (≤21 bigints per row),
# flag = |x − med| > 3·MAD·1.4826. The heavy-tail-safe twin of
# q_bollinger_bands' mean/σ band. Window medians are exact integer
# order stats — no float accumulation at all until the final scale.
# ---------------------------------------------------------------------------
_ROLLING_MAD_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT i, day, x,
         list(x) OVER (ORDER BY i ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING)
           AS xs
  FROM daily
),
med AS (
  SELECT i, day, x, xs,
         list_sort(xs)[CAST(ceil(len(xs) / 2.0) AS BIGINT)] AS med
  FROM w
),
mad AS (
  SELECT i, day, x, med,
         list_sort(list_transform(xs, v -> abs(v - med)))
           [CAST(ceil(len(xs) / 2.0) AS BIGINT)] AS mad
  FROM med
)
SELECT day, x, CAST(med AS BIGINT) AS median,
       CAST(mad AS BIGINT) AS mad,
       CASE WHEN CAST(abs(x - med) AS DOUBLE)
                 > 3.0 * 1.4826 * CAST(mad AS DOUBLE)
            THEN 1 ELSE 0 END AS is_outlier
FROM mad
"""


@register("q_rolling_mad", oracle=_ROLLING_MAD_ORACLE)
def q_rolling_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(lcount("x")))
    win = W.orderBy("i").rowsBetween(-10, 10)
    w = daily.select("i", "day", "x",
                     F.collect_list("x").over(win).alias("xs"))
    med = F.element_at(F.array_sort(F.col("xs")),
                       F.ceil(F.size("xs") / 2.0).cast("int"))
    m = w.select("i", "day", "x", "xs", med.alias("med"))
    mad = F.element_at(
        F.array_sort(F.transform(F.col("xs"),
                                 lambda v: F.abs(v - F.col("med")))),
        F.ceil(F.size("xs") / 2.0).cast("int"))
    mm = m.select("day", "x", "med", mad.alias("mad"))
    return mm.select(
        "day", "x", F.col("med").cast("bigint").alias("median"),
        F.col("mad").cast("bigint").alias("mad"),
        F.when(F.abs(F.col("x") - F.col("med")).cast("double")
               > F.lit(3.0) * F.lit(1.4826) * F.col("mad").cast("double"), 1)
        .otherwise(0).alias("is_outlier"))


# ---------------------------------------------------------------------------
# q_theil_sen — Theil-Sen robust trend slope of the daily count
# series: the median of all pairwise slopes (x_j − x_i)/(j − i). The
# estimator q_mann_kendall tests significance for; 29% breakdown
# point vs OLS's zero. Pairwise slopes come from the same bounded
# day×day cross (O(days²) pairs); the median is an exact order
# statistic over slopes ROUNDED to 6dp (portable total order), with
# the pair count emitted for auditability.
# ---------------------------------------------------------------------------
_THEIL_SEN_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
p AS (
  SELECT round(CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE), 6)
           AS slope
  FROM daily a JOIN daily b ON b.i > a.i
),
s AS (
  SELECT slope, row_number() OVER (ORDER BY slope) AS rk,
         count(*) OVER () AS n
  FROM p
)
SELECT CAST(max(n) AS BIGINT) AS n_pairs,
       round(avg(slope), 6) AS theil_sen_slope
FROM s
WHERE rk IN (CAST(ceil(n / 2.0) AS BIGINT), CAST(ceil((n + 1) / 2.0) AS BIGINT))
"""


@register("q_theil_sen", oracle=_THEIL_SEN_ORACLE)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # daily feeds both sides of the slope-pair self-join: persist the
    # bounded one-row-per-day census so the events scan + agg runs
    # once (round-12 subtree lint)
    daily = persist(ev.groupBy(F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                                       / F.lit(86400000000)).cast("bigint")
                               .alias("i"))
                    .agg(lcount("x")))
    b = daily.select(F.col("i").alias("i2"), F.col("x").alias("x2"))
    p = (daily.join(b, F.col("i2") > F.col("i"))
         .select(F.round((F.col("x2") - F.col("x")).cast("double")
                         / (F.col("i2") - F.col("i")).cast("double"), 6)
                 .alias("slope")))
    s = p.select(
        "slope",
        F.row_number().over(W.orderBy("slope")).alias("rk"),
        F.count(F.lit(1)).over(W.rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing)).alias("n"))
    lo = F.ceil(F.col("n") / 2.0).cast("bigint")
    hi = F.ceil((F.col("n") + 1) / 2.0).cast("bigint")
    return (s.filter((F.col("rk") == lo) | (F.col("rk") == hi))
            .agg(F.max("n").cast("bigint").alias("n_pairs"),
                 F.round(F.avg("slope"), 6).alias("theil_sen_slope")))


# ---------------------------------------------------------------------------
# sim_threshold_eval — cosine-threshold calibration against label
# ground truth on the deterministic successor-pair sample: for each
# threshold on a literal 0.0..0.9 lattice, confusion counts and
# P/R/F1 for "same label iff cos ≥ t". The sweep that picks
# dd_embed_cosine's 0.4 (training_data.py:87) empirically. The
# threshold lattice is a 10-row literal cross (dd_threshold_sweep's
# plan shape); pair cosines are the shared fold-dot.
# ---------------------------------------------------------------------------
_THRESH_EVAL_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
p AS (
  SELECT round(list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v))), 6) AS cos,
         CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS is_same
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
),
t AS (SELECT unnest(generate_series(0, 9)) / 10.0 AS threshold),
c AS (
  SELECT threshold,
         CAST(sum(CASE WHEN cos >= threshold AND is_same = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN cos >= threshold AND is_same = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN cos < threshold AND is_same = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN cos < threshold AND is_same = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM t JOIN p ON true GROUP BY threshold
)
SELECT threshold, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
       CASE WHEN tp + fn > 0
            THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN round(2.0 * CAST(tp AS DOUBLE) / (2 * tp + fp + fn), 6)
       END AS f1
FROM c
"""


@register("sim_threshold_eval", oracle=_THRESH_EVAL_ORACLE)
def sim_threshold_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators.similarity import (
        as_double, dot)

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
    a = e.select(F.col("vec_id").alias("ia"), F.col("label").alias("la"),
                 F.col("v").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("ia"),
                 F.col("label").alias("lb"), F.col("v").alias("vb"))
    p = a.join(b, "ia").select(
        F.round(dot(F.col("va"), F.col("vb"))
                / (F.sqrt(dot(F.col("va"), F.col("va")))
                   * F.sqrt(dot(F.col("vb"), F.col("vb")))), 6).alias("cos"),
        F.when(F.col("la") == F.col("lb"), 1).otherwise(0).alias("is_same"))
    t = spark.range(0, 10).select((F.col("id") / 10.0).alias("threshold"))
    c = (F.broadcast(t).join(p, F.lit(True))
         .groupBy("threshold")
         .agg(F.sum(F.when((F.col("cos") >= F.col("threshold"))
                           & (F.col("is_same") == 1), 1).otherwise(0))
              .cast("bigint").alias("tp"),
              F.sum(F.when((F.col("cos") >= F.col("threshold"))
                           & (F.col("is_same") == 0), 1).otherwise(0))
              .cast("bigint").alias("fp"),
              F.sum(F.when((F.col("cos") < F.col("threshold"))
                           & (F.col("is_same") == 1), 1).otherwise(0))
              .cast("bigint").alias("fn"),
              F.sum(F.when((F.col("cos") < F.col("threshold"))
                           & (F.col("is_same") == 0), 1).otherwise(0))
              .cast("bigint").alias("tn")))
    tp_d = F.col("tp").cast("double")
    return c.select(
        "threshold", "tp", "fp", "fn", "tn",
        F.when(F.col("tp") + F.col("fp") > 0,
               F.round(tp_d / (F.col("tp") + F.col("fp")), 6))
        .alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.round(tp_d / (F.col("tp") + F.col("fn")), 6))
        .alias("recall"),
        F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
               F.round(F.lit(2.0) * tp_d
                       / (2 * F.col("tp") + F.col("fp") + F.col("fn")), 6))
        .alias("f1"))


# ---------------------------------------------------------------------------
# emb_centroid_classify — nearest-class-mean classification over the
# embedding table (the Rocchio / prototype classifier; also the
# standard linear-probe sanity check on embedding quality), with the
# full confusion matrix out. Centroids fold each (label, dim) value
# list in vec_id order (exact, unlike a bare avg); distances fold
# (v_d − c_d)² in dim order; argmin ties break to the smaller label.
# One posexplode fan-out + two hash aggs + a (label·dim)-row broadcast.
# ---------------------------------------------------------------------------
_CENTROID_CLASSIFY_ORACLE = """
WITH x AS (
  SELECT vec_id, label, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
cs AS (
  SELECT label AS clabel, dim, vec_id % 32 AS shard,
         list_aggregate(list_transform(
           list_sort(list({'i': vec_id, 'v': val})), e -> e.v), 'sum')
           AS part,
         count(*) AS cnt
  FROM x GROUP BY label, dim, vec_id % 32
),
cent AS (
  SELECT clabel, dim,
         list_aggregate(list_transform(
           list_sort(list({'i': shard, 'v': part})), e -> e.v), 'sum')
           / sum(cnt) AS c
  FROM cs GROUP BY clabel, dim
),
d AS (
  SELECT x.vec_id, x.label, cent.clabel,
         list_aggregate(list_transform(
           list_sort(list({'i': x.dim, 'v': (x.val - cent.c) * (x.val - cent.c)})),
           s -> s.v), 'sum') AS dist2
  FROM x JOIN cent ON x.dim = cent.dim
  GROUP BY x.vec_id, x.label, cent.clabel
),
pred AS (
  SELECT vec_id, label, clabel AS predicted,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(dist2, 9), clabel) AS rk
  FROM d
)
SELECT label, predicted, CAST(count(*) AS BIGINT) AS n
FROM pred WHERE rk = 1 GROUP BY label, predicted
"""


@register("emb_centroid_classify", headline=True, oracle=_CENTROID_CLASSIFY_ORACLE)
def emb_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the dim explode is the CPU-heavy map stage and x feeds BOTH the
    # centroid fold and the distance pass: parallelize an under-split
    # local scan (no-op at cluster scale) and persist the exploded
    # frame so it computes once, not twice
    emb = widen_small_scan(load_table(spark, sf_dir, "embeddings"),
                           "vec_id")
    x = persist(emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("p", "valf")).select(
        "vec_id", "label", (F.col("p") + 1).alias("dim"),
        F.col("valf").cast("double").alias("val")))

    def fold_sorted(struct_col):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(struct_col)),
                        lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v)

    # SHARDED two-level deterministic fold (round 11): the one-level
    # fold collected every (vec_id, val) of a label into ONE
    # (label, dim) array cell — a 90%-hot-label corpus concentrates
    # 0.9*n structs in one cell per dim (the collect_list hazard the
    # r10 CC fix removed elsewhere). Sharding on vec_id % 32 bounds
    # every cell at n_label/32 and the outer fold at 32 elements while
    # keeping the float association EXACTLY SQL-replicable: both
    # engines sum shard s's values in vec_id order, then the 32 shard
    # partials in shard order.
    cs = (x.groupBy(F.col("label").alias("clabel"), "dim",
                    (F.col("vec_id") % 32).alias("shard"))
          .agg(fold_sorted(F.struct(F.col("vec_id").alias("i"),
                                    F.col("val").alias("v"))).alias("part"),
               F.count(F.lit(1)).alias("cnt")))
    cent = (cs.groupBy("clabel", "dim")
            .agg((fold_sorted(F.struct(F.col("shard").alias("i"),
                                       F.col("part").alias("v")))
                  / F.sum("cnt")).alias("c")))
    d = (x.join(F.broadcast(cent), "dim")
         .groupBy("vec_id", "label", "clabel")
         .agg(fold_sorted(F.struct(
             F.col("dim").alias("i"),
             ((F.col("val") - F.col("c"))
              * (F.col("val") - F.col("c"))).alias("v"))).alias("dist2")))
    pred = d.withColumn("rk", F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.round(F.col("dist2"), 9),
                                        "clabel")))
    return (pred.filter(F.col("rk") == 1)
            .groupBy("label", F.col("clabel").alias("predicted"))
            .agg(lcount("n")))


# ---------------------------------------------------------------------------
# q_lateness_profile — out-of-orderness profile of the event stream
# (the measurement that picks a structured-streaming watermark):
# treating event_id order as arrival order, lateness = high-water-mark
# ts seen so far minus this event's ts. Emits the per-hour-of-lateness
# histogram with cumulative coverage — "a 2h watermark keeps 99.3% of
# events" reads straight off cum_share.
#
# Sharded prefix-max (the scale plan, implemented): events are
# range-sharded on event_id (order-preserving: every id in shard i
# precedes shard i+1), the running max is windowed PER SHARD, and the
# cross-shard carry-in is a prefix max over the tiny per-shard-max
# table (n_shards rows), broadcast back. hwm = greatest(local running
# max, carry-in) — identical values to the global window, but the big
# sort is n_shards-way parallel instead of single-partition. Driver
# state is two longs (min/max event_id).
# ---------------------------------------------------------------------------
_LATENESS_ORACLE = """
WITH a AS (
  SELECT event_id, epoch_us(ts) AS us,
         max(epoch_us(ts)) OVER (ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) AS hwm
  FROM events
),
l AS (
  SELECT CAST(floor((hwm - us) / 3600000000.0) AS BIGINT) AS late_hours
  FROM a
),
h AS (
  SELECT late_hours, CAST(count(*) AS BIGINT) AS n
  FROM l GROUP BY late_hours
)
SELECT late_hours, n,
       round(CAST(CAST(sum(n) OVER (ORDER BY late_hours) AS BIGINT) AS DOUBLE)
             / CAST(CAST(sum(n) OVER () AS BIGINT) AS DOUBLE), 6)
         AS cum_share
FROM h
"""


@register("q_lateness_profile", oracle=_LATENESS_ORACLE)
def q_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_lateness_hours)

    ev = load_table(spark, sf_dir, "events")
    lh = sharded_lateness_hours(ev)
    h = lh.groupBy("late_hours").agg(lcount("n"))
    wc = W.orderBy("late_hours").rowsBetween(W.unboundedPreceding, 0)
    wt = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return h.select(
        "late_hours", "n",
        F.round(F.sum("n").over(wc).cast("bigint").cast("double")
                / F.sum("n").over(wt).cast("bigint").cast("double"), 6)
        .alias("cum_share"))


# ---------------------------------------------------------------------------
# sim_roc_auc — ROC AUC of the successor-pair cosine score against
# same-label ground truth, via the Mann-Whitney rank-sum identity:
# AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) with AVERAGE ranks over the
# 6dp-rounded scores (ties averaged exactly as ranksum requires —
# (min_rank + max_rank)/2 per tie group, all integer until the final
# division). The single-number companion to sim_threshold_eval's
# per-threshold table.
# ---------------------------------------------------------------------------
_ROC_AUC_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
p AS (
  SELECT round(list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v))), 6) AS cos,
         CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS pos
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
),
r AS (
  SELECT cos, pos,
         row_number() OVER (ORDER BY cos, pos) AS rk
  FROM p
),
g AS (
  SELECT cos, pos,
         CAST(min(rk) OVER (PARTITION BY cos) AS BIGINT) AS lo,
         CAST(max(rk) OVER (PARTITION BY cos) AS BIGINT) AS hi
  FROM r
),
s AS (
  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(1 - pos) AS BIGINT) AS n_neg,
         CAST(sum(CASE WHEN pos = 1 THEN lo + hi ELSE 0 END) AS BIGINT)
           AS rsum2
  FROM g
)
SELECT n_pos, n_neg,
       round((CAST(rsum2 AS DOUBLE) / 2.0
              - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
             / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) AS auc
FROM s WHERE n_pos > 0 AND n_neg > 0
"""


@register("sim_roc_auc", oracle=_ROC_AUC_ORACLE)
def sim_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators.similarity import (
        as_double, dot)

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
    a = e.select(F.col("vec_id").alias("ia"), F.col("label").alias("la"),
                 F.col("v").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("ia"),
                 F.col("label").alias("lb"), F.col("v").alias("vb"))
    p = a.join(b, "ia").select(
        F.round(dot(F.col("va"), F.col("vb"))
                / (F.sqrt(dot(F.col("va"), F.col("va")))
                   * F.sqrt(dot(F.col("vb"), F.col("vb")))), 6).alias("cos"),
        F.when(F.col("la") == F.col("lb"), 1).otherwise(0).alias("pos"))
    r = p.withColumn("rk", F.row_number().over(W.orderBy("cos", "pos")))
    wg = W.partitionBy("cos")
    g = r.select("cos", "pos",
                 F.min("rk").over(wg).cast("bigint").alias("lo"),
                 F.max("rk").over(wg).cast("bigint").alias("hi"))
    s = g.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("n_neg"),
        F.sum(F.when(F.col("pos") == 1, F.col("lo") + F.col("hi"))
              .otherwise(0)).cast("bigint").alias("rsum2"))
    np_d, nn_d = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    return (s.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
            .select("n_pos", "n_neg",
                    F.round((F.col("rsum2").cast("double") / F.lit(2.0)
                             - np_d * (np_d + F.lit(1.0)) / F.lit(2.0))
                            / (np_d * nn_d), 6).alias("auc")))


# ---------------------------------------------------------------------------
# q_growth_accounting — monthly active-user growth accounting (the
# standard MAU ledger): each (user, month) classified as new (first
# month ever), retained (active previous month), or resurrected
# (active before, gap ≥ 1 month); churned = previous month's actives
# minus this month's retained. One lag window over the (user, month)
# grid — no self-joins; all counts exact.
# ---------------------------------------------------------------------------
_GROWTH_ORACLE = """
WITH um AS (
  SELECT DISTINCT user_id,
         CAST((year(ts) * 12 + month(ts)) - 1 AS BIGINT) AS m
  FROM events
),
lagged AS (
  SELECT user_id, m,
         lag(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m
  FROM um
),
cls AS (
  SELECT m,
         CAST(sum(CASE WHEN prev_m IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users,
         CAST(sum(CASE WHEN prev_m = m - 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS retained,
         CAST(sum(CASE WHEN prev_m IS NOT NULL AND prev_m < m - 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
         CAST(count(*) AS BIGINT) AS mau
  FROM lagged GROUP BY m
)
SELECT CAST(m // 12 AS BIGINT) AS year,
       CAST(m % 12 + 1 AS BIGINT) AS month,
       new_users, retained, resurrected, mau,
       CAST(coalesce(lag(mau) OVER (ORDER BY m), 0) - retained AS BIGINT)
         AS churned
FROM cls
"""


@register("q_growth_accounting", oracle=_GROWTH_ORACLE)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    um = ev.select(
        "user_id",
        (F.year("ts") * 12 + F.month("ts") - 1).cast("bigint").alias("m")
    ).distinct()
    lagged = um.select(
        "user_id", "m",
        F.lag("m").over(W.partitionBy("user_id").orderBy("m"))
        .alias("prev_m"))
    cls = lagged.groupBy("m").agg(
        F.sum(F.when(F.col("prev_m").isNull(), 1).otherwise(0))
        .cast("bigint").alias("new_users"),
        F.sum(F.when(F.col("prev_m") == F.col("m") - 1, 1).otherwise(0))
        .cast("bigint").alias("retained"),
        F.sum(F.when(F.col("prev_m").isNotNull()
                     & (F.col("prev_m") < F.col("m") - 1), 1).otherwise(0))
        .cast("bigint").alias("resurrected"),
        lcount("mau"))
    return cls.select(
        F.floor(F.col("m") / 12).cast("bigint").alias("year"),
        (F.col("m") % 12 + 1).cast("bigint").alias("month"),
        "new_users", "retained", "resurrected", "mau",
        (F.coalesce(F.lag("mau").over(W.orderBy("m")), F.lit(0))
         - F.col("retained")).cast("bigint").alias("churned"))


# ---------------------------------------------------------------------------
# st_hourly_heatmap — streaming twin of q_hourly_heatmap: the weekday ×
# hour grid maintained as a watermarked streaming aggregation (drained
# availableNow into the same shares). Stream == batch on the bounded
# source, which is exactly what the oracle asserts — the parity
# contract every st_* op in this suite pins (plans/streaming.py:1).
# The share windows run on the 168-cell grid post-drain.
# ---------------------------------------------------------------------------
@register("st_hourly_heatmap", oracle="""
WITH c AS (
  SELECT CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hr,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT dow, hr, n,
         CAST(sum(n) OVER () AS BIGINT) AS tot,
         CAST(sum(n) OVER (PARTITION BY dow) AS BIGINT) AS dow_tot
  FROM c
)
SELECT dow, hr, n,
       round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
       round(CAST(n AS DOUBLE) / CAST(dow_tot AS DOUBLE), 6) AS dow_share
FROM t
""")
def st_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.streaming.ops import (
        read_events_stream, run_available_now)

    ev = read_events_stream(spark, sf_dir)
    cells = run_available_now(
        ev.withWatermark("ts", "2 hours")
          .groupBy((F.weekday("ts") + 1).cast("bigint").alias("dow"),
                   F.hour("ts").cast("bigint").alias("hr"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    t = cells.select(
        "dow", "hr", "n",
        F.sum("n").over(W.rowsBetween(W.unboundedPreceding,
                                      W.unboundedFollowing))
        .cast("bigint").alias("tot"),
        F.sum("n").over(W.partitionBy("dow").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing))
        .cast("bigint").alias("dow_tot"))
    return t.select(
        "dow", "hr", "n",
        F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 6)
        .alias("share"),
        F.round(F.col("n").cast("double") / F.col("dow_tot").cast("double"),
                6).alias("dow_share"))


# ---------------------------------------------------------------------------
# dq_psi_drift — Population Stability Index between the first and
# second half of the order history over 10 equal-width o_totalprice
# bins (the drift gate that fires before a model silently degrades;
# PSI > 0.2 is the classic "investigate" threshold). Halves split on
# the median order DAY (exact order statistic); bin shares use
# Laplace-smoothed counts so empty bins stay finite; the PSI sum folds
# per-bin terms in bin order. Everything integer until the log tree.
# ---------------------------------------------------------------------------
_PSI_ORACLE = """
WITH o AS (
  SELECT CAST(epoch(date_trunc('day', o_orderdate)) / 86400 AS BIGINT) AS d,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 4) * 10000
              AS BIGINT) AS v4
  FROM orders
),
med AS (
  SELECT d AS cutoff FROM (
    SELECT d, row_number() OVER (ORDER BY d) AS rk, count(*) OVER () AS n
    FROM (SELECT DISTINCT d FROM o)
  ) WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
),
rng AS (
  SELECT CAST(min(v4) AS BIGINT) AS lo, CAST(max(v4) AS BIGINT) AS hi FROM o
),
b AS (
  SELECT least(CAST(((v4 - lo) * 10) // greatest(hi - lo + 1, 1) AS BIGINT),
               9) AS bin,
         CASE WHEN d < cutoff THEN 1 ELSE 0 END AS is_ref
  FROM o CROSS JOIN med CROSS JOIN rng
),
c AS (
  SELECT bin,
         CAST(sum(is_ref) AS BIGINT) AS n_ref,
         CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
  FROM b GROUP BY bin
),
t AS (
  SELECT bin, n_ref, n_cur,
         CAST(sum(n_ref) OVER () AS BIGINT) AS tot_ref,
         CAST(sum(n_cur) OVER () AS BIGINT) AS tot_cur
  FROM c
),
terms AS (
  SELECT bin, n_ref, n_cur,
         ((n_ref + 1.0) / (tot_ref + 10.0) - (n_cur + 1.0) / (tot_cur + 10.0))
         * ln(((n_ref + 1.0) / (tot_ref + 10.0))
              / ((n_cur + 1.0) / (tot_cur + 10.0))) AS term
  FROM t
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       round(list_aggregate(list_transform(
         list_sort(list({'i': bin, 'v': term})), s -> s.v), 'sum'), 6)
         AS psi
FROM terms
"""


@register("dq_psi_drift", oracle=_PSI_ORACLE)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.floor(F.unix_micros(F.date_trunc("day", "o_orderdate"))
                / F.lit(86400000000)).cast("bigint").alias("d"),
        (F.round(F.col("o_totalprice").cast("decimal(18,4)"), 4) * 10000)
        .cast("bigint").alias("v4"))
    days = o.select("d").distinct()
    med = (days.select(
        "d", F.row_number().over(W.orderBy("d")).alias("rk"),
        F.count(F.lit(1)).over(W.rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing)).alias("n"))
        .filter(F.col("rk") == F.ceil(F.col("n") / 2.0).cast("bigint"))
        .select(F.col("d").alias("cutoff")))
    rng = o.agg(F.min("v4").cast("bigint").alias("lo"),
                F.max("v4").cast("bigint").alias("hi"))
    b = (o.crossJoin(F.broadcast(med)).crossJoin(F.broadcast(rng))
         .select(
             F.least(F.floor((F.col("v4") - F.col("lo")) * 10
                             / F.greatest(F.col("hi") - F.col("lo") + 1,
                                          F.lit(1))).cast("bigint"),
                     F.lit(9)).alias("bin"),
             F.when(F.col("d") < F.col("cutoff"), 1).otherwise(0)
             .alias("is_ref")))
    c = b.groupBy("bin").agg(
        F.sum("is_ref").cast("bigint").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("n_cur"))
    wt = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    t = c.select("bin", "n_ref", "n_cur",
                 F.sum("n_ref").over(wt).cast("bigint").alias("tot_ref"),
                 F.sum("n_cur").over(wt).cast("bigint").alias("tot_cur"))
    p = (F.col("n_ref") + 1.0) / (F.col("tot_ref") + 10.0)
    q = (F.col("n_cur") + 1.0) / (F.col("tot_cur") + 10.0)
    terms = t.select("bin", "n_ref", "n_cur",
                     ((p - q) * F.log(p / q)).alias("term"))
    return terms.agg(
        lcount("n_bins"),
        F.round(F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("bin").alias("i"), F.col("term").alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v), 6).alias("psi"))


# ---------------------------------------------------------------------------
# q_event_study — event-study panel around the Pettitt changepoint
# day (q_pettitt_test's t*): mean daily event count at offsets −7..+7
# relative to the detected break, plus the before/after level means —
# the "did the regime actually shift, and how fast" readout. The
# changepoint is recomputed inline (same bounded day×day V_t sums);
# the offset panel is a 15-row literal lattice joined against the
# tiny day grid.
# ---------------------------------------------------------------------------
_EVENT_STUDY_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
v AS (
  SELECT a.i,
         CAST(sum(CASE WHEN a.x > b.x THEN 1
                       WHEN a.x < b.x THEN -1 ELSE 0 END) AS BIGINT) AS vt
  FROM daily a JOIN daily b ON a.i <> b.i
  GROUP BY a.i
),
u AS (
  SELECT i, CAST(sum(vt) OVER (ORDER BY i) AS BIGINT) AS ut
  FROM v
),
star AS (
  SELECT i AS t_star FROM (
    SELECT i, ut, row_number() OVER (ORDER BY abs(ut) DESC, i) AS rk
    FROM u WHERE i < (SELECT max(i) FROM u)
  ) WHERE rk = 1
),
offs AS (SELECT unnest(generate_series(-7, 7)) AS off)
SELECT off,
       CAST(max(CASE WHEN d.i IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS day_present,
       CAST(coalesce(max(d.x), 0) AS BIGINT) AS x
FROM offs CROSS JOIN star
LEFT JOIN daily d ON d.i = t_star + off
GROUP BY off
"""


@register("q_event_study", oracle=_EVENT_STUDY_ORACLE)
def q_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # daily feeds three consumers (both sides of the Pettitt-style
    # self-join + the panel probe): persist the bounded day census so
    # the events scan + agg runs once (round-12 subtree lint)
    daily = persist(ev.groupBy(F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                                       / F.lit(86400000000)).cast("bigint")
                               .alias("i"))
                    .agg(lcount("x")))
    b = daily.select(F.col("i").alias("i2"), F.col("x").alias("x2"))
    v = (daily.join(b, F.col("i") != F.col("i2"))
         .groupBy("i")
         .agg(F.sum(F.when(F.col("x") > F.col("x2"), 1)
                    .when(F.col("x") < F.col("x2"), -1)
                    .otherwise(0)).cast("bigint").alias("vt")))
    wu = W.orderBy("i").rowsBetween(W.unboundedPreceding, 0)
    wall = W.orderBy("i").rowsBetween(W.unboundedPreceding,
                                      W.unboundedFollowing)
    u = v.select("i",
                 F.sum("vt").over(wu).cast("bigint").alias("ut"),
                 F.max("i").over(wall).alias("max_i"))
    star = (u.filter(F.col("i") < F.col("max_i"))
            .withColumn("rk", F.row_number().over(
                W.orderBy(F.abs(F.col("ut")).desc(), "i")))
            .filter(F.col("rk") == 1)
            .select(F.col("i").alias("t_star")))
    offs = spark.range(-7, 8).select(F.col("id").cast("bigint").alias("off"))
    panel = (F.broadcast(offs).crossJoin(F.broadcast(star))
             .join(daily, daily["i"] == F.col("t_star") + F.col("off"),
                   "left"))
    return panel.groupBy("off").agg(
        F.max(F.when(F.col("i").isNull(), 0).otherwise(1)).cast("bigint")
        .alias("day_present"),
        F.coalesce(F.max("x"), F.lit(0)).cast("bigint").alias("x"))


# ---------------------------------------------------------------------------
# q_ols_trend — ordinary-least-squares trend of the daily event-count
# series (the parametric counterpart to q_theil_sen's robust slope):
# slope, intercept, R², and residual σ from exact integer moment sums
# (Σi, Σi², Σx, Σx², Σix over bigint day indices and counts — no
# float accumulation anywhere; one closed-form double tree at the
# edge). Day indices re-origin to min(i) so the moments stay small.
# ---------------------------------------------------------------------------
_OLS_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i0,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
d AS (
  SELECT i0 - CAST(min(i0) OVER () AS BIGINT) AS i, x FROM daily
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(i) AS BIGINT) AS si,
         CAST(sum(i * i) AS BIGINT) AS sii,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(i * x) AS BIGINT) AS six
  FROM d
)
SELECT m,
       round((CAST(m AS DOUBLE) * CAST(six AS DOUBLE)
              - CAST(si AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(sii AS DOUBLE)
                - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)), 6) AS slope,
       round((CAST(sx AS DOUBLE)
              - ((CAST(m AS DOUBLE) * CAST(six AS DOUBLE)
                  - CAST(si AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (CAST(m AS DOUBLE) * CAST(sii AS DOUBLE)
                    - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)))
                * CAST(si AS DOUBLE)) / CAST(m AS DOUBLE), 6) AS intercept,
       round(((CAST(m AS DOUBLE) * CAST(six AS DOUBLE)
               - CAST(si AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(m AS DOUBLE) * CAST(six AS DOUBLE)
                 - CAST(si AS DOUBLE) * CAST(sx AS DOUBLE)))
             / ((CAST(m AS DOUBLE) * CAST(sii AS DOUBLE)
                 - CAST(si AS DOUBLE) * CAST(si AS DOUBLE))
                * (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 6) AS r2
FROM s WHERE m > 1
"""


@register("q_ols_trend", oracle=_OLS_ORACLE)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                                / F.lit(86400000000)).cast("bigint")
                        .alias("i0"))
             .agg(lcount("x")))
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    d = daily.select(
        (F.col("i0") - F.min("i0").over(wall).cast("bigint")).alias("i"),
        "x")
    s = d.agg(lcount("m"),
              F.sum("i").cast("bigint").alias("si"),
              F.sum(F.col("i") * F.col("i")).cast("bigint").alias("sii"),
              F.sum("x").cast("bigint").alias("sx"),
              F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
              F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"))
    m = F.col("m").cast("double")
    si, sii = F.col("si").cast("double"), F.col("sii").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    six = F.col("six").cast("double")
    num = m * six - si * sx
    den = m * sii - si * si
    slope = num / den
    return (s.filter(F.col("m") > 1)
            .select("m",
                    F.round(slope, 6).alias("slope"),
                    F.round((sx - slope * si) / m, 6).alias("intercept"),
                    F.round(num * num / (den * (m * sxx - sx * sx)), 6)
                    .alias("r2")))


# ---------------------------------------------------------------------------
# s_duplicate_payments — duplicate-payment screen (the AML/audit
# classic): same user, same whole-currency amount, two purchases
# within 24 hours. The self-join blocks on (user_id, floor(amount)) —
# an equi-join that scales as the biggest (user, amount) group, never
# a time-range cross — with the day band as a post-filter and i<j
# dedup so each pair reports once.
# ---------------------------------------------------------------------------
_DUP_PAY_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(floor(value) AS BIGINT) AS vi
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
)
SELECT a.user_id, a.event_id AS first_event, b.event_id AS second_event,
       a.vi AS amount_unit,
       CAST(b.us - a.us AS BIGINT) AS gap_us
FROM p a JOIN p b
  ON a.user_id = b.user_id AND a.vi = b.vi
 AND a.event_id < b.event_id
WHERE abs(b.us - a.us) <= 86400000000
"""


@register("s_duplicate_payments", oracle=_DUP_PAY_ORACLE)
def s_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = (ev.filter((F.col("event_type") == "purchase")
                   & F.col("value").isNotNull())
         .select("user_id", "event_id", F.unix_micros("ts").alias("us"),
                 F.floor("value").cast("bigint").alias("vi")))
    a = p.select("user_id", "vi", F.col("event_id").alias("first_event"),
                 F.col("us").alias("us_a"))
    b = p.select("user_id", "vi", F.col("event_id").alias("second_event"),
                 F.col("us").alias("us_b"))
    j = (a.join(b, ["user_id", "vi"])
         .filter((F.col("first_event") < F.col("second_event"))
                 & (F.abs(F.col("us_b") - F.col("us_a"))
                    <= F.lit(86400000000))))
    return j.select(
        "user_id", "first_event", "second_event",
        F.col("vi").alias("amount_unit"),
        (F.col("us_b") - F.col("us_a")).cast("bigint").alias("gap_us"))


# ---------------------------------------------------------------------------
# q_activity_distribution — distribution of per-user engagement depth:
# for each count of distinct active days, how many users have exactly
# that many, plus the CCDF ("share of users at least this active") —
# the engagement curve product analytics reads before any retention
# work. Two hash aggs + one tiny window over the distinct-day counts.
# ---------------------------------------------------------------------------
_ACTIVITY_ORACLE = """
WITH ud AS (
  SELECT user_id,
         CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
           AS active_days
  FROM events GROUP BY user_id
),
h AS (
  SELECT active_days, CAST(count(*) AS BIGINT) AS n_users
  FROM ud GROUP BY active_days
)
SELECT active_days, n_users,
       round(CAST(CAST(sum(n_users) OVER (ORDER BY active_days DESC)
                       AS BIGINT) AS DOUBLE)
             / CAST(CAST(sum(n_users) OVER () AS BIGINT) AS DOUBLE), 6)
         AS ccdf
FROM h
"""


@register("q_activity_distribution", oracle=_ACTIVITY_ORACLE)
def q_activity_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = (ev.groupBy("user_id")
          .agg(F.countDistinct(F.date_trunc("day", "ts")).cast("bigint")
               .alias("active_days")))
    h = ud.groupBy("active_days").agg(lcount("n_users"))
    wc = W.orderBy(F.desc("active_days")).rowsBetween(
        W.unboundedPreceding, 0)
    wt = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return h.select(
        "active_days", "n_users",
        F.round(F.sum("n_users").over(wc).cast("bigint").cast("double")
                / F.sum("n_users").over(wt).cast("bigint").cast("double"), 6)
        .alias("ccdf"))


# ---------------------------------------------------------------------------
# gr_powerlaw_alpha — continuous-MLE power-law exponent of the
# co-purchase degree distribution (Clauset-Shalizi-Newman):
# α = 1 + n / Σ ln(d/d_min) with d_min = 1 (so the sum is Σ ln d),
# over the same oriented edge set as gr_degree_stats. The "is this
# graph scale-free" companion to gr_assortativity. Degrees are exact;
# Σ ln d folds in node order.
# ---------------------------------------------------------------------------
_POWERLAW_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_orderkey < 2000
), e0 AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
  GROUP BY node
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(max(d) AS BIGINT) AS d_max,
         list_aggregate(list_transform(
           list_sort(list({'i': node, 'v': ln(CAST(d AS DOUBLE))})),
           x -> x.v), 'sum') AS sum_ln_d
  FROM deg
)
SELECT n_nodes, d_max,
       round(sum_ln_d, 6) AS sum_ln_d,
       CASE WHEN sum_ln_d > 0
            THEN round(1.0 + CAST(n_nodes AS DOUBLE) / sum_ln_d, 6)
       END AS alpha
FROM s
"""


@register("gr_powerlaw_alpha", oracle=_POWERLAW_ORACLE)
def gr_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 2000)
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct())
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    # both degree union branches consumed e0: persist the narrow edge
    # list and emit both endpoints with one explode instead of the
    # doubled union subtree (round-12 subtree lint)
    e0 = persist(a.join(b, "o").filter(F.col("u") < F.col("v"))
                 .select("u", "v").distinct())
    deg = (e0.select(F.explode(F.array("u", "v")).alias("node"))
           .groupBy("node").agg(lcount("d")))
    s = deg.agg(
        lcount("n_nodes"),
        F.max("d").cast("bigint").alias("d_max"),
        F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("node").alias("i"),
                         F.log(F.col("d").cast("double")).alias("v")))),
                lambda x: x["v"]),
            F.lit(0.0), lambda acc, v: acc + v).alias("sum_ln_d"))
    return s.select(
        "n_nodes", "d_max",
        F.round("sum_ln_d", 6).alias("sum_ln_d"),
        F.when(F.col("sum_ln_d") > 0,
               F.round(F.lit(1.0) + F.col("n_nodes").cast("double")
                       / F.col("sum_ln_d"), 6)).alias("alpha"))


# ---------------------------------------------------------------------------
# tx_keyness — per-source keyness: which words distinguish each source
# from the rest of the corpus, scored by Dunning's log-likelihood G²
# (the corpus-linguistics standard; robust where PMI over-rewards rare
# words). Exact (source, word) and global counts; G² is a pure log
# tree; top-10 per source by (G² desc, word), keeping only
# overrepresented (observed > expected) terms.
# ---------------------------------------------------------------------------
_KEYNESS_ORACLE = f"""
WITH t AS (
  SELECT source, {_TOKS} AS toks FROM documents WHERE length(text) > 0
),
w AS (
  SELECT source, u.w AS word, CAST(count(*) AS BIGINT) AS a
  FROM t, unnest(toks) AS u(w) GROUP BY source, u.w
),
tot AS (
  SELECT source, CAST(sum(a) AS BIGINT) AS n_src FROM w GROUP BY source
),
gw AS (
  SELECT word, CAST(sum(a) AS BIGINT) AS g FROM w GROUP BY word
),
n AS (SELECT CAST(sum(a) AS BIGINT) AS n_all FROM w),
s AS (
  SELECT w.source, w.word, w.a, gw.g - w.a AS b,
         tot.n_src, n.n_all - tot.n_src AS n_rest,
         CAST(gw.g AS DOUBLE) * tot.n_src / n.n_all AS ea,
         CAST(gw.g AS DOUBLE) * (n.n_all - tot.n_src) / n.n_all AS eb
  FROM w JOIN tot USING (source) JOIN gw USING (word) CROSS JOIN n
),
g2 AS (
  SELECT source, word, a, b,
         round(2.0 * (CASE WHEN a > 0
                           THEN a * ln(a / ea) ELSE 0.0 END
                      + CASE WHEN b > 0
                             THEN b * ln(b / eb) ELSE 0.0 END), 6) AS g2
  FROM s WHERE a > ea
),
r AS (
  SELECT source, word, a AS n_in_source, b AS n_elsewhere, g2,
         row_number() OVER (PARTITION BY source
                            ORDER BY g2 DESC, word) AS rk
  FROM g2
)
SELECT source, rk, word, n_in_source, n_elsewhere, g2
FROM r WHERE rk <= 10
"""


@register("tx_keyness", headline=True, oracle=_KEYNESS_ORACLE)
def tx_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import textstats as tx

    # w feeds four consumers (per-source totals, per-word totals, the
    # grand total and the scored join): persist the bounded census so
    # the tokenize + explode + groupBy run once, not four times; widen
    # the under-split local scan (no-op at cluster scale)
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"),
                            "doc_id").filter(F.length("text") > 0)
    t = docs.select("source", tx.tokens(F.col("text")).alias("toks"))
    w = persist(t.select("source", F.explode("toks").alias("word"))
                .groupBy("source", "word").agg(F.count(F.lit(1)).alias("a")))
    tot = w.groupBy("source").agg(F.sum("a").cast("bigint").alias("n_src"))
    gw = w.groupBy("word").agg(F.sum("a").cast("bigint").alias("g"))
    n = w.agg(F.sum("a").cast("bigint").alias("n_all"))
    s = (w.join(F.broadcast(tot), "source").join(gw, "word")
         .crossJoin(F.broadcast(n)))
    ea = F.col("g").cast("double") * F.col("n_src") / F.col("n_all")
    eb = (F.col("g").cast("double") * (F.col("n_all") - F.col("n_src"))
          / F.col("n_all"))
    a_d = F.col("a").cast("double")
    b_col = F.col("g") - F.col("a")
    b_d = b_col.cast("double")
    g2 = F.round(F.lit(2.0) * (
        F.when(F.col("a") > 0, a_d * F.log(a_d / ea)).otherwise(F.lit(0.0))
        + F.when(b_col > 0, b_d * F.log(b_d / eb)).otherwise(F.lit(0.0))), 6)
    scored = (s.filter(a_d > ea)
              .select("source", "word", F.col("a").alias("n_in_source"),
                      b_col.cast("bigint").alias("n_elsewhere"),
                      g2.alias("g2")))
    r = scored.withColumn("rk", F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("g2"), "word")))
    return (r.filter(F.col("rk") <= 10)
            .select("source", "rk", "word", "n_in_source", "n_elsewhere",
                    "g2"))


# ---------------------------------------------------------------------------
# q_price_volume_mix — price/volume decomposition of the 1996→1997
# revenue change per return flag (the Laspeyres bridge every revenue
# review opens with): Δrev = volume effect (Δq at year-1 price) +
# price effect (Δp at year-1 volume) + interaction (Δq·Δp). Per-group
# quantity sums and x4 revenue sums are exact; unit prices are one
# ratio each; the three effects close exactly to Δrev by construction
# of the identity. One scan, one (year, flag) hash agg, a self-join
# on flag.
# ---------------------------------------------------------------------------
_PVM_ORACLE = """
WITH y AS (
  SELECT l_returnflag AS flag, year(l_shipdate) AS yr,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS q4,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS r4
  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
  GROUP BY 1, 2
),
p AS (
  SELECT a.flag,
         a.q4 / 10000.0 AS q0, b.q4 / 10000.0 AS q1,
         a.r4 / 10000.0 AS r0, b.r4 / 10000.0 AS r1,
         CAST(a.r4 AS DOUBLE) / CAST(a.q4 AS DOUBLE) AS p0,
         CAST(b.r4 AS DOUBLE) / CAST(b.q4 AS DOUBLE) AS p1
  FROM (SELECT * FROM y WHERE yr = 1996) a
  JOIN (SELECT * FROM y WHERE yr = 1997) b USING (flag)
)
SELECT flag, q0, q1, round(r1 - r0, 4) AS delta_rev,
       round((q1 - q0) * p0, 6) AS volume_effect,
       round((p1 - p0) * q0, 6) AS price_effect,
       round((q1 - q0) * (p1 - p0), 6) AS mix_effect
FROM p
"""


@register("q_price_volume_mix", oracle=_PVM_ORACLE)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y = (li.filter(F.year("l_shipdate").isin(1996, 1997))
         .groupBy(F.col("l_returnflag").alias("flag"),
                  F.year("l_shipdate").alias("yr"))
         .agg((F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 4)
               * 10000).cast("bigint").alias("q4"),
              (F.round(F.sum(F.col("l_extendedprice")
                             .cast("decimal(18,4)")), 4)
               * 10000).cast("bigint").alias("r4")))
    a = y.filter(F.col("yr") == 1996).select(
        "flag", F.col("q4").alias("q4a"), F.col("r4").alias("r4a"))
    b = y.filter(F.col("yr") == 1997).select(
        "flag", F.col("q4").alias("q4b"), F.col("r4").alias("r4b"))
    j = a.join(b, "flag")
    q0, q1 = F.col("q4a") / F.lit(10000.0), F.col("q4b") / F.lit(10000.0)
    r0, r1 = F.col("r4a") / F.lit(10000.0), F.col("r4b") / F.lit(10000.0)
    p0 = F.col("r4a").cast("double") / F.col("q4a").cast("double")
    p1 = F.col("r4b").cast("double") / F.col("q4b").cast("double")
    return j.select(
        "flag", q0.alias("q0"), q1.alias("q1"),
        F.round(r1 - r0, 4).alias("delta_rev"),
        F.round((q1 - q0) * p0, 6).alias("volume_effect"),
        F.round((p1 - p0) * q0, 6).alias("price_effect"),
        F.round((q1 - q0) * (p1 - p0), 6).alias("mix_effect"))


# ---------------------------------------------------------------------------
# q_kaplan_meier — Kaplan-Meier survival of time-to-second-event per
# user, right-censored at the corpus horizon: S(t) = Π_{tᵢ≤t}
# (1 − dᵢ/nᵢ) over distinct event days tᵢ. At-risk counts nᵢ and
# event counts dᵢ are exact integers; the product accumulates as
# exp(Σ ln(1 − d/n)) with the Σ folded in duration order over a
# bounded duration×duration cross (distinct durations are a day-grid,
# tiny by construction — never the user table).
# ---------------------------------------------------------------------------
_KM_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS d,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
),
u AS (
  SELECT f.user_id,
         CASE WHEN s.d IS NOT NULL THEN s.d - f.d
              ELSE (SELECT max(d) FROM e) - f.d END AS dur,
         CASE WHEN s.d IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM (SELECT user_id, d FROM e WHERE rn = 1) f
  LEFT JOIN (SELECT user_id, d FROM e WHERE rn = 2) s USING (user_id)
),
grid AS (
  SELECT dur AS t, CAST(sum(observed) AS BIGINT) AS d_events,
         CAST(count(*) AS BIGINT) AS ending
  FROM u GROUP BY dur
),
risk AS (
  SELECT g1.t, g1.d_events,
         (SELECT CAST(sum(g2.ending) AS BIGINT) FROM grid g2
          WHERE g2.t >= g1.t) AS n_risk
  FROM grid g1 WHERE g1.d_events > 0
),
surv AS (
  SELECT r1.t, r1.d_events, r1.n_risk,
         max(CASE WHEN r2.d_events >= r2.n_risk THEN 1 ELSE 0 END)
           AS hit_zero,
         exp(list_aggregate(list_transform(
           list_sort(list({'i': r2.t,
                           'v': CASE WHEN r2.d_events < r2.n_risk
                                THEN ln(1.0 - CAST(r2.d_events AS DOUBLE)
                                              / CAST(r2.n_risk AS DOUBLE))
                                ELSE 0.0 END})),
           s -> s.v), 'sum')) AS s_raw
  FROM risk r1 JOIN risk r2 ON r2.t <= r1.t
  GROUP BY r1.t, r1.d_events, r1.n_risk
)
SELECT t AS duration_days, d_events, n_risk,
       CASE WHEN hit_zero = 1 THEN 0.0 ELSE round(s_raw, 6) END AS survival
FROM surv
"""


@register("q_kaplan_meier", headline=True, oracle=_KM_ORACLE)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                  / F.lit(86400000000)).cast("bigint")
    # ONE window pass: first/second event day pivot out of the same
    # ranked frame via a groupBy on the window's own partition key (no
    # re-shuffle — AQE reuses the user_id partitioning), where the old
    # shape consumed the window subtree three times (rn=1 side, rn=2
    # side, horizon agg) and then self-joined the two sides. The
    # horizon needs no window at all: max(d) over ranked rows 1..n ==
    # max(d) over raw events.
    e = ev.select(
        "user_id", day.alias("d"),
        F.row_number().over(W.partitionBy("user_id")
                            .orderBy("ts", "event_id")).alias("rn"))
    fs = (e.filter(F.col("rn") <= 2)
          .groupBy("user_id")
          .agg(F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("fd"),
               F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("sd")))
    horizon = ev.agg(F.max(day).alias("hmax"))
    u = (fs.crossJoin(F.broadcast(horizon))
         .select(
             F.when(F.col("sd").isNotNull(), F.col("sd") - F.col("fd"))
             .otherwise(F.col("hmax") - F.col("fd")).alias("dur"),
             F.when(F.col("sd").isNotNull(), 1).otherwise(0)
             .alias("observed")))
    # grid and risk are each consumed by BOTH sides of their
    # triangular self-joins below; unpersisted, the scan + window +
    # agg lineage re-ran up to 4x (round-12 subtree lint: one x2
    # 29-node duplicate). Both frames are bounded — one row per
    # distinct duration day — so the persists are driver-small state
    # at any scale.
    grid = persist(u.groupBy(F.col("dur").alias("t")).agg(
        F.sum("observed").cast("bigint").alias("d_events"),
        lcount("ending")))
    g2 = grid.select(F.col("t").alias("t2"), F.col("ending").alias("e2"))
    risk = persist(grid.join(F.broadcast(g2), F.col("t2") >= F.col("t"))
                   .groupBy("t", "d_events")
                   .agg(F.sum("e2").cast("bigint").alias("n_risk"))
                   .filter(F.col("d_events") > 0))
    r2 = risk.select(F.col("t").alias("t2"),
                     F.col("d_events").alias("d2"),
                     F.col("n_risk").alias("n2"))
    surv = (risk.join(F.broadcast(r2), F.col("t2") <= F.col("t"))
            .groupBy("t", "d_events", "n_risk")
            .agg(F.max(F.when(F.col("d2") >= F.col("n2"), 1).otherwise(0))
                 .alias("hit_zero"),
                 F.exp(F.aggregate(
                     F.transform(F.array_sort(F.collect_list(F.struct(
                         F.col("t2").alias("i"),
                         F.when(F.col("d2") < F.col("n2"),
                                F.log(F.lit(1.0)
                                      - F.col("d2").cast("double")
                                      / F.col("n2").cast("double")))
                         .otherwise(F.lit(0.0)).alias("v")))),
                         lambda x: x["v"]),
                     F.lit(0.0), lambda acc, v: acc + v)).alias("s_raw")))
    return surv.select(
        F.col("t").alias("duration_days"), "d_events", "n_risk",
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round("s_raw", 6)).alias("survival"))


# ---------------------------------------------------------------------------
# q_waterfall_decomp — month-over-month revenue-change waterfall by
# order priority: each month's Δtotal decomposed into per-priority
# contributions that sum exactly back to Δtotal (everything exact x4
# bigints; the closure property IS the audit). One (month, priority)
# agg + one lag window per priority.
# ---------------------------------------------------------------------------
_WATERFALL_ORACLE = """
WITH m AS (
  SELECT CAST((year(o_orderdate) * 12 + month(o_orderdate)) - 1 AS BIGINT)
           AS mo,
         o_orderpriority AS priority,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS r4
  FROM orders GROUP BY 1, 2
),
l AS (
  SELECT mo, priority, r4,
         coalesce(lag(r4) OVER (PARTITION BY priority ORDER BY mo), 0)
           AS prev_r4,
         lag(mo) OVER (PARTITION BY priority ORDER BY mo) AS prev_mo
  FROM m
)
SELECT CAST(mo // 12 AS BIGINT) AS year,
       CAST(mo % 12 + 1 AS BIGINT) AS month,
       priority,
       r4 / 10000.0 AS revenue,
       CASE WHEN prev_mo = mo - 1
            THEN CAST(r4 - prev_r4 AS BIGINT) / 10000.0 END AS delta
FROM l
"""


@register("q_waterfall_decomp", oracle=_WATERFALL_ORACLE)
def q_waterfall_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("bigint").alias("mo"),
        F.col("o_orderpriority").alias("priority")).agg(
        (F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 4)
         * 10000).cast("bigint").alias("r4"))
    wl = W.partitionBy("priority").orderBy("mo")
    l = m.select(
        "mo", "priority", "r4",
        F.coalesce(F.lag("r4").over(wl), F.lit(0)).alias("prev_r4"),
        F.lag("mo").over(wl).alias("prev_mo"))
    return l.select(
        F.floor(F.col("mo") / 12).cast("bigint").alias("year"),
        (F.col("mo") % 12 + 1).cast("bigint").alias("month"),
        "priority",
        (F.col("r4") / F.lit(10000.0)).alias("revenue"),
        F.when(F.col("prev_mo") == F.col("mo") - 1,
               (F.col("r4") - F.col("prev_r4")).cast("bigint")
               / F.lit(10000.0)).alias("delta"))


# ---------------------------------------------------------------------------
# emb_dim_variance — per-dimension variance profile of the embedding
# space, ranked (the oracled screen in front of emb_pca's rows-only
# spectrum: dead dimensions → variance ≈ 0, rogue dimensions dominate
# — both break downstream cosine geometry). Means and variances fold
# per-dim values in vec_id order; one posexplode + one hash agg.
# ---------------------------------------------------------------------------
_DIM_VAR_ORACLE = """
WITH x AS (
  SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
s AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n,
         list_aggregate(list_transform(
           list_sort(list({'i': vec_id, 'v': val})), u -> u.v), 'sum')
           AS sv,
         list_aggregate(list_transform(
           list_sort(list({'i': vec_id, 'v': val * val})), u -> u.v), 'sum')
           AS svv
  FROM x GROUP BY dim
),
v AS (
  SELECT dim, n,
         round(sv / n, 6) AS mean,
         round((svv - sv * sv / n) / n, 6) AS variance
  FROM s
)
SELECT dim, n, mean, variance,
       row_number() OVER (ORDER BY variance DESC, dim) AS var_rank
FROM v
"""


@register("emb_dim_variance", oracle=_DIM_VAR_ORACLE)
def emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "valf")).select(
        "vec_id", (F.col("p") + 1).alias("dim"),
        F.col("valf").cast("double").alias("val"))

    def fold(val_expr):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("vec_id").alias("i"), val_expr.alias("v")))),
                lambda u: u["v"]),
            F.lit(0.0), lambda acc, v: acc + v)

    s = x.groupBy("dim").agg(
        lcount("n"),
        fold(F.col("val")).alias("sv"),
        fold(F.col("val") * F.col("val")).alias("svv"))
    n_d = F.col("n").cast("double")
    v = s.select(
        "dim", "n",
        F.round(F.col("sv") / n_d, 6).alias("mean"),
        F.round((F.col("svv") - F.col("sv") * F.col("sv") / n_d) / n_d, 6)
        .alias("variance"))
    return v.withColumn(
        "var_rank", F.row_number().over(W.orderBy(F.desc("variance"),
                                                  "dim")))


# ---------------------------------------------------------------------------
# q_seasonality_strength — the Hyndman seasonal/trend strength
# scalars over the q_seasonal_decompose components (analytics.py):
# F_s = max(0, 1 − Var(resid)/Var(seasonal+resid)) and
# F_t = max(0, 1 − Var(resid)/Var(trend+resid)) — the one-row
# "should I even model seasonality" gate. Variances fold component
# values in day order; components recomputed inline with the same
# exact-window arithmetic as the decompose op.
# ---------------------------------------------------------------------------
_SEAS_STRENGTH_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(dayofweek(date_trunc('day', ts)) AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
tr AS (
  SELECT i, dow, x,
         CAST(sum(x) OVER w AS DOUBLE) / CAST(count(x) OVER w AS DOUBLE)
           AS trend
  FROM daily
  WINDOW w AS (ORDER BY i ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
sea AS (
  SELECT dow,
         list_aggregate(list_transform(
           list_sort(list({'i': i, 'v': CAST(x AS DOUBLE) - trend})),
           s -> s.v), 'sum') / count(*) AS seasonal
  FROM tr GROUP BY dow
),
comp AS (
  SELECT i, CAST(x AS DOUBLE) - trend - seasonal AS resid,
         seasonal, trend
  FROM tr JOIN sea USING (dow)
),
v AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         list_aggregate(list_transform(list_sort(list({'i': i, 'v': resid})),
           s -> s.v), 'sum') AS s_r,
         list_aggregate(list_transform(
           list_sort(list({'i': i, 'v': resid * resid})),
           s -> s.v), 'sum') AS s_rr,
         list_aggregate(list_transform(
           list_sort(list({'i': i, 'v': seasonal + resid})),
           s -> s.v), 'sum') AS s_sr,
         list_aggregate(list_transform(
           list_sort(list({'i': i, 'v': (seasonal + resid) * (seasonal + resid)})),
           s -> s.v), 'sum') AS s_srsr,
         list_aggregate(list_transform(
           list_sort(list({'i': i, 'v': trend + resid})),
           s -> s.v), 'sum') AS s_tr,
         list_aggregate(list_transform(
           list_sort(list({'i': i, 'v': (trend + resid) * (trend + resid)})),
           s -> s.v), 'sum') AS s_trtr
  FROM comp
)
SELECT m,
       round(greatest(0.0,
         1.0 - ((s_rr - s_r * s_r / m) / m)
               / ((s_srsr - s_sr * s_sr / m) / m)), 6) AS seasonal_strength,
       round(greatest(0.0,
         1.0 - ((s_rr - s_r * s_r / m) / m)
               / ((s_trtr - s_tr * s_tr / m) / m)), 6) AS trend_strength
FROM v
"""


@register("q_seasonality_strength", oracle=_SEAS_STRENGTH_ORACLE)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                 / F.lit(86400000000)).cast("bigint")).alias("i"),
        F.dayofweek(F.date_trunc("day", "ts")).cast("bigint").alias("dow"))
        .agg(lcount("x")))
    w = W.orderBy("i").rowsBetween(-3, 3)
    # tr feeds the per-dow seasonal agg AND the component join: persist
    # the bounded one-row-per-day frame so the events scan + agg +
    # trend window runs once (round-12 subtree lint)
    tr = persist(daily.select(
        "i", "dow", "x",
        (F.sum("x").over(w).cast("double")
         / F.count("x").over(w).cast("double")).alias("trend")))

    def fold_i(val_expr):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("i").alias("i"), val_expr.alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v)

    sea = (tr.groupBy("dow")
           .agg((fold_i(F.col("x").cast("double") - F.col("trend"))
                 / F.count(F.lit(1))).alias("seasonal")))
    comp = (tr.join(F.broadcast(sea), "dow")
            .select("i",
                    (F.col("x").cast("double") - F.col("trend")
                     - F.col("seasonal")).alias("resid"),
                    "seasonal", "trend"))
    sr = F.col("seasonal") + F.col("resid")
    trr = F.col("trend") + F.col("resid")
    v = comp.agg(
        lcount("m"),
        fold_i(F.col("resid")).alias("s_r"),
        fold_i(F.col("resid") * F.col("resid")).alias("s_rr"),
        fold_i(sr).alias("s_sr"),
        fold_i(sr * sr).alias("s_srsr"),
        fold_i(trr).alias("s_tr"),
        fold_i(trr * trr).alias("s_trtr"))
    m = F.col("m").cast("double")
    var_r = (F.col("s_rr") - F.col("s_r") * F.col("s_r") / m) / m
    var_sr = (F.col("s_srsr") - F.col("s_sr") * F.col("s_sr") / m) / m
    var_tr = (F.col("s_trtr") - F.col("s_tr") * F.col("s_tr") / m) / m
    return v.select(
        "m",
        F.round(F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_sr), 6)
        .alias("seasonal_strength"),
        F.round(F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_tr), 6)
        .alias("trend_strength"))


# ---------------------------------------------------------------------------
# q_basket_profile — basket-size economics: distribution of lines per
# order and, per basket size, the exact average order revenue (do
# bigger baskets spend proportionally more?). Two hash aggs; revenue
# stays x4-exact until one division per size bucket.
# ---------------------------------------------------------------------------
_BASKET_ORACLE = """
WITH o AS (
  SELECT l_orderkey,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS r4
  FROM lineitem GROUP BY l_orderkey
)
SELECT n_lines AS basket_size,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(r4) AS BIGINT) / 10000.0 AS total_revenue,
       round(CAST(sum(r4) AS BIGINT) / 10000.0 / count(*), 6)
         AS avg_order_revenue
FROM o GROUP BY n_lines
"""


@register("q_basket_profile", oracle=_BASKET_ORACLE)
def q_basket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = li.groupBy("l_orderkey").agg(
        lcount("n_lines"),
        (F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 4)
         * 10000).cast("bigint").alias("r4"))
    return o.groupBy(F.col("n_lines").alias("basket_size")).agg(
        lcount("n_orders"),
        (F.sum("r4").cast("bigint") / F.lit(10000.0))
        .alias("total_revenue"),
        F.round(F.sum("r4").cast("bigint") / F.lit(10000.0)
                / F.count(F.lit(1)), 6).alias("avg_order_revenue"))


# ---------------------------------------------------------------------------
# q_price_dispersion — per-part price dispersion: coefficient of
# variation of l_extendedprice across a part's line items (is the
# same part transacting at wildly different prices — the
# pricing-integrity screen). Moment sums in x2 CENTS (prices carry 2
# decimals) so Σv² stays under 2^53 for any realistic per-part group
# — the scale choice IS the overflow headroom (q_gini lesson at the
# group grain). Parts with ≥ 5 lines only.
# ---------------------------------------------------------------------------
_PRICE_DISP_ORACLE = """
WITH x AS (
  SELECT l_partkey,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)), 2) * 100
              AS BIGINT) AS v2
  FROM lineitem
),
s AS (
  SELECT l_partkey AS partkey,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v2) AS BIGINT) AS sv,
         CAST(sum(v2 * v2) AS BIGINT) AS svv
  FROM x GROUP BY l_partkey HAVING count(*) >= 5
)
SELECT partkey, n,
       CAST(FLOOR((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
                  * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS mean_price,
       CAST(FLOOR((sqrt((CAST(svv AS DOUBLE)
                         - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                           / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) / 100.0)
                  * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS sd_price,
       CAST(FLOOR((sqrt((CAST(svv AS DOUBLE)
                         - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                           / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
                   / (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)))
                  * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS cv
FROM s
"""


@register("q_price_dispersion", oracle=_PRICE_DISP_ORACLE)
def q_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        "l_partkey",
        (F.round(F.col("l_extendedprice").cast("decimal(18,2)"), 2) * 100)
        .cast("bigint").alias("v2"))
    s = (x.groupBy(F.col("l_partkey").alias("partkey"))
         .agg(lcount("n"),
              F.sum("v2").cast("bigint").alias("sv"),
              F.sum(F.col("v2") * F.col("v2")).cast("bigint").alias("svv"))
         .filter(F.col("n") >= 5))
    n_d = F.col("n").cast("double")
    sv_d, svv_d = F.col("sv").cast("double"), F.col("svv").cast("double")
    sd2 = F.sqrt((svv_d - sv_d * sv_d / n_d) / n_d)
    return s.select(
        "partkey", "n",
        pround6(sv_d / n_d / 100.0).alias("mean_price"),
        pround6(sd2 / 100.0).alias("sd_price"),
        pround6(sd2 / (sv_d / n_d)).alias("cv"))


# ---------------------------------------------------------------------------
# tok_vocab_overlap — domain-shift matrix: Jaccard overlap of the
# top-500 vocabularies of every source pair (low overlap = the mixture
# spans distinct domains; the cheap upstream of tx_js_divergence's
# distributional distance). Per-source vocabularies rank by
# (count desc, token); the pair grid is |sources|² — tiny — built
# from one broadcast self-join over the vocab sets.
# ---------------------------------------------------------------------------
_VOCAB_K2 = 500

_VOCAB_OVERLAP_ORACLE = f"""
WITH t AS (
  SELECT source, {_TOKS} AS toks FROM documents WHERE length(text) > 0
),
w AS (
  SELECT source, u.w AS word, CAST(count(*) AS BIGINT) AS c
  FROM t, unnest(toks) AS u(w) GROUP BY source, u.w
),
v AS (
  SELECT source, word FROM (
    SELECT source, word,
           row_number() OVER (PARTITION BY source ORDER BY c DESC, word)
             AS rk
    FROM w
  ) WHERE rk <= {_VOCAB_K2}
),
p AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM v a JOIN v b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS k FROM v GROUP BY source)
SELECT src_a, src_b, n_shared,
       round(CAST(n_shared AS DOUBLE)
             / (sa.k + sb.k - n_shared), 6) AS jaccard
FROM p JOIN sz sa ON sa.source = p.src_a
       JOIN sz sb ON sb.source = p.src_b
"""


@register("tok_vocab_overlap", oracle=_VOCAB_OVERLAP_ORACLE)
def tok_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import textstats as tx

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = docs.select("source", tx.tokens(F.col("text")).alias("toks"))
    w = (t.select("source", F.explode("toks").alias("word"))
         .groupBy("source", "word").agg(lcount("c")))
    # v feeds both self-join sides AND the vocab-size census (3
    # consumers): persist the bounded top-K-per-source vocab so the
    # tokenize + census + rank window runs once (round-12 subtree lint)
    v = persist(w.withColumn("rk", F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("c"), "word")))
        .filter(F.col("rk") <= _VOCAB_K2)
        .select("source", "word"))
    a = v.select(F.col("source").alias("src_a"), "word")
    b = v.select(F.col("source").alias("src_b"), "word")
    p = (a.join(b, "word").filter(F.col("src_a") < F.col("src_b"))
         .groupBy("src_a", "src_b").agg(lcount("n_shared")))
    # sz feeds both broadcast sides — persist the tiny per-source census
    sz = persist(v.groupBy("source").agg(lcount("k")))
    sa = sz.select(F.col("source").alias("src_a"), F.col("k").alias("ka"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("k").alias("kb"))
    j = p.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
    return j.select(
        "src_a", "src_b", "n_shared",
        F.round(F.col("n_shared").cast("double")
                / (F.col("ka") + F.col("kb") - F.col("n_shared")), 6)
        .alias("jaccard"))


# ---------------------------------------------------------------------------
# q_mann_whitney — Mann-Whitney U test: do click and purchase event
# VALUES come from the same distribution? (The nonparametric twin of
# q_welch_ttest's parametric comparison.) Average ranks over exact x4
# values via the (min+max)/2 tie-group identity — the same exact
# machinery as sim_roc_auc — then U, its null mean/variance with the
# tie correction, and the z statistic. Integer-exact until z.
# ---------------------------------------------------------------------------
_MWU_ORACLE = """
WITH x AS (
  SELECT CAST(ROUND(CAST(value AS DECIMAL(18,4)), 4) * 10000 AS BIGINT)
           AS v4,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS grp
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
r AS (
  SELECT v4, grp, row_number() OVER (ORDER BY v4, grp) AS rk FROM x
),
g AS (
  SELECT v4, grp,
         CAST(min(rk) OVER (PARTITION BY v4) AS BIGINT) AS lo,
         CAST(max(rk) OVER (PARTITION BY v4) AS BIGINT) AS hi
  FROM r
),
ties AS (
  SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tie_corr
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM x GROUP BY v4) WHERE t > 1
),
s AS (
  SELECT CAST(sum(grp) AS BIGINT) AS n1,
         CAST(sum(1 - grp) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN grp = 1 THEN lo + hi ELSE 0 END) AS BIGINT)
           AS rsum2
  FROM g
)
SELECT n1, n2,
       round(CAST(rsum2 AS DOUBLE) / 2.0
             - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0, 6)
         AS u_stat,
       round((CAST(rsum2 AS DOUBLE) / 2.0
              - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0
              - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
             / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                    * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                       - CAST(tie_corr AS DOUBLE)
                         / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                            * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
                               - 1.0)))), 6) AS z
FROM s CROSS JOIN ties
"""


@register("q_mann_whitney", oracle=_MWU_ORACLE)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = (ev.filter(F.col("event_type").isin("click", "purchase")
                   & F.col("value").isNotNull())
         .select((F.round(F.col("value").cast("decimal(18,4)"), 4) * 10000)
                 .cast("bigint").alias("v4"),
                 F.when(F.col("event_type") == "click", 1).otherwise(0)
                 .alias("grp")))
    r = x.withColumn("rk", F.row_number().over(W.orderBy("v4", "grp")))
    wg = W.partitionBy("v4")
    g = r.select("v4", "grp",
                 F.min("rk").over(wg).cast("bigint").alias("lo"),
                 F.max("rk").over(wg).cast("bigint").alias("hi"))
    ties = (x.groupBy("v4").agg(lcount("t")).filter(F.col("t") > 1)
            .agg(F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
                F.lit(0)).cast("bigint").alias("tie_corr")))
    s = g.agg(
        F.sum("grp").cast("bigint").alias("n1"),
        F.sum(1 - F.col("grp")).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("lo") + F.col("hi"))
              .otherwise(0)).cast("bigint").alias("rsum2"))
    j = s.crossJoin(F.broadcast(ties))
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    u = (F.col("rsum2").cast("double") / F.lit(2.0)
         - n1 * (n1 + F.lit(1.0)) / F.lit(2.0))
    n = n1 + n2
    var_u = (n1 * n2 / F.lit(12.0)
             * ((n + F.lit(1.0))
                - F.col("tie_corr").cast("double") / (n * (n - F.lit(1.0)))))
    return j.select(
        "n1", "n2",
        F.round(u, 6).alias("u_stat"),
        F.round((u - n1 * n2 / F.lit(2.0)) / F.sqrt(var_u), 6).alias("z"))


# ---------------------------------------------------------------------------
# q_friedman_test — Friedman rank test of weekday effects with ISO
# weeks as blocks: within each complete week, the 7 daily counts are
# ranked (average ranks on ties — exact .5-grained rationals), and
# χ²_F = 12n/(k(k+1)) Σ(R̄ⱼ − (k+1)/2)² across weekday treatments.
# The nonparametric confirmation of q_weekday_seasonality that is
# robust to level shifts between weeks. Only complete (7-day) weeks
# enter; rank sums are exact in x2 halves.
# ---------------------------------------------------------------------------
_FRIEDMAN_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
wk AS (
  SELECT i, dow, x, CAST((i + 3) // 7 AS BIGINT) AS week FROM daily
),
complete AS (
  SELECT week FROM wk GROUP BY week HAVING count(*) = 7
),
r AS (
  SELECT w.week, w.dow,
         CAST(min(rk) OVER (PARTITION BY w.week, w.x)
              + max(rk) OVER (PARTITION BY w.week, w.x) AS BIGINT) AS rank2
  FROM (
    SELECT week, dow, x,
           row_number() OVER (PARTITION BY week ORDER BY x, dow) AS rk
    FROM wk JOIN complete USING (week)
  ) w
),
sums AS (
  SELECT dow, CAST(sum(rank2) AS BIGINT) AS rsum2,
         CAST(count(*) AS BIGINT) AS n_weeks
  FROM r GROUP BY dow
),
chi AS (
  SELECT CAST(max(n_weeks) AS BIGINT) AS n_weeks,
         list_aggregate(list_transform(
           list_sort(list({'i': dow,
                           'v': (CAST(rsum2 AS DOUBLE)
                                 / (2.0 * CAST(n_weeks AS DOUBLE)) - 4.0)
                              * (CAST(rsum2 AS DOUBLE)
                                 / (2.0 * CAST(n_weeks AS DOUBLE)) - 4.0)})),
           s -> s.v), 'sum') AS ss
  FROM sums
)
SELECT n_weeks, CAST(7 AS BIGINT) AS k,
       round(12.0 * CAST(n_weeks AS DOUBLE) / (7.0 * 8.0) * ss, 6)
         AS friedman_chi2
FROM chi
"""


@register("q_friedman_test", oracle=_FRIEDMAN_ORACLE)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        (F.weekday("ts") + 1).cast("bigint").alias("dow"))
        .agg(lcount("x")))
    wk = daily.select(
        "i", "dow", "x",
        F.floor((F.col("i") + 3) / 7).cast("bigint").alias("week"))
    complete = wk.groupBy("week").agg(lcount("cnt")) \
        .filter(F.col("cnt") == 7).select("week")
    inner = (wk.join(F.broadcast(complete), "week")
             .withColumn("rk", F.row_number().over(
                 W.partitionBy("week").orderBy("x", "dow"))))
    wt = W.partitionBy("week", "x")
    r = inner.select(
        "week", "dow",
        (F.min("rk").over(wt) + F.max("rk").over(wt)).cast("bigint")
        .alias("rank2"))
    sums = r.groupBy("dow").agg(
        F.sum("rank2").cast("bigint").alias("rsum2"),
        lcount("n_weeks"))
    nw = F.col("n_weeks").cast("double")
    term = (F.col("rsum2").cast("double") / (F.lit(2.0) * nw) - F.lit(4.0))
    chi = sums.agg(
        F.max("n_weeks").cast("bigint").alias("n_weeks"),
        F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("dow").alias("i"),
                         (term * term).alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v).alias("ss"))
    return chi.select(
        "n_weeks", F.lit(7).cast("bigint").alias("k"),
        F.round(F.lit(12.0) * F.col("n_weeks").cast("double")
                / F.lit(56.0) * F.col("ss"), 6).alias("friedman_chi2"))


# ---------------------------------------------------------------------------
# sim_avg_precision — average precision (area under the PR curve by
# the step rule) of the successor-pair cosine vs same-label truth:
# AP = Σ_k (ΔR_k)·P_k over distinct score thresholds, all from exact
# cumulative integer counts in descending-score order (the
# class-imbalance-honest companion to sim_roc_auc). Terms fold in
# threshold order.
# ---------------------------------------------------------------------------
_AVG_PRECISION_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
p AS (
  SELECT round(list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v))), 6) AS cos,
         CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS pos
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
),
g AS (
  SELECT cos, CAST(sum(pos) AS BIGINT) AS tp_here,
         CAST(count(*) AS BIGINT) AS n_here
  FROM p GROUP BY cos
),
c AS (
  SELECT cos,
         CAST(sum(tp_here) OVER (ORDER BY cos DESC) AS BIGINT) AS tp,
         CAST(sum(n_here) OVER (ORDER BY cos DESC) AS BIGINT) AS npred,
         tp_here,
         CAST(sum(tp_here) OVER () AS BIGINT) AS n_pos
  FROM g
)
SELECT CAST(max(n_pos) AS BIGINT) AS n_pos,
       round(list_aggregate(list_transform(
         list_sort(list({'i': -cos,
                         'v': (CAST(tp_here AS DOUBLE)
                               / CAST(n_pos AS DOUBLE))
                            * (CAST(tp AS DOUBLE) / CAST(npred AS DOUBLE))})),
         s -> s.v), 'sum'), 6) AS avg_precision
FROM c
"""


@register("sim_avg_precision", oracle=_AVG_PRECISION_ORACLE)
def sim_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators.similarity import (
        as_double, dot)

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
    a = e.select(F.col("vec_id").alias("ia"), F.col("label").alias("la"),
                 F.col("v").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("ia"),
                 F.col("label").alias("lb"), F.col("v").alias("vb"))
    p = a.join(b, "ia").select(
        F.round(dot(F.col("va"), F.col("vb"))
                / (F.sqrt(dot(F.col("va"), F.col("va")))
                   * F.sqrt(dot(F.col("vb"), F.col("vb")))), 6).alias("cos"),
        F.when(F.col("la") == F.col("lb"), 1).otherwise(0).alias("pos"))
    g = p.groupBy("cos").agg(
        F.sum("pos").cast("bigint").alias("tp_here"), lcount("n_here"))
    wd = W.orderBy(F.desc("cos")).rowsBetween(W.unboundedPreceding, 0)
    wt = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    c = g.select(
        "cos", "tp_here",
        F.sum("tp_here").over(wd).cast("bigint").alias("tp"),
        F.sum("n_here").over(wd).cast("bigint").alias("npred"),
        F.sum("tp_here").over(wt).cast("bigint").alias("n_pos"))
    term = ((F.col("tp_here").cast("double") / F.col("n_pos").cast("double"))
            * (F.col("tp").cast("double") / F.col("npred").cast("double")))
    return c.agg(
        F.max("n_pos").cast("bigint").alias("n_pos"),
        F.round(F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct((-F.col("cos")).alias("i"), term.alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v), 6).alias("avg_precision"))


# ---------------------------------------------------------------------------
# q_control_chart — Shewhart individuals/moving-range (XmR) control
# chart of the daily event counts: center line x̄, moving-range mean
# M̄R, control limits x̄ ± 2.66·M̄R, and per-day out-of-control flags
# (the SPC view next to q_rolling_mad's robust flags). x̄ and M̄R are
# exact integer ratios; limits are one double tree.
# ---------------------------------------------------------------------------
_CONTROL_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
mr AS (
  SELECT i, day, x,
         abs(x - lag(x) OVER (ORDER BY i)) AS mrange
  FROM daily
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(mrange) AS BIGINT) AS smr,
         CAST(count(mrange) AS BIGINT) AS nmr
  FROM mr
)
SELECT day, x,
       round(CAST(sx AS DOUBLE) / CAST(m AS DOUBLE), 6) AS center,
       round(CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)
             + 2.66 * CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE), 6) AS ucl,
       round(CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)
             - 2.66 * CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE), 6) AS lcl,
       CASE WHEN CAST(x AS DOUBLE) > CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)
                 + 2.66 * CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE)
             OR CAST(x AS DOUBLE) < CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)
                 - 2.66 * CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE)
            THEN 1 ELSE 0 END AS out_of_control
FROM mr CROSS JOIN s
"""


@register("q_control_chart", oracle=_CONTROL_ORACLE)
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(lcount("x")))
    mr = daily.select(
        "i", "day", "x",
        F.abs(F.col("x") - F.lag("x").over(W.orderBy("i"))).alias("mrange"))
    s = mr.agg(lcount("m"),
               F.sum("x").cast("bigint").alias("sx"),
               F.sum("mrange").cast("bigint").alias("smr"),
               F.count("mrange").cast("bigint").alias("nmr"))
    j = mr.crossJoin(F.broadcast(s))
    center = F.col("sx").cast("double") / F.col("m").cast("double")
    band = (F.lit(2.66) * F.col("smr").cast("double")
            / F.col("nmr").cast("double"))
    return j.select(
        "day", "x",
        F.round(center, 6).alias("center"),
        F.round(center + band, 6).alias("ucl"),
        F.round(center - band, 6).alias("lcl"),
        F.when((F.col("x").cast("double") > center + band)
               | (F.col("x").cast("double") < center - band), 1)
        .otherwise(0).alias("out_of_control"))


# ---------------------------------------------------------------------------
# q_rolling_corr — 30-day rolling Pearson correlation between daily
# event count and daily event value. Window moment sums stay exact
# int64 AND under 2^53 because the value series uses x2 CENTS (the
# q_price_dispersion headroom trick at the window grain); the
# correlation is one closed-form double tree per day.
# ---------------------------------------------------------------------------
_ROLL_CORR_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) * 100 AS BIGINT)
           AS v2
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT day,
         CAST(count(*) OVER win AS BIGINT) AS m,
         CAST(sum(n) OVER win AS BIGINT) AS sn,
         CAST(sum(v2) OVER win AS BIGINT) AS sv,
         CAST(sum(n * n) OVER win AS BIGINT) AS snn,
         CAST(sum(v2 * v2) OVER win AS BIGINT) AS svv,
         CAST(sum(n * v2) OVER win AS BIGINT) AS snv
  FROM daily
  WINDOW win AS (ORDER BY i ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
)
SELECT day, m,
       CASE WHEN m > 1
             AND (CAST(m AS DOUBLE) * CAST(snn AS DOUBLE)
                  - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)) > 0
             AND (CAST(m AS DOUBLE) * CAST(svv AS DOUBLE)
                  - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) > 0
            THEN round((CAST(m AS DOUBLE) * CAST(snv AS DOUBLE)
                        - CAST(sn AS DOUBLE) * CAST(sv AS DOUBLE))
                       / sqrt((CAST(m AS DOUBLE) * CAST(snn AS DOUBLE)
                               - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))
                              * (CAST(m AS DOUBLE) * CAST(svv AS DOUBLE)
                                 - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))),
                       6)
       END AS rolling_corr
FROM w
"""


@register("q_rolling_corr", oracle=_ROLL_CORR_ORACLE)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(lcount("n"),
             (F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2) * 100)
             .cast("bigint").alias("v2")))
    win = W.orderBy("i").rowsBetween(-29, 0)
    w = daily.select(
        "day",
        F.count(F.lit(1)).over(win).cast("bigint").alias("m"),
        F.sum("n").over(win).cast("bigint").alias("sn"),
        F.sum("v2").over(win).cast("bigint").alias("sv"),
        F.sum(F.col("n") * F.col("n")).over(win).cast("bigint").alias("snn"),
        F.sum(F.col("v2") * F.col("v2")).over(win).cast("bigint")
        .alias("svv"),
        F.sum(F.col("n") * F.col("v2")).over(win).cast("bigint")
        .alias("snv"))
    m = F.col("m").cast("double")
    sn, sv = F.col("sn").cast("double"), F.col("sv").cast("double")
    snn, svv = F.col("snn").cast("double"), F.col("svv").cast("double")
    snv = F.col("snv").cast("double")
    den_n = m * snn - sn * sn
    den_v = m * svv - sv * sv
    return w.select(
        "day", "m",
        F.when((F.col("m") > 1) & (den_n > 0) & (den_v > 0),
               F.round((m * snv - sn * sv) / F.sqrt(den_n * den_v), 6))
        .alias("rolling_corr"))


# ---------------------------------------------------------------------------
# q_cumulative_unique — cumulative distinct users per day. Windowed
# COUNT(DISTINCT) doesn't exist in any engine; the scalable identity
# is "distinct-so-far = running sum of first-appearances", which
# turns an O(n·days) rescan into one min-per-user agg + a day-grid
# cumsum. Also emits each day's new-user count (the q_growth ledger's
# daily grain).
# ---------------------------------------------------------------------------
_CUM_UNIQUE_ORACLE = """
WITH first_seen AS (
  SELECT user_id,
         CAST(min(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS fd
  FROM events GROUP BY user_id
),
per_day AS (
  SELECT fd, CAST(count(*) AS BIGINT) AS new_users FROM first_seen GROUP BY fd
),
days AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
  FROM events GROUP BY 1, 2
)
SELECT day,
       CAST(coalesce(new_users, 0) AS BIGINT) AS new_users,
       CAST(sum(coalesce(new_users, 0)) OVER (ORDER BY i) AS BIGINT)
         AS cumulative_users
FROM days LEFT JOIN per_day ON per_day.fd = days.i
"""


@register("q_cumulative_unique", oracle=_CUM_UNIQUE_ORACLE)
def q_cumulative_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                  / F.lit(86400000000)).cast("bigint")
    first_seen = ev.groupBy("user_id").agg(F.min(day).alias("fd"))
    per_day = first_seen.groupBy("fd").agg(lcount("new_users"))
    days = ev.groupBy(
        day.alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.lit(1).alias("__one")).drop("__one")
    j = days.join(F.broadcast(per_day),
                  days["i"] == per_day["fd"], "left")
    return j.select(
        "day",
        F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"),
        F.sum(F.coalesce("new_users", F.lit(0))).over(
            W.orderBy("i").rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint").alias("cumulative_users"))


# ---------------------------------------------------------------------------
# q_stickiness — DAU/MAU stickiness per month: average daily active
# users over the month divided by the month's distinct actives (the
# engagement ratio product teams track weekly). avg DAU = Σ per-day
# distinct / days-in-month-with-data — all exact integer counts, two
# divisions at the edge.
# ---------------------------------------------------------------------------
_STICKINESS_ORACLE = """
WITH dau AS (
  SELECT CAST((year(ts) * 12 + month(ts)) - 1 AS BIGINT) AS mo,
         CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS d,
         CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY 1, 2
),
mau AS (
  SELECT CAST((year(ts) * 12 + month(ts)) - 1 AS BIGINT) AS mo,
         CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM events GROUP BY 1
),
d AS (
  SELECT mo, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(dau) AS BIGINT) AS sum_dau
  FROM dau GROUP BY mo
)
SELECT CAST(mo // 12 AS BIGINT) AS year, CAST(mo % 12 + 1 AS BIGINT) AS month,
       n_days, mau,
       round(CAST(sum_dau AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS avg_dau,
       round(CAST(sum_dau AS DOUBLE) / CAST(n_days AS DOUBLE)
             / CAST(mau AS DOUBLE), 6) AS stickiness
FROM d JOIN mau USING (mo)
"""


@register("q_stickiness", oracle=_STICKINESS_ORACLE)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mo = (F.year("ts") * 12 + F.month("ts") - 1).cast("bigint")
    day = F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                  / F.lit(86400000000)).cast("bigint")
    dau = ev.groupBy(mo.alias("mo"), day.alias("d")).agg(
        F.countDistinct("user_id").cast("bigint").alias("dau"))
    mau = ev.groupBy(mo.alias("mo")).agg(
        F.countDistinct("user_id").cast("bigint").alias("mau"))
    d = dau.groupBy("mo").agg(
        lcount("n_days"), F.sum("dau").cast("bigint").alias("sum_dau"))
    j = d.join(mau, "mo")
    avg_dau = F.col("sum_dau").cast("double") / F.col("n_days").cast("double")
    return j.select(
        F.floor(F.col("mo") / 12).cast("bigint").alias("year"),
        (F.col("mo") % 12 + 1).cast("bigint").alias("month"),
        "n_days", "mau",
        F.round(avg_dau, 6).alias("avg_dau"),
        F.round(avg_dau / F.col("mau").cast("double"), 6).alias("stickiness"))


# ---------------------------------------------------------------------------
# emb_davies_bouldin — Davies-Bouldin clustering-quality index of the
# label partition: per label the compactness s_i (mean distance to
# its centroid), per pair the centroid distance d_ij, and
# DB_i = max_j (s_i + s_j)/d_ij (lower is better-separated). Shares
# emb_centroid_classify's exact centroid/distance folds; the pair max
# runs on the |labels|² grid — trivially small.
# ---------------------------------------------------------------------------
_DB_ORACLE = """
WITH x AS (
  SELECT vec_id, label, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
cent AS (
  SELECT label, dim,
         list_aggregate(list_transform(
           list_sort(list({'i': vec_id, 'v': val})), s -> s.v), 'sum')
           / count(*) AS c
  FROM x GROUP BY label, dim
),
dist AS (
  SELECT x.vec_id, x.label,
         sqrt(list_aggregate(list_transform(
           list_sort(list({'i': x.dim,
                           'v': (x.val - cent.c) * (x.val - cent.c)})),
           s -> s.v), 'sum')) AS d
  FROM x JOIN cent ON x.dim = cent.dim AND x.label = cent.label
  GROUP BY x.vec_id, x.label
),
s AS (
  SELECT label,
         list_aggregate(list_transform(
           list_sort(list({'i': vec_id, 'v': d})), u -> u.v), 'sum')
           / count(*) AS si,
         CAST(count(*) AS BIGINT) AS n
  FROM dist GROUP BY label
),
cd AS (
  SELECT a.label AS la, b.label AS lb,
         sqrt(list_aggregate(list_transform(
           list_sort(list({'i': a.dim, 'v': (a.c - b.c) * (a.c - b.c)})),
           u -> u.v), 'sum')) AS dij
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
  GROUP BY a.label, b.label
)
SELECT sa.label, sa.n, round(sa.si, 6) AS compactness,
       round(max((sa.si + sb.si) / cd.dij), 6) AS db_index
FROM s sa JOIN cd ON cd.la = sa.label JOIN s sb ON sb.label = cd.lb
GROUP BY sa.label, sa.n, sa.si
"""


@register("emb_davies_bouldin", oracle=_DB_ORACLE)
def emb_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # x feeds the centroid fold AND the distance join; cent feeds the
    # distance join AND both centroid-pair sides; s feeds both scatter
    # sides — persist the shared frames so each pipeline stage runs
    # once (round-12 subtree lint; the emb_centroid_classify
    # dim-explode discipline)
    x = persist(emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("p", "valf")).select(
        "vec_id", "label", (F.col("p") + 1).alias("dim"),
        F.col("valf").cast("double").alias("val")))

    def fold(key_col, val_expr):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(key_col.alias("i"), val_expr.alias("v")))),
                lambda u: u["v"]),
            F.lit(0.0), lambda acc, v: acc + v)

    cent = persist(x.groupBy("label", "dim")
                   .agg((fold(F.col("vec_id"), F.col("val"))
                         / F.count(F.lit(1))).alias("c")))
    dist = (x.join(F.broadcast(cent), ["label", "dim"])
            .groupBy("vec_id", "label")
            .agg(F.sqrt(fold(F.col("dim"),
                             (F.col("val") - F.col("c"))
                             * (F.col("val") - F.col("c")))).alias("d")))
    s = persist(dist.groupBy("label").agg(
        (fold(F.col("vec_id"), F.col("d")) / F.count(F.lit(1))).alias("si"),
        lcount("n")))
    ca = cent.select(F.col("label").alias("la"), "dim", F.col("c").alias("cva"))
    cb = cent.select(F.col("label").alias("lb"), "dim", F.col("c").alias("cvb"))
    cd = (ca.join(cb, "dim").filter(F.col("la") != F.col("lb"))
          .groupBy("la", "lb")
          .agg(F.sqrt(fold(F.col("dim"),
                           (F.col("cva") - F.col("cvb"))
                           * (F.col("cva") - F.col("cvb")))).alias("dij")))
    sa = s.select(F.col("label").alias("la"), F.col("si").alias("sia"),
                  F.col("n"))
    sb = s.select(F.col("label").alias("lb"), F.col("si").alias("sib"))
    j = sa.join(cd, "la").join(F.broadcast(sb), "lb")
    return (j.groupBy(F.col("la").alias("label"), "n",
                      F.round("sia", 6).alias("compactness"))
            .agg(F.round(F.max((F.col("sia") + F.col("sib"))
                               / F.col("dij")), 6).alias("db_index")))


# ---------------------------------------------------------------------------
# q_conversion_latency — days from a user's first event to their first
# purchase (the activation-funnel latency), as a day-bucket histogram
# with cumulative conversion share; never-converted users are the
# censored tail row (latency −1). Two min-aggs per user, one
# histogram, one tiny cumsum window.
# ---------------------------------------------------------------------------
_CONV_LATENCY_ORACLE = """
WITH f AS (
  SELECT user_id,
         CAST(min(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS fd
  FROM events GROUP BY user_id
),
p AS (
  SELECT user_id,
         CAST(min(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS pd
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
lat AS (
  SELECT f.user_id,
         CASE WHEN p.pd IS NULL THEN -1 ELSE p.pd - f.fd END AS latency_days
  FROM f LEFT JOIN p USING (user_id)
),
h AS (
  SELECT latency_days, CAST(count(*) AS BIGINT) AS n_users
  FROM lat GROUP BY latency_days
)
SELECT latency_days, n_users,
       round(CAST(CAST(sum(CASE WHEN latency_days >= 0 THEN n_users
                                ELSE 0 END) OVER (ORDER BY latency_days)
                       AS BIGINT) AS DOUBLE)
             / CAST(CAST(sum(n_users) OVER () AS BIGINT) AS DOUBLE), 6)
         AS cum_converted_share
FROM h
"""


@register("q_conversion_latency", oracle=_CONV_LATENCY_ORACLE)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                  / F.lit(86400000000)).cast("bigint")
    f = ev.groupBy("user_id").agg(F.min(day).alias("fd"))
    p = (ev.filter(F.col("event_type") == "purchase")
         .groupBy("user_id").agg(F.min(day).alias("pd")))
    lat = f.join(p, "user_id", "left").select(
        F.when(F.col("pd").isNull(), F.lit(-1))
        .otherwise(F.col("pd") - F.col("fd")).cast("bigint")
        .alias("latency_days"))
    h = lat.groupBy("latency_days").agg(lcount("n_users"))
    wc = W.orderBy("latency_days").rowsBetween(W.unboundedPreceding, 0)
    wt = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return h.select(
        "latency_days", "n_users",
        F.round(F.sum(F.when(F.col("latency_days") >= 0, F.col("n_users"))
                      .otherwise(0)).over(wc).cast("bigint").cast("double")
                / F.sum("n_users").over(wt).cast("bigint").cast("double"), 6)
        .alias("cum_converted_share"))


# ---------------------------------------------------------------------------
# q_holiday_lift — traffic lift on fixed-date holidays (Jan 1, Jul 4,
# Dec 25) vs the same-weekday baseline: per holiday date, its count,
# the mean count over all NON-holiday days sharing its weekday (exact
# ratio of integer sums), and the lift. The holiday list is a literal
# 3-row lattice — the q_cms_topk plan shape — joined against the day
# grid.
# ---------------------------------------------------------------------------
_HOLIDAY_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(month(ts) AS BIGINT) AS mm, CAST(day(ts) AS BIGINT) AS dd,
         CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2, 3, 4, 5
),
hol AS (
  SELECT * FROM (VALUES (1, 1, 'new_year'), (7, 4, 'july4'),
                        (12, 25, 'christmas')) AS t(hm, hd, holiday)
),
tagged AS (
  SELECT d.*, h.holiday
  FROM daily d LEFT JOIN hol h ON d.mm = h.hm AND d.dd = h.hd
),
base AS (
  SELECT dow, CAST(sum(x) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS nd
  FROM tagged WHERE holiday IS NULL GROUP BY dow
)
SELECT t.day, t.holiday, t.x,
       round(CAST(b.sx AS DOUBLE) / CAST(b.nd AS DOUBLE), 6)
         AS weekday_baseline,
       round(CAST(t.x AS DOUBLE)
             / (CAST(b.sx AS DOUBLE) / CAST(b.nd AS DOUBLE)), 6) AS lift
FROM tagged t JOIN base b ON b.dow = t.dow
WHERE t.holiday IS NOT NULL
"""


@register("q_holiday_lift", oracle=_HOLIDAY_ORACLE)
def q_holiday_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.month("ts").cast("bigint").alias("mm"),
        F.dayofmonth("ts").cast("bigint").alias("dd"),
        (F.weekday("ts") + 1).cast("bigint").alias("dow"))
        .agg(lcount("x")))
    hol = local_frame(
        [(1, 1, "new_year"), (7, 4, "july4"), (12, 25, "christmas")],
        "hm long, hd long, holiday string")
    tagged = daily.join(
        F.broadcast(hol),
        (F.col("mm") == F.col("hm")) & (F.col("dd") == F.col("hd")), "left")
    base = (tagged.filter(F.col("holiday").isNull())
            .groupBy("dow")
            .agg(F.sum("x").cast("bigint").alias("sx"), lcount("nd")))
    j = tagged.filter(F.col("holiday").isNotNull()) \
        .join(F.broadcast(base), "dow")
    baseline = F.col("sx").cast("double") / F.col("nd").cast("double")
    return j.select(
        "day", "holiday", "x",
        F.round(baseline, 6).alias("weekday_baseline"),
        F.round(F.col("x").cast("double") / baseline, 6).alias("lift"))


# ---------------------------------------------------------------------------
# s_risk_scorecard — the analyst-facing AML rollup: one row per
# flagged user fusing three independent screens (structuring hits ×2
# weight, duplicate-payment pairs, round-amount bias z>2), with a
# low/medium/high band. Pure composition: the Spark side REUSES the
# registered s_aml_structuring / s_duplicate_payments /
# s_round_amount_bias builders; the oracle nests their oracle SQL as
# CTEs — so the scorecard stays correct by construction whenever the
# underlying screens are.
# ---------------------------------------------------------------------------
def _risk_scorecard_oracle() -> str:
    from sanctions_data_pipeline_spark.plans.training_data3 import (
        _AML_ORACLE)

    return f"""
WITH aml AS ({_AML_ORACLE}),
dup AS ({_DUP_PAY_ORACLE}),
rb AS ({_ROUND_BIAS_ORACLE}),
sc AS (
  SELECT rb.user_id,
         CAST(coalesce(a.n, 0) AS BIGINT) AS n_structuring,
         CAST(coalesce(d.n, 0) AS BIGINT) AS n_dup_payments,
         CASE WHEN rb.z_score > 2.0 THEN 1 ELSE 0 END AS round_bias_flag
  FROM rb
  LEFT JOIN (SELECT user_id, count(*) AS n FROM aml GROUP BY user_id) a
    USING (user_id)
  LEFT JOIN (SELECT user_id, count(*) AS n FROM dup GROUP BY user_id) d
    USING (user_id)
)
SELECT user_id, n_structuring, n_dup_payments, round_bias_flag,
       CAST(2 * n_structuring + n_dup_payments + round_bias_flag AS BIGINT)
         AS risk_score,
       CASE WHEN 2 * n_structuring + n_dup_payments + round_bias_flag >= 3
            THEN 'high'
            WHEN 2 * n_structuring + n_dup_payments + round_bias_flag >= 1
            THEN 'medium' ELSE 'low' END AS band
FROM sc
WHERE 2 * n_structuring + n_dup_payments + round_bias_flag > 0
"""


@register("s_risk_scorecard", oracle=_risk_scorecard_oracle())
def s_risk_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.registry import REGISTRY

    aml = (REGISTRY["s_aml_structuring"].build(spark, sf_dir)
           .groupBy("user_id").agg(lcount("n_structuring")))
    dup = (REGISTRY["s_duplicate_payments"].build(spark, sf_dir)
           .groupBy("user_id").agg(lcount("n_dup_payments")))
    rb = REGISTRY["s_round_amount_bias"].build(spark, sf_dir).select(
        "user_id",
        F.when(F.col("z_score") > 2.0, 1).otherwise(0)
        .alias("round_bias_flag"))
    sc = (rb.join(aml, "user_id", "left").join(dup, "user_id", "left")
          .select("user_id",
                  F.coalesce("n_structuring", F.lit(0)).cast("bigint")
                  .alias("n_structuring"),
                  F.coalesce("n_dup_payments", F.lit(0)).cast("bigint")
                  .alias("n_dup_payments"),
                  "round_bias_flag"))
    score = (2 * F.col("n_structuring") + F.col("n_dup_payments")
             + F.col("round_bias_flag")).cast("bigint")
    return (sc.withColumn("risk_score", score)
            .withColumn("band",
                        F.when(F.col("risk_score") >= 3, "high")
                        .when(F.col("risk_score") >= 1, "medium")
                        .otherwise("low"))
            .filter(F.col("risk_score") > 0))


# ---------------------------------------------------------------------------
# q_trade_balance — per-nation trade balance: revenue earned by the
# nation's suppliers vs spend by the nation's customers, and the net.
# Two independent star joins (lineitem⋈supplier⋈nation and
# orders⋈customer⋈nation — both dimension sides broadcast) meeting in
# one outer join on the 25-row nation grid. Everything x4-exact.
# ---------------------------------------------------------------------------
_TRADE_ORACLE = """
WITH sup AS (
  SELECT n.n_name AS nation,
         CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 4)
              * 10000 AS BIGINT) AS earn4
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
cust AS (
  SELECT n.n_name AS nation,
         CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 4)
              * 10000 AS BIGINT) AS spend4
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT coalesce(sup.nation, cust.nation) AS nation,
       CAST(coalesce(earn4, 0) AS BIGINT) / 10000.0 AS supplier_revenue,
       CAST(coalesce(spend4, 0) AS BIGINT) / 10000.0 AS customer_spend,
       CAST(coalesce(earn4, 0) - coalesce(spend4, 0) AS BIGINT) / 10000.0
         AS balance
FROM sup FULL OUTER JOIN cust ON sup.nation = cust.nation
"""


@register("q_trade_balance", oracle=_TRADE_ORACLE)
def q_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    earn = (li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
            .join(F.broadcast(nat), F.col("s_nationkey") == nat["n_nationkey"])
            .groupBy(F.col("n_name").alias("nation"))
            .agg((F.round(F.sum(F.col("l_extendedprice")
                                .cast("decimal(18,4)")), 4) * 10000)
                 .cast("bigint").alias("earn4")))
    spend = (orders.join(F.broadcast(cust),
                         orders["o_custkey"] == cust["c_custkey"])
             .join(F.broadcast(nat),
                   F.col("c_nationkey") == nat["n_nationkey"])
             .groupBy(F.col("n_name").alias("nation"))
             .agg((F.round(F.sum(F.col("o_totalprice")
                                 .cast("decimal(18,4)")), 4) * 10000)
                  .cast("bigint").alias("spend4")))
    j = earn.join(spend, "nation", "full_outer")
    e4 = F.coalesce("earn4", F.lit(0)).cast("bigint")
    s4 = F.coalesce("spend4", F.lit(0)).cast("bigint")
    return j.select(
        "nation",
        (e4 / F.lit(10000.0)).alias("supplier_revenue"),
        (s4 / F.lit(10000.0)).alias("customer_spend"),
        ((e4 - s4) / F.lit(10000.0)).alias("balance"))


# ---------------------------------------------------------------------------
# q_sla_attainment — shipping-SLA attainment per order priority: the
# share of line items shipped within 30/60/90 days of the order date
# (the service-level table ops reviews read weekly). One equi-join on
# orderkey, one hash agg of exact conditional counts, three divisions.
# ---------------------------------------------------------------------------
_SLA_ORACLE = """
WITH j AS (
  SELECT o.o_orderpriority AS priority,
         CAST(date_diff('day', date_trunc('day', o.o_orderdate),
                        date_trunc('day', l.l_shipdate)) AS BIGINT) AS nd
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CASE WHEN nd <= 30 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS DOUBLE), 6) AS within_30d,
       round(CAST(sum(CASE WHEN nd <= 60 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS DOUBLE), 6) AS within_60d,
       round(CAST(sum(CASE WHEN nd <= 90 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS DOUBLE), 6) AS within_90d
FROM j GROUP BY priority
"""


@register("q_sla_attainment", oracle=_SLA_ORACLE)
def q_sla_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = (orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
         .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
         .select(F.col("o_orderpriority").alias("priority"),
                 F.datediff(F.to_date("l_shipdate"),
                            F.to_date("o_orderdate")).cast("bigint")
                 .alias("nd")))
    def share(days, alias):
        return F.round(
            F.sum(F.when(F.col("nd") <= days, 1).otherwise(0))
            .cast("bigint") / F.count(F.lit(1)).cast("double"), 6
        ).alias(alias)
    return j.groupBy("priority").agg(
        lcount("n_lines"),
        share(30, "within_30d"), share(60, "within_60d"),
        share(90, "within_90d"))


# ---------------------------------------------------------------------------
# q_odds_ratio — epidemiology-style 2×2 effect table for "urgent
# priority → return": relative risk, odds ratio, and the 95% CI of
# ln(OR) (Woolf method) — the effect-size readout q_chi_square's
# p-value doesn't give. Exposure = the line's order is 1-URGENT;
# outcome = l_returnflag = 'R'. One join + one agg of four exact
# cells; everything after is a closed-form double tree.
# ---------------------------------------------------------------------------
_ODDS_ORACLE = """
WITH j AS (
  SELECT CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS exp,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS outc
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
c AS (
  SELECT CAST(sum(exp * outc) AS BIGINT) AS a,
         CAST(sum(exp * (1 - outc)) AS BIGINT) AS b,
         CAST(sum((1 - exp) * outc) AS BIGINT) AS c,
         CAST(sum((1 - exp) * (1 - outc)) AS BIGINT) AS d
  FROM j
)
SELECT a, b, c, d,
       round((CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)),
             6) AS relative_risk,
       round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
             / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 6) AS odds_ratio,
       round(exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                    / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                 - 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6)
         AS or_ci_low,
       round(exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                    / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                 + 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6)
         AS or_ci_high
FROM c WHERE a > 0 AND b > 0 AND c > 0 AND d > 0
"""


@register("q_odds_ratio", oracle=_ODDS_ORACLE)
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = (orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
         .select(F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                 .otherwise(0).alias("exp"),
                 F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                 .alias("outc")))
    c = j.agg(
        F.sum(F.col("exp") * F.col("outc")).cast("bigint").alias("a"),
        F.sum(F.col("exp") * (1 - F.col("outc"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("exp")) * F.col("outc")).cast("bigint").alias("c"),
        F.sum((1 - F.col("exp")) * (1 - F.col("outc"))).cast("bigint")
        .alias("d"))
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    cc, d = F.col("c").cast("double"), F.col("d").cast("double")
    orr = a * d / (b * cc)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / cc + 1.0 / d)
    return (c.filter((F.col("a") > 0) & (F.col("b") > 0)
                     & (F.col("c") > 0) & (F.col("d") > 0))
            .select("a", "b", "c", "d",
                    F.round((a / (a + b)) / (cc / (cc + d)), 6)
                    .alias("relative_risk"),
                    F.round(orr, 6).alias("odds_ratio"),
                    F.round(F.exp(F.log(orr) - F.lit(1.96) * se), 6)
                    .alias("or_ci_low"),
                    F.round(F.exp(F.log(orr) + F.lit(1.96) * se), 6)
                    .alias("or_ci_high")))


# ---------------------------------------------------------------------------
# dp_pack_efficiency — packing-efficiency audit over dp_pack's
# contiguous bins (training_data.py:476): per language the bin count,
# token fill, and fill rate vs the 2048-token budget, plus the waste
# share — the number that says whether the packing strategy is
# actually saving accelerator steps. Pure composition of the
# registered dp_pack builder; the oracle nests its SQL.
# ---------------------------------------------------------------------------
def _pack_eff_oracle() -> str:
    # analytics2 loads after training_data in registry._PLAN_MODULES,
    # so dp_pack is already registered when this runs at import time
    from sanctions_data_pipeline_spark.plans.registry import REGISTRY

    return f"""
WITH pack AS ({REGISTRY['dp_pack'].oracle}),
e AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_bins,
         CAST(sum(tokens) AS BIGINT) AS total_tokens,
         CAST(sum(n_docs) AS BIGINT) AS n_docs
  FROM pack GROUP BY lang
)
SELECT lang, n_bins, n_docs, total_tokens,
       round(CAST(total_tokens AS DOUBLE) / (n_bins * 2048.0), 6)
         AS fill_rate,
       round(1.0 - CAST(total_tokens AS DOUBLE) / (n_bins * 2048.0), 6)
         AS waste_share
FROM e
"""


@register("dp_pack_efficiency", oracle=_pack_eff_oracle())
def dp_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.registry import REGISTRY

    pack = REGISTRY["dp_pack"].build(spark, sf_dir)
    e = pack.groupBy("lang").agg(
        lcount("n_bins"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("total_tokens"))
    fill = (F.col("total_tokens").cast("double")
            / (F.col("n_bins") * F.lit(2048.0)))
    return e.select(
        "lang", "n_bins", "n_docs", "total_tokens",
        F.round(fill, 6).alias("fill_rate"),
        F.round(F.lit(1.0) - fill, 6).alias("waste_share"))


# ---------------------------------------------------------------------------
# tt_rolling_origin — rolling-origin (expanding-window) time-series CV
# folds: cutoffs at 20/40/60/80% of the day span; fold k trains on
# everything before cutoff_k and tests on [cutoff_k, cutoff_{k+1}).
# Emits per fold the event/user counts and the user overlap between
# train and test (the quantity that decides whether per-user features
# leak). The fold lattice is 4 literal rows; users aggregate once.
# ---------------------------------------------------------------------------
_ROLLING_ORIGIN_ORACLE = """
WITH b AS (
  SELECT CAST(min(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS lo,
         CAST(max(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) + 1 AS hi
  FROM events
),
folds AS (
  SELECT k,
         lo + CAST(floor((hi - lo) * k * 0.2) AS BIGINT) AS c_lo,
         lo + CAST(floor((hi - lo) * (k + 1) * 0.2) AS BIGINT) AS c_hi
  FROM (SELECT unnest(generate_series(1, 4)) AS k) CROSS JOIN b
),
ev AS (
  SELECT user_id,
         CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS d
  FROM events
),
tagged AS (
  SELECT f.k, ev.user_id,
         CASE WHEN ev.d < f.c_lo THEN 1 ELSE 0 END AS in_train,
         CASE WHEN ev.d >= f.c_lo AND ev.d < f.c_hi THEN 1 ELSE 0 END
           AS in_test
  FROM folds f JOIN ev ON true
),
u AS (
  SELECT k, user_id,
         CAST(max(in_train) AS BIGINT) AS tr,
         CAST(max(in_test) AS BIGINT) AS te,
         CAST(sum(in_train) AS BIGINT) AS n_tr,
         CAST(sum(in_test) AS BIGINT) AS n_te
  FROM tagged GROUP BY k, user_id
)
SELECT k AS fold,
       CAST(sum(n_tr) AS BIGINT) AS n_train_events,
       CAST(sum(n_te) AS BIGINT) AS n_test_events,
       CAST(sum(tr) AS BIGINT) AS n_train_users,
       CAST(sum(te) AS BIGINT) AS n_test_users,
       CAST(sum(tr * te) AS BIGINT) AS n_overlap_users
FROM u GROUP BY k
"""


@register("tt_rolling_origin", oracle=_ROLLING_ORIGIN_ORACLE)
def tt_rolling_origin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                  / F.lit(86400000000)).cast("bigint")
    b = ev.agg(F.min(day).alias("lo"), (F.max(day) + 1).alias("hi"))
    ks = spark.range(1, 5).select(F.col("id").cast("bigint").alias("k"))
    folds = F.broadcast(ks).crossJoin(F.broadcast(b)).select(
        "k",
        (F.col("lo") + F.floor((F.col("hi") - F.col("lo"))
                               * F.col("k") * 0.2).cast("bigint"))
        .alias("c_lo"),
        (F.col("lo") + F.floor((F.col("hi") - F.col("lo"))
                               * (F.col("k") + 1) * 0.2).cast("bigint"))
        .alias("c_hi"))
    e = ev.select("user_id", day.alias("d"))
    tagged = F.broadcast(folds).join(e, F.lit(True)).select(
        "k", "user_id",
        F.when(F.col("d") < F.col("c_lo"), 1).otherwise(0).alias("in_train"),
        F.when((F.col("d") >= F.col("c_lo")) & (F.col("d") < F.col("c_hi")),
               1).otherwise(0).alias("in_test"))
    u = tagged.groupBy("k", "user_id").agg(
        F.max("in_train").cast("bigint").alias("tr"),
        F.max("in_test").cast("bigint").alias("te"),
        F.sum("in_train").cast("bigint").alias("n_tr"),
        F.sum("in_test").cast("bigint").alias("n_te"))
    return u.groupBy(F.col("k").alias("fold")).agg(
        F.sum("n_tr").cast("bigint").alias("n_train_events"),
        F.sum("n_te").cast("bigint").alias("n_test_events"),
        F.sum("tr").cast("bigint").alias("n_train_users"),
        F.sum("te").cast("bigint").alias("n_test_users"),
        F.sum(F.col("tr") * F.col("te")).cast("bigint")
        .alias("n_overlap_users"))


# ---------------------------------------------------------------------------
# gr_rich_club — rich-club coefficient of the co-purchase graph: for
# each degree threshold k, the density among nodes of degree > k
# (φ(k) = 2·E_k / (N_k·(N_k−1))) — do the hubs preferentially connect
# to each other? (The hub-structure view next to gr_assortativity's
# single correlation.) Same bounded edge set as gr_triangle_count;
# the threshold lattice is 10 literal rows; all counts exact.
# ---------------------------------------------------------------------------
_RICH_CLUB_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_orderkey < 2000
), e0 AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
  GROUP BY node
),
ks AS (SELECT unnest(generate_series(1, 10)) AS k),
nk AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_k
  FROM ks JOIN deg ON deg.d > ks.k GROUP BY k
),
ek AS (
  SELECT k, CAST(count(*) AS BIGINT) AS e_k
  FROM ks JOIN e0 ON true
  JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v
  WHERE du.d > ks.k AND dv.d > ks.k
  GROUP BY k
)
SELECT nk.k, n_k, CAST(coalesce(e_k, 0) AS BIGINT) AS e_k,
       CASE WHEN n_k > 1
            THEN round(2.0 * CAST(coalesce(e_k, 0) AS DOUBLE)
                       / (CAST(n_k AS DOUBLE) * (CAST(n_k AS DOUBLE) - 1.0)),
                       6)
       END AS phi
FROM nk LEFT JOIN ek ON nk.k = ek.k
WHERE n_k > 0
"""


@register("gr_rich_club", oracle=_RICH_CLUB_ORACLE)
def gr_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 2000)
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct())
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    # e0 fed three consumers (two degree union branches + the edged
    # join) and deg three more (nk, du, dv): persist both narrow
    # frames so the wedge pipeline and the degree census run once
    # (round-12 subtree lint); the degree endpoints emit with one
    # explode instead of a doubled union subtree.
    e0 = persist(a.join(b, "o").filter(F.col("u") < F.col("v"))
                 .select("u", "v").distinct())
    deg = persist(e0.select(F.explode(F.array("u", "v")).alias("node"))
                  .groupBy("node").agg(lcount("d")))
    ks = spark.range(1, 11).select(F.col("id").cast("bigint").alias("k"))
    nk = (F.broadcast(ks).join(deg, deg["d"] > F.col("k"))
          .groupBy("k").agg(lcount("n_k")))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    edged = e0.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    ek = (F.broadcast(ks)
          .join(edged, (F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
          .groupBy("k").agg(lcount("e_k")))
    j = nk.join(ek, "k", "left").filter(F.col("n_k") > 0)
    nkd = F.col("n_k").cast("double")
    return j.select(
        "k", "n_k",
        F.coalesce("e_k", F.lit(0)).cast("bigint").alias("e_k"),
        F.when(F.col("n_k") > 1,
               F.round(F.lit(2.0)
                       * F.coalesce("e_k", F.lit(0)).cast("double")
                       / (nkd * (nkd - F.lit(1.0))), 6)).alias("phi"))


# ---------------------------------------------------------------------------
# q_forecast_backtest — holdout backtest of three forecasters on the
# daily count series (train = first 80% of the day span, test = rest):
# naive (last train value), seasonal-naive (train weekday mean), and
# the OLS trend (q_ols_trend's closed form fit on train only). One row
# per model with MAE and MAPE — the "which baseline do I have to
# beat" table that grounds every forecasting claim. Train moments are
# exact integers; per-day errors fold in day order.
# ---------------------------------------------------------------------------
_BACKTEST_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
b AS (
  SELECT CAST(min(i) AS BIGINT) AS lo,
         CAST(min(i) + floor((max(i) + 1 - min(i)) * 0.8) AS BIGINT)
           AS cutoff
  FROM daily
),
train AS (SELECT d.* FROM daily d CROSS JOIN b WHERE d.i < cutoff),
test AS (SELECT d.* FROM daily d CROSS JOIN b WHERE d.i >= cutoff),
naive AS (
  SELECT x AS pred FROM train ORDER BY i DESC LIMIT 1
),
snaive AS (
  SELECT dow, CAST(sum(x) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS n
  FROM train GROUP BY dow
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(i - lo) AS BIGINT) AS si,
         CAST(sum((i - lo) * (i - lo)) AS BIGINT) AS sii,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum((i - lo) * x) AS BIGINT) AS six
  FROM train CROSS JOIN b
),
preds AS (
  SELECT 'naive' AS model, t.i, t.x, CAST(naive.pred AS DOUBLE) AS pred
  FROM test t CROSS JOIN naive
  UNION ALL
  SELECT 'seasonal_naive', t.i, t.x,
         CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE)
  FROM test t JOIN snaive s ON s.dow = t.dow
  UNION ALL
  SELECT 'ols_trend', t.i, t.x,
         ((CAST(m AS DOUBLE) * CAST(six AS DOUBLE)
           - CAST(si AS DOUBLE) * CAST(sx AS DOUBLE))
          / (CAST(m AS DOUBLE) * CAST(sii AS DOUBLE)
             - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)))
           * CAST(t.i - b.lo AS DOUBLE)
         + (CAST(sx AS DOUBLE)
            - ((CAST(m AS DOUBLE) * CAST(six AS DOUBLE)
                - CAST(si AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(m AS DOUBLE) * CAST(sii AS DOUBLE)
                  - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)))
              * CAST(si AS DOUBLE)) / CAST(m AS DOUBLE)
  FROM test t CROSS JOIN mom CROSS JOIN b
)
SELECT model, CAST(count(*) AS BIGINT) AS n_test_days,
       round(list_aggregate(list_transform(
         list_sort(list({'i': i, 'v': abs(CAST(x AS DOUBLE) - pred)})),
         s -> s.v), 'sum') / count(*), 6) AS mae,
       round(list_aggregate(list_transform(
         list_sort(list({'i': i,
                         'v': abs(CAST(x AS DOUBLE) - pred)
                              / CAST(x AS DOUBLE)})),
         s -> s.v), 'sum') / count(*), 6) AS mape
FROM preds GROUP BY model
"""


@register("q_forecast_backtest", oracle=_BACKTEST_ORACLE)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # daily feeds SEVEN consumers (the cutoff agg, then train x3 —
    # naive/snaive/mom — and test x3 prediction probes): persist the
    # bounded (day, dow) census so the events scan + agg runs once
    # (round-12 subtree lint flagged this builder x4)
    daily = persist(ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        (F.weekday("ts") + 1).cast("bigint").alias("dow"))
        .agg(lcount("x")))
    b = daily.agg(
        F.min("i").cast("bigint").alias("lo"),
        (F.min("i") + F.floor((F.max("i") + 1 - F.min("i")) * 0.8))
        .cast("bigint").alias("cutoff"))
    d = daily.crossJoin(F.broadcast(b))
    train = d.filter(F.col("i") < F.col("cutoff"))
    test = d.filter(F.col("i") >= F.col("cutoff"))
    naive = (train.orderBy(F.desc("i")).limit(1)
             .select(F.col("x").cast("double").alias("pred")))
    snaive = train.groupBy("dow").agg(
        F.sum("x").cast("bigint").alias("sx_d"), lcount("n_d"))
    mom = train.agg(
        lcount("m"),
        F.sum(F.col("i") - F.col("lo")).cast("bigint").alias("si"),
        F.sum((F.col("i") - F.col("lo")) * (F.col("i") - F.col("lo")))
        .cast("bigint").alias("sii"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum((F.col("i") - F.col("lo")) * F.col("x")).cast("bigint")
        .alias("six"))
    p_naive = test.crossJoin(F.broadcast(naive)).select(
        F.lit("naive").alias("model"), "i", "x", F.col("pred"))
    p_snaive = test.join(F.broadcast(snaive), "dow").select(
        F.lit("seasonal_naive").alias("model"), "i", "x",
        (F.col("sx_d").cast("double") / F.col("n_d").cast("double"))
        .alias("pred"))
    m_d = F.col("m").cast("double")
    si_d, sii_d = F.col("si").cast("double"), F.col("sii").cast("double")
    sx_d, six_d = F.col("sx").cast("double"), F.col("six").cast("double")
    slope = (m_d * six_d - si_d * sx_d) / (m_d * sii_d - si_d * si_d)
    intercept = (sx_d - slope * si_d) / m_d
    p_ols = test.crossJoin(F.broadcast(mom)).select(
        F.lit("ols_trend").alias("model"), "i", "x",
        (slope * (F.col("i") - F.col("lo")).cast("double") + intercept)
        .alias("pred"))
    preds = p_naive.unionByName(p_snaive).unionByName(p_ols)
    err = F.abs(F.col("x").cast("double") - F.col("pred"))

    def fold(val_expr):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("i").alias("i"), val_expr.alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v)

    return preds.groupBy("model").agg(
        lcount("n_test_days"),
        F.round(fold(err) / F.count(F.lit(1)), 6).alias("mae"),
        F.round(fold(err / F.col("x").cast("double"))
                / F.count(F.lit(1)), 6).alias("mape"))


# ---------------------------------------------------------------------------
# q_bootstrap_se — DETERMINISTIC bootstrap standard error of the mean
# daily event count: B=100 resamples whose indices come from
# md5('bs:'||b||':'||j) (the mix_weighted_sample hash-uniform idiom,
# training_data.py:2207) instead of rand(), so the estimate is
# bit-stable across engines, partitionings, and reruns. The resample
# lattice is B×days rows — bounded by the calendar — joined to the
# ranked day grid; per-replicate means fold in draw order, the SE
# folds replicate means in b order.
# ---------------------------------------------------------------------------
_BOOTSTRAP_B = 100

_BOOTSTRAP_ORACLE = f"""
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
grid AS (
  SELECT x, row_number() OVER (ORDER BY i) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM daily
),
draws AS (
  SELECT b.b, j.j,
         CAST(('0x' || substr(md5('bs:' || CAST(b.b AS VARCHAR) || ':'
                                  || CAST(j.j AS VARCHAR)), 1, 13))
              AS BIGINT) AS h
  FROM (SELECT unnest(generate_series(1, {_BOOTSTRAP_B})) AS b) b
  JOIN (SELECT unnest(generate_series(1,
          (SELECT CAST(max(m) AS INTEGER) FROM grid))) AS j) j ON true
),
sampled AS (
  SELECT d.b, d.j, g.x
  FROM draws d JOIN grid g ON g.rk = (d.h % g.m) + 1
),
rep AS (
  SELECT b,
         list_aggregate(list_transform(
           list_sort(list({{'i': j, 'v': CAST(x AS DOUBLE)}})), s -> s.v),
           'sum') / count(*) AS mean_b
  FROM sampled GROUP BY b
),
grand AS (
  SELECT CAST(count(*) AS BIGINT) AS n_reps,
         list_aggregate(list_transform(
           list_sort(list({{'i': b, 'v': mean_b}})), s -> s.v), 'sum')
           / count(*) AS boot_mean,
         list_sort(list({{'i': b, 'v': mean_b}})) AS means
  FROM rep
)
SELECT n_reps,
       (SELECT CAST(max(m) AS BIGINT) FROM grid) AS n_days,
       round(boot_mean, 6) AS boot_mean,
       round(sqrt(list_aggregate(list_transform(means,
               s -> (s.v - boot_mean) * (s.v - boot_mean)), 'sum')
             / (n_reps - 1)), 6) AS boot_se
FROM grand
"""


@register("q_bootstrap_se", oracle=_BOOTSTRAP_ORACLE)
def q_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                                / F.lit(86400000000)).cast("bigint")
                        .alias("i"))
             .agg(lcount("x")))
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    # grid feeds the m probe AND the resample join: persist the bounded
    # ranked day series so the events scan + agg + rank window runs
    # once (round-12 subtree lint)
    grid = persist(daily.select(
        "x", F.row_number().over(W.orderBy("i")).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("m")))
    m_row = persist(grid.agg(F.max("m").cast("int").alias("m")))
    bs = spark.range(1, _BOOTSTRAP_B + 1).select(
        F.col("id").cast("bigint").alias("b"))
    js = (F.broadcast(m_row).crossJoin(spark.range(1, 10_000).select(
        F.col("id").cast("bigint").alias("j")))
        .filter(F.col("j") <= F.col("m")).select("j"))
    draws = F.broadcast(bs).crossJoin(F.broadcast(js)).select(
        "b", "j",
        F.conv(F.substring(F.md5(F.concat(
            F.lit("bs:"), F.col("b").cast("string"), F.lit(":"),
            F.col("j").cast("string"))), 1, 13), 16, 10).cast("bigint")
        .alias("h"))
    sampled = draws.join(grid, grid["rk"] == (F.col("h") % grid["m"]) + 1)
    rep = sampled.groupBy("b").agg(
        (F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("j").alias("i"),
                         F.col("x").cast("double").alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v)
         / F.count(F.lit(1))).alias("mean_b"))
    grand = rep.agg(
        lcount("n_reps"),
        (F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("b").alias("i"),
                         F.col("mean_b").alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v)
         / F.count(F.lit(1))).alias("boot_mean"),
        F.array_sort(F.collect_list(
            F.struct(F.col("b").alias("i"), F.col("mean_b").alias("v"))))
        .alias("means"))
    j = grand.crossJoin(F.broadcast(m_row))
    dev = F.aggregate(
        F.transform(F.col("means"),
                    lambda s: (s["v"] - F.col("boot_mean"))
                    * (s["v"] - F.col("boot_mean"))),
        F.lit(0.0), lambda acc, v: acc + v)
    return j.select(
        "n_reps", F.col("m").cast("bigint").alias("n_days"),
        F.round("boot_mean", 6).alias("boot_mean"),
        F.round(F.sqrt(dev / (F.col("n_reps") - 1)), 6).alias("boot_se"))


# ---------------------------------------------------------------------------
# gr_temporal_density — co-purchase graph evolution by order month:
# nodes, edges, and density 2E/(N(N−1)) of each month's graph (does
# the product network densify or fragment over time — the temporal
# twin of the static gr_* suite). Same bounded orderkey domain as
# pr_item_cosine; months partition the edge build, so each month's
# quadratic term stays per-order bounded.
# ---------------------------------------------------------------------------
_TEMPORAL_DENSITY_ORACLE = """
WITH li AS (
  SELECT DISTINCT CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate)) - 1
                       AS BIGINT) AS mo,
         l.l_orderkey AS o, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_orderkey < 4000
),
e0 AS (
  SELECT DISTINCT a.mo, a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.mo = b.mo AND a.p < b.p
),
nodes AS (
  SELECT mo, CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
  FROM (SELECT mo, u AS node FROM e0 UNION ALL SELECT mo, v FROM e0)
  GROUP BY mo
),
edges AS (
  SELECT mo, CAST(count(*) AS BIGINT) AS n_edges FROM e0 GROUP BY mo
)
SELECT CAST(mo // 12 AS BIGINT) AS year, CAST(mo % 12 + 1 AS BIGINT) AS month,
       n_nodes, n_edges,
       CASE WHEN n_nodes > 1
            THEN round(2.0 * CAST(n_edges AS DOUBLE)
                       / (CAST(n_nodes AS DOUBLE)
                          * (CAST(n_nodes AS DOUBLE) - 1.0)), 6)
       END AS density
FROM nodes JOIN edges USING (mo)
"""


@register("gr_temporal_density", oracle=_TEMPORAL_DENSITY_ORACLE)
def gr_temporal_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 4000)
    orders = load_table(spark, sf_dir, "orders")
    base = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .select((F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
                    .cast("bigint").alias("mo"),
                    F.col("l_orderkey").alias("o"),
                    F.col("l_partkey").alias("p"))
            .distinct())
    a = base.select("mo", "o", F.col("p").alias("u"))
    b = base.select("mo", "o", F.col("p").alias("v"))
    # e0 fed three consumers (two node union branches + the edge
    # count): persist the narrow per-month edge list so the join +
    # distinct pipeline runs once, and emit both endpoints with one
    # explode instead of the doubled union subtree (round-12 lint)
    e0 = persist(a.join(b, ["mo", "o"]).filter(F.col("u") < F.col("v"))
                 .select("mo", "u", "v").distinct())
    nodes = (e0.select("mo", F.explode(F.array("u", "v")).alias("node"))
             .groupBy("mo")
             .agg(F.countDistinct("node").cast("bigint").alias("n_nodes")))
    edges = e0.groupBy("mo").agg(lcount("n_edges"))
    j = nodes.join(edges, "mo")
    n_d = F.col("n_nodes").cast("double")
    return j.select(
        F.floor(F.col("mo") / 12).cast("bigint").alias("year"),
        (F.col("mo") % 12 + 1).cast("bigint").alias("month"),
        "n_nodes", "n_edges",
        F.when(F.col("n_nodes") > 1,
               F.round(F.lit(2.0) * F.col("n_edges").cast("double")
                       / (n_d * (n_d - F.lit(1.0))), 6)).alias("density"))


# ---------------------------------------------------------------------------
# q_mantel_haenszel — stratified 2×2 analysis of "urgent → return"
# across order-year strata: per-year odds ratios plus the pooled
# Mantel-Haenszel OR (Σ aᵢdᵢ/nᵢ / Σ bᵢcᵢ/nᵢ — the confounder-adjusted
# pooling that a crude q_odds_ratio can Simpson's-paradox past).
# Year-stratum terms fold in year order; all cells exact.
# ---------------------------------------------------------------------------
_MH_ORACLE = """
WITH j AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS exp,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS outc
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
s AS (
  SELECT yr,
         CAST(sum(exp * outc) AS BIGINT) AS a,
         CAST(sum(exp * (1 - outc)) AS BIGINT) AS b,
         CAST(sum((1 - exp) * outc) AS BIGINT) AS c,
         CAST(sum((1 - exp) * (1 - outc)) AS BIGINT) AS d
  FROM j GROUP BY yr
),
t AS (
  SELECT yr, a, b, c, d, a + b + c + d AS n,
         CASE WHEN b > 0 AND c > 0
              THEN round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
         END AS stratum_or
  FROM s
),
pool AS (
  SELECT list_aggregate(list_transform(list_sort(
           list({'i': yr, 'v': CAST(a AS DOUBLE) * d / n})), u -> u.v),
           'sum') AS num,
         list_aggregate(list_transform(list_sort(
           list({'i': yr, 'v': CAST(b AS DOUBLE) * c / n})), u -> u.v),
           'sum') AS den
  FROM t
)
SELECT yr, a, b, c, d, stratum_or,
       round((SELECT num / den FROM pool), 6) AS mh_pooled_or
FROM t
"""


@register("q_mantel_haenszel", oracle=_MH_ORACLE)
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = (orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
         .select(F.year("o_orderdate").cast("bigint").alias("yr"),
                 F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                 .otherwise(0).alias("exp"),
                 F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                 .alias("outc")))
    s = j.groupBy("yr").agg(
        F.sum(F.col("exp") * F.col("outc")).cast("bigint").alias("a"),
        F.sum(F.col("exp") * (1 - F.col("outc"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("exp")) * F.col("outc")).cast("bigint").alias("c"),
        F.sum((1 - F.col("exp")) * (1 - F.col("outc"))).cast("bigint")
        .alias("d"))
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    t = persist(s.select(
        "yr", "a", "b", "c", "d",
        F.when((F.col("b") > 0) & (F.col("c") > 0),
               F.round(F.col("a").cast("double") * F.col("d")
                       / (F.col("b").cast("double") * F.col("c")), 6))
        .alias("stratum_or"),
        (F.col("a").cast("double") * F.col("d") / n).alias("num_t"),
        (F.col("b").cast("double") * F.col("c") / n).alias("den_t")))
    # ^ t feeds the pooled fold AND the final probe: persist the
    # bounded one-row-per-year table so the orders x lineitem join +
    # stratum agg runs once (round-12 subtree lint)

    def fold(val_col):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("yr").alias("i"), val_col.alias("v")))),
                lambda u: u["v"]),
            F.lit(0.0), lambda acc, v: acc + v)

    pool = t.agg((fold(F.col("num_t")) / fold(F.col("den_t")))
                 .alias("mh"))
    return (t.crossJoin(F.broadcast(pool))
            .select("yr", "a", "b", "c", "d", "stratum_or",
                    F.round("mh", 6).alias("mh_pooled_or")))


# ---------------------------------------------------------------------------
# emb_alignment_uniformity — Wang-Isola contrastive-representation
# metrics on L2-normalized embeddings over the deterministic
# successor-pair sample: alignment = mean ||z_a − z_b||² over
# SAME-label (positive) pairs; uniformity = ln of the mean of
# exp(−2·||z_a − z_b||²) over ALL pairs. The two numbers that say
# whether an embedding space is both semantically tight and
# non-collapsed. ||z_a − z_b||² = 2 − 2·cos on normalized vectors, so
# everything reuses the shared fold-dot; pair terms fold in id order.
# ---------------------------------------------------------------------------
_ALIGN_UNIFORM_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
p AS (
  SELECT a.vec_id AS i,
         CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS pos,
         2.0 - 2.0 * (list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v)))) AS d2
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         list_aggregate(list_transform(list_sort(
           list({'i': i, 'v': CASE WHEN pos = 1 THEN d2 ELSE 0.0 END})),
           u -> u.v), 'sum') AS sum_pos_d2,
         list_aggregate(list_transform(list_sort(
           list({'i': i, 'v': exp(-2.0 * d2)})), u -> u.v), 'sum')
           AS sum_exp
  FROM p
)
SELECT n_pairs, n_pos,
       round(sum_pos_d2 / n_pos, 6) AS alignment,
       round(ln(sum_exp / n_pairs), 6) AS uniformity
FROM s WHERE n_pos > 0
"""


@register("emb_alignment_uniformity", oracle=_ALIGN_UNIFORM_ORACLE)
def emb_alignment_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators.similarity import (
        as_double, dot)

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
    a = e.select(F.col("vec_id").alias("i"), F.col("label").alias("la"),
                 F.col("v").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("i"),
                 F.col("label").alias("lb"), F.col("v").alias("vb"))
    cos = (dot(F.col("va"), F.col("vb"))
           / (F.sqrt(dot(F.col("va"), F.col("va")))
              * F.sqrt(dot(F.col("vb"), F.col("vb")))))
    p = a.join(b, "i").select(
        "i",
        F.when(F.col("la") == F.col("lb"), 1).otherwise(0).alias("pos"),
        (F.lit(2.0) - F.lit(2.0) * cos).alias("d2"))

    def fold(val_col):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("i").alias("i"), val_col.alias("v")))),
                lambda u: u["v"]),
            F.lit(0.0), lambda acc, v: acc + v)

    s = p.agg(
        lcount("n_pairs"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        fold(F.when(F.col("pos") == 1, F.col("d2")).otherwise(F.lit(0.0)))
        .alias("sum_pos_d2"),
        fold(F.exp(F.lit(-2.0) * F.col("d2"))).alias("sum_exp"))
    return (s.filter(F.col("n_pos") > 0)
            .select("n_pairs", "n_pos",
                    F.round(F.col("sum_pos_d2") / F.col("n_pos"), 6)
                    .alias("alignment"),
                    F.round(F.log(F.col("sum_exp") / F.col("n_pairs")), 6)
                    .alias("uniformity")))


# ---------------------------------------------------------------------------
# io_jsonl_quarantine — malformed-record quarantine on the JSONL
# source path: write the documents table as JSONL, plant 7
# deterministic corrupt lines in an extra shard, read PERMISSIVE with
# columnNameOfCorruptRecord, and report good/corrupt counts plus the
# per-doc identity of the survivors. The "bad data doesn't kill the
# job, and is accounted for" contract every lake ingest needs (the
# CSV twin is io_csv_roundtrip's quarantining reader).
# ---------------------------------------------------------------------------
_N_CORRUPT = 7

_JSONL_QUARANTINE_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_good,
       CAST({_N_CORRUPT} AS BIGINT) AS n_corrupt,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
       CAST(sum(length(text)) AS BIGINT) AS n_chars_total
FROM documents
"""


@register("io_jsonl_quarantine", oracle=_JSONL_QUARANTINE_ORACLE)
def io_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text", "lang", "source")
    path = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        os.path.basename(sf_dir.rstrip("/")), "docs_jsonl_q")
    docs.write.mode("overwrite").json(path)
    # plant deterministic malformed lines in their own shard
    bad = os.path.join(path, "part-corrupt.json")
    with open(bad, "w", encoding="utf-8") as fh:
        for k in range(_N_CORRUPT):
            fh.write('{"doc_id": %d, "text": "unterminated\n' % (10**9 + k))
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string,"
        " _corrupt_record string"
    ).option("mode", "PERMISSIVE") \
     .option("columnNameOfCorruptRecord", "_corrupt_record").json(path)
    back = persist(back)
    good = back.filter(F.col("_corrupt_record").isNull())
    return good.agg(
        lcount("n_good"),
        F.lit(_N_CORRUPT).cast("bigint").alias("n_corrupt"),
        F.sum("doc_id").cast("bigint").alias("doc_id_sum"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars_total"))


# ---------------------------------------------------------------------------
# q_discount_response — does discounting move volume? Per exact
# discount band (l_discount is a 2dp rate): line count, exact mean
# quantity, mean revenue per line — the demand-response curve behind
# any promo analysis (q19/q14 check specific bands; this is the whole
# curve). One hash agg of exact x4 sums.
# ---------------------------------------------------------------------------
_DISCOUNT_RESPONSE_ORACLE = """
SELECT CAST(CAST(l_discount AS DECIMAL(8,4)) * 10000 AS BIGINT) AS disc_x4,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4) * 10000
                  AS BIGINT) / 10000.0 / count(*), 6) AS mean_qty,
       round(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
                  * 10000 AS BIGINT) / 10000.0 / count(*), 6)
         AS mean_revenue
FROM lineitem
GROUP BY 1
"""


@register("q_discount_response", oracle=_DISCOUNT_RESPONSE_ORACLE)
def q_discount_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        (F.col("l_discount").cast("decimal(8,4)") * 10000).cast("bigint")
        .alias("disc_x4")).agg(
        lcount("n_lines"),
        F.round((F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 4)
                 * 10000).cast("bigint") / F.lit(10000.0)
                / F.count(F.lit(1)), 6).alias("mean_qty"),
        F.round((F.round(F.sum(F.col("l_extendedprice")
                               .cast("decimal(18,4)")), 4)
                 * 10000).cast("bigint") / F.lit(10000.0)
                / F.count(F.lit(1)), 6).alias("mean_revenue"))


# ---------------------------------------------------------------------------
# q_segment_migration — customer value-segment migration between the
# first and second half of the order history: per half, customers
# rank into spend quartiles (NTILE 4 over exact x4 totals with
# custkey tie-break); the output is the 4×4 transition matrix with
# row-wise retention shares — the "are my best customers staying
# best" view on top of q_rfm_segmentation's static labels. Customers
# absent from a half get segment 0.
# ---------------------------------------------------------------------------
_SEG_MIGRATION_ORACLE = """
WITH b AS (
  SELECT CAST(min(epoch(date_trunc('day', o_orderdate)) / 86400) AS BIGINT)
           AS lo,
         CAST(max(epoch(date_trunc('day', o_orderdate)) / 86400) AS BIGINT)
           + 1 AS hi
  FROM orders
),
o AS (
  SELECT o_custkey,
         CASE WHEN CAST(epoch(date_trunc('day', o_orderdate)) / 86400
                        AS BIGINT) < lo + (hi - lo) // 2
              THEN 1 ELSE 2 END AS half,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 4) * 10000
              AS BIGINT) AS v4
  FROM orders CROSS JOIN b
),
spend AS (
  SELECT half, o_custkey, CAST(sum(v4) AS BIGINT) AS s4
  FROM o GROUP BY half, o_custkey
),
seg AS (
  SELECT half, o_custkey,
         CAST(NTILE(4) OVER (PARTITION BY half ORDER BY s4, o_custkey)
              AS BIGINT) AS segment
  FROM spend
),
m AS (
  SELECT coalesce(a.o_custkey, c.o_custkey) AS custkey,
         CAST(coalesce(a.segment, 0) AS BIGINT) AS seg_h1,
         CAST(coalesce(c.segment, 0) AS BIGINT) AS seg_h2
  FROM (SELECT * FROM seg WHERE half = 1) a
  FULL OUTER JOIN (SELECT * FROM seg WHERE half = 2) c
    ON a.o_custkey = c.o_custkey
)
SELECT seg_h1, seg_h2, CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER (PARTITION BY seg_h1) AS DOUBLE), 6)
         AS row_share
FROM m GROUP BY seg_h1, seg_h2
"""


@register("q_segment_migration", oracle=_SEG_MIGRATION_ORACLE)
def q_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day = F.floor(F.unix_micros(F.date_trunc("day", "o_orderdate"))
                  / F.lit(86400000000)).cast("bigint")
    b = orders.agg(F.min(day).alias("lo"), (F.max(day) + 1).alias("hi"))
    o = orders.crossJoin(F.broadcast(b)).select(
        "o_custkey",
        F.when(day < F.col("lo")
               + F.floor((F.col("hi") - F.col("lo")) / 2).cast("bigint"), 1)
        .otherwise(2).alias("half"),
        (F.round(F.col("o_totalprice").cast("decimal(18,4)"), 4) * 10000)
        .cast("bigint").alias("v4"))
    spend = o.groupBy("half", "o_custkey").agg(
        F.sum("v4").cast("bigint").alias("s4"))
    # seg feeds both half-filters of the migration join: persist the
    # narrow per-customer segment table so the orders scan + spend agg
    # + ntile window runs once (round-12 subtree lint)
    seg = persist(spend.select(
        "half", "o_custkey",
        F.ntile(4).over(W.partitionBy("half").orderBy("s4", "o_custkey"))
        .cast("bigint").alias("segment")))
    a = seg.filter(F.col("half") == 1).select(
        F.col("o_custkey").alias("custkey"), F.col("segment").alias("s1"))
    c = seg.filter(F.col("half") == 2).select(
        F.col("o_custkey").alias("custkey"), F.col("segment").alias("s2"))
    m = a.join(c, "custkey", "full_outer").select(
        F.coalesce("s1", F.lit(0)).cast("bigint").alias("seg_h1"),
        F.coalesce("s2", F.lit(0)).cast("bigint").alias("seg_h2"))
    g = m.groupBy("seg_h1", "seg_h2").agg(lcount("n_customers"))
    wr = W.partitionBy("seg_h1")
    return g.select(
        "seg_h1", "seg_h2", "n_customers",
        F.round(F.col("n_customers").cast("double")
                / F.sum("n_customers").over(wr).cast("double"), 6)
        .alias("row_share"))


# ---------------------------------------------------------------------------
# q_hurst_exponent — rescaled-range (R/S) estimate of the Hurst
# exponent of the daily count series: for block sizes n ∈ {4, 8, 16},
# each full block's R/S = (max−min of cumulative mean-deviations) /
# population σ; H = OLS slope of mean ln(R/S) on ln(n) (H≈0.5 random
# walk, >0.5 persistent). Blocks are arrays of ≤16 exact ints; the
# cumulative deviations are O(n²) in-block HOF folds (bounded by the
# block size, not the data); per-n means fold in block order and the
# 3-point regression is a closed form.
# ---------------------------------------------------------------------------
_HURST_NS = (4, 8, 16)

_HURST_ORACLE = f"""
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
idx AS (
  SELECT x, row_number() OVER (ORDER BY i) - 1 AS r FROM daily
),
blocks AS (
  SELECT ns.n, CAST(idx.r // ns.n AS BIGINT) AS blk,
         list_transform(list_sort(list({{'i': idx.r, 'v': idx.x}})),
                        s -> CAST(s.v AS DOUBLE)) AS xs
  FROM (SELECT unnest([{", ".join(str(n) for n in _HURST_NS)}]) AS n) ns
  JOIN idx ON true
  GROUP BY ns.n, idx.r // ns.n
  HAVING count(*) = ns.n
),
rs AS (
  SELECT n, blk,
         list_aggregate(xs, 'sum') / n AS mu,
         xs
  FROM blocks
),
rs2 AS (
  SELECT n, blk,
         list_aggregate(list_transform(
           generate_series(1, CAST(n AS INTEGER)),
           j -> list_aggregate(list_transform(xs[1:j], v -> v - mu),
                               'sum')), 'max')
         - list_aggregate(list_transform(
           generate_series(1, CAST(n AS INTEGER)),
           j -> list_aggregate(list_transform(xs[1:j], v -> v - mu),
                               'sum')), 'min') AS rng,
         sqrt(list_aggregate(list_transform(xs,
           v -> (v - mu) * (v - mu)), 'sum') / n) AS sd
  FROM rs
),
per_n AS (
  SELECT n, CAST(count(*) AS BIGINT) AS n_blocks,
         list_aggregate(list_transform(list_sort(
           list({{'i': blk, 'v': ln(rng / sd)}})), s -> s.v), 'sum')
           / count(*) AS mean_ln_rs
  FROM rs2 WHERE sd > 0 AND rng > 0
  GROUP BY n
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         list_aggregate(list_transform(list_sort(
           list({{'i': n, 'v': ln(CAST(n AS DOUBLE))}})), s -> s.v), 'sum')
           AS sx,
         list_aggregate(list_transform(list_sort(
           list({{'i': n, 'v': ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE))}})),
           s -> s.v), 'sum') AS sxx,
         list_aggregate(list_transform(list_sort(
           list({{'i': n, 'v': mean_ln_rs}})), s -> s.v), 'sum') AS sy,
         list_aggregate(list_transform(list_sort(
           list({{'i': n, 'v': ln(CAST(n AS DOUBLE)) * mean_ln_rs}})),
           s -> s.v), 'sum') AS sxy
  FROM per_n
)
SELECT per_n.n, n_blocks, round(mean_ln_rs, 6) AS mean_ln_rs,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS hurst_h
FROM per_n CROSS JOIN fit
"""


@register("q_hurst_exponent", oracle=_HURST_ORACLE)
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                                / F.lit(86400000000)).cast("bigint")
                        .alias("i"))
             .agg(lcount("x")))
    idx = daily.select(
        "x", (F.row_number().over(W.orderBy("i")) - 1).alias("r"))
    ns = local_frame([(n,) for n in _HURST_NS], "n long")
    blocks = (F.broadcast(ns).join(idx, F.lit(True))
              .groupBy("n", F.floor(F.col("r") / F.col("n")).cast("bigint")
                       .alias("blk"))
              .agg(F.transform(
                  F.array_sort(F.collect_list(
                      F.struct(F.col("r").alias("i"), F.col("x").alias("v")))),
                  lambda s: s["v"].cast("double")).alias("xs"))
              .filter(F.size("xs") == F.col("n")))
    mu = (F.aggregate(F.col("xs"), F.lit(0.0), lambda a, v: a + v)
          / F.col("n"))
    rs = blocks.select("n", "blk", mu.alias("mu"), "xs")
    zs = F.transform(
        F.sequence(F.lit(1), F.col("n").cast("int")),
        lambda j: F.aggregate(
            F.transform(F.slice(F.col("xs"), 1, j),
                        lambda v: v - F.col("mu")),
            F.lit(0.0), lambda a, v: a + v))
    rng = (F.array_max(zs) - F.array_min(zs))
    sd = F.sqrt(F.aggregate(
        F.transform(F.col("xs"),
                    lambda v: (v - F.col("mu")) * (v - F.col("mu"))),
        F.lit(0.0), lambda a, v: a + v) / F.col("n"))
    rs2 = rs.select("n", "blk", rng.alias("rng"), sd.alias("sd"))

    def fold_by(key, val):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(key.alias("i"), val.alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda a, v: a + v)

    # per_n feeds the regression fit AND the final probe: persist the
    # bounded one-row-per-block-size table so the R/S block pipeline
    # runs once (round-12 subtree lint)
    per_n = persist(rs2.filter((F.col("sd") > 0) & (F.col("rng") > 0))
                    .groupBy("n")
                    .agg(lcount("n_blocks"),
                         (fold_by(F.col("blk"),
                                  F.log(F.col("rng") / F.col("sd")))
                          / F.count(F.lit(1))).alias("mean_ln_rs")))
    lnn = F.log(F.col("n").cast("double"))
    fit = per_n.agg(
        lcount("k"),
        fold_by(F.col("n"), lnn).alias("sx"),
        fold_by(F.col("n"), lnn * lnn).alias("sxx"),
        fold_by(F.col("n"), F.col("mean_ln_rs")).alias("sy"),
        fold_by(F.col("n"), lnn * F.col("mean_ln_rs")).alias("sxy"))
    j = per_n.crossJoin(F.broadcast(fit))
    h = ((F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return j.select("n", "n_blocks",
                    F.round("mean_ln_rs", 6).alias("mean_ln_rs"),
                    F.round(h, 6).alias("hurst_h"))


# ---------------------------------------------------------------------------
# q_weibull_fit — Weibull-plot fit of the time-to-second-event
# survival: regress ln(−ln S(t)) on ln t over q_kaplan_meier's curve
# (0 < S < 1, t > 0) — slope = shape k (k<1 means the conversion
# hazard decays: convert-early-or-never), scale λ = exp(−intercept/k).
# Pure composition: the Spark side reuses the registered KM builder;
# the oracle nests its SQL. Regression folds the bounded duration
# grid in t order.
# ---------------------------------------------------------------------------
def _weibull_oracle() -> str:
    from sanctions_data_pipeline_spark.plans.registry import REGISTRY

    return f"""
WITH km AS ({REGISTRY['q_kaplan_meier'].oracle}),
pts AS (
  SELECT duration_days AS t,
         ln(CAST(duration_days AS DOUBLE)) AS lx,
         ln(-ln(survival)) AS ly
  FROM km WHERE survival > 0 AND survival < 1 AND duration_days > 0
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         list_aggregate(list_transform(list_sort(
           list({{'i': t, 'v': lx}})), s -> s.v), 'sum') AS sx,
         list_aggregate(list_transform(list_sort(
           list({{'i': t, 'v': lx * lx}})), s -> s.v), 'sum') AS sxx,
         list_aggregate(list_transform(list_sort(
           list({{'i': t, 'v': ly}})), s -> s.v), 'sum') AS sy,
         list_aggregate(list_transform(list_sort(
           list({{'i': t, 'v': lx * ly}})), s -> s.v), 'sum') AS sxy
  FROM pts
)
SELECT k AS n_points,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS shape_k,
       round(exp(-((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx)
                   / k)
                 / ((k * sxy - sx * sy) / (k * sxx - sx * sx))), 6)
         AS scale_lambda
FROM fit WHERE k > 1
"""


@register("q_weibull_fit", oracle=_weibull_oracle())
def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.registry import REGISTRY

    km = REGISTRY["q_kaplan_meier"].build(spark, sf_dir)
    pts = (km.filter((F.col("survival") > 0) & (F.col("survival") < 1)
                     & (F.col("duration_days") > 0))
           .select(F.col("duration_days").alias("t"),
                   F.log(F.col("duration_days").cast("double")).alias("lx"),
                   F.log(-F.log("survival")).alias("ly")))

    def fold(val_col):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("t").alias("i"), val_col.alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda a, v: a + v)

    fit = pts.agg(
        lcount("k"),
        fold(F.col("lx")).alias("sx"),
        fold(F.col("lx") * F.col("lx")).alias("sxx"),
        fold(F.col("ly")).alias("sy"),
        fold(F.col("lx") * F.col("ly")).alias("sxy"))
    k = F.col("k").cast("double")
    slope = ((k * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (k * F.col("sxx") - F.col("sx") * F.col("sx")))
    intercept = (F.col("sy") - slope * F.col("sx")) / k
    return (fit.filter(F.col("k") > 1)
            .select(F.col("k").alias("n_points"),
                    F.round(slope, 6).alias("shape_k"),
                    F.round(F.exp(-intercept / slope), 6)
                    .alias("scale_lambda")))


# ---------------------------------------------------------------------------
# gr_degree_gini — Gini inequality of the co-purchase degree
# distribution (0 = perfectly egalitarian graph, →1 = a few hubs own
# every edge): the scalar next to gr_powerlaw_alpha's tail exponent
# and gr_rich_club's curve. Exact rank-weighted integer sums over the
# bounded node table (the q_gini_coefficient machinery on degrees).
# ---------------------------------------------------------------------------
_DEGREE_GINI_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_orderkey < 2000
), e0 AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
  GROUP BY node
),
r AS (
  SELECT d, row_number() OVER (ORDER BY d, node) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(d) OVER () AS BIGINT) AS sd
  FROM deg
)
SELECT CAST(max(n) AS BIGINT) AS n_nodes, CAST(max(sd) AS BIGINT) AS n_ends,
       round((2.0 * CAST(sum(rk * d) AS DOUBLE)
              - (CAST(max(n) AS DOUBLE) + 1.0) * CAST(max(sd) AS DOUBLE))
             / (CAST(max(n) AS DOUBLE) * CAST(max(sd) AS DOUBLE)), 6)
         AS degree_gini
FROM r
"""


@register("gr_degree_gini", oracle=_DEGREE_GINI_ORACLE)
def gr_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 2000)
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct())
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    e0 = (a.join(b, "o").filter(F.col("u") < F.col("v"))
          .select("u", "v").distinct())
    deg = (e0.select(F.col("u").alias("node"))
           .unionAll(e0.select(F.col("v").alias("node")))
           .groupBy("node").agg(lcount("d")))
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    r = deg.select(
        "d", F.row_number().over(W.orderBy("d", "node")).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("d").over(wall).cast("bigint").alias("sd"))
    s = r.agg(
        F.max("n").cast("bigint").alias("n_nodes"),
        F.max("sd").cast("bigint").alias("n_ends"),
        F.sum(F.col("rk") * F.col("d")).cast("bigint").alias("rwd"))
    n_d = F.col("n_nodes").cast("double")
    sd_d = F.col("n_ends").cast("double")
    return s.select(
        "n_nodes", "n_ends",
        F.round((F.lit(2.0) * F.col("rwd").cast("double")
                 - (n_d + F.lit(1.0)) * sd_d) / (n_d * sd_d), 6)
        .alias("degree_gini"))


# ---------------------------------------------------------------------------
# q_nbinom_fit — method-of-moments negative-binomial fit of the daily
# count series (the distribution you reach for when
# q_poisson_dispersion says variance > mean): r = μ²/(σ²−μ),
# p = μ/σ². Exact integer moment sums; one closed-form double tree;
# NULL parameters when the series is NOT overdispersed (σ² ≤ μ, where
# the NB degenerates).
# ---------------------------------------------------------------------------
_NBINOM_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM daily
)
SELECT m,
       round(CAST(sx AS DOUBLE) / CAST(m AS DOUBLE), 6) AS mean,
       round((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
              / CAST(m AS DOUBLE)) / CAST(m AS DOUBLE), 6) AS variance,
       CASE WHEN (CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(m AS DOUBLE)) / CAST(m AS DOUBLE)
                 > CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)
            THEN round((CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
                       * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
                       / ((CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                             / CAST(m AS DOUBLE)) / CAST(m AS DOUBLE)
                          - CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)), 6)
       END AS nb_r,
       CASE WHEN (CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(m AS DOUBLE)) / CAST(m AS DOUBLE)
                 > CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)
            THEN round((CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
                       / ((CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                             / CAST(m AS DOUBLE)) / CAST(m AS DOUBLE)), 6)
       END AS nb_p
FROM s
"""


@register("q_nbinom_fit", oracle=_NBINOM_ORACLE)
def q_nbinom_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                                / F.lit(86400000000)).cast("bigint")
                        .alias("i"))
             .agg(lcount("x")))
    s = daily.agg(lcount("m"),
                  F.sum("x").cast("bigint").alias("sx"),
                  F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"))
    m_d = F.col("m").cast("double")
    mu = F.col("sx").cast("double") / m_d
    var = (F.col("sxx").cast("double")
           - F.col("sx").cast("double") * F.col("sx").cast("double") / m_d) \
        / m_d
    return s.select(
        "m", F.round(mu, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.when(var > mu, F.round(mu * mu / (var - mu), 6)).alias("nb_r"),
        F.when(var > mu, F.round(mu / var, 6)).alias("nb_p"))


# ---------------------------------------------------------------------------
# q_record_days — record-tracking over the daily count series: each
# day flagged if it sets a new all-time high, with the running record
# and days-since-last-record (for an i.i.d. series the k-th day is a
# record with probability 1/k — clustering of records is itself a
# trend signal). One lag-free running-max window, exact integers.
# ---------------------------------------------------------------------------
_RECORD_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT i, day, x,
         max(x) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS prev_max
  FROM daily
),
flagged AS (
  SELECT i, day, x,
         CASE WHEN prev_max IS NULL OR x > prev_max THEN 1 ELSE 0 END
           AS is_record,
         CAST(greatest(x, coalesce(prev_max, x)) AS BIGINT) AS running_max
  FROM r
)
SELECT day, x, is_record, running_max,
       CAST(i - max(CASE WHEN is_record = 1 THEN i END)
                OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS days_since_record
FROM flagged
"""


@register("q_record_days", oracle=_RECORD_ORACLE)
def q_record_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(lcount("x")))
    wprev = W.orderBy("i").rowsBetween(W.unboundedPreceding, -1)
    r = daily.select(
        "i", "day", "x", F.max("x").over(wprev).alias("prev_max"))
    flagged = r.select(
        "i", "day", "x",
        F.when(F.col("prev_max").isNull()
               | (F.col("x") > F.col("prev_max")), 1).otherwise(0)
        .alias("is_record"),
        F.greatest(F.col("x"), F.coalesce("prev_max", F.col("x")))
        .cast("bigint").alias("running_max"))
    wrun = W.orderBy("i").rowsBetween(W.unboundedPreceding, 0)
    return flagged.select(
        "day", "x", "is_record", "running_max",
        (F.col("i") - F.max(F.when(F.col("is_record") == 1, F.col("i")))
         .over(wrun)).cast("bigint").alias("days_since_record"))


# ---------------------------------------------------------------------------
# q_seasonal_mann_kendall — the seasonal Mann-Kendall trend test:
# MK sign statistics computed WITHIN each ISO weekday (so the weekly
# cycle can't masquerade as trend), S and Var(S) summed across
# seasons, one pooled z. The correct replacement for q_mann_kendall
# whenever q_friedman_test / q_weekday_seasonality find a dow effect.
# Day×day sign pairs stay bounded AND shrink 7× (same-dow only).
# ---------------------------------------------------------------------------
_SMK_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT a.dow,
         CAST(sum(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_g,
         CAST(count(DISTINCT a.i) AS BIGINT) AS m_g
  FROM daily a JOIN daily b ON a.dow = b.dow AND a.i < b.i
  GROUP BY a.dow
),
m AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS m_all FROM daily GROUP BY dow
),
g AS (
  SELECT m.dow, coalesce(s.s_g, 0) AS s_g, m.m_all AS m_g
  FROM m LEFT JOIN s ON s.dow = m.dow
),
tot AS (
  SELECT CAST(sum(s_g) AS BIGINT) AS s_total,
         list_aggregate(list_transform(list_sort(
           list({'i': dow,
                 'v': CAST(m_g AS DOUBLE) * (CAST(m_g AS DOUBLE) - 1.0)
                      * (2.0 * CAST(m_g AS DOUBLE) + 5.0) / 18.0})),
           u -> u.v), 'sum') AS var_s
  FROM g
)
SELECT s_total, round(var_s, 6) AS var_s,
       round(CASE WHEN s_total > 0
                  THEN (CAST(s_total AS DOUBLE) - 1.0) / sqrt(var_s)
                  WHEN s_total < 0
                  THEN (CAST(s_total AS DOUBLE) + 1.0) / sqrt(var_s)
                  ELSE 0.0 END, 6) AS z
FROM tot
"""


@register("q_seasonal_mann_kendall", oracle=_SMK_ORACLE)
def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        (F.weekday("ts") + 1).cast("bigint").alias("dow"))
        .agg(lcount("x")))
    b = daily.select(F.col("dow").alias("dow2"), F.col("i").alias("i2"),
                     F.col("x").alias("x2"))
    s = (daily.join(b, (F.col("dow") == F.col("dow2"))
                    & (F.col("i") < F.col("i2")))
         .groupBy("dow")
         .agg(F.sum(F.when(F.col("x2") > F.col("x"), 1)
                    .when(F.col("x2") < F.col("x"), -1)
                    .otherwise(0)).cast("bigint").alias("s_g")))
    m = daily.groupBy("dow").agg(lcount("m_g"))
    g = m.join(s, "dow", "left").select(
        "dow", F.coalesce("s_g", F.lit(0)).cast("bigint").alias("s_g"),
        "m_g")
    m_d = F.col("m_g").cast("double")
    var_term = m_d * (m_d - 1.0) * (2.0 * m_d + 5.0) / 18.0
    tot = g.agg(
        F.sum("s_g").cast("bigint").alias("s_total"),
        F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("dow").alias("i"), var_term.alias("v")))),
                lambda u: u["v"]),
            F.lit(0.0), lambda a, v: a + v).alias("var_s"))
    st = F.col("s_total").cast("double")
    z = (F.when(F.col("s_total") > 0, (st - 1.0) / F.sqrt(F.col("var_s")))
         .when(F.col("s_total") < 0, (st + 1.0) / F.sqrt(F.col("var_s")))
         .otherwise(F.lit(0.0)))
    return tot.select("s_total", F.round("var_s", 6).alias("var_s"),
                      F.round(z, 6).alias("z"))


# ---------------------------------------------------------------------------
# dq_table_manifest — cross-environment data-integrity manifest: for
# every table, the exact row count and an order-independent XOR
# checksum of md5(primary id) — two environments holding the same
# data produce byte-identical manifests regardless of partitioning
# (XOR is commutative, associative, and overflow-free; the pattern a
# migration signs off on). One scan per table, no shuffle beyond a
# single agg each.
# ---------------------------------------------------------------------------
_MANIFEST_KEYS = (
    ("region", "r_regionkey"), ("nation", "n_nationkey"),
    ("customer", "c_custkey"), ("supplier", "s_suppkey"),
    ("part", "p_partkey"), ("orders", "o_orderkey"),
    ("lineitem", "l_orderkey * 10 + l_linenumber"),
    ("events", "event_id"), ("documents", "doc_id"),
    ("embeddings", "vec_id"),
)

_MANIFEST_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(CAST(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 13))
                         AS BIGINT)) AS BIGINT) AS key_checksum
FROM {t}"""
    for t, k in _MANIFEST_KEYS)


@register("dq_table_manifest", oracle=_MANIFEST_ORACLE)
def dq_table_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for t, k in _MANIFEST_KEYS:
        df = load_table(spark, sf_dir, t)
        part = df.select(F.expr(k).cast("string").alias("key")).agg(
            lcount("n_rows"),
            F.bit_xor(F.conv(F.substring(F.md5(F.col("key")), 1, 13),
                             16, 10).cast("bigint")).cast("bigint")
            .alias("key_checksum")).select(
            F.lit(t).alias("table_name"), "n_rows", "key_checksum")
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# q_dormancy_timeline — how many users are dormant each day (no event
# for ≥2 days, before their next return; threshold scaled to this
# corpus's 30-day span — parameterize in production): each qualifying
# inter-event gap (and each tail gap to the horizon) contributes a
# dormancy interval [last_day+2, next_day); the per-day census is the same
# +1/−1 sweep as q_concurrency_profile — O(gaps) work, never the
# user×day cross a naive per-day scan would cost. The population-level
# rollup of q_dormancy_reactivation's per-user episodes.
# ---------------------------------------------------------------------------
_DORMANCY_TL_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS d
  FROM events GROUP BY 1, 2
),
h AS (SELECT CAST(max(d) AS BIGINT) + 1 AS horizon FROM e),
gaps AS (
  SELECT user_id, d AS last_d,
         coalesce(lead(d) OVER (PARTITION BY user_id ORDER BY d),
                  (SELECT horizon FROM h)) AS next_d
  FROM e
),
iv AS (
  SELECT last_d + 2 AS s, next_d AS t
  FROM gaps WHERE next_d - last_d >= 2 AND last_d + 2 < next_d
),
pts AS (
  SELECT s AS d, 1 AS delta FROM iv
  UNION ALL
  SELECT t, -1 FROM iv
),
run AS (
  SELECT d, CAST(sum(sum(delta)) OVER (ORDER BY d
                                       ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS n_dormant
  FROM pts GROUP BY d
)
SELECT d AS day_index, n_dormant FROM run
"""


@register("q_dormancy_timeline", oracle=_DORMANCY_TL_ORACLE)
def q_dormancy_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                  / F.lit(86400000000)).cast("bigint")
    e = ev.select("user_id", day.alias("d")).distinct()
    h = e.agg((F.max("d") + 1).cast("bigint").alias("horizon"))
    gaps = e.crossJoin(F.broadcast(h)).select(
        "user_id", F.col("d").alias("last_d"),
        F.coalesce(
            F.lead("d").over(W.partitionBy("user_id").orderBy("d")),
            F.col("horizon")).alias("next_d"))
    iv = (gaps.filter((F.col("next_d") - F.col("last_d") >= 2)
                      & (F.col("last_d") + 2 < F.col("next_d")))
          .select((F.col("last_d") + 2).alias("s"),
                  F.col("next_d").alias("t")))
    # one map-side explode instead of a doubled union subtree (round-12
    # subtree lint: both branches re-ran the lead-window pipeline)
    pts = iv.select(F.explode(F.array(
        F.struct(F.col("s").alias("d"), F.lit(1).alias("delta")),
        F.struct(F.col("t").alias("d"), F.lit(-1).alias("delta"))))
        .alias("__p")).select("__p.d", "__p.delta")
    per_day = pts.groupBy("d").agg(F.sum("delta").alias("dsum"))
    run = per_day.select(
        F.col("d").alias("day_index"),
        F.sum("dsum").over(W.orderBy("d").rowsBetween(
            W.unboundedPreceding, 0)).cast("bigint").alias("n_dormant"))
    return run


# ---------------------------------------------------------------------------
# q_top_share — revenue concentration headlines: the share of total
# customer spend held by the top 1% / 5% / 10% / 20% of customers
# (the numbers executives quote; q_lorenz_deciles/q_gini_coefficient
# give the full curve and scalar, this gives the quotable cut
# points). Exact x4 spend, rank thresholds via ceil(n·pct), shares
# as exact-bigint ratios.
# ---------------------------------------------------------------------------
_TOP_SHARE_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS x4
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT x4, row_number() OVER (ORDER BY x4 DESC, o_custkey) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(x4) OVER () AS BIGINT) AS tot4
  FROM spend
),
p AS (SELECT unnest([1, 5, 10, 20]) AS pct)
SELECT pct,
       CAST(ceil(CAST(max(n) AS DOUBLE) * pct / 100.0) AS BIGINT)
         AS n_top_customers,
       CAST(sum(CASE WHEN rk <= ceil(CAST(n AS DOUBLE) * pct / 100.0)
                     THEN x4 ELSE 0 END) AS BIGINT) / 10000.0 AS top_spend,
       round(CAST(CAST(sum(CASE WHEN rk <= ceil(CAST(n AS DOUBLE)
                                                * pct / 100.0)
                                THEN x4 ELSE 0 END) AS BIGINT) AS DOUBLE)
             / CAST(max(tot4) AS DOUBLE), 6) AS share
FROM p JOIN r ON true
GROUP BY pct
"""


@register("q_top_share", oracle=_TOP_SHARE_ORACLE)
def q_top_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        (F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 4)
         * 10000).cast("bigint").alias("x4"))
    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_global_window)

    # sharded global rank + broadcast totals instead of one-partition
    # row_number + unbounded-frame count/sum windows
    r = sharded_global_window(
        spend, -F.col("x4"), [F.desc("x4"), F.asc("o_custkey")],
        rn="rk", count_total="n", sum_totals=[("x4", "tot4")],
        nulls="last")
    p = local_frame([(1,), (5,), (10,), (20,)], "pct long")
    j = F.broadcast(p).join(r, F.lit(True))
    thresh = F.ceil(F.col("n").cast("double") * F.col("pct") / 100.0)
    top4 = F.sum(F.when(F.col("rk") <= thresh, F.col("x4")).otherwise(0)) \
        .cast("bigint")
    return j.groupBy("pct").agg(
        F.ceil(F.max("n").cast("double") * F.first("pct") / 100.0)
        .cast("bigint").alias("n_top_customers"),
        (top4 / F.lit(10000.0)).alias("top_spend"),
        F.round(top4.cast("double") / F.max("tot4").cast("double"), 6)
        .alias("share"))


# ---------------------------------------------------------------------------
# emb_knn_accuracy — leave-one-out k-NN classification quality of the
# label space: each vector votes among its exact 3 nearest neighbors'
# labels (majority, ties → smaller label), and the output is the
# per-label confusion-diagonal accuracy. The local-geometry
# counterpart to emb_centroid_classify's global prototypes — composed
# directly over the registered emb_knn_graph (training_data.py:1474);
# the oracle nests its SQL.
# ---------------------------------------------------------------------------
def _knn_accuracy_oracle() -> str:
    from sanctions_data_pipeline_spark.plans.registry import REGISTRY

    return f"""
WITH knn AS ({REGISTRY['emb_knn_graph'].oracle}),
lab AS (SELECT vec_id, label FROM embeddings),
votes AS (
  SELECT knn.src_id, nl.label AS cand,
         CAST(count(*) AS BIGINT) AS n_votes
  FROM knn JOIN lab nl ON nl.vec_id = knn.dst_id
  GROUP BY knn.src_id, nl.label
),
pred AS (
  SELECT src_id, cand AS predicted,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY n_votes DESC, cand) AS rk
  FROM votes
)
SELECT sl.label, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN pred.predicted = sl.label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       round(CAST(sum(CASE WHEN pred.predicted = sl.label THEN 1 ELSE 0 END)
                  AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS accuracy
FROM pred JOIN lab sl ON sl.vec_id = pred.src_id
WHERE pred.rk = 1
GROUP BY sl.label
"""


@register("emb_knn_accuracy", oracle=_knn_accuracy_oracle())
def emb_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.registry import REGISTRY

    knn = REGISTRY["emb_knn_graph"].build(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    nl = lab.select(F.col("vec_id").alias("dst_id"),
                    F.col("label").alias("cand"))
    votes = (knn.join(F.broadcast(nl), "dst_id")
             .groupBy("src_id", "cand").agg(lcount("n_votes")))
    pred = (votes.withColumn("rk", F.row_number().over(
        W.partitionBy("src_id").orderBy(F.desc("n_votes"), "cand")))
        .filter(F.col("rk") == 1)
        .select("src_id", F.col("cand").alias("predicted")))
    sl = lab.select(F.col("vec_id").alias("src_id"), "label")
    j = pred.join(F.broadcast(sl), "src_id")
    return j.groupBy("label").agg(
        lcount("n"),
        F.sum(F.when(F.col("predicted") == F.col("label"), 1).otherwise(0))
        .cast("bigint").alias("n_correct"),
        F.round(F.sum(F.when(F.col("predicted") == F.col("label"), 1)
                      .otherwise(0)).cast("bigint")
                / F.count(F.lit(1)).cast("double"), 6).alias("accuracy"))
