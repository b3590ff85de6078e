"""Round-5 additions (SURVEY.md §2): PORTABLE-HASH near-dup entries.

The production near-dup headliners (dd_minhash_lsh, dd_simhash in
plans/training_data.py) hash with xxhash64 — the fast JVM path, but
one with no DuckDB twin, so they are rows-only entries: the banding /
pigeonhole CANDIDATE GENERATION itself has never earned a driver
hash-green row (VERDICT r04 "Next round" item 7). The two entries here
run the SAME operators/dedup.py cores in their ``hash="md5_32"``
configuration (``('0x' || substr(md5(x), 1, 8))::BIGINT`` == Spark
``conv(substring(md5(x), 1, 8), 16, 10)``, :func:`dedup.md5_32`, the
q_cms_topk / mix_dsir_weights pattern), so DuckDB replicates the
pipeline — signatures, band buckets, candidate join, verification —
and the final pair lists hash-compare across engines. Only the hash
(and with it the SimHash width) differs from the headliners: one
implementation per mechanism, pinned by the oracles here.

Cost of the hash alone (same core, same parameters; 4-core host,
sf0.1, best of 3 warm runs, cache cleared before each):
minhash_lsh_pairs at 32 hashes / 8 bands takes 1.28 s under xxhash64
and 5.33 s under md5_32 (~4x: 32 string-concat + md5 calls per
shingle), so MinHash stays on xxhash64 at scale; simhash_pairs(h=3)
takes 2.06 s at 64 bits and 1.51 s under md5_32, whose 32-bit
fingerprint is cheaper but a looser hamming<=3 criterion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.data import sanctions_fixture as fx
from sanctions_data_pipeline_spark.functions import names as nm
from sanctions_data_pipeline_spark.operators import dedup as dd
from sanctions_data_pipeline_spark.operators import textstats as tx
from sanctions_data_pipeline_spark.plans.helpers import (
    SQL_REVENUE, drate, dsum, dval, lcount, local_frame, persist, pround6,
    sql_dsum, sql_pround6,
)
from sanctions_data_pipeline_spark.plans.registry import register

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


# ---------------------------------------------------------------------------
# dd_minhash_lsh_portable — dedup.minhash_lsh_pairs with md5 hashing
# (shingle sets -> 8 minhashes -> 4 two-row band signatures -> bucket
# equi-join -> exact-Jaccard verify), replayed by DuckDB. Banding as in
# standard MinHash-LSH (Leskovec et al., MMDS ch.3); jac is computed
# over the 32-bit-hashed 3-shingle SETS (set Jaccard is invariant
# under injective-in-practice hashing, and both engines hash
# identically so even a collision cannot diverge them). The oracle keys
# a band by the string m_a || ':' || m_b, dedup by xxhash64(m_a, m_b):
# the same buckets up to a 64-bit collision, whose extra candidate the
# exact-Jaccard verify would still have to pass.
# ---------------------------------------------------------------------------
_MH_N, _MH_BANDS, _MH_K, _MH_T = 8, 4, 3, 0.5

_MINHASH_PORTABLE_ORACLE = f"""
WITH arr AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE length(text) > 0
),
sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8))::BIGINT AS hs
  FROM arr, unnest(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= {_MH_K}
),
sig AS (
  SELECT doc_id,
         {", ".join(
             f"min(('0x' || substr(md5('{h}:' || hs), 1, 8))::BIGINT) AS m{h}"
             for h in range(_MH_N))}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, b,
         CASE b {" ".join(
             f"WHEN {b} THEN m{2 * b} || ':' || m{2 * b + 1}"
             for b in range(_MH_BANDS))} END AS bsig
  FROM sig, unnest(range(0, {_MH_BANDS})) AS u(b)
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
             / CAST(len(list_distinct(a.ls || b.ls)) AS DOUBLE), 6) AS jac
FROM cand c JOIN sets a ON a.doc_id = c.i JOIN sets b ON b.doc_id = c.j
WHERE CAST(len(list_intersect(a.ls, b.ls)) AS DOUBLE)
      / CAST(len(list_distinct(a.ls || b.ls)) AS DOUBLE) >= {_MH_T}
"""


@register("dd_minhash_lsh_portable", headline=True,
          oracle=_MINHASH_PORTABLE_ORACLE)
def dd_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return dd.minhash_lsh_pairs(docs, n_hashes=_MH_N, bands=_MH_BANDS,
                                threshold=_MH_T, k=_MH_K, hash="md5_32")


# ---------------------------------------------------------------------------
# dd_simhash_portable — dedup.simhash_pairs with md5 token hashing: a
# 32-bit SimHash + exact hamming<=3 retrieval via the composite
# two-chunk pigeonhole (c = h+2 = 5 disjoint chunks of the
# fingerprint; <=h flips leave >=2 chunks untouched, so every true
# pair shares at least one of the C(5,2)=10 (chunk_i, chunk_j)
# composites — exact recall, bucket-bounded join). DuckDB replays
# fingerprints, buckets and bit_count(xor) verification verbatim.
# ---------------------------------------------------------------------------
_SH_BITS, _SH_H = 32, 3
_SH_C = _SH_H + 2                                 # 5 chunks
_SH_WIDTHS = [7, 7, 6, 6, 6]                      # disjoint partition of 32
_SH_OFFSETS = [0, 7, 14, 20, 26]
_SH_SHIFT = 7                                     # max width -> injective pack
_SH_COMBOS = [(a, b) for a in range(_SH_C) for b in range(a + 1, _SH_C)]


def _sql_chunk(k: int, col: str = "fp") -> str:
    mask = (1 << _SH_WIDTHS[k]) - 1
    return f"(({col} >> {_SH_OFFSETS[k]}) & {mask})"


_SIMHASH_PORTABLE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents WHERE length(text) > 0
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS th FROM toks
),
fps AS (
  SELECT doc_id,
         {" + ".join(
             f"(CASE WHEN 2 * sum((th >> {b}) & 1) > count(*)"
             f" THEN {1 << b}::BIGINT ELSE 0 END)"
             for b in range(_SH_BITS))} AS fp
  FROM hashed GROUP BY doc_id
),
chunked AS (
  SELECT doc_id, fp, c,
         CASE c {" ".join(
             f"WHEN {ci} THEN {_sql_chunk(a)} * {1 << _SH_SHIFT} + {_sql_chunk(b)}"
             for ci, (a, b) in enumerate(_SH_COMBOS))} END AS cval
  FROM fps, unnest(range(0, {len(_SH_COMBOS)})) AS u(c)
)
SELECT DISTINCT l.doc_id AS i, r.doc_id AS j,
       CAST(bit_count(xor(l.fp, r.fp)) AS BIGINT) AS hamming
FROM chunked l JOIN chunked r ON l.c = r.c AND l.cval = r.cval
WHERE l.doc_id < r.doc_id AND bit_count(xor(l.fp, r.fp)) <= {_SH_H}
"""


@register("dd_simhash_portable", oracle=_SIMHASH_PORTABLE_ORACLE)
def dd_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    pairs = dd.simhash_pairs(docs, _SH_H, hash="md5_32")
    return pairs.withColumn("hamming", F.col("hamming").cast("bigint"))


# ---------------------------------------------------------------------------
# q_cohens_kappa — inter-rater agreement between the stopword-profile
# language classifier and the corpus labels, as Cohen's kappa. The
# entire statistic reduces to ONE division of exact integers:
# kappa = (po - pe) / (1 - pe) = (diag*N - Σ row_k*col_k) /
# (N² - Σ row_k*col_k), so both engines divide the same two bigints
# (exact while N < ~3e9 — int64 N² headroom). Confusion cells are a
# handful of rows (|langs|² ≤ 25); everything after the one corpus
# scan is broadcast-sized.
# ---------------------------------------------------------------------------
_KAPPA_ORACLE = f"""
WITH scored AS (
  SELECT lang AS t, {tx.sql_predict_lang("text")} AS p
  FROM documents
),
cells AS (SELECT t, p, CAST(count(*) AS BIGINT) AS n FROM scored GROUP BY t, p),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n,
               CAST(sum(CASE WHEN t = p THEN n ELSE 0 END) AS BIGINT) AS diag
        FROM cells),
marg AS (
  SELECT CAST(sum(r.rn * c.cn) AS BIGINT) AS pe_num
  FROM (SELECT t, CAST(sum(n) AS BIGINT) AS rn FROM cells GROUP BY t) r
  JOIN (SELECT p, CAST(sum(n) AS BIGINT) AS cn FROM cells GROUP BY p) c
    ON r.t = c.p
)
SELECT big_n AS n, diag AS n_agree,
       {sql_pround6("CAST(diag * big_n - pe_num AS DOUBLE)"
                    " / CAST(big_n * big_n - pe_num AS DOUBLE)")} AS kappa
FROM tot, marg
"""


@register("q_cohens_kappa", oracle=_KAPPA_ORACLE)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(F.col("lang").alias("t"),
                         tx.predict_lang(F.col("text")).alias("p"))
    cells = scored.groupBy("t", "p").agg(lcount("n"))
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum(F.when(F.col("t") == F.col("p"), F.col("n")).otherwise(0))
         .cast("bigint").alias("diag"))
    rows_m = cells.groupBy("t").agg(F.sum("n").cast("bigint").alias("rn"))
    cols_m = cells.groupBy("p").agg(F.sum("n").cast("bigint").alias("cn"))
    pe = (rows_m.join(cols_m, rows_m.t == cols_m.p)
          .agg(F.sum(F.col("rn") * F.col("cn")).cast("bigint").alias("pe_num")))
    return (tot.crossJoin(F.broadcast(pe))
            .select(F.col("big_n").alias("n"), F.col("diag").alias("n_agree"),
                    pround6((F.col("diag") * F.col("big_n") - F.col("pe_num"))
                            .cast("double")
                            / (F.col("big_n") * F.col("big_n") - F.col("pe_num"))
                            .cast("double")).alias("kappa")))


# ---------------------------------------------------------------------------
# tx_dedup_impact — the report a data engineer reads BEFORE committing
# an exact-dedup run: per source, how many docs are non-canonical
# copies (same md5(text), higher doc_id than the keeper) and what
# share of the tokens dedup would drop. Canonicalization is global
# (copies across sources count against the source holding the copy,
# matching dd_exact / dd_keep_canonical semantics). One scan; the
# min-per-hash window shuffles (16-byte md5, doc_id, token count)
# only; the report is |sources| rows.
# ---------------------------------------------------------------------------
_DEDUP_IMPACT_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, md5(text) AS h, len({_TOKS}) AS nt
  FROM documents
),
flagged AS (
  SELECT source, nt,
         CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY h)
              THEN 1 ELSE 0 END AS is_dup
  FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_dup) AS BIGINT) AS n_dups,
       CAST(sum(nt) AS BIGINT) AS tok_total,
       CAST(sum(is_dup * nt) AS BIGINT) AS tok_dropped,
       {sql_pround6("CAST(sum(is_dup * nt) AS DOUBLE) / CAST(sum(nt) AS DOUBLE)")}
         AS savings
FROM flagged GROUP BY source
"""


@register("tx_dedup_impact", oracle=_DEDUP_IMPACT_ORACLE)
def tx_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.md5("text").alias("h"),
        F.size(tx.tokens(F.col("text"))).cast("bigint").alias("nt"))
    keep = F.min("doc_id").over(W.partitionBy("h"))
    flagged = d.select(
        "source", "nt",
        F.when(F.col("doc_id") != keep, 1).otherwise(0).alias("is_dup"))
    return (flagged.groupBy("source").agg(
        lcount("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_dups"),
        F.sum("nt").cast("bigint").alias("tok_total"),
        F.sum(F.col("is_dup") * F.col("nt")).cast("bigint").alias("tok_dropped"))
        .withColumn("savings", pround6(
            F.col("tok_dropped").cast("double")
            / F.col("tok_total").cast("double"))))


# ---------------------------------------------------------------------------
# tt_group_kfold — leakage-aware cross-validation folds: every SOURCE
# lands wholly in one fold (fold = md5(source) mod k, the portable
# deterministic sampler), so near-identical docs from one provenance
# can never straddle train/validation. Output is the fold manifest;
# the no-straddle property is structural (a pure function of source)
# and pinned by the replay test. Map-only + one k-row agg at any scale.
# ---------------------------------------------------------------------------
_GROUP_KFOLD_K = 5

_GROUP_KFOLD_ORACLE = f"""
WITH d AS (
  SELECT source, len({_TOKS}) AS nt,
         ('0x' || substr(md5(source), 1, 8))::BIGINT % {_GROUP_KFOLD_K} AS fold
  FROM documents
)
SELECT fold, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens
FROM d GROUP BY fold
"""


@register("tt_group_kfold", oracle=_GROUP_KFOLD_ORACLE)
def tt_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(tx.tokens(F.col("text"))).cast("bigint").alias("nt"),
        (dd.md5_32(F.col("source")) % _GROUP_KFOLD_K).alias("fold"))
    return d.groupBy("fold").agg(
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        lcount("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"))


# ---------------------------------------------------------------------------
# s_name_idf_score — rare-name-token weighting for watchlist match
# scoring: a hit on "Ishakzai" should outweigh a hit on "Mohammed", so
# each alias gets Σ idf(token) over its DISTINCT name tokens, with
# idf = ln((N+1)/(df+1)) over the alias corpus (the standard
# TF-IDF-name-screening technique). The idf table is vocabulary-sized
# (broadcast); per-alias sums fold in sorted token order so the double
# accumulation is bit-identical cross-engine.
# ---------------------------------------------------------------------------
_NAME_IDF_ORACLE = f"""
WITH {fx.sql_cte("aliases")},
toks AS (
  SELECT DISTINCT entity_id, alias_idx,
         unnest(string_split(trim(regexp_replace(lower(whole_name),
                                                 '\\s+', ' ', 'g')), ' ')) AS tok
  FROM aliases
),
n_al AS (SELECT CAST(count(*) AS BIGINT) AS n FROM aliases),
dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok),
scored AS (
  SELECT t.entity_id, t.alias_idx,
         ln((CAST((SELECT n FROM n_al) AS DOUBLE) + 1.0)
            / (CAST(d.df AS DOUBLE) + 1.0)) AS idf
  FROM toks t JOIN dfq d ON t.tok = d.tok
)
SELECT entity_id, alias_idx, CAST(count(*) AS BIGINT) AS n_tokens,
       round(list_aggregate(list_sort(list(idf)), 'sum'), 6) AS idf_score
FROM scored GROUP BY entity_id, alias_idx
"""


@register("s_name_idf_score", oracle=_NAME_IDF_ORACLE)
def s_name_idf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    al = fx.spark_df(spark, "aliases")
    # toks feeds the df census AND the scored join: persist the narrow
    # distinct token rows so the explode runs once (round-12 lint)
    toks = persist(al.select(
        "entity_id", "alias_idx",
        F.explode(F.split(F.trim(F.regexp_replace(
            F.lower("whole_name"), r"\s+", " ")), " ")).alias("tok"),
    ).distinct())
    n_al = al.count()  # bounded driver scalar: fixture corpus size
    dfq = toks.groupBy("tok").agg(lcount("df"))
    scored = toks.join(F.broadcast(dfq), "tok").select(
        "entity_id", "alias_idx",
        F.log((F.lit(float(n_al)) + 1.0)
              / (F.col("df").cast("double") + 1.0)).alias("idf"))
    fold = F.aggregate(
        F.array_sort(F.collect_list("idf")), F.lit(0.0),
        lambda acc, v: acc + v)
    return (scored.groupBy("entity_id", "alias_idx")
            .agg(lcount("n_tokens"), F.round(fold, 6).alias("idf_score")))


# ---------------------------------------------------------------------------
# q_cagr — compound annual growth rate of per-nation revenue between
# each nation's first and last order year: (rev1/rev0)^(1/(y1-y0)) - 1
# computed as exp(ln(rev1/rev0)/(y1-y0)) on both engines. Yearly
# revenue is decimal-exact (dsum) so the doubles entering ln are
# bit-identical; the join tree is the standard TPC-H shape (lineitem
# ⋈ orders ⋈ customer with nation broadcast).
# ---------------------------------------------------------------------------
_CAGR_ORACLE = f"""
WITH yearly AS (
  SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         {sql_dsum(SQL_REVENUE, "rev")}
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, year(o.o_orderdate)
),
span AS (
  SELECT nation, min(yr) AS y0, max(yr) AS y1 FROM yearly GROUP BY nation
)
SELECT s.nation, s.y0, s.y1, a.rev AS rev0, b.rev AS rev1,
       {sql_pround6("exp(ln(b.rev / a.rev) / CAST(s.y1 - s.y0 AS DOUBLE)) - 1.0")}
         AS cagr
FROM span s
JOIN yearly a ON a.nation = s.nation AND a.yr = s.y0
JOIN yearly b ON b.nation = s.nation AND b.yr = s.y1
WHERE s.y1 > s.y0 AND a.rev > 0
"""


@register("q_cagr", oracle=_CAGR_ORACLE)
def q_cagr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = dval("l_extendedprice") * (F.lit(1).cast("decimal(8,4)")
                                     - drate("l_discount"))
    yearly = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
              .groupBy(F.col("n_name").alias("nation"),
                       F.year("o_orderdate").cast("bigint").alias("yr"))
              .agg(dsum(rev, "rev")))
    span = yearly.groupBy("nation").agg(F.min("yr").alias("y0"),
                                        F.max("yr").alias("y1"))
    a = yearly.select(F.col("nation").alias("nat_a"), F.col("yr").alias("ya"),
                      F.col("rev").alias("rev0"))
    b = yearly.select(F.col("nation").alias("nat_b"), F.col("yr").alias("yb"),
                      F.col("rev").alias("rev1"))
    return (span
            .join(a, (F.col("nation") == F.col("nat_a"))
                  & (F.col("y0") == F.col("ya")))
            .join(b, (F.col("nation") == F.col("nat_b"))
                  & (F.col("y1") == F.col("yb")))
            .filter((F.col("y1") > F.col("y0")) & (F.col("rev0") > 0))
            .select("nation", "y0", "y1", "rev0", "rev1",
                    pround6(F.exp(F.log(F.col("rev1") / F.col("rev0"))
                                  / (F.col("y1") - F.col("y0")).cast("double"))
                            - 1.0).alias("cagr")))


# ---------------------------------------------------------------------------
# q_linear_interpolate — fill the holes in a sparse hourly series by
# LINEAR interpolation between the neighboring known points (the
# time-series imputation q_gap_fill deliberately does not do — that op
# fills zeros). Known cells are exact x4 fixed-point sums; for a
# missing hour h between known (hp, vp) and (hn, vn):
# v(h) = vp + (vn-vp)·(h-hp)/(hn-hp), every operand an exact integer,
# so both engines perform the same two IEEE ops. The neighbor scan is
# two IGNORE-NULLS windows over the calendar-bounded (event_type ×
# hour) grid — O(types·hours) rows regardless of input scale (the
# documented day-grid contract).
# ---------------------------------------------------------------------------
_INTERP_ORACLE = """
WITH b AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
), et AS (SELECT DISTINCT event_type FROM events),
grid AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM et, b
), c AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) * 10000 AS BIGINT) AS v4
  FROM events GROUP BY 1, 2
), g AS (
  SELECT grid.event_type, grid.h,
         CAST(epoch(grid.h) // 3600 AS BIGINT) AS eh, c.v4
  FROM grid LEFT JOIN c ON grid.event_type = c.event_type AND grid.h = c.h
), nb AS (
  SELECT event_type, h, eh, v4,
         last_value(v4 IGNORE NULLS) OVER w_prev AS vp,
         last_value(CASE WHEN v4 IS NOT NULL THEN eh END IGNORE NULLS)
           OVER w_prev AS hp,
         first_value(v4 IGNORE NULLS) OVER w_next AS vn,
         first_value(CASE WHEN v4 IS NOT NULL THEN eh END IGNORE NULLS)
           OVER w_next AS hn
  FROM g
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY eh
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (PARTITION BY event_type ORDER BY eh
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket,
       CAST(FLOOR((CASE WHEN v4 IS NOT NULL THEN v4 / 10000.0
                        ELSE (vp + (vn - vp) * CAST(eh - hp AS DOUBLE)
                                   / CAST(hn - hp AS DOUBLE)) / 10000.0
                   END) * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS value,
       CAST(CASE WHEN v4 IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_interpolated
FROM nb
WHERE v4 IS NOT NULL OR (vp IS NOT NULL AND vn IS NOT NULL)
"""


@register("q_linear_interpolate", headline=True, oracle=_INTERP_ORACLE)
def q_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import ts_str

    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    c = (ev.groupBy("event_type", hour.alias("h"))
         .agg((F.round(F.sum(dval("value")), 4) * 10000)
              .cast("bigint").alias("v4")))
    bounds = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
                    F.date_trunc("hour", F.max("ts")).alias("h1"))
    grid = (ev.select("event_type").distinct()
            .crossJoin(F.broadcast(bounds))
            .select("event_type",
                    F.explode(F.sequence("h0", "h1",
                                         F.expr("interval 1 hour"))).alias("h")))
    # floor (not cast-truncate) so pre-1970 hours index identically to
    # the oracle's epoch(h) // 3600
    g = (grid.join(c, ["event_type", "h"], "left")
         .withColumn("eh", F.floor(F.unix_micros("h")
                                   / F.lit(3600000000)).cast("bigint")))
    w_prev = (W.partitionBy("event_type").orderBy("eh")
              .rowsBetween(W.unboundedPreceding, -1))
    w_next = (W.partitionBy("event_type").orderBy("eh")
              .rowsBetween(1, W.unboundedFollowing))
    known_eh = F.when(F.col("v4").isNotNull(), F.col("eh"))
    nb = g.select(
        "event_type", "h", "eh", "v4",
        F.last("v4", ignorenulls=True).over(w_prev).alias("vp"),
        F.last(known_eh, ignorenulls=True).over(w_prev).alias("hp"),
        F.first("v4", ignorenulls=True).over(w_next).alias("vn"),
        F.first(known_eh, ignorenulls=True).over(w_next).alias("hn"))
    interp = (F.col("vp") + (F.col("vn") - F.col("vp"))
              * (F.col("eh") - F.col("hp")).cast("double")
              / (F.col("hn") - F.col("hp")).cast("double")) / 10000.0
    return (nb.filter(F.col("v4").isNotNull()
                      | (F.col("vp").isNotNull() & F.col("vn").isNotNull()))
            .select("event_type",
                    ts_str(F.col("h"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
                    pround6(F.when(F.col("v4").isNotNull(),
                                   F.col("v4") / 10000.0)
                            .otherwise(interp)).alias("value"),
                    F.when(F.col("v4").isNull(), 1).otherwise(0)
                     .cast("bigint").alias("is_interpolated")))


# ---------------------------------------------------------------------------
# dq_drift_fdr — drift screening across MANY segments with a
# multiple-testing correction: per-source binned two-sample KS of the
# n_chars distribution vs the rest of the corpus (fixed value-grid
# ECDF — the scalable binned form; exact integer cumulative counts),
# p-value from the standard asymptotic KS tail bound
# p = min(1, 2·exp(-2·d²·n_s·n_r/(n_s+n_r))), then Benjamini-Hochberg
# at q = 0.10: reject every source ranked ≤ i* where i* = max{i : p_i
# ≤ i·q/m}. Everything after the one corpus scan is |sources| rows;
# the per-edge cumulative counts aggregate map-side.
# ---------------------------------------------------------------------------
_FDR_EDGES = [50, 100, 150, 200, 250, 300, 350, 400, 450, 500, 550]
_FDR_Q = 0.10

_DRIFT_FDR_ORACLE = f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ns,
         {", ".join(f"CAST(sum(CASE WHEN n_chars <= {e} THEN 1 ELSE 0 END)"
                    f" AS BIGINT) AS c{i}" for i, e in enumerate(_FDR_EDGES))}
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(ns) AS BIGINT) AS n,
         {", ".join(f"CAST(sum(c{i}) AS BIGINT) AS t{i}"
                    for i in range(len(_FDR_EDGES)))}
  FROM per
),
d AS (
  SELECT source, ns, n - ns AS nr,
         greatest({", ".join(
             f"abs(CAST(c{i} AS DOUBLE) / ns"
             f" - CAST(t{i} - c{i} AS DOUBLE) / (n - ns))"
             for i in range(len(_FDR_EDGES)))}) AS dstat
  FROM per, tot
),
p AS (
  SELECT source, ns, dstat,
         least(1.0, 2.0 * exp(-2.0 * dstat * dstat
               * (CAST(ns AS DOUBLE) * nr / (ns + nr)))) AS pval
  FROM d
),
r AS (
  SELECT source, ns, dstat, pval,
         CAST(row_number() OVER (ORDER BY pval, source) AS BIGINT) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM p
),
istar AS (
  SELECT COALESCE(max(CASE WHEN pval <= rk * {_FDR_Q} / m
                           THEN rk END), 0) AS cut
  FROM r
)
SELECT source, ns AS n, {sql_pround6("dstat")} AS d_stat,
       {sql_pround6("pval")} AS p_value, rk,
       CAST(CASE WHEN rk <= cut THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM r, istar
"""


@register("dq_drift_fdr", headline=True, oracle=_DRIFT_FDR_ORACLE)
def dq_drift_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        lcount("ns"),
        *[F.sum(F.when(F.col("n_chars") <= e, 1).otherwise(0))
          .cast("bigint").alias(f"c{i}") for i, e in enumerate(_FDR_EDGES)])
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    tot = per.select(
        "source", "ns", *[f"c{i}" for i in range(len(_FDR_EDGES))],
        F.sum("ns").over(wall).cast("bigint").alias("n"),
        *[F.sum(f"c{i}").over(wall).cast("bigint").alias(f"t{i}")
          for i in range(len(_FDR_EDGES))])
    nr = F.col("n") - F.col("ns")
    dstat = F.greatest(*[
        F.abs(F.col(f"c{i}").cast("double") / F.col("ns")
              - (F.col(f"t{i}") - F.col(f"c{i}")).cast("double") / nr)
        for i in range(len(_FDR_EDGES))])
    p = tot.select(
        "source", "ns", nr.alias("nr"), dstat.alias("dstat"),
    ).withColumn("pval", F.least(F.lit(1.0), 2.0 * F.exp(
        -2.0 * F.col("dstat") * F.col("dstat")
        * (F.col("ns").cast("double") * F.col("nr")
           / (F.col("ns") + F.col("nr"))))))
    r = p.select(
        "source", "ns", "dstat", "pval",
        F.row_number().over(W.orderBy("pval", "source"))
         .cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("m"))
    cut = F.coalesce(
        F.max(F.when(F.col("pval") <= F.col("rk") * _FDR_Q / F.col("m"),
                     F.col("rk"))).over(wall), F.lit(0))
    return r.select(
        "source", F.col("ns").alias("n"),
        pround6(F.col("dstat")).alias("d_stat"),
        pround6(F.col("pval")).alias("p_value"), "rk",
        F.when(F.col("rk") <= cut, 1).otherwise(0)
         .cast("bigint").alias("significant"))


# ---------------------------------------------------------------------------
# q_ljung_box — portmanteau whiteness test over the daily event-count
# series: Q = m(m+2)·Σ_{k=1..L} r_k²/(m−k) with the same exact
# day-ordered fold machinery as q_acf (r_k = nsum_k/d0, every operand
# derived from exact integer counts; the 7 r_k² terms fold in lag
# order). The companion diagnostic to q_acf — "are these
# autocorrelations JOINTLY significant" — read against the chi-square
# critical value for L dof. Day grid is calendar-bounded.
# ---------------------------------------------------------------------------
_LB_MAX_LAG = 7

_LJUNG_BOX_ORACLE = f"""
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
lags AS (SELECT unnest(generate_series(1, {_LB_MAX_LAG})) AS lag),
num AS (
  SELECT lag,
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
),
terms AS (
  SELECT n.lag,
         (n.nsum / d.d0) * (n.nsum / d.d0)
           / (CAST(g.m AS DOUBLE) - n.lag) AS t
  FROM num n CROSS JOIN den d CROSS JOIN g
)
SELECT g.m, CAST({_LB_MAX_LAG} AS BIGINT) AS max_lag,
       {sql_pround6(
           "CAST(g.m AS DOUBLE) * (CAST(g.m AS DOUBLE) + 2.0)"
           " * list_aggregate(list_transform(list_sort(list("
           "{'i': lag, 'v': t})), s -> s.v), 'sum')")} AS q_stat
FROM terms CROSS JOIN g
GROUP BY g.m
"""


@register("q_ljung_box", oracle=_LJUNG_BOX_ORACLE)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    lags = spark.range(1, _LB_MAX_LAG + 1).select(
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
        .agg(fold_sorted(F.col("sv")).alias("nsum")))
    terms = (num.crossJoin(F.broadcast(den)).crossJoin(F.broadcast(g))
             .select("lag", "m",
                     ((F.col("nsum") / F.col("d0"))
                      * (F.col("nsum") / F.col("d0"))
                      / (F.col("m").cast("double") - F.col("lag"))).alias("t")))
    return (terms.groupBy("m")
            .agg(F.aggregate(
                F.transform(F.array_sort(F.collect_list(
                    F.struct(F.col("lag").alias("i"), F.col("t").alias("v")))),
                    lambda s: s["v"]),
                F.lit(0.0), lambda acc, v: acc + v).alias("qs"))
            .select("m", F.lit(_LB_MAX_LAG).cast("bigint").alias("max_lag"),
                    pround6(F.col("m").cast("double")
                            * (F.col("m").cast("double") + 2.0)
                            * F.col("qs")).alias("q_stat")))


# ---------------------------------------------------------------------------
# q_decile_lift — the gains/lift table for a scored population: users
# ranked by activity (event count), cut into score deciles
# (ntile(10) over the deterministic (score desc, user_id) order), and
# each decile's purchase capture + lift over the base rate. The
# standard campaign-targeting readout. Per-user aggregation is the one
# shuffle; the lift table is 10 rows of exact-integer ratios.
# ---------------------------------------------------------------------------
_DECILE_LIFT_ORACLE = """
WITH u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS score,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS buyer
  FROM events GROUP BY user_id
),
d AS (
  SELECT buyer, CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS BIGINT)
           AS decile
  FROM u
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(buyer) AS BIGINT) AS b_all FROM u)
SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(buyer) AS BIGINT) AS n_buyers,
       round(CAST(sum(buyer) AS DOUBLE) / b_all, 6) AS capture,
       round((CAST(sum(buyer) AS DOUBLE) / count(*))
             / (CAST(b_all AS DOUBLE) / n_all), 6) AS lift
FROM d CROSS JOIN t
GROUP BY decile, n_all, b_all
"""


@register("q_decile_lift", oracle=_DECILE_LIFT_ORACLE)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        lcount("score"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
         .cast("bigint").alias("buyer"))
    d = u.select(
        "buyer",
        F.ntile(10).over(W.orderBy(F.desc("score"), F.asc("user_id")))
         .cast("bigint").alias("decile"))
    t = u.agg(lcount("n_all"), F.sum("buyer").cast("bigint").alias("b_all"))
    return (d.groupBy("decile").agg(
        lcount("n_users"), F.sum("buyer").cast("bigint").alias("n_buyers"))
        .crossJoin(F.broadcast(t))
        .select("decile", "n_users", "n_buyers",
                F.round(F.col("n_buyers").cast("double") / F.col("b_all"), 6)
                 .alias("capture"),
                F.round((F.col("n_buyers").cast("double") / F.col("n_users"))
                        / (F.col("b_all").cast("double") / F.col("n_all")), 6)
                 .alias("lift")))


# ---------------------------------------------------------------------------
# q_price_elasticity — log-log price elasticity of demand per part
# brand: OLS slope of ln(quantity) on ln(unit price) over that brand's
# line items. Unit price enters as exact x4 fixed-point cents divided
# by the integer quantity (identical doubles both engines), the four
# moment sums (Σx, Σy, Σxx, Σxy) fold in (orderkey, linenumber) order
# so double accumulation is bit-identical, and the slope is one
# arithmetic tree over those sums. The econometrics readout a pricing
# team runs: elasticity < -1 = elastic demand. One lineitem⋈part
# shuffle; per-brand state is the sorted fold (bounded by brand size).
# ---------------------------------------------------------------------------
_ELASTICITY_ORACLE = """
WITH li AS (
  SELECT p.p_brand AS brand,
         l.l_orderkey * 10 + l.l_linenumber AS k,
         ln((CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
             / 10000.0) / CAST(l.l_quantity AS DOUBLE)) AS x,
         ln(CAST(l.l_quantity AS DOUBLE)) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
folds AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n,
         list_aggregate(list_transform(list_sort(list({'i': k, 'v': x})),
                                       s -> s.v), 'sum') AS sx,
         list_aggregate(list_transform(list_sort(list({'i': k, 'v': y})),
                                       s -> s.v), 'sum') AS sy,
         list_aggregate(list_transform(list_sort(list({'i': k, 'v': x * x})),
                                       s -> s.v), 'sum') AS sxx,
         list_aggregate(list_transform(list_sort(list({'i': k, 'v': x * y})),
                                       s -> s.v), 'sum') AS sxy
  FROM li GROUP BY brand
)
SELECT brand, n,
       CAST(FLOOR(((n * sxy - sx * sy) / (n * sxx - sx * sx))
                  * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS elasticity
FROM folds WHERE n >= 3 AND (n * sxx - sx * sx) <> 0
"""


@register("q_price_elasticity", oracle=_ELASTICITY_ORACLE)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ep4 = (F.round(F.col("l_extendedprice").cast("decimal(18,4)"), 4)
           * 10000).cast("bigint") / 10000.0
    x = F.log(ep4 / F.col("l_quantity").cast("double"))
    y = F.log(F.col("l_quantity").cast("double"))
    base = (li.join(part, li.l_partkey == part.p_partkey)
            .select(F.col("p_brand").alias("brand"),
                    (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
                    .alias("k"),
                    x.alias("x"), y.alias("y")))

    def fold(expr):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(F.col("k").alias("i"), expr.alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v)

    folds = base.groupBy("brand").agg(
        lcount("n"),
        fold(F.col("x")).alias("sx"),
        fold(F.col("y")).alias("sy"),
        fold(F.col("x") * F.col("x")).alias("sxx"),
        fold(F.col("x") * F.col("y")).alias("sxy"))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (folds.filter((F.col("n") >= 3) & (den != 0))
            .select("brand", "n",
                    pround6((F.col("n") * F.col("sxy")
                             - F.col("sx") * F.col("sy")) / den)
                    .alias("elasticity")))


# ---------------------------------------------------------------------------
# q_nelson_aalen — cumulative-hazard companion to q_kaplan_meier on the
# same first->second-event duration grid: H(t) = Σ_{t_i<=t} d_i/n_i.
# Each hazard increment is one division of exact integers (identical
# doubles both engines) and the prefix sum folds in duration order, so
# the estimate is bit-identical. Same bounded duration-grid prefix
# cross as KM (the grid is O(distinct durations), not O(users)).
# ---------------------------------------------------------------------------
_NA_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS d,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
f AS (SELECT user_id, d AS fd FROM e WHERE rn = 1),
s AS (SELECT user_id, d AS sd FROM e WHERE rn = 2),
h AS (SELECT max(d) AS hmax FROM e),
u AS (
  SELECT CASE WHEN s.sd IS NOT NULL THEN s.sd - f.fd
              ELSE h.hmax - f.fd END AS dur,
         CASE WHEN s.sd IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM f LEFT JOIN s ON f.user_id = s.user_id CROSS JOIN h
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
)
SELECT r1.t AS duration_days, r1.d_events, r1.n_risk,
       round(list_aggregate(list_transform(
         list_sort(list({'i': r2.t,
                         'v': CAST(r2.d_events AS DOUBLE)
                              / CAST(r2.n_risk AS DOUBLE)})),
         s -> s.v), 'sum'), 6) AS cum_hazard
FROM risk r1 JOIN risk r2 ON r2.t <= r1.t
GROUP BY r1.t, r1.d_events, r1.n_risk
"""


@register("q_nelson_aalen", oracle=_NA_ORACLE)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                  / F.lit(86400000000)).cast("bigint")
    # ONE window pass (the q_kaplan_meier round-11 shape): first/second
    # event day pivot out of the same ranked frame via a groupBy on the
    # window's own key instead of a three-consumer window + self-join;
    # the horizon is a plain max over raw events (max over rows 1..n ==
    # max over ranked rows). min-when over rn<=2 == the rn=1/rn=2 split.
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
    # grid/risk each feed both sides of their triangular self-joins
    # (round-12 subtree lint: one x2 45-node duplicate here) — persist;
    # both are bounded, one row per distinct duration day.
    grid = persist(u.groupBy(F.col("dur").alias("t")).agg(
        F.sum("observed").cast("bigint").alias("d_events"),
        lcount("ending")))
    g2 = grid.select(F.col("t").alias("t2"), F.col("ending").alias("e2"))
    risk = persist(grid.join(F.broadcast(g2), F.col("t2") >= F.col("t"))
                   .groupBy("t", "d_events")
                   .agg(F.sum("e2").cast("bigint").alias("n_risk"))
                   .filter(F.col("d_events") > 0))
    r2 = risk.select(F.col("t").alias("tb"), F.col("d_events").alias("db"),
                     F.col("n_risk").alias("nb"))
    fold = F.aggregate(
        F.transform(F.array_sort(F.collect_list(
            F.struct(F.col("tb").alias("i"),
                     (F.col("db").cast("double")
                      / F.col("nb").cast("double")).alias("v")))),
            lambda x: x["v"]),
        F.lit(0.0), lambda acc, v: acc + v)
    return (risk.join(F.broadcast(r2), F.col("tb") <= F.col("t"))
            .groupBy(F.col("t").alias("duration_days"),
                     "d_events", "n_risk")
            .agg(F.round(fold, 6).alias("cum_hazard")))


# ---------------------------------------------------------------------------
# q_group_percentiles — exact interpolated percentiles PER GROUP
# (p50/p90/p99 of order totals by customer nation): q_percentile's
# portable quantile_cont == F.percentile equivalence, applied grouped,
# over x4-exact doubles so both engines interpolate identical values.
# One orders⋈customer shuffle with the nation dim broadcast.
# ---------------------------------------------------------------------------
_GROUP_PCTL_ORACLE = """
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(quantile_cont(CAST(CAST(o.o_totalprice AS DECIMAL(18,4))
                                * 10000 AS BIGINT) / 10000.0, 0.5), 6) AS p50,
       round(quantile_cont(CAST(CAST(o.o_totalprice AS DECIMAL(18,4))
                                * 10000 AS BIGINT) / 10000.0, 0.9), 6) AS p90,
       round(quantile_cont(CAST(CAST(o.o_totalprice AS DECIMAL(18,4))
                                * 10000 AS BIGINT) / 10000.0, 0.99), 6) AS p99
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@register("q_group_percentiles", oracle=_GROUP_PCTL_ORACLE)
def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    tp = ((F.round(F.col("o_totalprice").cast("decimal(18,4)"), 4) * 10000)
          .cast("bigint") / 10000.0)
    return (orders.join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .select(F.col("n_name").alias("nation"), tp.alias("v"))
            .groupBy("nation")
            .agg(lcount("n_orders"),
                 F.round(F.percentile("v", F.lit(0.5)), 6).alias("p50"),
                 F.round(F.percentile("v", F.lit(0.9)), 6).alias("p90"),
                 F.round(F.percentile("v", F.lit(0.99)), 6).alias("p99")))


# ---------------------------------------------------------------------------
# tok_mincount_sweep — tokenizer vocabulary design curve: for each
# min-count threshold, the surviving vocab size and the OOV token
# share it would induce. The counts table computes ONCE (exact ints);
# the sweep is a literal threshold-lattice rollup, the
# dd_threshold_sweep pattern applied to vocab pruning.
# ---------------------------------------------------------------------------
_MINCOUNT_THRESHOLDS = [1, 2, 3, 5, 10, 20]

_MINCOUNT_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents WHERE length(text) > 0
),
cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
thr AS (SELECT unnest([{", ".join(map(str, _MINCOUNT_THRESHOLDS))}]) AS min_count)
SELECT CAST(min_count AS BIGINT) AS min_count,
       CAST(sum(CASE WHEN c >= min_count THEN 1 ELSE 0 END) AS BIGINT)
         AS vocab_size,
       CAST(sum(CASE WHEN c < min_count THEN c ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       round(CAST(sum(CASE WHEN c < min_count THEN c ELSE 0 END) AS DOUBLE)
             / n, 6) AS oov_rate
FROM thr, cnt, tot
GROUP BY min_count, n
"""


@register("tok_mincount_sweep", oracle=_MINCOUNT_ORACLE)
def tok_mincount_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    # cnt feeds the total-token agg AND the threshold sweep: persist
    # the vocab-scale census so tokenization runs once (round-12 lint)
    cnt = persist(docs.select(F.explode(tx.tokens(F.col("text"))).alias("tok"))
                  .groupBy("tok").agg(lcount("c")))
    tot = cnt.agg(F.sum("c").cast("bigint").alias("n"))
    thr = local_frame([(t,) for t in _MINCOUNT_THRESHOLDS],
                      "min_count bigint")
    return (cnt.crossJoin(F.broadcast(thr)).crossJoin(F.broadcast(tot))
            .groupBy("min_count", "n")
            .agg(F.sum(F.when(F.col("c") >= F.col("min_count"), 1)
                       .otherwise(0)).cast("bigint").alias("vocab_size"),
                 F.sum(F.when(F.col("c") < F.col("min_count"), F.col("c"))
                       .otherwise(0)).cast("bigint").alias("oov_tokens"))
            .select("min_count", "vocab_size", "oov_tokens",
                    F.round(F.col("oov_tokens").cast("double")
                            / F.col("n"), 6).alias("oov_rate")))


# ---------------------------------------------------------------------------
# q_kendall_tau — Kendall's tau-b between calendar day and daily order
# count over the bounded day grid: the normalized companion to
# q_mann_kendall's S statistic (tau_b = S / sqrt((n0 - tx)(n0 - ty));
# day indexes are tie-free so ty = 0). Every count is an exact
# integer; the one sqrt runs on identical doubles. Day-pair cross is
# the documented calendar-bounded lattice.
# ---------------------------------------------------------------------------
_KENDALL_ORACLE = """
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
tx AS (
  SELECT CAST(COALESCE(sum(t * (t - 1) / 2), 0) AS BIGINT) AS tx
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x)
  WHERE t > 1
)
SELECT m, s,
       round(CAST(s AS DOUBLE)
             / sqrt((CAST(m AS DOUBLE) * (m - 1) / 2.0 - tx)
                    * (CAST(m AS DOUBLE) * (m - 1) / 2.0)), 6) AS tau_b
FROM s CROSS JOIN m CROSS JOIN tx
"""


@register("q_kendall_tau", oracle=_KENDALL_ORACLE)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # daily feeds both self-join sides, the series count AND the tie
    # census (4 consumers) — persist the bounded per-day census, the
    # q_mann_kendall discipline (round-12 subtree lint)
    daily = persist(orders.groupBy(F.to_date("o_orderdate").alias("d"))
                    .agg(lcount("x")))
    b = daily.select(F.col("d").alias("d2"), F.col("x").alias("x2"))
    s = (daily.join(b, F.col("d") < F.col("d2"))
         .agg(F.sum(F.when(F.col("x2") > F.col("x"), 1)
                    .when(F.col("x2") < F.col("x"), -1)
                    .otherwise(0)).cast("bigint").alias("s")))
    m = daily.agg(lcount("m"))
    tx_ = (daily.groupBy("x").agg(lcount("t"))
           .filter(F.col("t") > 1)
           .agg(F.coalesce(F.sum(F.col("t") * (F.col("t") - 1) / 2),
                           F.lit(0)).cast("bigint").alias("tx")))
    j = s.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(tx_))
    n0 = F.col("m").cast("double") * (F.col("m") - 1) / 2.0
    return j.select(
        "m", "s",
        F.round(F.col("s").cast("double")
                / F.sqrt((n0 - F.col("tx")) * n0), 6).alias("tau_b"))


# ---------------------------------------------------------------------------
# q_gk_gamma — Goodman-Kruskal gamma between order priority (ordinal
# 1-URGENT..5-LOW) and order size (number of line items): concordant
# vs discordant mass over the tiny (priority x line-count) cell table
# (≤ 5x7 cells — the q_chi_square margin-lattice shape), gamma =
# (C - D)/(C + D), one division of exact integers. The ordinal
# association readout chi-square can't give (it ignores order).
# ---------------------------------------------------------------------------
_GK_GAMMA_ORACLE = """
WITH per_order AS (
  SELECT CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS p,
         CAST(count(*) AS BIGINT) AS q
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderpriority
),
cells AS (
  SELECT p, q, CAST(count(*) AS BIGINT) AS n FROM per_order GROUP BY p, q
),
cd AS (
  SELECT
    CAST(sum(CASE WHEN (a.p < b.p AND a.q < b.q)
                    OR (a.p > b.p AND a.q > b.q)
             THEN a.n * b.n ELSE 0 END) AS BIGINT) / 2 AS c,
    CAST(sum(CASE WHEN (a.p < b.p AND a.q > b.q)
                    OR (a.p > b.p AND a.q < b.q)
             THEN a.n * b.n ELSE 0 END) AS BIGINT) / 2 AS d
  FROM cells a, cells b
)
SELECT CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
       round(CAST(c - d AS DOUBLE) / CAST(c + d AS DOUBLE), 6) AS gamma
FROM cd
"""


@register("q_gk_gamma", oracle=_GK_GAMMA_ORACLE)
def q_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (orders.join(li, li.l_orderkey == orders.o_orderkey)
                 .groupBy("o_orderkey", "o_orderpriority")
                 .agg(lcount("q"))
                 .select(F.substring("o_orderpriority", 1, 1)
                         .cast("bigint").alias("p"), "q"))
    # cells feeds both sides of the concordance cross: persist the
    # tiny cell grid so the orders x lineitem join + agg runs once
    # (round-12 subtree lint)
    cells = persist(per_order.groupBy("p", "q").agg(lcount("n")))
    b = cells.select(F.col("p").alias("p2"), F.col("q").alias("q2"),
                     F.col("n").alias("n2"))
    conc = (((F.col("p") < F.col("p2")) & (F.col("q") < F.col("q2")))
            | ((F.col("p") > F.col("p2")) & (F.col("q") > F.col("q2"))))
    disc = (((F.col("p") < F.col("p2")) & (F.col("q") > F.col("q2")))
            | ((F.col("p") > F.col("p2")) & (F.col("q") < F.col("q2"))))
    cd = (cells.crossJoin(F.broadcast(b))
          .agg((F.sum(F.when(conc, F.col("n") * F.col("n2")).otherwise(0))
                .cast("bigint") / 2).cast("bigint").alias("concordant"),
               (F.sum(F.when(disc, F.col("n") * F.col("n2")).otherwise(0))
                .cast("bigint") / 2).cast("bigint").alias("discordant")))
    return cd.select(
        "concordant", "discordant",
        F.round((F.col("concordant") - F.col("discordant")).cast("double")
                / (F.col("concordant") + F.col("discordant")).cast("double"),
                6).alias("gamma"))


# ---------------------------------------------------------------------------
# s_translit_match — romanization verification for non-Latin alias
# rows: transliterate each Cyrillic alias (BGN/PCGN-style shared
# tables, functions/names.py) and measure its edit distance to every
# LATIN alias of the same entity on order-insensitive sorted-token
# forms ('Ёлкин, Пётр' -> 'pyotr yolkin' == 'Pyotr Yolkin'). The check
# the reference implies when it keeps the Latin alias of a non-Latin
# primary (main.py:333-361): is that Latin alias actually the
# romanization? matched = lev <= 2 absorbs kh/h- and y-insertion
# spelling families. Per-entity pairs only — no cross-entity blowup.
# ---------------------------------------------------------------------------
_TRANSLIT_ORACLE = f"""
WITH {fx.sql_cte("aliases")},
base AS (
  SELECT entity_id, alias_idx, whole_name,
         lower(trim(regexp_replace(whole_name, '\\s+', ' ', 'g'))) AS norm,
         CASE WHEN {nm.sql_is_latin_name("whole_name")} THEN 1 ELSE 0 END
           AS is_lat
  FROM aliases
),
nl AS (
  SELECT entity_id, alias_idx AS nl_idx,
         {nm.sql_sorted_token_key(nm.sql_translit_cyrillic("norm"))} AS tkey
  FROM base WHERE is_lat = 0
),
lat AS (
  SELECT entity_id, alias_idx AS lat_idx,
         {nm.sql_sorted_token_key("norm")} AS lkey
  FROM base WHERE is_lat = 1
)
SELECT n.entity_id, n.nl_idx, l.lat_idx, n.tkey AS translit,
       CAST(levenshtein(n.tkey, l.lkey) AS BIGINT) AS lev,
       CAST(CASE WHEN levenshtein(n.tkey, l.lkey) <= 2 THEN 1 ELSE 0 END
            AS BIGINT) AS matched
FROM nl n JOIN lat l ON n.entity_id = l.entity_id
"""


@register("s_translit_match", headline=True, oracle=_TRANSLIT_ORACLE)
def s_translit_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.functions import names as nmf

    al = fx.spark_df(spark, "aliases")
    norm = F.lower(F.trim(F.regexp_replace("whole_name", r"\s+", " ")))
    base = al.select(
        "entity_id", "alias_idx", norm.alias("norm"),
        nmf.is_latin_name(F.col("whole_name")).alias("is_lat"))
    nl = base.filter(~F.col("is_lat")).select(
        "entity_id", F.col("alias_idx").alias("nl_idx"),
        nmf.sorted_token_key(
            nmf.translit_cyrillic(F.col("norm"))).alias("tkey"))
    lat = base.filter(F.col("is_lat")).select(
        F.col("entity_id").alias("e2"), F.col("alias_idx").alias("lat_idx"),
        nmf.sorted_token_key(F.col("norm")).alias("lkey"))
    lev = F.levenshtein("tkey", "lkey")
    return (nl.join(lat, nl.entity_id == lat.e2)
            .select("entity_id", "nl_idx", "lat_idx",
                    F.col("tkey").alias("translit"),
                    lev.cast("bigint").alias("lev"),
                    F.when(lev <= 2, 1).otherwise(0)
                     .cast("bigint").alias("matched")))


# ---------------------------------------------------------------------------
# q_rolling_beta — 30-day rolling OLS beta of daily purchase count on
# daily view count (the "sensitivity of conversions to traffic"
# readout; q_rolling_corr's directional sibling). Both series are
# exact integer day counts, every window sum is an exact bigint, and
# beta = (m·sxy − sx·sy)/(m·sxx − sx²) is one arithmetic tree over
# them. Calendar-bounded day grid (documented window contract).
# ---------------------------------------------------------------------------
_ROLL_BETA_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS i,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT day,
         CAST(count(*) OVER win AS BIGINT) AS m,
         CAST(sum(x) OVER win AS BIGINT) AS sx,
         CAST(sum(y) OVER win AS BIGINT) AS sy,
         CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
         CAST(sum(x * y) OVER win AS BIGINT) AS sxy
  FROM daily
  WINDOW win AS (ORDER BY i ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
)
SELECT day, m,
       -- both guards: the exact bigint one (true degeneracy) AND the
       -- double-computed denominator != 0 (cancellation past ~2^53 —
       -- Spark's x/0.0 is NULL while DuckDB's is inf, so both engines
       -- must agree to emit NULL there)
       CASE WHEN m > 1 AND m * sxx - sx * sx > 0
                 AND CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <> 0
            THEN round((CAST(m AS DOUBLE) * sxy
                        - CAST(sx AS DOUBLE) * sy)
                       / (CAST(m AS DOUBLE) * sxx
                          - CAST(sx AS DOUBLE) * sx), 6)
       END AS beta
FROM w
"""


@register("q_rolling_beta", oracle=_ROLL_BETA_ORACLE)
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                / F.lit(86400000000)).cast("bigint").alias("i"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
             .cast("bigint").alias("x"),
             F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
             .cast("bigint").alias("y")))
    win = W.orderBy("i").rowsBetween(-29, 0)
    w = daily.select(
        "day",
        F.count(F.lit(1)).over(win).cast("bigint").alias("m"),
        F.sum("x").over(win).cast("bigint").alias("sx"),
        F.sum("y").over(win).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(win).cast("bigint").alias("sxy"))
    m = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    den = m * F.col("sxx").cast("double") - sx * sx
    # Guard on the EXACT bigint denominator (true degeneracy) AND on
    # the double-computed one (cancellation past ~2^53): when the
    # double den collapses to 0.0 while the exact value is positive,
    # Spark's x/0.0 is NULL but DuckDB's is inf — so both sides'
    # oracles agree to emit NULL in that regime instead of dividing.
    den_exact = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return w.select(
        "day", "m",
        F.when((F.col("m") > 1) & (den_exact > 0) & (den != 0.0),
               F.round((m * F.col("sxy").cast("double") - sx * sy) / den, 6))
        .alias("beta"))


# ---------------------------------------------------------------------------
# q_session_stats — the product-analytics rollup OVER q_sessionize's
# output: distribution of session length (seconds), size (events) and
# bounce share, as one summary row. Percentiles are the proven
# quantile_cont == F.percentile equivalence over exact integer
# durations; bounce share is one exact-int division. Composes the
# sessionize gaps-and-islands verbatim (same >30min gap rule), so
# correctness inherits from the driver-green q_sessionize.
# ---------------------------------------------------------------------------
_SESSION_STATS_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                   OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
), per_session AS (
  SELECT CAST(count(*) AS BIGINT) AS n_events,
         CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT)
           AS dur_s
  FROM sessions GROUP BY user_id, session_seq
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       round(quantile_cont(CAST(dur_s AS DOUBLE), 0.5), 6) AS p50_dur_s,
       round(quantile_cont(CAST(dur_s AS DOUBLE), 0.9), 6) AS p90_dur_s,
       round(quantile_cont(CAST(n_events AS DOUBLE), 0.5), 6) AS p50_events,
       round(quantile_cont(CAST(n_events AS DOUBLE), 0.9), 6) AS p90_events,
       round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS bounce_share
FROM per_session
"""


@register("q_session_stats", headline=True, oracle=_SESSION_STATS_ORACLE)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros(F.col("ts"))
               - F.unix_micros(F.lag("ts").over(w)) > 1_800_000_000),
            1).otherwise(0))
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint"))
    per_session = (sessions.groupBy("user_id", "session_seq")
                   .agg(lcount("n_events"),
                        ((F.unix_micros(F.max("ts"))
                          - F.unix_micros(F.min("ts"))) / 1_000_000)
                        .cast("bigint").alias("dur_s")))
    return per_session.agg(
        lcount("n_sessions"),
        F.round(F.percentile(F.col("dur_s").cast("double"), F.lit(0.5)), 6)
         .alias("p50_dur_s"),
        F.round(F.percentile(F.col("dur_s").cast("double"), F.lit(0.9)), 6)
         .alias("p90_dur_s"),
        F.round(F.percentile(F.col("n_events").cast("double"), F.lit(0.5)), 6)
         .alias("p50_events"),
        F.round(F.percentile(F.col("n_events").cast("double"), F.lit(0.9)), 6)
         .alias("p90_events"),
        F.round(F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
                .cast("double") / F.count(F.lit(1)), 6).alias("bounce_share"))


# ---------------------------------------------------------------------------
# ml_kmeans_step — ONE exact Lloyd iteration from deterministic seeds
# (the k lowest vec_ids), emitting the per-cluster assignment census
# and the inertia the step achieves. Random init and multi-round
# convergence live in the rows-only emb_kmeans_train; this twin makes
# the ITERATION ITSELF cross-engine hash-checkable: seeds are data,
# distances fold (v_d−c_d)² in dim order, argmin ties break to the
# smaller seed id, inertia folds per cluster in vec_id order. The
# per-round cost model a 100-TB k-means pays is exactly this op:
# one broadcast of k·dim doubles + one corpus pass + a k-row agg.
# ---------------------------------------------------------------------------
_KMEANS_STEP_K = 4

_KMEANS_STEP_ORACLE = f"""
WITH x AS (
  SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
seeds AS (
  SELECT vec_id AS cid, dim, val AS c
  FROM x WHERE vec_id < {_KMEANS_STEP_K}
),
d AS (
  SELECT x.vec_id, s.cid,
         list_aggregate(list_transform(
           list_sort(list({{'i': x.dim, 'v': (x.val - s.c) * (x.val - s.c)}})),
           v -> v.v), 'sum') AS dist2
  FROM x JOIN seeds s ON x.dim = s.dim
  GROUP BY x.vec_id, s.cid
),
assign AS (
  SELECT vec_id, cid, dist2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(dist2, 9), cid) AS rk
  FROM d
)
SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned,
       round(list_aggregate(list_transform(
         list_sort(list({{'i': vec_id, 'v': dist2}})), v -> v.v), 'sum'), 6)
         AS inertia
FROM assign WHERE rk = 1 GROUP BY cid
"""


@register("ml_kmeans_step", headline=True, oracle=_KMEANS_STEP_ORACLE)
def ml_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.catalog import widen_small_scan

    # the dim explode is the CPU-heavy map stage and x feeds BOTH the
    # seed slice and the distance pass: parallelize an under-split
    # local scan (no-op at cluster scale) and persist the exploded
    # frame so it computes once, not twice
    emb = widen_small_scan(load_table(spark, sf_dir, "embeddings"),
                           "vec_id")
    x = persist(emb.select(
        "vec_id", F.posexplode("embedding").alias("p", "valf")).select(
        "vec_id", (F.col("p") + 1).alias("dim"),
        F.col("valf").cast("double").alias("val")))
    seeds = (x.filter(F.col("vec_id") < _KMEANS_STEP_K)
             .select(F.col("vec_id").alias("cid"), "dim",
                     F.col("val").alias("c")))

    def fold_sorted(key, val):
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(
                F.struct(key.alias("i"), val.alias("v")))),
                lambda s: s["v"]),
            F.lit(0.0), lambda acc, v: acc + v)

    d = (x.join(F.broadcast(seeds), "dim")
         .groupBy("vec_id", "cid")
         .agg(fold_sorted(F.col("dim"),
                          (F.col("val") - F.col("c"))
                          * (F.col("val") - F.col("c"))).alias("dist2")))
    assign = d.withColumn(
        "rk", F.row_number().over(
            W.partitionBy("vec_id").orderBy(F.round("dist2", 9), "cid")))
    return (assign.filter(F.col("rk") == 1)
            .groupBy("cid")
            .agg(lcount("n_assigned"),
                 F.round(fold_sorted(F.col("vec_id"), F.col("dist2")), 6)
                 .alias("inertia")))


# ---------------------------------------------------------------------------
# q_audience_overlap — event-type audience overlap matrix: for every
# ordered type pair, the distinct-user intersection and the overlap
# coefficient |A∩B| / min(|A|,|B|) (the Szymkiewicz-Simpson measure —
# robust when audiences differ in size, unlike plain Jaccard). The
# |types|² cells come from ONE (user, type) dedup + a self-join on
# user over 5-value type keys; everything is exact integers until the
# final division.
# ---------------------------------------------------------------------------
_AUDIENCE_ORACLE = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
       round(CAST(i.n_both AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
"""


@register("q_audience_overlap", oracle=_AUDIENCE_ORACLE)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # ut feeds the size agg AND both self-join sides: persist so the
    # distinct shuffle runs once, not three times
    ut = persist(ev.select("user_id", "event_type").distinct())
    # sizes feeds both broadcast sides: persist the tiny per-type
    # census so its agg over ut runs once (round-12 subtree lint)
    sizes = persist(ut.groupBy("event_type").agg(lcount("n")))
    b = ut.select(F.col("user_id").alias("u2"),
                  F.col("event_type").alias("type_b"))
    inter = (ut.join(b, (ut.user_id == b.u2)
                     & (ut.event_type < b.type_b))
             .groupBy(F.col("event_type").alias("type_a"), "type_b")
             .agg(lcount("n_both")))
    sa = sizes.select(F.col("event_type").alias("type_a"),
                      F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"),
                      F.col("n").alias("n_b"))
    return (inter.join(F.broadcast(sa), "type_a")
            .join(F.broadcast(sb), "type_b")
            .select("type_a", "type_b", "n_a", "n_b", "n_both",
                    F.round(F.col("n_both").cast("double")
                            / F.least("n_a", "n_b"), 6).alias("overlap")))


# ---------------------------------------------------------------------------
# io_dynamic_partition_overwrite — INSERT OVERWRITE semantics under
# spark.sql.sources.partitionOverwriteMode=dynamic: events land
# partitioned by event_type, then ONE partition ('error') is
# rewritten with a transformed slice — dynamic mode must replace ONLY
# the partitions present in the write and leave every other partition
# byte-identical. The read-back census proves it (the oracle computes
# the expected post-overwrite counts straight from the source table).
# ---------------------------------------------------------------------------
# Dynamic mode replaces ONLY partitions present in the write: if the
# rewritten slice is empty, no partition is touched and the original
# rows survive — the CASE must express that, not assume the slice is
# non-empty.
_DPO_ORACLE = """
SELECT event_type,
       CAST(CASE WHEN event_type = 'error'
                  AND sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) > 0
                 THEN sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                 ELSE count(*) END AS BIGINT) AS n_rows
FROM events GROUP BY event_type
"""


@register("io_dynamic_partition_overwrite", oracle=_DPO_ORACLE)
def io_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    # PER-PROCESS-stable leaf: two concurrent PROCESSES (parallel test
    # workers, two drivers on one box) must not race on the path, but
    # repeat invocations within a process overwrite IN PLACE — a
    # per-invocation uuid would leak one parquet copy of events into
    # /tmp per call, unbounded on long-lived hosts. The returned frame
    # reads lazily from the path, so the scratch dir cannot be removed
    # here; bounding it to one live copy per process is the cleanup.
    # The partitionOverwriteMode set/restore below is still
    # session-global — documented single-session-only.
    from sanctions_data_pipeline_spark.plans.helpers import reap_stale_scratch

    reap_stale_scratch(spark)
    path = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        os.path.basename(sf_dir.rstrip("/")),
                        f"events_dpo_pid{os.getpid()}")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (ev.filter((F.col("event_type") == "error")
                   & (F.col("user_id") % 2 == 0))
         .write.mode("overwrite").partitionBy("event_type").parquet(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # explicit schema: an empty source leaves a data-file-less dir and
    # schema inference would throw instead of returning empty
    back = spark.read.schema(
        "event_id long, user_id long, event_type string").parquet(path)
    return back.groupBy("event_type").agg(lcount("n_rows"))


# ---------------------------------------------------------------------------
# q_watermark_advice — the decision q_lateness_profile exists to
# inform, made explicit: for each coverage target, the smallest
# watermark delay (whole hours of lateness) that keeps at least that
# share of events. Composes the sharded high-water-mark lateness
# histogram (same event_id range shards + carry-in rollup) and reads
# the answer off the cumulative share with a 4-point target lattice.
# ---------------------------------------------------------------------------
_WM_TARGETS = [0.95, 0.99, 0.999, 1.0]

_WM_ADVICE_ORACLE = f"""
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
),
c AS (
  SELECT late_hours,
         CAST(sum(n) OVER (ORDER BY late_hours) AS BIGINT) AS cum,
         CAST(sum(n) OVER () AS BIGINT) AS tot
  FROM h
),
t AS (SELECT unnest([{", ".join(map(str, _WM_TARGETS))}]) AS target)
SELECT round(target, 6) AS target,
       CAST(min(CASE WHEN CAST(cum AS DOUBLE) / tot >= target
                     THEN late_hours END) AS BIGINT) AS watermark_hours,
       round(min(CASE WHEN CAST(cum AS DOUBLE) / tot >= target
                      THEN CAST(cum AS DOUBLE) / tot END), 6) AS kept_share
FROM t, c
GROUP BY target
"""


@register("q_watermark_advice", headline=True, oracle=_WM_ADVICE_ORACLE)
def q_watermark_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_lateness_hours)

    ev = load_table(spark, sf_dir, "events")
    lh = sharded_lateness_hours(ev)
    h = lh.groupBy("late_hours").agg(lcount("n"))
    c = h.select(
        "late_hours",
        F.sum("n").over(W.orderBy("late_hours")
                        .rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint").alias("cum"),
        F.sum("n").over(W.rowsBetween(W.unboundedPreceding,
                                      W.unboundedFollowing))
        .cast("bigint").alias("tot"))
    t = local_frame([(x,) for x in _WM_TARGETS], "target double")
    share = F.col("cum").cast("double") / F.col("tot")
    return (c.crossJoin(F.broadcast(t))
            .groupBy(F.round("target", 6).alias("target"))
            .agg(F.min(F.when(share >= F.col("target"), F.col("late_hours")))
                 .cast("bigint").alias("watermark_hours"),
                 F.round(F.min(F.when(share >= F.col("target"), share)), 6)
                 .alias("kept_share")))


# ---------------------------------------------------------------------------
# io_bucketed_join — the co-located fact-fact join: orders and a
# lineitem slice written as BUCKETED tables (bucketBy on the join key,
# same bucket count both sides), then joined WITHOUT a shuffle — the
# physical plan reads both sides bucket-aligned and sort-merge-joins
# in place. At 100 TB this is the storage-layout answer to the
# largest recurring exchange in the warehouse (orders x lineitem);
# tests/test_plans.py pins that the join subtree contains ZERO
# Exchange nodes. Table names are per-process (no cross-process race);
# repeat invocations overwrite in place (bounded warehouse footprint).
# The oracle computes the identical aggregate straight from the
# pristine parquet — any bucketing/round-trip corruption breaks the
# value hash.
# ---------------------------------------------------------------------------
_BUCKETED_ORACLE = f"""
SELECT o.o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_lines,
       {sql_dsum("CAST(l.l_extendedprice AS DECIMAL(18,4))", "gross")}
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_partkey < 2000
GROUP BY o.o_orderpriority
"""


@register("io_bucketed_join", oracle=_BUCKETED_ORACLE)
def io_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re

    from sanctions_data_pipeline_spark.plans.helpers import (
        dsum, dval, reap_stale_scratch)

    reap_stale_scratch(spark)
    # scope by pid AND sf: a second scale factor in the same process
    # must not overwrite tables an earlier lazily-evaluated result
    # still reads from (the events_dpo/codecs scratch-path convention)
    sf_tag = re.sub(r"[^a-z0-9]", "_", os.path.basename(sf_dir.rstrip("/")).lower())
    pid = os.getpid()
    to = f"io_bkt_orders_{sf_tag}_{pid}"
    tl = f"io_bkt_lineitem_{sf_tag}_{pid}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < 2000).select("l_orderkey", "l_extendedprice")
    (orders.write.mode("overwrite").format("parquet")
     .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(to))
    (li.write.mode("overwrite").format("parquet")
     .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(tl))
    bo, bl = spark.table(to), spark.table(tl)
    return (bl.join(bo, bl.l_orderkey == bo.o_orderkey)
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(lcount("n_lines"),
                 dsum(dval("l_extendedprice"), "gross")))


# ---------------------------------------------------------------------------
# io_parquet_codecs — parquet compression-codec fidelity sweep: the
# documents table written with zstd / gzip / snappy / lz4 and read
# back; per codec the row count, exact total chars, and an
# order-independent content checksum (SUM of 32-bit md5 prefixes —
# exact bigint, so ANY row corruption flips it). The oracle computes
# the same triple once from the pristine parquet crossed with the
# codec lattice: all four codecs must round-trip bit-identically.
# Scratch dirs are per-process and overwritten in place.
# ---------------------------------------------------------------------------
_CODECS = ["zstd", "gzip", "snappy", "lz4"]

_CODEC_ORACLE = f"""
WITH c AS (SELECT unnest(['{"', '".join(_CODECS)}']) AS codec),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS total_chars,
         CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
           AS content_sum
  FROM documents
)
SELECT codec, n_docs, total_chars, content_sum FROM c, s
"""


@register("io_parquet_codecs", oracle=_CODEC_ORACLE)
def io_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from sanctions_data_pipeline_spark.plans.helpers import reap_stale_scratch

    reap_stale_scratch(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        os.path.basename(sf_dir.rstrip("/")),
                        f"codecs_pid{os.getpid()}")
    out = None
    for codec in _CODECS:
        p = os.path.join(base, codec)
        docs.write.mode("overwrite").option("compression", codec).parquet(p)
        back = (spark.read.parquet(p)
                .agg(lcount("n_docs"),
                     F.sum(F.length("text")).cast("bigint")
                     .alias("total_chars"),
                     F.sum(dd.md5_32("text")).cast("bigint")
                     .alias("content_sum"))
                .select(F.lit(codec).alias("codec"), "n_docs",
                        "total_chars", "content_sum"))
        out = back if out is None else out.unionByName(back)
    return out


# ---------------------------------------------------------------------------
# io_compact_small_files — the small-files compaction pass every
# long-lived lake needs: the events table deliberately written as MANY
# tiny files (64 partitions), then compacted to a handful of
# right-sized ones (repartition to ceil(bytes / target)), with content
# identity proven across both layouts. At 100 TB the small-files
# problem dominates NameNode/listing/open costs; the fix is exactly
# this periodic rewrite. The pytest additionally pins that compaction
# really reduced the file count ~16x; the oracle checks the content
# triple straight from the pristine parquet (both layouts must
# round-trip identically). Scratch dirs are per-process, overwritten
# in place.
# ---------------------------------------------------------------------------
_COMPACT_ORACLE = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT)
              AS BIGINT) AS id_sum,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events
)
SELECT layout, n_rows, id_sum, n_users
FROM (SELECT unnest(['small_files', 'compacted']) AS layout), s
"""


@register("io_compact_small_files", oracle=_COMPACT_ORACLE)
def io_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    import os
    import tempfile

    from sanctions_data_pipeline_spark.plans.helpers import reap_stale_scratch

    _TARGET_BYTES = 32 * 1024 * 1024

    reap_stale_scratch(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    base = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        os.path.basename(sf_dir.rstrip("/")),
                        f"compact_pid{os.getpid()}")
    small = os.path.join(base, "small")
    ev.repartition(64).write.mode("overwrite").parquet(small)
    # size-aware compaction: one output file per _TARGET_BYTES of input
    sz = sum(f.stat().st_size
             for f in os.scandir(small) if f.name.endswith(".parquet"))
    n_out = max(1, math.ceil(sz / _TARGET_BYTES))
    compacted = os.path.join(base, "compacted")
    (spark.read.parquet(small).repartition(n_out)
     .write.mode("overwrite").parquet(compacted))

    out = None
    for layout, p in [("small_files", small), ("compacted", compacted)]:
        agg = (spark.read.parquet(p)
               .agg(lcount("n_rows"),
                    F.sum(dd.md5_32(F.col("event_id").cast("string")))
                    .cast("bigint").alias("id_sum"),
                    F.count_distinct(F.col("user_id")).cast("bigint")
                    .alias("n_users"))
               .select(F.lit(layout).alias("layout"), "n_rows",
                       "id_sum", "n_users"))
        out = agg if out is None else out.unionByName(agg)
    return out


# ---------------------------------------------------------------------------
# q_mergeable_stats — partial-aggregate MERGE discipline made visible:
# per-half (even/odd event_id) moment states (n, Σx, Σx² as exact x4
# bigints) merged into global mean/variance via the parallel
# combination rule — the algebra behind every map-side combine and
# every sketch merge in the engine. Because the states are exact
# integers, the merged result is bit-identical to the direct
# computation (the oracle computes it directly — any drift in the
# merge algebra breaks the hash).
# ---------------------------------------------------------------------------
_MERGE_STATS_ORACLE = """
WITH x AS (
  SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v4,
         event_id % 2 AS half
  FROM events
),
per AS (
  SELECT half, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v4) AS BIGINT) AS s1,
         CAST(sum(v4 * v4) AS BIGINT) AS s2
  FROM x GROUP BY half
),
m AS (
  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(s1) AS BIGINT) AS s1,
         CAST(sum(s2) AS BIGINT) AS s2, CAST(count(*) AS BIGINT) AS n_parts
  FROM per
)
SELECT n AS n_rows, n_parts,
       round(CAST(s1 AS DOUBLE) / n / 10000.0, 6) AS mean,
       round((CAST(s2 AS DOUBLE) / n
              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             / 100000000.0, 6) AS variance
FROM m
"""


@register("q_mergeable_stats", oracle=_MERGE_STATS_ORACLE)
def q_mergeable_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        (F.col("value").cast("decimal(18,4)") * 10000).cast("bigint")
        .alias("v4"),
        (F.col("event_id") % 2).alias("half"))
    per = x.groupBy("half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v4").cast("bigint").alias("s1"),
        F.sum(F.col("v4") * F.col("v4")).cast("bigint").alias("s2"))
    m = per.agg(F.sum("n").cast("bigint").alias("n"),
                F.sum("s1").cast("bigint").alias("s1"),
                F.sum("s2").cast("bigint").alias("s2"),
                F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    s1d = F.col("s1").cast("double") / F.col("n")
    return m.select(
        F.col("n").alias("n_rows"), "n_parts",
        F.round(s1d / 10000.0, 6).alias("mean"),
        F.round((F.col("s2").cast("double") / F.col("n") - s1d * s1d)
                / 100000000.0, 6).alias("variance"))


# ---------------------------------------------------------------------------
# io_zorder_clustering — Z-order (Morton-curve) clustering, the
# multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
# ZORDER): both join keys are scaled onto a 16-bit grid, their bits
# interleaved into a 32-bit Morton code, and rows bucketed by the
# code's 5-bit prefix (32 buckets = 32 files at scale). Per bucket the
# op reports BOTH dimensions' min/max spans plus whether a narrow
# partkey probe would have to read the bucket — with a 1-D layout a
# narrow probe on the SECOND dimension touches every file; under
# Z-order each bucket covers a bounded square so both dimensions
# prune. At 100 TB this replaces the repartition step before the
# write: repartitionByRange(z) + sortWithinPartitions(z), with file
# min/max stats doing the skipping at read time. The entire op is
# integer arithmetic — the oracle replays the identical interleave.
# ---------------------------------------------------------------------------
def _morton_sql(px: str, py: str) -> str:
    """DuckDB 16+16-bit Morton interleave of two 0..65535 ints."""
    terms = []
    for i in range(16):
        terms.append(f"((({px} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({py} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


def _morton_col(px, py):
    """Spark twin of :func:`_morton_sql` (same bit algebra)."""
    z = F.lit(0).cast("bigint")
    for i in range(16):
        z = z + F.shiftleft(F.shiftright(px, i).bitwiseAND(F.lit(1)),
                            2 * i + 1).cast("bigint")
        z = z + F.shiftleft(F.shiftright(py, i).bitwiseAND(F.lit(1)),
                            2 * i).cast("bigint")
    return z


_ZORDER_ORACLE = f"""
WITH b AS (
  SELECT CAST(min(l_partkey) AS BIGINT) AS pmin,
         CAST(max(l_partkey) AS BIGINT) AS pmax,
         CAST(min(l_suppkey) AS BIGINT) AS smin,
         CAST(max(l_suppkey) AS BIGINT) AS smax
  FROM lineitem
),
g AS (
  SELECT l_partkey, l_suppkey,
         CAST((l_partkey - pmin) * 65535 / greatest(pmax - pmin, 1)
              AS BIGINT) AS px,
         CAST((l_suppkey - smin) * 65535 / greatest(smax - smin, 1)
              AS BIGINT) AS py,
         pmin, pmax
  FROM lineitem, b
),
z AS (
  SELECT l_partkey, l_suppkey, pmin, pmax,
         {_morton_sql('px', 'py')} >> 27 AS bucket
  FROM g
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_partkey) AS BIGINT) AS pk_min,
       CAST(max(l_partkey) AS BIGINT) AS pk_max,
       CAST(min(l_suppkey) AS BIGINT) AS sk_min,
       CAST(max(l_suppkey) AS BIGINT) AS sk_max,
       CAST(CASE WHEN min(l_partkey) <= min(pmin) + (min(pmax) - min(pmin)) * 41 / 100
                  AND max(l_partkey) >= min(pmin) + (min(pmax) - min(pmin)) * 40 / 100
            THEN 1 ELSE 0 END AS BIGINT) AS probe_reads_bucket
FROM z GROUP BY bucket
"""


@register("io_zorder_clustering", headline=True, oracle=_ZORDER_ORACLE)
def io_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey").cast("bigint").alias("pmin"),
        F.max("l_partkey").cast("bigint").alias("pmax"),
        F.min("l_suppkey").cast("bigint").alias("smin"),
        F.max("l_suppkey").cast("bigint").alias("smax"))
    # Round-11 widened this map side; round-12 A/B (6 interleaved reps
    # at sf0.1, both orders) measured the widen SLOWER — min 1.10 s vs
    # 0.81 s without, and the driver record agreed (r10 0.68 -> r11
    # 1.01). The Morton interleave is cheap codegen'd bit arithmetic,
    # so the repartition shuffle costs more than the serial map stage
    # it parallelizes — reverted (guide §1.2: measure, then keep).
    g = li.crossJoin(F.broadcast(bounds))
    px = ((F.col("l_partkey") - F.col("pmin")) * 65535
          / F.greatest(F.col("pmax") - F.col("pmin"), F.lit(1))).cast("bigint")
    py = ((F.col("l_suppkey") - F.col("smin")) * 65535
          / F.greatest(F.col("smax") - F.col("smin"), F.lit(1))).cast("bigint")
    z = g.select("l_partkey", "l_suppkey", "pmin", "pmax",
                 F.shiftright(_morton_col(px, py), 27).alias("bucket"))
    # probe: a 1%-wide partkey band at 40-41% of the key range — under
    # Z-order only buckets whose pk span intersects it are read
    lo = F.min("pmin") + (F.min("pmax") - F.min("pmin")) * 40 / 100
    hi = F.min("pmin") + (F.min("pmax") - F.min("pmin")) * 41 / 100
    return (z.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
            .agg(lcount("n_rows"),
                 F.min("l_partkey").cast("bigint").alias("pk_min"),
                 F.max("l_partkey").cast("bigint").alias("pk_max"),
                 F.min("l_suppkey").cast("bigint").alias("sk_min"),
                 F.max("l_suppkey").cast("bigint").alias("sk_max"),
                 F.when((F.min("l_partkey") <= hi)
                        & (F.max("l_partkey") >= lo), 1).otherwise(0)
                 .cast("bigint").alias("probe_reads_bucket")))


# ---------------------------------------------------------------------------
# tx_ngram_novelty — corpus redundancy accumulation: per document (in
# doc_id order) the fraction of its DISTINCT word 3-grams never seen
# in any earlier document. The curve every dedup pipeline watches —
# falling novelty means later shards add repetition, not information
# (the Lee et al. 2022 motivation viewed longitudinally). Scale: grams
# reduce to (gram, min doc_id) pairs — one keyed agg + one join, the
# dd_exact shuffle discipline; gram text never leaves the map side
# twice (the join key is the gram itself here for oracle exactness;
# at 100 TB swap the key for xxhash64(gram) — same plan shape).
#
# Duplicate mass (round 10): grams are a function of tokens(text) =
# split(normalized_text), so identical-normalized-text docs carry
# identical gram sets. Two exact facts make the op collapse-first
# (the operators/dedup.py CBO discipline, VERDICT r09 item 7):
# (a) a non-min member of a duplicate group has novelty 0 — every
#     one of its grams also lives in its group's min-id rep, so
#     first_doc(gram) <= rep_id < member_id; and
# (b) the rep-only first-doc map EQUALS the global one — for any
#     gram, every doc containing it has a group rep containing it
#     at an id <= its own, so min over reps == min over all docs.
# The gram explode + keyed agg + join therefore run on one rep per
# group; members join the rep result for n_grams and emit 0-novelty
# rows. Measured ×100 duplicate-mass wall: 22.6× -> linear (the
# gram-stream shuffle now scales with DISTINCT text mass only).
# ---------------------------------------------------------------------------
_NOVELTY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE length(text) > 0
),
g AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) s
  WHERE len(toks) >= 3
),
first AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty
FROM g JOIN first f ON g.gram = f.gram
GROUP BY g.doc_id
"""


@register("tx_ngram_novelty", headline=True, oracle=_NOVELTY_ORACLE)
def tx_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.catalog import widen_small_scan
    # tokenize + gram explode is the CPU-heavy map stage: parallelize
    # an under-split local scan (no-op at scale)
    docs = widen_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id").filter(
        F.length("text") > 0)
    if dd._dup_mass_low(docs, "text"):
        return _ngram_novelty_direct(docs)
    # collapse-first: gram explode + first-doc agg on one rep per
    # identical-normalized-text group (facts (a)/(b) in the header);
    # members are narrow (key, id) rows — no member arrays
    keyed = docs.select(
        "doc_id", F.md5(dd.normalized_text(F.col("text"))).alias("__key"))
    grp = persist(docs.groupBy(
               F.md5(dd.normalized_text(F.col("text"))).alias("__key"))
           .agg(F.min("doc_id").alias("rep"),
                F.min_by("text", "doc_id").alias("rep_text")))
    rep_res = _ngram_novelty_direct(
        grp.select(F.col("rep").alias("doc_id"),
                   F.col("rep_text").alias("text")))
    members = (keyed.join(grp.select("__key", "rep"), "__key")
               .filter(F.col("doc_id") != F.col("rep")))
    # inner join on the rep result also drops sub-3-token groups
    # (their reps emit no row), matching the direct pipeline
    mem_res = (members.join(
                   rep_res.select(F.col("doc_id").alias("rep"), "n_grams"),
                   "rep")
               .select("doc_id", "n_grams",
                       F.lit(0).cast("bigint").alias("n_novel"),
                       F.lit(0.0).alias("novelty")))
    return rep_res.unionByName(mem_res)


def _ngram_novelty_direct(docs: DataFrame) -> DataFrame:
    """The gram-stream pipeline proper (see tx_ngram_novelty)."""
    t = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    # g feeds the first-doc agg AND the scoring join: persist so the
    # tokenize + gram explode + distinct shuffle run once, not twice
    g = persist(t.filter(F.size("toks") >= 3)
                .select("doc_id", F.explode(F.expr(
                    "transform(sequence(1, size(toks) - 2), "
                    "i -> concat_ws(' ', slice(toks, i, 3)))")).alias("gram"))
                .distinct())
    first = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (g.join(first, "gram")
            .groupBy("doc_id")
            .agg(lcount("n_grams"),
                 F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                       .otherwise(0)).cast("bigint").alias("n_novel"),
                 F.round(
                     F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                           .otherwise(0)).cast("double")
                     / F.count(F.lit(1)), 6).alias("novelty")))


# ---------------------------------------------------------------------------
# q_bitemporal_asof — BITEMPORAL as-of snapshot (valid time x
# transaction time, the SQL:2011 temporal-table query): each event is
# a version of its user's state valid from its event time, but only
# VISIBLE once ingested — transaction time lags event time by a
# per-event delay (event_id % 48 hours, modeling late arrival). The
# snapshot asks: "as the warehouse stood at T_tx, what was each
# user's state as of T_valid?" — the reproducibility primitive for
# training-data freezes (rerunning a snapshot after backfills must
# not change it). One window over versions visible at T_tx; at scale
# this partitions by user exactly like q_scd2/q_asof_join.
# ---------------------------------------------------------------------------
_BT_VALID = "2024-01-20 00:00:00"
_BT_TX = "2024-01-20 06:00:00"

_BITEMPORAL_ORACLE = f"""
WITH v AS (
  SELECT user_id, event_id, CAST(value AS DECIMAL(18,4)) AS val,
         ts AS valid_from,
         ts + to_hours(event_id % 48) AS tx_from
  FROM events
),
vis AS (
  SELECT * FROM v
  WHERE tx_from <= TIMESTAMP '{_BT_TX}'
    AND valid_from <= TIMESTAMP '{_BT_VALID}'
),
pick AS (
  SELECT user_id, event_id, val,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY valid_from DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_visible
  FROM vis
)
SELECT user_id, event_id,
       CAST(ROUND(val, 4) * 10000 AS BIGINT) / 10000.0 AS value_asof,
       CAST(n_visible AS BIGINT) AS n_visible
FROM pick WHERE rn = 1
"""


@register("q_bitemporal_asof", oracle=_BITEMPORAL_ORACLE)
def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id", "event_id", dval("value").alias("val"),
        F.col("ts").alias("valid_from"),
        (F.col("ts") + F.make_interval(
            hours=(F.col("event_id") % 48).cast("int"))).alias("tx_from"))
    vis = v.filter((F.col("tx_from") <= F.lit(_BT_TX).cast("timestamp"))
                   & (F.col("valid_from") <= F.lit(_BT_VALID).cast("timestamp")))
    w = W.partitionBy("user_id").orderBy(F.desc("valid_from"),
                                         F.desc("event_id"))
    wall = W.partitionBy("user_id")
    pick = vis.select(
        "user_id", "event_id", "val",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n_visible"))
    from sanctions_data_pipeline_spark.plans.helpers import _as_exact_double
    return (pick.filter(F.col("rn") == 1)
            .select("user_id", "event_id",
                    _as_exact_double(F.col("val")).alias("value_asof"),
                    F.col("n_visible").cast("bigint").alias("n_visible")))


# ---------------------------------------------------------------------------
# io_stats_collect — ANALYZE TABLE-shaped column statistics in ONE
# pass: exact NDV, min/max, null count for every numeric lineitem
# column, unpivoted to a (column, ndv, min, max, n_nulls) catalog
# row. These are the statistics Catalyst's CBO and the parquet reader
# use to reorder joins and skip row groups; at 100 TB flip the NDVs
# to approx_count_distinct (the dq_uniqueness HLL switch) and the
# pass stays one map-side-combined agg with no extra shuffle per
# column. Exact here so the oracle is exact.
# ---------------------------------------------------------------------------
_STATS_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
               "l_extendedprice", "l_discount", "l_tax"]

_STATS_ORACLE = " UNION ALL ".join(f"""
SELECT '{c}' AS col_name,
       CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
       round(CAST(min({c}) AS DOUBLE), 6) AS min_val,
       round(CAST(max({c}) AS DOUBLE), 6) AS max_val,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls
FROM lineitem""" for c in _STATS_COLS)


@register("io_stats_collect", oracle=_STATS_ORACLE)
def io_stats_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _STATS_COLS:
        aggs += [
            F.countDistinct(c).cast("bigint").alias(f"{c}__ndv"),
            F.round(F.min(c).cast("double"), 6).alias(f"{c}__min"),
            F.round(F.max(c).cast("double"), 6).alias(f"{c}__max"),
            (F.count(F.lit(1)) - F.count(c)).cast("bigint")
            .alias(f"{c}__nulls"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__ndv, {c}__min, {c}__max, {c}__nulls"
        for c in _STATS_COLS)
    return wide.selectExpr(
        f"stack({len(_STATS_COLS)}, {stack}) AS "
        "(col_name, ndv, min_val, max_val, n_nulls)")


# ---------------------------------------------------------------------------
# q_join_cardinality_estimate — the CBO's join-size estimation made
# inspectable: for orders x lineitem on orderkey, the classic
# |O| * |L| / max(ndv_O, ndv_L) estimate next to the EXACT output
# cardinality (sum over keys of count products). At 100 TB this is
# the number every join reorder decision hangs on; the op shows the
# estimate's error on real key distributions. Everything is exact
# integer algebra except the final ratio.
# ---------------------------------------------------------------------------
_JOINCARD_ORACLE = """
WITH o AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv
           FROM orders),
l AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv
      FROM lineitem),
x AS (
  SELECT CAST(sum(oc * lc) AS BIGINT) AS exact_card
  FROM (SELECT o_orderkey AS k, count(*) AS oc FROM orders GROUP BY 1) a
  JOIN (SELECT l_orderkey AS k, count(*) AS lc FROM lineitem GROUP BY 1) b
    ON a.k = b.k
)
SELECT o.n AS n_orders, l.n AS n_lineitem,
       o.ndv AS ndv_orders, l.ndv AS ndv_lineitem,
       CAST(o.n * l.n / greatest(o.ndv, l.ndv, 1) AS BIGINT) AS est_card,
       x.exact_card,
       round(CAST(o.n * l.n / greatest(o.ndv, l.ndv, 1) AS DOUBLE)
             / x.exact_card, 6) AS est_over_exact
FROM o, l, x
"""


@register("q_join_cardinality_estimate", oracle=_JOINCARD_ORACLE)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                   F.countDistinct("o_orderkey").cast("bigint")
                   .alias("ndv_orders"))
    l = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_lineitem"),
               F.countDistinct("l_orderkey").cast("bigint")
               .alias("ndv_lineitem"))
    oc = orders.groupBy(F.col("o_orderkey").alias("k")).agg(lcount("oc"))
    lc = li.groupBy(F.col("l_orderkey").alias("k")).agg(lcount("lc"))
    x = (oc.join(lc, "k")
         .agg(F.sum(F.col("oc") * F.col("lc")).cast("bigint")
              .alias("exact_card")))
    # greatest(..., 1): an empty side has ndv 0 and ANSI mode raises
    # DIVIDE_BY_ZERO — the estimate is 0 either way
    est = (F.col("n_orders") * F.col("n_lineitem")
           / F.greatest("ndv_orders", "ndv_lineitem", F.lit(1))).cast("bigint")
    return (o.crossJoin(l).crossJoin(x)
            .select("n_orders", "n_lineitem", "ndv_orders", "ndv_lineitem",
                    est.alias("est_card"), "exact_card",
                    F.round(est.cast("double") / F.col("exact_card"), 6)
                    .alias("est_over_exact")))


# ---------------------------------------------------------------------------
# dd_bloom_prejoin — runtime bloom-filter pre-join pruning (the
# row-level-filtering optimization Spark applies to selective joins),
# expressed relationally so the mechanism is measurable: the selective
# side's keys set k=3 md5-derived bits in an m=4096-bit filter; a
# probe-side key passes if all 3 of its bits are set. Reported: keys
# probed, keys passing, true matches, false positives, fp rate — the
# quantity that decides whether the bloom pays for itself before a
# 100 TB shuffle. Set-membership runs as an equi-join on bit index
# (never a driver-side bitmap), so the plan is two tiny aggs + one
# broadcast join.
# ---------------------------------------------------------------------------
_BLOOM_M = 4096
_BLOOM_K = 3

_BLOOM_ORACLE = f"""
WITH sel AS (
  SELECT DISTINCT s_suppkey AS key FROM supplier WHERE s_acctbal > 9000
),
bits AS (
  SELECT DISTINCT
         ('0x' || substr(md5('b' || CAST(i AS VARCHAR) || ':'
                              || CAST(key AS VARCHAR)), 1, 8))::BIGINT
           % {_BLOOM_M} AS bit
  FROM sel, (SELECT unnest(range(0, {_BLOOM_K})) AS i) h
),
probe AS (SELECT DISTINCT l_suppkey AS key FROM lineitem),
pb AS (
  SELECT key,
         ('0x' || substr(md5('b' || CAST(i AS VARCHAR) || ':'
                              || CAST(key AS VARCHAR)), 1, 8))::BIGINT
           % {_BLOOM_M} AS bit,
         i
  FROM probe, (SELECT unnest(range(0, {_BLOOM_K})) AS i) h
),
hit AS (
  SELECT pb.key, count(DISTINCT pb.i) AS n_hit
  FROM pb JOIN bits ON pb.bit = bits.bit
  GROUP BY pb.key
),
passed AS (SELECT key FROM hit WHERE n_hit = {_BLOOM_K})
SELECT CAST((SELECT count(*) FROM probe) AS BIGINT) AS n_probed,
       CAST((SELECT count(*) FROM passed) AS BIGINT) AS n_passed,
       CAST((SELECT count(*) FROM passed WHERE key IN
             (SELECT key FROM sel)) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM passed WHERE key NOT IN
             (SELECT key FROM sel)) AS BIGINT) AS n_false_pos,
       round(CAST((SELECT count(*) FROM passed WHERE key NOT IN
                   (SELECT key FROM sel)) AS DOUBLE)
             / greatest((SELECT count(*) FROM probe)
                        - (SELECT count(*) FROM sel
                           WHERE key IN (SELECT key FROM probe)), 1), 6)
         AS fp_rate
"""


@register("dd_bloom_prejoin", oracle=_BLOOM_ORACLE)
def dd_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    # sel / probe / passed each feed 3-4 consumers (bits + truth + fp +
    # the negative count; pb + the probed/negative counts; truth + fp +
    # the passed count): persist the narrow key frames so the filters,
    # distincts and the k-bit membership join run once each
    # (round-12 subtree lint — one x2 16-node duplicate here)
    sel = persist(sup.filter(F.col("s_acctbal") > 9000)
                  .select(F.col("s_suppkey").alias("key")).distinct())
    hexpr = ("cast(conv(substring(md5(concat('b', cast(i as string), ':', "
             "cast(key as string))), 1, 8), 16, 10) as bigint) % "
             f"{_BLOOM_M}")
    bits = (sel.select("key", F.explode(F.expr(
        f"sequence(0, {_BLOOM_K - 1})")).alias("i"))
        .selectExpr(f"{hexpr} as bit").distinct())
    probe = persist(li.select(F.col("l_suppkey").alias("key")).distinct())
    pb = probe.select("key", F.explode(F.expr(
        f"sequence(0, {_BLOOM_K - 1})")).alias("i")) \
        .selectExpr("key", "i", f"{hexpr} as bit")
    hit = (pb.join(F.broadcast(bits), "bit")
           .groupBy("key").agg(F.countDistinct("i").alias("n_hit")))
    passed = persist(hit.filter(F.col("n_hit") == _BLOOM_K).select("key"))
    truth = passed.join(sel, "key", "left_semi")
    fp = passed.join(sel, "key", "left_anti")
    n_probed = probe.agg(lcount("n")).withColumnRenamed("n", "n_probed")
    n_passed = passed.agg(lcount("n")).withColumnRenamed("n", "n_passed")
    n_true = truth.agg(lcount("n")).withColumnRenamed("n", "n_true")
    n_fp = fp.agg(lcount("n")).withColumnRenamed("n", "n_false_pos")
    n_neg = (probe.join(sel, "key", "left_anti")
             .agg(lcount("n")).withColumnRenamed("n", "n_neg"))
    return (n_probed.crossJoin(n_passed).crossJoin(n_true).crossJoin(n_fp)
            .crossJoin(n_neg)
            .select("n_probed", "n_passed", "n_true", "n_false_pos",
                    F.round(F.col("n_false_pos").cast("double")
                            / F.greatest("n_neg", F.lit(1)), 6)
                    .alias("fp_rate")))


# ---------------------------------------------------------------------------
# tt_purged_cv — purged time-series cross-validation with embargo
# (the leakage-safe CV for temporally autocorrelated data, de Prado
# 2018): the event-day range splits into 5 contiguous test folds;
# each fold's training set excludes the test days PLUS a 2-day
# embargo on both sides, so label leakage through autocorrelation
# cannot cross the boundary. Pure calendar arithmetic over the daily
# rollup — the corpus-wide work is one map-side day agg.
# ---------------------------------------------------------------------------
_PCV_FOLDS = 5
_PCV_EMBARGO = 2

_PURGED_CV_ORACLE = f"""
WITH d AS (
  SELECT CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) + 1 AS d1 FROM d),
f AS (SELECT unnest(range(0, {_PCV_FOLDS})) AS fold),
bounds AS (
  SELECT fold,
         d0 + (d1 - d0) * fold / {_PCV_FOLDS} AS t0,
         d0 + (d1 - d0) * (fold + 1) / {_PCV_FOLDS} AS t1
  FROM f, b
)
SELECT CAST(bo.fold AS BIGINT) AS fold,
       CAST(sum(CASE WHEN d.day >= bo.t0 AND d.day < bo.t1
                     THEN d.n ELSE 0 END) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN d.day < bo.t0 - {_PCV_EMBARGO}
                       OR d.day >= bo.t1 + {_PCV_EMBARGO}
                     THEN d.n ELSE 0 END) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN (d.day >= bo.t0 - {_PCV_EMBARGO}
                           AND d.day < bo.t0)
                       OR (d.day >= bo.t1
                           AND d.day < bo.t1 + {_PCV_EMBARGO})
                     THEN d.n ELSE 0 END) AS BIGINT) AS n_embargoed
FROM bounds bo, d
GROUP BY bo.fold
"""


@register("tt_purged_cv", oracle=_PURGED_CV_ORACLE)
def tt_purged_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = (ev.groupBy(F.floor(F.unix_micros(F.date_trunc("day", "ts"))
                            / F.lit(86400000000)).cast("bigint")
                    .alias("day"))
         .agg(lcount("n")))
    b = d.agg(F.min("day").alias("d0"), (F.max("day") + 1).alias("d1"))
    folds = spark.range(_PCV_FOLDS).withColumnRenamed("id", "fold")
    bounds = folds.crossJoin(F.broadcast(b)).select(
        "fold",
        (F.col("d0") + (F.col("d1") - F.col("d0")) * F.col("fold")
         / _PCV_FOLDS).cast("bigint").alias("t0"),
        (F.col("d0") + (F.col("d1") - F.col("d0")) * (F.col("fold") + 1)
         / _PCV_FOLDS).cast("bigint").alias("t1"))
    j = d.crossJoin(F.broadcast(bounds))
    in_test = (F.col("day") >= F.col("t0")) & (F.col("day") < F.col("t1"))
    in_train = ((F.col("day") < F.col("t0") - _PCV_EMBARGO)
                | (F.col("day") >= F.col("t1") + _PCV_EMBARGO))
    in_emb = (((F.col("day") >= F.col("t0") - _PCV_EMBARGO)
               & (F.col("day") < F.col("t0")))
              | ((F.col("day") >= F.col("t1"))
                 & (F.col("day") < F.col("t1") + _PCV_EMBARGO)))
    return (j.groupBy(F.col("fold").cast("bigint").alias("fold"))
            .agg(F.sum(F.when(in_test, F.col("n")).otherwise(0))
                 .cast("bigint").alias("n_test"),
                 F.sum(F.when(in_train, F.col("n")).otherwise(0))
                 .cast("bigint").alias("n_train"),
                 F.sum(F.when(in_emb, F.col("n")).otherwise(0))
                 .cast("bigint").alias("n_embargoed")))


# ---------------------------------------------------------------------------
# q_incremental_mv — incremental materialized-view maintenance: the
# priority-revenue rollup maintained as BASE (orders strictly before
# the latest order date) merged with the DELTA (the latest day only),
# checked cell-by-cell against the full recompute. Decimal-exact
# sums make merge == recompute an integer identity; diff_units is 0
# in every row or the maintenance algebra is broken. At 100 TB this
# is the difference between reprocessing a day and reprocessing the
# warehouse.
# ---------------------------------------------------------------------------
_INC_MV_ORACLE = """
WITH mx AS (SELECT max(o_orderdate) AS d FROM orders),
base AS (
  SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS rev4
  FROM orders, mx WHERE o_orderdate < mx.d GROUP BY 1
),
delta AS (
  SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS rev4
  FROM orders, mx WHERE o_orderdate = mx.d GROUP BY 1
),
merged AS (
  SELECT pri, CAST(sum(n) AS BIGINT) AS n_merged,
         CAST(sum(rev4) AS BIGINT) AS rev4_merged
  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
  GROUP BY pri
),
full_r AS (
  SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n_full,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS rev4_full
  FROM orders GROUP BY 1
)
SELECT m.pri AS priority, m.n_merged, m.rev4_merged / 10000.0 AS rev_merged,
       CAST(m.n_merged - f.n_full AS BIGINT) AS diff_rows,
       CAST(m.rev4_merged - f.rev4_full AS BIGINT) AS diff_units
FROM merged m JOIN full_r f ON m.pri = f.pri
"""


@register("q_incremental_mv", oracle=_INC_MV_ORACLE)
def q_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("d"))
    # base (< d) and delta (= d) both exclude NULL-date orders, as in
    # the oracle; only the full recompute counts them
    o = (orders.filter(F.col("o_orderdate").isNotNull())
         .crossJoin(F.broadcast(mx)))
    rev4 = (F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 4)
            * 10000).cast("bigint")

    def rollup(df, *extra_keys):
        return df.groupBy(F.col("o_orderpriority").alias("pri"),
                          *extra_keys).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            rev4.alias("rev4"))

    # ONE pass for base + delta (round-12 subtree lint: the two
    # filtered rollups each re-ran the orders x max-date cross): group
    # by the is-delta flag instead — the per-(pri, flag) rows ARE the
    # base/delta rollup rows (rev4 rounds after the within-group sum
    # either way), and the merge re-aggregates them identically to the
    # previous unionAll.
    both = rollup(o, (F.col("o_orderdate") == F.col("d"))
                  .alias("__is_delta"))
    merged = (both.groupBy("pri")
              .agg(F.sum("n").cast("bigint").alias("n_merged"),
                   F.sum("rev4").cast("bigint").alias("rev4_merged")))
    full_r = rollup(orders).select(
        "pri", F.col("n").alias("n_full"), F.col("rev4").alias("rev4_full"))
    return (merged.join(full_r, "pri")
            .select(F.col("pri").alias("priority"), "n_merged",
                    (F.col("rev4_merged") / F.lit(10000.0))
                    .alias("rev_merged"),
                    (F.col("n_merged") - F.col("n_full")).cast("bigint")
                    .alias("diff_rows"),
                    (F.col("rev4_merged") - F.col("rev4_full"))
                    .cast("bigint").alias("diff_units")))


# ---------------------------------------------------------------------------
# ml_decision_stump — ML training as pure SQL aggregation: the best
# single-threshold split ("decision stump", the AdaBoost weak
# learner) for predicting urgent orders (priority 1/2) from
# o_totalprice. Candidate thresholds are a fixed 15-point grid over
# the exact [min, max] price range; for each the weighted Gini
# impurity comes from four exact integer counts, so the whole
# training pass is ONE groupBy over (order, threshold-grid-cross) —
# no iterations, no driver state; at 100 TB the grid cross is a
# 15-row broadcast. Deterministic tiebreak: smallest threshold.
# ---------------------------------------------------------------------------
_STUMP_GRID = 16  # thresholds at k/16 of the range, k = 1..15

_STUMP_ORACLE = f"""
WITH b AS (
  SELECT CAST(ROUND(min(CAST(o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS lo4,
         CAST(ROUND(max(CAST(o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS hi4
  FROM orders
),
grid AS (
  SELECT CAST(k AS BIGINT) AS k,
         lo4 + (hi4 - lo4) * k // {_STUMP_GRID} AS thr
  FROM b, (SELECT unnest(range(1, {_STUMP_GRID})) AS k) g
),
lab AS (
  SELECT CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 4) * 10000
              AS BIGINT) AS price,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
cnt AS (
  SELECT g.k, g.thr,
         CAST(sum(CASE WHEN l.price <= g.thr THEN 1 ELSE 0 END)
              AS BIGINT) AS n_l,
         CAST(sum(CASE WHEN l.price <= g.thr AND l.y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS p_l,
         CAST(sum(CASE WHEN l.price > g.thr THEN 1 ELSE 0 END)
              AS BIGINT) AS n_r,
         CAST(sum(CASE WHEN l.price > g.thr AND l.y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS p_r,
         CAST(count(*) AS BIGINT) AS n
  FROM lab l, grid g
  GROUP BY g.k, g.thr
),
gini AS (
  SELECT k, thr, n_l, n_r,
         round((CASE WHEN n_l = 0 THEN 0.0 ELSE
                  CAST(n_l AS DOUBLE) / n
                  * (1 - (CAST(p_l AS DOUBLE) / n_l)
                       * (CAST(p_l AS DOUBLE) / n_l)
                     - (1 - CAST(p_l AS DOUBLE) / n_l)
                       * (1 - CAST(p_l AS DOUBLE) / n_l)) END)
               + (CASE WHEN n_r = 0 THEN 0.0 ELSE
                  CAST(n_r AS DOUBLE) / n
                  * (1 - (CAST(p_r AS DOUBLE) / n_r)
                       * (CAST(p_r AS DOUBLE) / n_r)
                     - (1 - CAST(p_r AS DOUBLE) / n_r)
                       * (1 - CAST(p_r AS DOUBLE) / n_r)) END), 6)
           AS gini_w
  FROM cnt
)
SELECT k, thr / 10000.0 AS threshold,
       n_left, n_right, gini_w,
       CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
FROM (SELECT k, thr, n_l AS n_left, n_r AS n_right, gini_w,
             row_number() OVER (ORDER BY gini_w, k) AS rnk
      FROM gini) t
"""


@register("ml_decision_stump", oracle=_STUMP_ORACLE)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(
        (F.round(F.min(F.col("o_totalprice").cast("decimal(18,4)")), 4)
         * 10000).cast("bigint").alias("lo4"),
        (F.round(F.max(F.col("o_totalprice").cast("decimal(18,4)")), 4)
         * 10000).cast("bigint").alias("hi4"))
    grid = (spark.range(1, _STUMP_GRID).withColumnRenamed("id", "k")
            .crossJoin(F.broadcast(b))
            .select("k", (F.col("lo4") + F.expr(
                f"(hi4 - lo4) * k div {_STUMP_GRID}"))
                .cast("bigint").alias("thr")))
    lab = orders.select(
        (F.round(F.col("o_totalprice").cast("decimal(18,4)"), 4) * 10000)
        .cast("bigint").alias("price"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0).alias("y"))
    j = lab.crossJoin(F.broadcast(grid))
    left = F.col("price") <= F.col("thr")
    cnt = j.groupBy("k", "thr").agg(
        F.sum(F.when(left, 1).otherwise(0)).cast("bigint").alias("n_l"),
        F.sum(F.when(left & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint").alias("p_l"),
        F.sum(F.when(~left, 1).otherwise(0)).cast("bigint").alias("n_r"),
        F.sum(F.when((~left) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint").alias("p_r"),
        F.count(F.lit(1)).cast("bigint").alias("n"))

    def side_gini(nn, pp):
        p = pp.cast("double") / nn
        return F.when(nn == 0, 0.0).otherwise(
            nn.cast("double") / F.col("n")
            * (1 - p * p - (1 - p) * (1 - p)))

    gini = cnt.select(
        "k", "thr", F.col("n_l").alias("n_left"),
        F.col("n_r").alias("n_right"),
        F.round(side_gini(F.col("n_l"), F.col("p_l"))
                + side_gini(F.col("n_r"), F.col("p_r")), 6).alias("gini_w"))
    wr = W.orderBy("gini_w", "k")
    return (gini.withColumn("rnk", F.row_number().over(wr))
            .select("k", (F.col("thr") / F.lit(10000.0)).alias("threshold"),
                    "n_left", "n_right", "gini_w",
                    F.when(F.col("rnk") == 1, 1).otherwise(0)
                    .cast("bigint").alias("is_best")))


# ---------------------------------------------------------------------------
# dq_expectations — a declarative expectation suite (the
# great-expectations shape) over lineitem, one pass per table + one
# FK probe: row volume, domain ranges, null contract, referential
# integrity, composite-key uniqueness. Output is the audit artifact
# CI gates on: (check, metric, passed). Each check is a plain
# aggregate, so the suite costs two scans at any scale; the fk check
# is the only join and it is an anti-join on the FK.
# ---------------------------------------------------------------------------
_EXPECT_ORACLE = """
WITH li AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                       THEN 1 ELSE 0 END) AS BIGINT) AS qty_out,
         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                       THEN 1 ELSE 0 END) AS BIGINT) AS disc_out,
         CAST(count(*) - count(l_shipdate) AS BIGINT) AS ship_nulls,
         CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
              AS BIGINT) AS dup_keys
  FROM lineitem
),
fk AS (
  SELECT CAST(count(*) AS BIGINT) AS orphans
  FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
)
SELECT 'row_count_positive' AS check_name,
       CAST(n_rows AS DOUBLE) AS metric, n_rows > 0 AS passed FROM li
UNION ALL SELECT 'quantity_in_1_50', CAST(qty_out AS DOUBLE),
       qty_out = 0 FROM li
UNION ALL SELECT 'discount_in_0_01', CAST(disc_out AS DOUBLE),
       disc_out = 0 FROM li
UNION ALL SELECT 'shipdate_not_null', CAST(ship_nulls AS DOUBLE),
       ship_nulls = 0 FROM li
UNION ALL SELECT 'orderkey_linenumber_unique', CAST(dup_keys AS DOUBLE),
       dup_keys = 0 FROM li
UNION ALL SELECT 'fk_orderkey_exists', CAST(orphans AS DOUBLE),
       orphans = 0 FROM fk
"""


@register("dq_expectations", oracle=_EXPECT_ORACLE)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    wide = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when((F.col("l_quantity") < 1)
                     | (F.col("l_quantity") > 50), 1).otherwise(0))
        .cast("bigint").alias("qty_out"),
        F.sum(F.when((F.col("l_discount") < 0)
                     | (F.col("l_discount") > 0.1), 1).otherwise(0))
        .cast("bigint").alias("disc_out"),
        (F.count(F.lit(1)) - F.count("l_shipdate")).cast("bigint")
        .alias("ship_nulls"),
        (F.count(F.lit(1))
         - F.countDistinct("l_orderkey", "l_linenumber")).cast("bigint")
        .alias("dup_keys"))
    orphans = (li.join(orders, li.l_orderkey == orders.o_orderkey,
                       "left_anti")
               .agg(F.count(F.lit(1)).cast("bigint").alias("orphans")))
    # w feeds one select PER CHECK (6 consumers — each re-ran both
    # lineitem scans): persist the one-row metrics frame (round-12
    # subtree lint)
    w = persist(wide.crossJoin(orphans))
    checks = [
        ("row_count_positive", F.col("n_rows"), F.col("n_rows") > 0),
        ("quantity_in_1_50", F.col("qty_out"), F.col("qty_out") == 0),
        ("discount_in_0_01", F.col("disc_out"), F.col("disc_out") == 0),
        ("shipdate_not_null", F.col("ship_nulls"), F.col("ship_nulls") == 0),
        ("orderkey_linenumber_unique", F.col("dup_keys"),
         F.col("dup_keys") == 0),
        ("fk_orderkey_exists", F.col("orphans"), F.col("orphans") == 0),
    ]
    parts = [w.select(F.lit(nm).alias("check_name"),
                      m.cast("double").alias("metric"),
                      p.alias("passed")) for nm, m, p in checks]
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionAll(p_)
    return out


# ---------------------------------------------------------------------------
# dp_padding_batches — length-grouped inference batching (the vLLM /
# dynamic-batching data prep): documents sort by token length, chunk
# into fixed-size batches of 32, and each batch reports its max
# length, total padded cells and padding efficiency (sum len / (32 *
# max len)) — sorted batching keeps efficiency near 1 where random
# batching wastes most of the pad grid. The GLOBAL length sort runs
# through helpers.sharded_global_window (range shards + per-shard
# window + broadcast carry), never a one-task sort; the oracle is the
# plain single-node window. Ties break by doc_id so batch membership
# is total-ordered and cross-engine identical.
# ---------------------------------------------------------------------------
_PB_BATCH = 32

_PADDING_ORACLE = f"""
WITH t AS (
  SELECT doc_id, len({_TOKS}) AS n_tok FROM documents
  WHERE length(text) > 0
),
r AS (
  SELECT doc_id, n_tok,
         CAST((row_number() OVER (ORDER BY n_tok, doc_id) - 1)
              // {_PB_BATCH} AS BIGINT) AS batch_id
  FROM t
)
SELECT batch_id,
       CAST(count(*) AS BIGINT) AS batch_rows,
       CAST(max(n_tok) AS BIGINT) AS max_len,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_cells,
       round(CAST(sum(n_tok) AS DOUBLE) / (count(*) * max(n_tok)), 6)
         AS pad_efficiency
FROM r GROUP BY batch_id
"""


@register("dp_padding_batches", oracle=_PADDING_ORACLE)
def dp_padding_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_global_window)

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0)
    t = docs.select("doc_id", F.size(tx.tokens(F.col("text")))
                    .alias("n_tok"))
    r = sharded_global_window(
        t, F.col("n_tok"), [F.asc("n_tok"), F.asc("doc_id")], rn="__grn")
    b = r.select("doc_id", "n_tok",
                 F.floor((F.col("__grn") - 1) / _PB_BATCH)
                 .cast("bigint").alias("batch_id"))
    return (b.groupBy("batch_id")
            .agg(lcount("batch_rows"),
                 F.max("n_tok").cast("bigint").alias("max_len"),
                 F.sum("n_tok").cast("bigint").alias("total_tokens"),
                 (F.count(F.lit(1)) * F.max("n_tok") - F.sum("n_tok"))
                 .cast("bigint").alias("pad_cells"),
                 F.round(F.sum("n_tok").cast("double")
                         / (F.count(F.lit(1)) * F.max("n_tok")), 6)
                 .alias("pad_efficiency")))
