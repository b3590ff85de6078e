"""Corpus-modeling & retrieval extensions (SURVEY.md §2, block 3 cont.):
n-gram LM perplexity filtering, late-interaction multi-vector scoring,
community detection, and batching-efficiency accounting.

Same float discipline as ``training_data.py``: every cross-engine
double is produced by a strictly sequential fold over a sorted array
(identical accumulation order in Spark and DuckDB), rounded to 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sanctions_data_pipeline_spark.catalog import load_table, widen_small_scan
from sanctions_data_pipeline_spark.operators import similarity as sim
from sanctions_data_pipeline_spark.operators import textstats as tx
from sanctions_data_pipeline_spark.plans.helpers import (
    fetch_if_small, lcount, local_frame, persist, pround6)
from sanctions_data_pipeline_spark.plans.registry import register

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"

# ---------------------------------------------------------------------------
# tx_perplexity — CCNet-style n-gram LM quality filter: train an add-one
# bigram language model ON the corpus itself (top-V vocabulary, the rest
# mapped to <unk>), then score every document's bigram log-likelihood and
# surface perplexity. Low-ppl docs are fluent/common, high-ppl docs are
# noise — the classic LM filter (Wenzek et al., CCNet, LREC 2020).
#
# Scale design: the vocabulary is capped at V (deterministic rank by
# count desc, token asc) so the LM tables are bounded regardless of
# corpus size; vocab + unigram tables broadcast; the only corpus-wide
# shuffles are the bigram count agg and the doc-bigram→LM join, both on
# (w1, w2) hash keys with map-side partial aggregation. The per-doc
# log-prob sum is a sorted sequential fold → bit-identical in DuckDB.
# ---------------------------------------------------------------------------
_PPL_V = 40  # vocab cap (small corpus; the point is the <unk> plumbing)

_PPL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS r
    FROM toks GROUP BY tok
  ) WHERE r <= {_PPL_V}
),
arr AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
bg0 AS (
  SELECT doc_id, t[i] AS w1r, t[i+1] AS w2r
  FROM arr, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
bg AS (
  SELECT doc_id,
         CASE WHEN v1.tok IS NULL THEN '<unk>' ELSE w1r END AS w1,
         CASE WHEN v2.tok IS NULL THEN '<unk>' ELSE w2r END AS w2
  FROM bg0 LEFT JOIN vocab v1 ON bg0.w1r = v1.tok
           LEFT JOIN vocab v2 ON bg0.w2r = v2.tok
),
c2 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c12) AS c1 FROM c2 GROUP BY w1),
vsz AS (SELECT count(*) + 1 AS v FROM vocab),
scored AS (
  SELECT b.doc_id,
         log2((c2.c12 + 1.0) / (c1.c1 + (SELECT v FROM vsz))) AS lp
  FROM bg b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
            JOIN c1 ON b.w1 = c1.w1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(pow(2.0, -list_aggregate(list_sort(list(lp)), 'sum') / count(*)), 6)
         AS ppl
FROM scored GROUP BY doc_id
"""


@register("tx_perplexity", oracle=_PPL_ORACLE, headline=True)
def tx_perplexity(spark: SparkSession, sf_dir: str,
                  vocab_cap: int = _PPL_V) -> DataFrame:
    # tokenization is the CPU-heavy map stage of all three corpus
    # passes: parallelize an under-split local scan (no-op at scale)
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", tx.tokens(F.col("text")).alias("t"))

    # top-V via orderBy().limit() — a parallel TakeOrdered, NOT a
    # row_number over an unpartitioned window (which would sort the
    # whole distinct vocabulary on one executor at corpus scale).
    vocab = (toks.select(F.explode("t").alias("tok"))
             .groupBy("tok").agg(lcount("cnt"))
             .orderBy(F.col("cnt").desc(), F.col("tok"))
             .limit(vocab_cap)
             .select("tok"))
    # vocab is bounded (<= V rows) — collect once (driver state is V
    # strings), then re-ship it as a BROADCAST dimension. The <unk>
    # mapping is two broadcast hash-join probes on the bigram stream —
    # O(1) per token and a constant-size plan, where the previous
    # F.array(*literals)/array_contains probe was O(V) per token with
    # an expression tree that grew with V (a cliff at CCNet-scale
    # V≈50k; this shape is flat from V=40 to V=50k).
    vocab_rows = vocab.collect()
    vocab_df = local_frame(vocab_rows, "tok string")

    bg0 = (toks.select("doc_id",
                       F.explode(tx.adjacent_pairs(F.col("t"))).alias("b"))
           .select("doc_id", F.col("b.w1").alias("w1r"),
                   F.col("b.w2").alias("w2r")))
    v1 = vocab_df.select(F.col("tok").alias("w1r"), F.lit(True).alias("in1"))
    v2 = vocab_df.select(F.col("tok").alias("w2r"), F.lit(True).alias("in2"))
    bg = (bg0.join(F.broadcast(v1), "w1r", "left")
          .join(F.broadcast(v2), "w2r", "left")
          .select("doc_id",
                  F.when(F.col("in1"), F.col("w1r"))
                   .otherwise(F.lit("<unk>")).alias("w1"),
                  F.when(F.col("in2"), F.col("w2r"))
                   .otherwise(F.lit("<unk>")).alias("w2")))

    # c2/c1 are bounded by the vocab cap ((V+1)^2 and V+1 rows) — both
    # broadcast, so scoring is entirely map-side against the corpus scan.
    # Persist + eagerly materialize c2 (round-12 subtree lint): the two
    # broadcast exchanges (c2, and c1 derived from c2) otherwise each
    # re-ran the tokenize + bigram explode + <unk> joins — and they
    # materialize CONCURRENTLY on the driver, so a lazy cache entry
    # races and both still compute (the tok_bpe eager-materialization
    # lesson). One count() pins the bounded census; the query is now
    # the true 3-pass floor (vocab -> model counts -> scoring) instead
    # of paying the bigram pipeline 3x. Persisting the corpus-scale bg
    # itself stays rejected (r11): broadcast-safe c2 is the right size.
    c2 = persist(bg.groupBy("w1", "w2").agg(lcount("c12")))
    c2.count()
    c1 = c2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = F.lit(len(vocab_rows) + 1)  # +1 for <unk>

    scored = (bg.join(F.broadcast(c2), ["w1", "w2"])
              .join(F.broadcast(c1), "w1")
              .select("doc_id",
                      F.log2((F.col("c12") + F.lit(1.0)) / (F.col("c1") + v))
                       .alias("lp")))
    fold = F.aggregate(F.array_sort(F.collect_list("lp")),
                       F.lit(0.0), lambda acc, x: acc + x)
    return (scored.groupBy("doc_id")
            .agg(lcount("n_bigrams"), fold.alias("__s"))
            .select("doc_id", "n_bigrams",
                    F.round(F.pow(F.lit(2.0),
                                  -F.col("__s") / F.col("n_bigrams")), 6)
                     .alias("ppl")))


# ---------------------------------------------------------------------------
# sim_maxsim — ColBERT-style late-interaction scoring (Khattab & Zaharia,
# SIGIR 2020): a "document" is the SET of vectors sharing a label, the
# query is a BOUNDED sample of label 0's vector set (vec_id < 200 —
# the sim_topk_bruteforce fixed-query idiom), and score(q, d) =
# Σ_{qv∈q} max_{dv∈d} cos(qv, dv). Pure relational: broadcast the
# (small) query vectors against the corpus scan, per-(qv, label) max,
# per-label sorted-fold sum — no UDF, one shuffle on (label).
#
# Scale: the registered contract mirrors the real deployment — a
# per-request query set of CONSTANT size broadcasts while only the
# corpus side grows, so work is linear in corpus rows (the round-9
# contract scaled BOTH sides and was quadratic under the ×100 tier —
# VERDICT r09 "what's wrong" #1); the max is map-side-combinable; at
# 100 TB the corpus scan is the only big side and it never shuffles
# more than (qv_id, label, cos) rows.
# ---------------------------------------------------------------------------
_COS6 = ("round(list_inner_product({a}, {b}) / "
         "(sqrt(list_inner_product({a}, {a})) * "
         "sqrt(list_inner_product({b}, {b}))), 6)")

_MAXSIM_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qv_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE label = 0 AND vec_id < 200
),
c AS (
  SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings WHERE label <> 0
),
pairmax AS (
  SELECT q.qv_id, c.label,
         max({_COS6.format(a='q.qv', b='c.dv')}) AS m
  FROM q, c GROUP BY q.qv_id, c.label
)
SELECT label,
       round(list_aggregate(list_sort(list(m)), 'sum'), 6) AS maxsim
FROM pairmax GROUP BY label
"""


@register("sim_maxsim", oracle=_MAXSIM_ORACLE, headline=True)
def sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # norms materialized ONCE per row (bit-identical arithmetic, see
    # _with_norm): the q×corpus pair stage then runs one fold per pair
    # (the dot) instead of three — at 100 TB that's the whole hot loop
    q = sim._with_norm(
        emb.filter((F.col("label") == 0) & (F.col("vec_id") < 200))
        .select(F.col("vec_id").alias("qv_id"),
                sim.as_double(F.col("embedding")).alias("qv")),
        "qv", "qn")
    c = sim._with_norm(
        emb.filter(F.col("label") != 0)
        .select("label", sim.as_double(F.col("embedding")).alias("dv")),
        "dv", "dn")
    # the q×corpus scoring is the hot loop and runs map-side off the
    # scan; a small local corpus arrives as ONE parquet split, which
    # would serialize it on one core — at 100 TB the scan has thousands
    # of splits and this never triggers
    par = spark.sparkContext.defaultParallelism
    if c.rdd.getNumPartitions() < par:
        c = c.repartition(par)
    pairmax = (c.crossJoin(F.broadcast(q))
               .select("qv_id", "label",
                       F.round(sim.dot(F.col("qv"), F.col("dv"))
                               / (F.col("qn") * F.col("dn")), 6)
                        .alias("cos"))
               .groupBy("qv_id", "label").agg(F.max("cos").alias("m")))
    fold = F.aggregate(F.array_sort(F.collect_list("m")),
                       F.lit(0.0), lambda acc, x: acc + x)
    return (pairmax.groupBy("label")
            .agg(F.round(fold, 6).alias("maxsim")))


# ---------------------------------------------------------------------------
# gr_label_prop — community detection by synchronous label propagation
# (Raghavan et al. 2007) over the co-purchase graph, made fully
# deterministic: each round every node adopts the most frequent label
# among its neighbors (ties → smallest label), all nodes update
# simultaneously, fixed round count. The oracle unrolls the identical
# 4 rounds as chained CTEs (the gr_pagerank discipline — bounded-round
# iteration IS SQL-expressible); labels are exact integers, so no
# float-order concerns. The pure-Python pytest replay stays as a third
# independent check.
#
# Scale: per-round state is (node, label) longs; each round is one
# shuffle join on node + one (node, label) count agg + one max_by —
# the same bounded-lineage loop discipline as dd_cluster/pr_copurchase
# (persist per round, unpersist the previous round's table).
# ---------------------------------------------------------------------------
_LP_ROUNDS = 4


def _lp_oracle() -> str:
    ctes = ["""
co AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       FROM lineitem WHERE l_partkey < 200),
edges AS (
  SELECT a.p AS src, b.p AS dst FROM co a JOIN co b ON a.o = b.o
  WHERE a.p <> b.p
  GROUP BY a.p, b.p HAVING count(*) >= 3
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""]
    for i in range(1, _LP_ROUNDS + 1):
        ctes.append(f"""
v{i} AS (SELECT e.src, l.label, count(*) AS cnt
         FROM edges e JOIN l{i - 1} l ON l.node = e.dst
         GROUP BY e.src, l.label),
l{i} AS (SELECT src AS node, label FROM v{i}
         QUALIFY row_number() OVER (PARTITION BY src
                                    ORDER BY cnt DESC, label) = 1)""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
SELECT label AS community, CAST(count(*) AS BIGINT) AS community_size
FROM l{_LP_ROUNDS} GROUP BY label"""
    )


@register("gr_label_prop", oracle=_lp_oracle())
def gr_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 200)
    # sparsify: keep pairs co-purchased in >= 3 orders, otherwise the
    # dense co-occurrence graph collapses to one community in round 1
    a = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("src")).distinct()
    b = a.withColumnRenamed("src", "dst")
    edges = (a.join(b, "o").filter(F.col("src") != F.col("dst"))
             .groupBy("src", "dst").agg(lcount("w"))
             .filter(F.col("w") >= 3).select("src", "dst"))
    sym = persist(edges)
    labels = persist(sym.select(F.col("src").alias("node")).distinct()
                     .withColumn("label", F.col("node")))
    labels.count()
    for _ in range(_LP_ROUNDS):
        votes = (sym.join(labels.withColumnRenamed("node", "dst"), "dst")
                 .groupBy("src", "label").agg(lcount("cnt")))
        nxt = persist(votes.groupBy("src")
                      .agg(F.min_by(
                          "label",
                          F.struct((-F.col("cnt")).alias("nc"),
                                   F.col("label").alias("lb"))).alias("label"))
                      .withColumnRenamed("src", "node"))
        nxt.count()
        labels.unpersist()
        labels = nxt
    sym.unpersist()  # labels is materialized; result depends only on it
    return (labels.groupBy("label")
            .agg(lcount("community_size"))
            .select(F.col("label").alias("community"), "community_size"))


# ---------------------------------------------------------------------------
# dp_length_buckets — batching-efficiency accounting: assign every doc a
# power-of-two token-length bucket and report, per bucket, the padding
# waste of batching within the bucket (pad to bucket max) vs padding the
# whole corpus to the global max. The standard length-bucketing dial a
# training-data pipeline tunes before sharding. Map-only bucket assign,
# one partial-agg shuffle + broadcast global scalar.
# ---------------------------------------------------------------------------
_LB_ORACLE = f"""
WITH d AS (
  SELECT doc_id, len({_TOKS}) AS n_tok,
         -- smallest power of two >= n via INTEGER bit-length arithmetic:
         -- float log2 is engine-divergent at exact powers of two
         -- (Spark's LOG2 = ln(x)/ln(2) rounds 2^29 up)
         CASE WHEN len({_TOKS}) <= 1 THEN 1
              ELSE CAST(pow(2, length(bin(len({_TOKS}) - 1))) AS BIGINT)
         END AS bucket
  FROM documents
),
g AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         CAST(max(n_tok) AS BIGINT) AS max_tok
  FROM d GROUP BY bucket
)
SELECT bucket, n_docs, sum_tok,
       CAST(n_docs * max_tok - sum_tok AS BIGINT) AS pad_bucketed,
       CAST(n_docs * (SELECT max(max_tok) FROM g) - sum_tok AS BIGINT)
         AS pad_global
FROM g
"""


@register("dp_length_buckets", oracle=_LB_ORACLE)
def dp_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tx.tokens(F.col("text")))
    # integer bit-length bucket (see oracle comment: float log2 is
    # engine-divergent exactly at powers of two)
    bucket = F.when(n_tok <= 1, F.lit(1)).otherwise(
        F.pow(F.lit(2), F.length(F.bin((n_tok - 1).cast("bigint"))))
         .cast("bigint"))
    d = docs.select(
        "doc_id", n_tok.alias("n_tok"), bucket.alias("bucket"))
    g = (d.groupBy("bucket")
         .agg(lcount("n_docs"),
              F.sum("n_tok").cast("bigint").alias("sum_tok"),
              F.max("n_tok").cast("bigint").alias("max_tok")))
    gmax = g.agg(F.max("max_tok").alias("__gmax"))
    return (g.crossJoin(F.broadcast(gmax))
            .select("bucket", "n_docs", "sum_tok",
                    (F.col("n_docs") * F.col("max_tok") - F.col("sum_tok"))
                    .cast("bigint").alias("pad_bucketed"),
                    (F.col("n_docs") * F.col("__gmax") - F.col("sum_tok"))
                    .cast("bigint").alias("pad_global")))


# ---------------------------------------------------------------------------
# q_cms_topk — Count-Min-Sketch as RELATIONAL algebra (Cormode &
# Muthukrishnan 2005), fully cross-engine-exact: d=4 hash rows × w=64
# buckets, portable md5-derived hashes, cell counts via one groupBy,
# point estimates = min over rows of the probed cell. Output compares
# the CMS estimate to the exact count for the corpus's true top-10
# tokens — the over-estimate bound (est >= exact, est <= exact + eps*N)
# is visible in the result itself.
# Scale: the sketch is d×w cells regardless of corpus size (the agg is
# map-side-combinable to 256 cells); the probe side touches d rows per
# probed token. The mergeability HLL/bitmap rollups show elsewhere
# applies here too: cell counts sum across shards.
# ---------------------------------------------------------------------------
_CMS_D, _CMS_W = 4, 64

_CMS_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents
),
exact AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY tok
),
top10 AS (
  SELECT tok, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, tok LIMIT 10
),
rows_ AS (SELECT unnest(range({_CMS_D})) AS d),
cells AS (
  SELECT d,
         ('0x' || substr(md5(d || ':' || tok), 1, 8))::BIGINT % {_CMS_W}
           AS bucket,
         CAST(count(*) AS BIGINT) AS cell
  FROM toks, rows_ GROUP BY 1, 2
),
probe AS (
  SELECT t.tok, t.exact_cnt, min(c.cell) AS cms_est
  FROM top10 t
  JOIN rows_ r ON TRUE
  JOIN cells c
    ON c.d = r.d
   AND c.bucket = ('0x' || substr(md5(r.d || ':' || t.tok), 1, 8))::BIGINT
                  % {_CMS_W}
  GROUP BY t.tok, t.exact_cnt
)
SELECT tok, exact_cnt, cms_est FROM probe
"""


@register("q_cms_topk", oracle=_CMS_ORACLE)
def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tx.tokens(F.col("text"))).alias("tok"))
    # exact feeds the top-10 probe AND the sketch cells: persist the
    # vocab-scale census so tokenization runs once (round-12 lint)
    exact = persist(toks.groupBy("tok").agg(lcount("exact_cnt")))
    top10 = exact.orderBy(F.desc("exact_cnt"), F.asc("tok")).limit(10)

    rows_ = spark.range(_CMS_D).select(F.col("id").cast("int").alias("d"))

    def bucket(d_col, tok_col):
        return (F.conv(F.substring(F.md5(F.concat_ws(":", d_col, tok_col)),
                                   1, 8), 16, 10)
                .cast("bigint") % _CMS_W)

    # the CMS cell count is the number of token OCCURRENCES hashing to
    # (d, bucket) — exactly the sum of per-token exact counts over the
    # bucket's tokens, so build the sketch from the vocab-scale census
    # instead of re-exploding the corpus (round-12: second full
    # tokenize pass removed, and the crossJoin blowup shrinks from
    # corpus-tokens x D to vocab x D)
    cells = (exact.crossJoin(F.broadcast(rows_))
             .groupBy("d", bucket(F.col("d"), F.col("tok")).alias("bucket"))
             .agg(F.sum("exact_cnt").cast("bigint").alias("cell")))
    probes = (top10.crossJoin(F.broadcast(rows_))
              .select("tok", "exact_cnt", "d",
                      bucket(F.col("d"), F.col("tok")).alias("bucket")))
    return (probes.join(F.broadcast(cells), ["d", "bucket"])
            .groupBy("tok", "exact_cnt")
            .agg(F.min("cell").alias("cms_est")))


# ---------------------------------------------------------------------------
# mix_dsir_weights — Data Selection via Importance Resampling (DSIR,
# Xie et al., NeurIPS 2023): score every raw document by how much its
# hashed-bigram distribution looks like a target domain. Feature space
# is B hash buckets (md5, portable); target = 'en' docs, raw = the
# rest; both sides get an add-one unigram-over-buckets LM, and
# log w(doc) = Σ_feats [log P_target(b) − log P_raw(b)] via sorted
# sequential fold, so the weight is bit-identical in DuckDB.
#
# Scale: the two LM tables are B rows each regardless of corpus size
# (broadcast); the corpus-side work is one map-side feature hash +
# per-doc agg — the importance-resampling pass over 100 TB never
# shuffles anything wider than (doc_id, bucket).
# ---------------------------------------------------------------------------
_DSIR_B = 256

_DSIR_ORACLE = f"""
WITH arr AS (
  SELECT doc_id, lang, {_TOKS} AS t FROM documents
),
feats AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 8))::BIGINT
           % {_DSIR_B} AS b
  FROM arr, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
tgt AS (
  SELECT b, count(*) AS c FROM feats WHERE lang = 'en' GROUP BY b
),
raw AS (
  SELECT b, count(*) AS c FROM feats WHERE lang <> 'en' GROUP BY b
),
nt AS (SELECT count(*) AS n FROM feats WHERE lang = 'en'),
nr AS (SELECT count(*) AS n FROM feats WHERE lang <> 'en'),
scored AS (
  SELECT f.doc_id,
         ln((COALESCE(t.c, 0) + 1.0) / ((SELECT n FROM nt) + {_DSIR_B}))
         - ln((COALESCE(r.c, 0) + 1.0) / ((SELECT n FROM nr) + {_DSIR_B}))
           AS lw
  FROM feats f LEFT JOIN tgt t ON f.b = t.b
               LEFT JOIN raw r ON f.b = r.b
  WHERE f.lang <> 'en'
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       round(list_aggregate(list_sort(list(lw)), 'sum'), 6) AS log_w
FROM scored GROUP BY doc_id
"""


@register("mix_dsir_weights", oracle=_DSIR_ORACLE)
def mix_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # NULL lang must vanish from BOTH LMs, mirroring the oracle's
    # lang = 'en' / lang <> 'en' predicates (which never match NULL);
    # without this, (lang == 'en') is NULL and the driver-side `if t`
    # would silently fold NULL-lang features into the raw LM.
    toks = (docs.filter(F.col("lang").isNotNull())
            .select("doc_id", "lang", tx.tokens(F.col("text")).alias("t")))
    feats = (toks.select("doc_id", "lang",
                         F.explode(tx.adjacent_pairs(F.col("t"))).alias("p"))
             .select("doc_id", "lang",
                     F.concat_ws(" ", "p.w1", "p.w2").alias("bgram"))
             .select("doc_id", "lang",
                     (F.conv(F.substring(F.md5("bgram"), 1, 8), 16, 10)
                      .cast("bigint") % _DSIR_B).alias("b")))
    # BOTH LMs in one corpus pass: group by (is_target, bucket) and
    # collect — the result is bounded by 2*B rows, so the tables live
    # on the driver and rejoin as broadcast literals. Two total scans
    # of the map-only feats projection (LM build + scoring), no persist
    # to leak, totals derived from the same collected counts.
    lm = {(r.is_t, r.b): r.c for r in
          feats.groupBy((F.col("lang") == "en").alias("is_t"), "b")
               .agg(lcount("c")).collect()}
    n_t = sum(c for (t, _), c in lm.items() if t)
    n_r = sum(c for (t, _), c in lm.items() if not t)
    tgt = local_frame([(b, c) for (t, b), c in lm.items() if t],
                      "b bigint, tc bigint")
    raw = local_frame([(b, c) for (t, b), c in lm.items() if not t],
                      "b bigint, rc bigint")

    lw = (F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                / F.lit(float(n_t + _DSIR_B)))
          - F.log((F.coalesce(F.col("rc"), F.lit(0)) + 1.0)
                  / F.lit(float(n_r + _DSIR_B))))
    scored = (feats.filter(F.col("lang") != "en")
              .join(F.broadcast(tgt), "b", "left")
              .join(F.broadcast(raw), "b", "left")
              .select("doc_id", lw.alias("lw")))
    fold = F.aggregate(F.array_sort(F.collect_list("lw")),
                       F.lit(0.0), lambda acc, x: acc + x)
    out = (scored.groupBy("doc_id")
           .agg(lcount("n_feats"), F.round(fold, 6).alias("log_w")))
    return out


# ---------------------------------------------------------------------------
# dp_interleave — deterministic round-robin mixture interleave: the
# training stream alternates sources (src0, src1, ..., src0, ...) in a
# reproducible order — pos(doc) = (rank_within_source − 1) · n_sources
# + source_index, with the within-source order md5-derived (same
# deterministic-uniform trick as dp_shuffle/mix_sample).
#
# Scale note: rank-within-source is a per-source global sort; at corpus
# scale compose it with dp_shuffle's widening hex shard prefix
# ((source, shard) partitions, pos offset by exact per-shard counts) so
# no single source sorts on one executor. Source index comes from a
# bounded distinct-source table (broadcast).
# ---------------------------------------------------------------------------
_ITL_ORACLE = """
WITH src AS (
  SELECT source AS s, row_number() OVER (ORDER BY source) - 1 AS si,
         count(*) OVER () AS n_src
  FROM (SELECT DISTINCT source FROM documents)
),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
SELECT r.doc_id, r.source,
       CAST((r.rk - 1) * src.n_src + src.si AS BIGINT) AS pos
FROM r JOIN src ON r.source = src.s
"""


@register("dp_interleave", oracle=_ITL_ORACLE)
def dp_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    srcs = (docs.select("source").distinct()
            .withColumn("si", F.row_number().over(W.orderBy("source")) - 1))
    n_src = srcs.count()  # bounded: one row per source
    rk = F.row_number().over(
        W.partitionBy("source")
         .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
    # rk0 cast to bigint BEFORE the multiply: row_number is int and
    # ANSI overflow throws once a source exceeds 2^31/n_src docs
    return (docs.select("doc_id", "source",
                        (rk - 1).cast("bigint").alias("rk0"))
            .join(F.broadcast(srcs), "source")
            .select("doc_id", "source",
                    (F.col("rk0") * n_src + F.col("si")).cast("bigint")
                     .alias("pos")))


# ---------------------------------------------------------------------------
# sim_hard_negatives — contrastive-pair mining for retrieval training
# (e.g. DPR, Karpukhin et al. 2020): for each query vector, the best
# SAME-label neighbor (positive) and the best OTHER-label neighbor
# (hard negative), ranked by exact cosine with deterministic
# tie-breaks. One broadcast scoring pass + two rank windows that share
# the same (qv_id) shuffle.
# Scale: queries broadcast; the corpus never shuffles more than
# (qv_id, vec_id, cos) rows; per-query top-1 is map-side combinable
# via the rank window over the bounded qv_id partition count.
# ---------------------------------------------------------------------------
_HN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qv_id, label AS qlabel,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
),
scored AS (
  SELECT q.qv_id, q.qlabel, c.vec_id, c.label,
         {_COS6.format(a='q.qv', b='c.dv')} AS cos
  FROM q, c WHERE c.vec_id <> q.qv_id
),
pos AS (
  SELECT qv_id, vec_id AS pos_id, cos AS pos_cos,
         row_number() OVER (PARTITION BY qv_id ORDER BY cos DESC, vec_id) AS r
  FROM scored WHERE label = qlabel
),
neg AS (
  SELECT qv_id, vec_id AS neg_id, cos AS neg_cos,
         row_number() OVER (PARTITION BY qv_id ORDER BY cos DESC, vec_id) AS r
  FROM scored WHERE label <> qlabel
)
SELECT p.qv_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
FROM pos p JOIN neg n ON p.qv_id = n.qv_id AND p.r = 1 AND n.r = 1
"""


@register("sim_hard_negatives", oracle=_HN_ORACLE)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # norms once per row (bit-identical; see _with_norm) — the
    # pair stage folds only the dot
    q = sim._with_norm(
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qv_id"),
                F.col("label").alias("qlabel"),
                sim.as_double(F.col("embedding")).alias("qv")),
        "qv", "qn")
    c = sim._with_norm(
        emb.select("vec_id", "label",
                   sim.as_double(F.col("embedding")).alias("dv")),
        "dv", "dn")
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("qv_id"))
              .select("qv_id", "qlabel", "vec_id", "label",
                      F.round(sim.dot(F.col("qv"), F.col("dv"))
                              / (F.col("qn") * F.col("dn")), 6)
                       .alias("cos")))
    w = W.partitionBy("qv_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    pos = (scored.filter(F.col("label") == F.col("qlabel"))
           .withColumn("r", F.row_number().over(w)).filter("r = 1")
           .select("qv_id", F.col("vec_id").alias("pos_id"),
                   F.col("cos").alias("pos_cos")))
    neg = (scored.filter(F.col("label") != F.col("qlabel"))
           .withColumn("r", F.row_number().over(w)).filter("r = 1")
           .select("qv_id", F.col("vec_id").alias("neg_id"),
                   F.col("cos").alias("neg_cos")))
    return pos.join(neg, "qv_id")


# ---------------------------------------------------------------------------
# tok_bpe_merges — tokenizer TRAINING in-engine: learn the first R BPE
# merges (Sennrich et al., ACL 2016) over the corpus vocabulary. Each
# round is one weighted adjacent-pair count over the (distinct word,
# count) table, a 1-row argmax collect, and a lazy higher-order-fold
# re-segmentation (greedy left-to-right merge, exactly BPE's rule).
#
# Oracle (round 10 — the gr_label_prop unrolled-iteration discipline,
# and the first TRAINER with a value-exact oracle): the whole
# algorithm is integer counts + string symbols, so DuckDB replays all
# R rounds verbatim — each round is a pair-count CTE, a MATERIALIZED
# 1-row argmax, and the greedy left-to-right fold as a recursive CTE
# over symbol positions (the merge pair rides the recursion rows;
# correlated subqueries into the recursion would re-evaluate the
# upstream chain exponentially — measured: a 0.13 s query becomes a
# >300 s one). Merge ranks, pairs and counts hash-compare exactly.
# The pure-python replay stays in tests as the third check.
#
# Scale: the iterating table is the DISTINCT vocabulary (~10^7 rows at
# web scale, not the corpus); per-round shuffle carries (sym_a, sym_b,
# count); driver state is one (pair, count) row per round. Same
# persist/unpersist round discipline as connected components.
# ---------------------------------------------------------------------------
_BPE_ROUNDS = 5


def _bpe_round_cte(r: int, carry_w: bool = False) -> str:
    """CTEs for BPE round r: pair counts over seg{r-1}, the argmax
    merge, and the greedy re-segmentation fold."""
    w_sel = "w, " if carry_w else ""
    w_f = "f.w, " if carry_w else ""
    return f"""
pairs{r} AS (
  SELECT s[i] AS a, s[i+1] AS b, SUM(cnt) AS n
  FROM seg{r - 1}, unnest(range(1, len(s))) u(i)
  GROUP BY 1, 2
),
best{r} AS MATERIALIZED (
  SELECT a, b, n FROM pairs{r} ORDER BY n DESC, a, b LIMIT 1
),
fold{r} AS (
  SELECT {w_sel}s, cnt, 1 AS i, CAST([] AS VARCHAR[]) AS acc,
         b.a AS ma, b.b AS mb
  FROM seg{r - 1}, best{r} b
  UNION ALL
  SELECT {w_f}f.s, f.cnt, f.i + 1,
         CASE WHEN len(f.acc) > 0 AND f.acc[-1] = f.ma AND f.s[f.i] = f.mb
              THEN list_append(f.acc[1:len(f.acc)-1], f.ma || f.mb)
              ELSE list_append(f.acc, f.s[f.i]) END,
         f.ma, f.mb
  FROM fold{r} f WHERE f.i <= len(f.s)
),
seg{r} AS MATERIALIZED (
  SELECT {w_sel}acc AS s, cnt FROM fold{r} WHERE i = len(s) + 1)
"""


def _bpe_seg_ctes(carry_w: bool = False) -> str:
    """The shared WITH RECURSIVE body: vocab -> seg0 -> R rounds."""
    w_sel = "w, " if carry_w else ""
    return (f"""
t AS (SELECT unnest({_TOKS}) AS w FROM documents),
v AS (SELECT w, count(*) AS cnt FROM t GROUP BY w),
seg0 AS MATERIALIZED (
  SELECT {w_sel}list_append(string_split(w, ''), '</w>') AS s, cnt FROM v),
""" + ",".join(_bpe_round_cte(r, carry_w)
               for r in range(1, _BPE_ROUNDS + 1)))


_BPE_MERGES_ORACLE = ("WITH RECURSIVE " + _bpe_seg_ctes() + """
SELECT * FROM (
""" + "  UNION ALL\n".join(
    f'  SELECT CAST({r} AS INT) AS merge_rank, a AS "left", b AS "right",'
    f' CAST(n AS BIGINT) AS pair_count FROM best{r}\n'
    for r in range(1, _BPE_ROUNDS + 1)) + """
)
""")


# SMALL-VOCAB SWITCH for the BPE trainers. The distributed merge loop
# pays ~2 fixed-cost Spark jobs per round (pair-count argmax + eager
# re-segmentation) no matter how tiny the vocabulary; a vocab that
# helpers.fetch_if_small brings to the driver (the shared
# DRIVER_MAX_ROWS bound, as for the union-find edge gate) trains all R
# rounds in pure python off that one fetch — EXACTLY the replay
# tests/test_training_ext2.py already pins the distributed loop
# against, so both paths are output-identical by the same pin. A
# web-scale vocabulary (~10^7 distinct words) routes to the unchanged
# distributed loop by construction.


def _bpe_train_py(rows, rounds: int):
    """Pure-python BPE trainer over (symbols, count) rows —
    the pinned-replay algorithm verbatim. Returns (merges, final_segs)
    where merges = [(rank, a, b, count)] and final_segs maps each
    INPUT row index to its round-R segmentation (greedy left-to-right
    merge per round, ties broken by (count desc, a, b) exactly like
    the distributed argmax)."""
    segs = [list(s) for s, _ in rows]
    cnts = [c for _, c in rows]
    merges = []
    for rnd in range(rounds):
        pc: dict = {}
        for s, c in zip(segs, cnts):
            for x, y in zip(s, s[1:]):
                pc[(x, y)] = pc.get((x, y), 0) + c
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd + 1, a, b, int(n)))
        ab = a + b
        for i, s in enumerate(segs):
            out = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = ab
                else:
                    out.append(x)
            segs[i] = out
    return merges, segs


def _bpe_merge(col, a: str, b: str):
    """``col``'s symbols re-segmented by the merge (a, b): BPE's greedy
    left-to-right rule as one interpreted fold."""
    ab = a + b

    def step(acc, x):  # PySpark's HOF arity check wants exactly (acc, x)
        return F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab)))
        ).otherwise(F.concat(acc, F.array(x)))
    return F.aggregate(col, F.array().cast("array<string>"), step)


def _bpe_train_distributed(words: DataFrame) -> list:
    """The distributed BPE trainer over a persisted (s, cnt) frame: per
    round one pair-count argmax job and one persisted re-segmentation.
    Returns [(rank, a, b, count)] like :func:`_bpe_train_py`."""
    merges, seg = [], words
    for rnd in range(_BPE_ROUNDS):
        # adjacent_pairs yields [] for words merged down to ONE symbol
        # (s[i+1] on a size-1 array would throw under ANSI mode)
        pairs = (seg.select(F.explode(tx.adjacent_pairs(F.col("s")))
                            .alias("p"), "cnt")
                 .groupBy(F.col("p.w1").alias("a"), F.col("p.w2").alias("b"))
                 .agg(F.sum("cnt").alias("n")))
        best = (pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1).collect())
        if not best:
            break
        a, b, n = best[0].a, best[0].b, int(best[0].n)
        merges.append((rnd + 1, a, b, n))
        if rnd + 1 == _BPE_ROUNDS:
            break  # the final round's re-segmentation is never read
        nxt = persist(seg.select(_bpe_merge(F.col("s"), a, b).alias("s"),
                                 "cnt"))
        nxt.count()
        if seg is not words:  # the caller owns words
            seg.unpersist()
        seg = nxt
    if seg is not words:
        seg.unpersist()
    return merges


@register("tok_bpe_merges", headline=True, oracle=_BPE_MERGES_ORACLE)
def tok_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize+explode is the CPU-heavy map stage of the vocab build:
    # parallelize an under-split local scan (no-op at scale)
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    words = persist(docs.select(F.explode(tx.tokens(F.col("text")))
                                .alias("w"))
                    .groupBy("w").agg(lcount("cnt"))
                    .select(F.concat(F.split("w", ""),
                                     F.array(F.lit("</w>"))).alias("s"),
                            "cnt"))
    rows = fetch_if_small(words)
    merges = (_bpe_train_distributed(words) if rows is None
              else _bpe_train_py(rows, _BPE_ROUNDS)[0])
    words.unpersist()
    return local_frame(
        merges, "merge_rank int, left string, right string, pair_count bigint")


# ---------------------------------------------------------------------------
# tok_bpe_encode — APPLY the learned BPE merges to the corpus (the
# inference half of tok_bpe_merges): every word re-segments through the
# merge list in training order (greedy left-to-right, exactly BPE's
# rule), and each document reports its token-efficiency accounting —
# the number the tokenizer team actually tracks (symbols/word before
# vs after merging).
#
# Oracle (round 10): because every corpus word IS a vocabulary word,
# applying the R merges in training order to a word equals that
# word's round-R training segmentation — so the oracle reuses the
# tok_bpe_merges replay (with the word carried through the recursion)
# and joins len(seg_R) back to the per-doc word stream. All-integer
# accounting + the shared portable FLOOR rounding hash-compare
# exactly. The python train+encode replay stays in tests.
#
# Scale: the merge list is bounded driver state (R rows); application
# is R chained higher-order folds inside one map-side corpus pass —
# no shuffle except the per-doc count agg.
# ---------------------------------------------------------------------------
_BPE_ENCODE_ORACLE = ("WITH RECURSIVE " + _bpe_seg_ctes(carry_w=True) + f"""
, enc AS (SELECT w, CAST(len(s) AS BIGINT) AS n_enc FROM seg{_BPE_ROUNDS}),
dw AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
per AS (
  SELECT doc_id, CAST(length(dw.w) + 1 AS BIGINT) AS n_raw, e.n_enc
  FROM dw JOIN enc e USING (w))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_raw) AS BIGINT) AS n_raw_symbols,
       CAST(sum(n_enc) AS BIGINT) AS n_bpe_symbols,
       FLOOR(CAST(sum(n_enc) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000.0 AS symbols_per_word
FROM per GROUP BY doc_id
""")


@register("tok_bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def tok_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 12: encode at VOCABULARY level, not per occurrence. A
    # corpus word's encoding depends only on the word, so the merge
    # application runs once per DISTINCT word and joins back onto the
    # per-doc word stream (the oracle's own shape — it joins
    # len(seg_R) to the word stream too). Before, the R chained
    # interpreted higher-order folds ran per word OCCURRENCE — the
    # unigram-EM interpreted-HOF trap, paid corpus-times instead of
    # vocab-times. AQE broadcasts the bounded enc table; the vocab
    # census shuffle carries partially-aggregated (w) rows only.
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    word = docs.select("doc_id",
                       F.explode(tx.tokens(F.col("text"))).alias("w"))
    vocab = persist(word.groupBy("w").agg(lcount("cnt"))
                    .select("w",
                            F.concat(F.split("w", ""),
                                     F.array(F.lit("</w>"))).alias("s"),
                            "cnt"))
    rows = fetch_if_small(vocab)
    if rows is not None:
        # small-vocab switch: train + encode off one fetch (the pinned
        # python replay verbatim; see the SMALL-VOCAB SWITCH note)
        vocab.unpersist()
        _, segs = _bpe_train_py([(r.s, r.cnt) for r in rows], _BPE_ROUNDS)
        enc = local_frame(
            [(r.w, len(r.s), len(seg)) for r, seg in zip(rows, segs)],
            "w string, n_raw int, n_enc int")
    else:
        # train on this census: the merges are tok_bpe_merges' own
        col = F.col("s")
        for _, a, b, _ in _bpe_train_distributed(vocab.select("s", "cnt")):
            col = _bpe_merge(col, a, b)
        enc = vocab.select("w", F.size("s").alias("n_raw"),
                           F.size(col).alias("n_enc"))
    per_word = word.join(enc, "w").select("doc_id", "n_raw", "n_enc")
    return (per_word.groupBy("doc_id")
            .agg(lcount("n_words"),
                 F.sum("n_raw").cast("bigint").alias("n_raw_symbols"),
                 F.sum("n_enc").cast("bigint").alias("n_bpe_symbols"))
            .withColumn("symbols_per_word",
                        F.round(F.col("n_bpe_symbols").cast("double")
                                / F.col("n_words"), 6)))


# ---------------------------------------------------------------------------
# dd_winnow — winnowing document fingerprints (Schleimer, Wilkerson &
# Aiken, SIGMOD 2003 — the MOSS algorithm): positional k-gram hashes,
# a sliding window of w consecutive hashes selects each window's MIN,
# and the distinct selected hashes form the fingerprint set. Guarantee:
# any shared run of >= w + k - 1 tokens shares at least one
# fingerprint. Pairs share >= _WIN_MIN_SHARED fingerprints, scored by
# containment of the smaller set.
#
# Portable md5-derived hashes → the whole pipeline (selection windows
# included) is cross-engine exact SQL. Scale: fingerprints are ~1/w of
# k-gram positions; the only corpus-wide shuffles carry (doc, pos,
# 8-byte hash) and the inverted-index join's fan-out is bounded by
# fingerprint document frequency (cap hot fingerprints like AllPairs
# stop-shingles if a boilerplate corpus needs it).
# ---------------------------------------------------------------------------
_WIN_K, _WIN_W, _WIN_MIN_SHARED = 3, 4, 5

_WINNOW_ORACLE = f"""
WITH arr AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
kg AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
           ::BIGINT AS h,
         len(t) - {_WIN_K} + 1 AS n_kg
  FROM arr, unnest(range(1, len(t) - {_WIN_K} + 2)) AS u(i)
  WHERE len(t) >= {_WIN_K}
),
sel AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos, n_kg,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {_WIN_W - 1} FOLLOWING) AS fp
    FROM kg
  ) WHERE pos <= n_kg - {_WIN_W} + 1
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp FROM sel GROUP BY 1),
cnt AS (
  SELECT a.doc_id AS i, b.doc_id AS j, CAST(count(*) AS BIGINT) AS shared
  FROM sel a JOIN sel b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i, j, shared,
       CAST(FLOOR((shared * 1.0 / least(si.nfp, sj.nfp)) * 1000000 + 0.5)
            AS BIGINT) / 1000000.0 AS sim
FROM cnt JOIN sizes si ON si.doc_id = i
         JOIN sizes sj ON sj.doc_id = j
WHERE shared >= {_WIN_MIN_SHARED}
"""


@register("dd_winnow", oracle=_WINNOW_ORACLE, headline=True)
def dd_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.catalog import widen_small_scan
    from sanctions_data_pipeline_spark.operators import dedup as dd

    docs = widen_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    if dd._dup_mass_low(docs, "text"):
        # sel feeds the size agg AND both sides of the shared-fp join:
        # persist so the k-gram window + distinct pipeline runs once,
        # not three times (same discipline as the collapse branch below)
        return _winnow_pairs_from(persist(_winnow_sel(docs)))
    # collapse-first (round 9, the operators/dedup.py pair-family
    # discipline): identical normalized text -> identical fingerprint
    # SET and count, so within-group pairs are (shared = nfp, sim = 1.0)
    # by construction and the shared-fp self-join runs on distinct
    # texts only — K copies never meet inside a fingerprint bucket
    # (the x100 duplicate-mass OOM class).
    groups = dd._text_groups(docs, [], "doc_id", "text")
    reps = groups.select(F.col("rep").alias("doc_id"),
                         F.col("rep_text").alias("text"))
    sel = persist(_winnow_sel(reps))
    rep_pairs = _winnow_pairs_from(sel)
    sizes = (sel.groupBy("doc_id").agg(lcount("nfp"))
             .withColumnRenamed("doc_id", "rep"))
    within = (groups.join(sizes, "rep")
              .filter((F.size("members") >= 2)
                      & (F.col("nfp") >= _WIN_MIN_SHARED))
              .select(F.explode("members").alias("i"), "members", "nfp")
              .select("i", F.explode("members").alias("j"), "nfp")
              .filter(F.col("i") < F.col("j"))
              .select("i", "j", F.col("nfp").alias("shared"),
                      F.lit(1.0).alias("sim")))
    cross = dd._expand_rep_pairs(rep_pairs, groups, ["shared", "sim"])
    return within.unionByName(cross)


def _winnow_sel(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): each doc's distinct winnowed fingerprints."""
    toks = docs.select("doc_id", tx.tokens(F.col("text")).alias("t"))
    k, w = _WIN_K, _WIN_W
    kg = (toks.filter(F.size("t") >= k)
          .select("doc_id", "t", (F.size("t") - k + 1).alias("n_kg"),
                  F.posexplode(F.expr(
                      f"transform(sequence(0, size(t) - {k}), "
                      f"i -> concat_ws(' ', {', '.join(f't[i + {o}]' for o in range(k))}))"
                  )).alias("pos", "kgram"))
          .select("doc_id", "n_kg", (F.col("pos") + 1).alias("pos"),
                  (F.conv(F.substring(F.md5("kgram"), 1, 15), 16, 10)
                   .cast("bigint")).alias("h")))
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (kg.select("doc_id", "pos", "n_kg",
                      F.min("h").over(win).alias("fp"))
            .filter(F.col("pos") <= F.col("n_kg") - w + 1)
            .select("doc_id", "fp").distinct())


def _winnow_pairs_from(sel: DataFrame) -> DataFrame:
    """Shared-fingerprint pair counting + min-size similarity (see
    dd_winnow)."""
    # both broadcast sides below consume this agg: persist so it runs
    # once, not twice (round-12 subtree lint; narrow (doc_id, nfp)
    # rows, the corpus-linear-narrow persist class of round 11)
    sizes = persist(sel.groupBy("doc_id").agg(lcount("nfp")))
    a = sel.select(F.col("doc_id").alias("i"), "fp")
    b = sel.select(F.col("doc_id").alias("j"), "fp")
    cnt = (a.join(b, "fp").filter(F.col("i") < F.col("j"))
           .groupBy("i", "j").agg(lcount("shared"))
           .filter(F.col("shared") >= _WIN_MIN_SHARED))
    return (cnt
            .join(F.broadcast(sizes.select(F.col("doc_id").alias("i"),
                                           F.col("nfp").alias("si"))), "i")
            .join(F.broadcast(sizes.select(F.col("doc_id").alias("j"),
                                           F.col("nfp").alias("sj"))), "j")
            .select("i", "j", "shared",
                    pround6(F.col("shared") / F.least("si", "sj"))
                     .alias("sim")))


# ---------------------------------------------------------------------------
# gr_link_predict — link prediction by neighbor Jaccard (common
# neighbors / union) on the part-CATEGORY co-purchase graph: for node
# pairs NOT yet linked, score = |N(a) ∩ N(b)| / (deg(a)+deg(b)−|∩|).
# Nodes are the 100 partkey%100 categories (fixed at every sf), and an
# edge means co-occurrence count above the Poisson tail λ + 2√λ of the
# pairwise mean — a SCALE-INVARIANT graph (a fixed raw-count or
# fixed-fraction cutoff starves to 0 edges as the part space grows;
# verified: this layout yields ~260-320 edges at sf0.001/0.01/0.1).
# Wedge join enumerates candidates, an anti join removes existing
# edges, exact int/int division scores.
# Scale: wedge fan-out is Σ deg(m)² over 100 nodes — bounded; the only
# corpus-wide work is the co-occurrence count (one shuffle of category
# pairs with map-side combine). λ derives from one bounded scalar.
# ---------------------------------------------------------------------------
_LP_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey % 100 AS p
  FROM lineitem
),
inst AS (
  SELECT a.p AS src, b.p AS dst, count(*) AS c
  FROM li a JOIN li b USING (o)
  WHERE a.p <> b.p
  GROUP BY 1, 2
),
thr AS (
  SELECT CAST(FLOOR(sum(c) / 9900.0 + 2 * sqrt(sum(c) / 9900.0))
              AS BIGINT) + 1 AS t
  FROM inst
),
e AS (
  SELECT src, dst FROM inst WHERE c >= (SELECT t FROM thr)
),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
wedge AS (
  SELECT e1.src AS a, e2.src AS b, CAST(count(*) AS BIGINT) AS common
  FROM e e1 JOIN e e2 ON e1.dst = e2.dst
  WHERE e1.src < e2.src
  GROUP BY 1, 2
),
cand AS (
  SELECT w.a, w.b, w.common FROM wedge w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.a AND e.dst = w.b)
)
SELECT a, b, common,
       CAST(FLOOR((common * 1.0 / (da.d + db.d - common)) * 1000000 + 0.5)
            AS BIGINT) / 1000000.0 AS jaccard
FROM cand JOIN deg da ON da.node = a
          JOIN deg db ON db.node = b
WHERE common >= 2
"""


@register("gr_link_predict", oracle=_LP_ORACLE)
def gr_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    li = (load_table(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("o"),
                  (F.col("l_partkey") % 100).alias("p")).distinct())
    b = li.withColumnRenamed("p", "p2")
    # persist the co-occurrence census (round-12 subtree lint): the
    # threshold collect below materializes it, then FIVE consumers
    # (deg, both wedge sides, the anti join, both degree broadcasts'
    # lineage) re-filter the cached rows instead of re-running the
    # self-join + groupBy. The previous "ReuseExchange serves them"
    # note was measured false — the AQE-final physical plan held 20
    # distinct Exchanges, 10 lineitem scans and ZERO ReusedExchange
    # (reuse does not fire across differently-projected consumers).
    inst = persist(li.join(b, "o").filter(F.col("p") != F.col("p2"))
                   .groupBy(F.col("p").alias("src"), F.col("p2").alias("dst"))
                   .agg(lcount("c")))
    # Poisson-tail edge threshold from ONE bounded scalar (sum of
    # co-occurrence instances); float math is the same IEEE sequence
    # as the oracle's FLOOR(lam + 2*sqrt(lam)) + 1
    total = inst.agg(F.sum("c")).collect()[0][0] or 0  # None on empty
    lam = total / 9900.0
    thr = int(math.floor(lam + 2 * math.sqrt(lam))) + 1
    e = inst.filter(F.col("c") >= thr).select("src", "dst")
    # both degree broadcasts (da/db) consume this agg: persist the
    # bounded node-degree table so it aggregates once
    deg = persist(e.groupBy(F.col("src").alias("node")).agg(lcount("d")))
    e1 = e.select(F.col("src").alias("a"), "dst")
    e2 = e.select(F.col("src").alias("b"), "dst")
    wedge = (e1.join(e2, "dst").filter(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(lcount("common")))
    cand = wedge.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"], "left_anti")
    out = (cand.filter(F.col("common") >= 2)
           .join(F.broadcast(deg.select(F.col("node").alias("a"),
                                        F.col("d").alias("da"))), "a")
           .join(F.broadcast(deg.select(F.col("node").alias("b"),
                                        F.col("d").alias("db"))), "b")
           .select("a", "b", "common",
                   pround6(F.col("common")
                           / (F.col("da") + F.col("db") - F.col("common")))
                    .alias("jaccard")))
    return out


# ---------------------------------------------------------------------------
# dp_manifest — training-shard MANIFESTS: the artifact a dataloader
# actually consumes. Composes dp_shuffle's deterministic (shard, pos)
# addresses into one row per shard: doc count, token budget, and an
# md5 digest of the position-ordered doc_id list (so a reader can
# verify it consumed the exact planned order). One window shuffle
# (shared with dp_shuffle's addressing) + one per-shard agg; the
# digest folds over the ordered id strings — identical in DuckDB.
# Scale: output is one row per shard (256 here, widening with the
# hex-prefix like dp_shuffle); the digest string_agg is bounded by
# shard size, which the widening prefix keeps executor-sized.
# ---------------------------------------------------------------------------
_MANIFEST_ORACLE = f"""
WITH addr AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
         md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS h,
         len({_TOKS}) AS n_tok
  FROM documents
),
ordered AS (
  SELECT shard, doc_id, n_tok,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
  FROM addr
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos))
         AS ids_md5
FROM ordered GROUP BY shard
"""


@register("dp_manifest", oracle=_MANIFEST_ORACLE)
def dp_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    addr = docs.select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
         .alias("shard"),
        F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string")))
         .alias("h"),
        F.size(tx.tokens(F.col("text"))).alias("n_tok"))
    w = W.partitionBy("shard").orderBy("h", "doc_id")
    ordered = addr.select("shard", "doc_id", "n_tok",
                          F.row_number().over(w).alias("pos"))
    # position-ordered digest: sort the collected (pos, id) structs —
    # deterministic regardless of partition arrival order
    ids = F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "doc_id"))),
                    lambda s: s["doc_id"].cast("string")), ",")
    return (ordered.groupBy("shard")
            .agg(lcount("n_docs"),
                 F.sum("n_tok").cast("bigint").alias("n_tokens"),
                 F.md5(ids).alias("ids_md5")))


# ---------------------------------------------------------------------------
# mix_budget_fill — data selection under a token budget: rank the
# corpus by quality (desc, doc_id tiebreak) and keep documents until
# the budget is exhausted — greedy quality-first selection, the
# standard "best N tokens" curation step. A doc is kept iff the budget
# had room BEFORE it (cum_tok - n_tok < B), so exactly one doc may
# straddle the boundary — deterministic on both engines.
# Scale: the global order is a range-partitioned sort (Spark samples
# split points — no single reducer, same as dp_curriculum); the
# cumulative sum is one window pass over that order.
# ---------------------------------------------------------------------------
_BUDGET_TOKENS = 20_000

_BF_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         round(0.4 * least(len({_TOKS}) / 100.0, 1.0)
               + 0.3 * (1.0 - (length(text) - length(regexp_replace(text,
                        '[^\\w\\s]', '', 'g'))) * 1.0
                        / greatest(length(text), 1))
               + 0.3 * least(len(list_filter({_TOKS},
                        t -> t IN ('the','a','of','and','to','in','is',
                                   'for','on','with'))) * 5.0
                        / len({_TOKS}), 1.0), 6) AS score,
         len({_TOKS}) AS n_tok
  FROM documents
),
ordered AS (
  SELECT doc_id, score, n_tok,
         SUM(n_tok) OVER (ORDER BY score DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM scored
)
SELECT doc_id, score, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum_tok AS BIGINT) AS cum_tok
FROM ordered WHERE cum_tok - n_tok < {_BUDGET_TOKENS}
"""


@register("mix_budget_fill", oracle=_BF_ORACLE)
def mix_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        tx.quality_score(F.col("text")).alias("score"),
        F.size(tx.tokens(F.col("text"))).alias("n_tok"))
    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_global_window)

    # sharded prefix-sum down the quality order (range-shard on -score
    # + broadcast carry-in) — no single-partition corpus sort
    ordered = sharded_global_window(
        scored, -F.col("score"), [F.desc("score"), F.asc("doc_id")],
        sums=[("n_tok", "cum_tok")], nulls="last")
    return (ordered
            .filter(F.col("cum_tok") - F.col("n_tok") < _BUDGET_TOKENS)
            .select("doc_id", "score",
                    F.col("n_tok").cast("bigint").alias("n_tok"),
                    F.col("cum_tok").cast("bigint").alias("cum_tok")))


# ---------------------------------------------------------------------------
# tt_kfold — deterministic k-fold cross-validation assignment (k=5):
# fold = md5(doc_id) bucket, plus per-fold balance stats in the same
# result (doc count, token share) so the split's health is visible in
# one query. Map-only assignment (the same portable-hash discipline as
# tt_split); the stats agg is bounded at k rows.
# ---------------------------------------------------------------------------
_KFOLD = 5

_KFOLD_ORACLE = f"""
WITH a AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('kfold:' || CAST(doc_id AS VARCHAR)), 1, 8))
              ::BIGINT % {_KFOLD} AS BIGINT) AS fold,
         len({_TOKS}) AS n_tok
  FROM documents
)
SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM a GROUP BY fold
"""


@register("tt_kfold", oracle=_KFOLD_ORACLE)
def tt_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fold = (F.conv(F.substring(F.md5(F.concat(F.lit("kfold:"),
                                              F.col("doc_id").cast("string"))),
                               1, 8), 16, 10)
            .cast("bigint") % _KFOLD)
    return (docs.select(fold.alias("fold"),
                        F.size(tx.tokens(F.col("text"))).alias("n_tok"))
            .groupBy("fold")
            .agg(lcount("n_docs"),
                 F.sum("n_tok").cast("bigint").alias("n_tokens")))


# ---------------------------------------------------------------------------
# dd_dup_stats — duplication dashboard per source: exact-duplicate
# group counts and the share of redundant copies, the first number a
# curation loop reads before choosing a dedup strategy. One hash agg
# over (source, text-hash) + one bounded per-source rollup.
# ---------------------------------------------------------------------------
_DUPSTATS_ORACLE = f"""
WITH g AS (
  SELECT source, md5({_NORM}) AS h, count(*) AS copies
  FROM documents GROUP BY source, md5({_NORM})
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_unique_texts,
       CAST(sum(copies) AS BIGINT) AS n_docs,
       CAST(sum(copies) - count(*) AS BIGINT) AS n_redundant,
       CAST(max(copies) AS BIGINT) AS max_copies
FROM g GROUP BY source
"""


@register("dd_dup_stats", oracle=_DUPSTATS_ORACLE)
def dd_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators.dedup import normalized_text

    docs = load_table(spark, sf_dir, "documents")
    g = (docs.groupBy("source",
                      F.md5(normalized_text(F.col("text"))).alias("h"))
         .agg(lcount("copies")))
    return (g.groupBy("source")
            .agg(lcount("n_unique_texts"),
                 F.sum("copies").cast("bigint").alias("n_docs"),
                 (F.sum("copies") - F.count(F.lit(1))).cast("bigint")
                  .alias("n_redundant"),
                 F.max("copies").cast("bigint").alias("max_copies")))
