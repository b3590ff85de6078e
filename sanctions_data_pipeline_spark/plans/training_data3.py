"""Round-3 corpus-quality & graph extensions (SURVEY.md §2):
Gopher-rule quality filtering, soft dedup downweighting, PageRank over
the co-purchase graph, MMR result diversification, k-means training
surface.

Same cross-engine float discipline as ``training_data.py``: every
double that reaches an oracle is either a single division of exact
integers or a strictly sequential fold over a sorted array, rounded to
6dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sanctions_data_pipeline_spark.catalog import load_table, widen_small_scan
from sanctions_data_pipeline_spark.operators import similarity as sim
from sanctions_data_pipeline_spark.operators import textstats as tx
from sanctions_data_pipeline_spark.plans.helpers import (
    fetch_if_small, lcount, local_frame, persist, pround6, sql_pround6,
)
from sanctions_data_pipeline_spark.plans.registry import register

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"
_COS = ("round(list_inner_product({a}, {b}) / "
        "(sqrt(list_inner_product({a}, {a})) * "
        "sqrt(list_inner_product({b}, {b}))), 6)")

# ---------------------------------------------------------------------------
# tx_gopher_rules — the Gopher quality-filter rule set (Rae et al.
# 2021, appendix A1.1), the most-cited public heuristic battery for
# pretraining corpora: word-count bounds, mean-word-length bounds,
# symbol-to-word ratio, alphabetic-word fraction, stopword presence.
# (The two line-level rules — bullet starts / ellipsis line ends — are
# omitted: the synthetic corpus is single-line; the per-line shape
# would be the same list_filter over split(text, '\n').)
#
# Scale: pure map-side column algebra over one corpus scan — no
# shuffle, no UDF; every metric is a higher-order function on the
# token array. The classic first-pass filter you run on all 100 TB.
# ---------------------------------------------------------------------------
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
              AS DOUBLE) / len(toks) AS mwl,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) / 3
              AS DOUBLE) / len(toks) AS swr,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
              AS DOUBLE) / len(toks) AS alpha,
         len(list_filter([{', '.join("'" + w + "'" for w in _GOPHER_STOPS)}],
                         w -> list_contains(toks, w))) AS n_stop
  FROM t
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       round(mwl, 6) AS mean_word_len,
       round(swr, 6) AS symbol_ratio,
       round(alpha, 6) AS alpha_ratio,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       (n_words BETWEEN 50 AND 100000
        AND mwl BETWEEN 3 AND 10
        AND swr <= 0.1
        AND alpha >= 0.8
        AND n_stop >= 2) AS passes
FROM m
"""


@register("tx_gopher_rules", oracle=_GOPHER_ORACLE)
def tx_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    base = docs.select(
        "doc_id", "text", toks.alias("toks"), F.size(toks).alias("n_words"))

    n = F.col("n_words").cast("double")
    # every ratio is (exact int) / (exact int) — one IEEE division,
    # bit-identical across engines, rounded 6dp at the edge
    sum_len = F.aggregate(F.transform("toks", F.length),
                          F.lit(0), lambda a, x: a + x)
    n_hash = F.length("text") - F.length(F.replace("text", F.lit("#")))
    n_ell = (F.length("text")
             - F.length(F.replace("text", F.lit("...")))) / F.lit(3)
    n_alpha = F.size(F.filter("toks", lambda x: x.rlike("[a-z]")))
    n_stop = F.size(F.filter(
        F.array(*[F.lit(w) for w in _GOPHER_STOPS]),
        lambda w: F.array_contains("toks", w)))

    m = base.select(
        "doc_id", "n_words",
        (sum_len.cast("double") / n).alias("mwl"),
        ((n_hash + n_ell).cast("double") / n).alias("swr"),
        (n_alpha.cast("double") / n).alias("alpha"),
        n_stop.cast("bigint").alias("n_stopwords"))
    return m.select(
        "doc_id", F.col("n_words").cast("bigint").alias("n_words"),
        F.round("mwl", 6).alias("mean_word_len"),
        F.round("swr", 6).alias("symbol_ratio"),
        F.round("alpha", 6).alias("alpha_ratio"),
        "n_stopwords",
        (F.col("n_words").between(50, 100000)
         & F.col("mwl").between(3, 10)
         & (F.col("swr") <= 0.1)
         & (F.col("alpha") >= 0.8)
         & (F.col("n_stopwords") >= 2)).alias("passes"))


# ---------------------------------------------------------------------------
# dd_soft_dedup — duplicate DOWNWEIGHTING instead of removal: every doc
# gets weight 1/c where c is its exact-duplicate group size (md5 of the
# normalized text), so a K-times-repeated page contributes one page of
# gradient mass in expectation (the soft alternative to dd_exact's
# keep-first; cf. the repetition discussion in Lee et al. 2022).
#
# Scale: identical shuffle profile to dd_exact — the 16-byte hash is
# the only corpus-wide key; the per-group count broadcasts back via the
# same window-free groupBy+join on the hash.
# ---------------------------------------------------------------------------
_SOFT_ORACLE = f"""
WITH h AS (
  SELECT doc_id, md5({_NORM}) AS k FROM documents
),
c AS (SELECT k, count(*) AS dup_count FROM h GROUP BY k)
SELECT h.doc_id, CAST(c.dup_count AS BIGINT) AS dup_count,
       round(1.0 / c.dup_count, 6) AS weight
FROM h JOIN c ON h.k = c.k
"""


@register("dd_soft_dedup", oracle=_SOFT_ORACLE)
def dd_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    h = docs.select("doc_id", F.md5(norm).alias("k"))
    c = h.groupBy("k").agg(lcount("dup_count"))
    return (h.join(c, "k")
            .select("doc_id", "dup_count",
                    F.round(F.lit(1.0) / F.col("dup_count"), 6).alias("weight")))


# ---------------------------------------------------------------------------
# tt_dedup_aware_split — train/test split that can NEVER leak an exact
# duplicate across the boundary: the split hash is computed on the
# GROUP KEY (min doc_id among exact duplicates, via md5 of the
# normalized text), so every member of a duplicate group lands on the
# same side. The failure this prevents — test documents whose
# near-copies sit in train — is precisely what tt_leakage_check
# measures after the fact; this op makes it impossible by construction
# for the exact-dup class.
#
# Scale: one hash-groupBy on the 16-byte text hash (the dd_exact
# shuffle), then the same map-side md5-bucket split as tt_split keyed
# on the group id instead of the row id.
# ---------------------------------------------------------------------------
_TTD_BUCKET = ("(('0x' || substr(md5('ttd:' || CAST(grp AS VARCHAR)), 1, 8))"
               "::BIGINT % 100)")

_TTD_ORACLE = f"""
WITH h AS (
  SELECT doc_id, md5({_NORM}) AS k FROM documents
),
g AS (SELECT k, min(doc_id) AS grp FROM h GROUP BY k)
SELECT h.doc_id, CAST(g.grp AS BIGINT) AS group_id,
       CASE WHEN {_TTD_BUCKET} < 80 THEN 'train'
            WHEN {_TTD_BUCKET} < 90 THEN 'valid'
            ELSE 'test' END AS split
FROM h JOIN g ON h.k = g.k
"""


@register("tt_dedup_aware_split", oracle=_TTD_ORACLE)
def tt_dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    h = docs.select("doc_id", F.md5(norm).alias("k"))
    g = h.groupBy("k").agg(F.min("doc_id").alias("grp"))
    b = (F.conv(F.substring(
        F.md5(F.concat(F.lit("ttd:"), F.col("grp").cast("string"))), 1, 8),
        16, 10).cast("bigint") % 100)
    return (h.join(g, "k")
            .select("doc_id", F.col("grp").cast("bigint").alias("group_id"),
                    F.when(b < 80, "train").when(b < 90, "valid")
                     .otherwise("test").alias("split")))


# ---------------------------------------------------------------------------
# gr_pagerank — PageRank over the co-purchase graph (parts linked when
# bought together in >= 3 orders, symmetric, so no dangling nodes).
# Damping 0.85, uniform init 1/N, 2 power iterations; per-node
# neighbor sums are sorted sequential folds so each iteration's doubles
# are bit-identical in DuckDB (oracle unrolls the same 2 iterations).
#
# Scale: each iteration is one join on src + one agg on dst over
# (long, double) rows — the dd_cluster loop discipline (persist per
# round, bounded lineage) applies verbatim when iters grows; the
# 2-iteration registry entry exists to keep the oracle exact.
# ---------------------------------------------------------------------------
_PR_EDGES = """
  co AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p
    FROM lineitem WHERE l_partkey < 200
  ),
  edges AS (
    SELECT a.p AS src, b.p AS dst
    FROM co a JOIN co b ON a.o = b.o AND a.p <> b.p
    GROUP BY a.p, b.p HAVING count(*) >= 3
  ),
  deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
  nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg)
"""

_PR_ORACLE = f"""
WITH {_PR_EDGES},
pr0 AS (SELECT src AS node, d, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
it1 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM nn) + 0.85 * list_aggregate(
           list_sort(list(p.pr / p.d)), 'sum') AS pr
  FROM edges e JOIN pr0 p ON e.src = p.node
  GROUP BY e.dst
),
it2 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM nn) + 0.85 * list_aggregate(
           list_sort(list(p.pr / d.d)), 'sum') AS pr
  FROM edges e JOIN it1 p ON e.src = p.node
               JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)
SELECT it2.node, CAST(deg.d AS BIGINT) AS degree, round(it2.pr, 6) AS pagerank
FROM it2 JOIN deg ON it2.node = deg.src
"""


@register("gr_pagerank", oracle=_PR_ORACLE)
def gr_pagerank(spark: SparkSession, sf_dir: str, iters: int = 2) -> DataFrame:
    from sanctions_data_pipeline_spark.operators.graph import fold_pagerank

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 200)
    co = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("p")).distinct()
    edges = (co.join(co.withColumnRenamed("p", "q"), "o")
             .filter(F.col("p") != F.col("q"))
             .groupBy(F.col("p").alias("src"), F.col("q").alias("dst"))
             .agg(lcount("w")).filter(F.col("w") >= 3)
             .select("src", "dst"))
    return (fold_pagerank(edges, iters=iters)
            .select("node", F.col("d").alias("degree"),
                    F.round("pr", 6).alias("pagerank")))


# ---------------------------------------------------------------------------
# sim_mmr_diversify — Maximal Marginal Relevance re-ranking (Carbonell
# & Goldstein, SIGIR 1998): greedy top-k that trades relevance to the
# query against redundancy with already-selected results,
# score(v) = λ·cos(q, v) − (1−λ)·max_{s∈S} cos(v, s).
#
# Scale split: candidate generation is DISTRIBUTED (exact cosine top-M
# via TakeOrdered — the sim_topk_bruteforce path, or IVF at corpus
# scale); the greedy loop is inherently sequential and runs on the
# bounded M-row candidate set driver-side (M=50 here — same bounded-
# collect discipline as the top-V vocab).
#
# Oracle (round 8): the greedy chain UNROLLS — k is a literal, so the
# selection is k chained CTEs, each picking argmax(score DESC, vec_id)
# over the not-yet-selected candidates with red = max cosine against
# the selected CTE. Every float is one identical IEEE tree on both
# sides (sequential-fold dots == list_inner_product, the established
# float discipline), so scores — and therefore the argmax at every
# round — match bit-for-bit; the numpy greedy replay stays in pytest.
# ---------------------------------------------------------------------------
_MMR_K, _MMR_M, _MMR_LAM = 10, 50, 0.7

def _mmr_oracle(k: int = _MMR_K, m: int = _MMR_M,
                lam: float = _MMR_LAM) -> str:
    cos = ("list_inner_product({a}, {b}) / (sqrt(list_inner_product({a}, {a}))"
           " * sqrt(list_inner_product({b}, {b})))")
    parts = [f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE label = 0 ORDER BY vec_id LIMIT 1),
cand AS MATERIALIZED (
  SELECT e.vec_id, e.v, {cos.format(a="e.v", b="q.qv")} AS rel
  FROM e, q WHERE e.label <> 0
  ORDER BY rel DESC, e.vec_id LIMIT {m}
),
p1 AS MATERIALIZED (
  SELECT vec_id, v, {lam} * rel - (1.0 - {lam}) * 0.0 AS score
  FROM cand ORDER BY score DESC, vec_id LIMIT 1),
s1 AS MATERIALIZED (SELECT vec_id, v FROM p1)"""]
    for i in range(2, k + 1):
        red = (f"(SELECT max({cos.format(a='c.v', b='s.v')}) "
               f"FROM s{i-1} s)")
        parts.append(f""",
p{i} AS MATERIALIZED (
  SELECT c.vec_id, c.v, {lam} * c.rel - (1.0 - {lam}) * {red} AS score
  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM s{i-1})
  ORDER BY score DESC, c.vec_id LIMIT 1),
s{i} AS MATERIALIZED (SELECT vec_id, v FROM s{i-1}
         UNION ALL SELECT vec_id, v FROM p{i})""")
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS rank, vec_id, "
        f"CAST(FLOOR(score * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS mmr "
        f"FROM p{i}" for i in range(1, k + 1))
    return "".join(parts) + "\n" + sel


@register("sim_mmr_diversify", oracle=_mmr_oracle())
def sim_mmr_diversify(spark: SparkSession, sf_dir: str, k: int = 10,
                      m: int = 50, lam: float = 0.7) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q_row = (emb.filter(F.col("label") == 0).orderBy("vec_id").limit(1)
             .select(sim.as_double(F.col("embedding")).alias("qv")).collect())
    qv = list(q_row[0]["qv"])

    cand_df = (emb.filter(F.col("label") != 0)
               .select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
               .withColumn("rel", sim.dot(F.col("v"), sim._centroid_lit(qv))
                           / (F.sqrt(sim.dot(F.col("v"), F.col("v")))
                              * F.lit(sum(x * x for x in qv) ** 0.5)))
               .orderBy(F.desc("rel"), F.asc("vec_id"))  # parallel TakeOrdered
               .limit(m))
    cand = [(r["vec_id"], list(r["v"]), float(r["rel"]))
            for r in cand_df.collect()]

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return d / (na * nb) if na and nb else 0.0

    selected: list[tuple[int, list[float], float]] = []
    rows = []
    pool = list(cand)
    while pool and len(selected) < k:
        best = None
        for vid, v, rel in pool:
            red = max((cos(v, s[1]) for s in selected), default=0.0)
            score = lam * rel - (1.0 - lam) * red
            # deterministic tiebreak: higher score, then smaller id
            key = (score, -vid)
            if best is None or key > best[0]:
                best = (key, (vid, v, rel), score)
        selected.append(best[1])
        pool.remove(best[1])
        import math
        rows.append((len(selected), best[1][0],
                     math.floor(best[2] * 1e6 + 0.5) / 1e6))
    return local_frame(rows, "rank int, vec_id bigint, mmr double")


# ---------------------------------------------------------------------------
# emb_kmeans_train — the k-means training surface itself (the engine
# piece behind sim_ann_ivf / emb_semantic_dedup), exposed as a query:
# deterministic spherical k-means (operators/similarity.kmeans_fit),
# then the per-cell census.
#
# Oracle contract (round 10, the tok_fertility invariant-lane
# pattern): the trained centroids are not SQL-expressible, so the
# registered output is the DENSE CELL LATTICE (1..n_centroids — the
# row set is data-independent) carrying one exact relational lane the
# oracle computes (total_members = corpus row count, on every row)
# plus three REAL invariants of a correct train+assign pass, stated
# as literals:
#   members_sum_ok       Σ_cell n_members == corpus count (no row
#                        lost/duplicated by assignment),
#   own_cell_mean_max_ok per populated cell, mean cosine of members
#                        to their OWN centroid >= mean cosine to every
#                        other centroid (argmax assignment transfers
#                        to the mean; a corrupted centroid list or
#                        assignment rule flips this),
#   mean_cos_bounded_ok  the mean cosine is a genuine cosine (|.|<=1).
# Exact per-cell populations + mean cosines stay pinned by pytest on
# emb_kmeans_train_full (the previous registered surface).
#
# Scale: each Lloyd step is one map-side assign + one (cell, pos) agg
# whose output is n_centroids×d — the collect is model-sized, never
# corpus-sized; the census is one n_centroids-wide agg.
# ---------------------------------------------------------------------------
_KMEANS_N_CELLS = 8

_KMEANS_ORACLE = f"""
SELECT CAST(u.c AS INT) AS cell,
       (SELECT count(*) FROM embeddings) AS total_members,
       TRUE AS members_sum_ok,
       TRUE AS own_cell_mean_max_ok,
       TRUE AS mean_cos_bounded_ok
FROM range(1, {_KMEANS_N_CELLS + 1}) u(c)
"""


@register("emb_kmeans_train", oracle=_KMEANS_ORACLE)
def emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_centroids = _KMEANS_N_CELLS
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.kmeans_fit(emb, n_centroids)
    base = emb.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
    celled = sim.assign_cells(base, cents)
    # cosine of each member to EVERY centroid (unit centroids: dot/|v|)
    per = celled.select(
        "cell",
        *[(sim.dot(F.col("v"), sim._centroid_lit(c))
           / F.sqrt(sim.dot(F.col("v"), F.col("v")))).alias(f"c{j}")
          for j, c in enumerate(cents, start=1)])
    agg = per.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        *[F.avg(f"c{j}").alias(f"m{j}")
          for j in range(1, n_centroids + 1)])
    means = F.array(*[F.col(f"m{j}") for j in range(1, n_centroids + 1)])
    own = F.element_at(means, F.col("cell"))
    lattice = spark.range(1, n_centroids + 1).select(
        F.col("id").cast("int").alias("cell"))
    tot = emb.agg(F.count(F.lit(1)).alias("__tot"))
    # Sum only IN-LATTICE member counts: a hypothetical out-of-range
    # cell id would keep an unfiltered sum balanced while its row
    # silently vanished from the 1..n lattice left join — restricting
    # the sum to the lattice range makes any stray cell show up as
    # __sum < __tot and flip members_sum_ok.
    summed = (agg.filter(F.col("cell").between(1, n_centroids))
              .agg(F.coalesce(F.sum("n_members"), F.lit(0))
                   .alias("__sum")))
    eps = F.lit(1e-9)
    return (lattice.join(agg, "cell", "left")
            .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(summed))
            .select(
                "cell",
                F.col("__tot").cast("bigint").alias("total_members"),
                (F.col("__sum") == F.col("__tot")).alias("members_sum_ok"),
                F.coalesce(own >= F.array_max(means) - eps, F.lit(True))
                 .alias("own_cell_mean_max_ok"),
                F.coalesce((own >= F.lit(-1.0) - eps)
                           & (own <= F.lit(1.0) + eps), F.lit(True))
                 .alias("mean_cos_bounded_ok")))


def emb_kmeans_train_full(spark: SparkSession, sf_dir: str,
                          n_centroids: int = 8) -> DataFrame:
    """Exact-value census (cell, n_members, mean_cos) — the pytest
    value-pin surface (the pre-round-10 registered output)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.kmeans_fit(emb, n_centroids)
    base = emb.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
    celled = sim.assign_cells(base, cents)
    # centroids are unit vectors -> cos = dot / |v|
    cos_c = F.array(*[sim._centroid_lit(c) for c in cents])
    scored = celled.select(
        "cell",
        F.round(sim.dot(F.col("v"), F.element_at(cos_c, F.col("cell")))
                / F.sqrt(sim.dot(F.col("v"), F.col("v"))), 6).alias("cos"))
    fold = F.aggregate(F.array_sort(F.collect_list("cos")),
                       F.lit(0.0), lambda a, x: a + x)
    return (scored.groupBy("cell")
            .agg(lcount("n_members"),
                 F.round(fold / F.count(F.lit(1)), 6).alias("mean_cos")))


# ---------------------------------------------------------------------------
# dd_line_dedup — corpus-wide LINE-level exact dedup with keep-first
# semantics (the C4 / RefinedWeb line-dedup pass: a boilerplate line
# repeated across pages survives only at its first occurrence). The
# synthetic corpus is single-line, so a "line" is an aligned window of
# _LD_W tokens — the same chunking axis as dp_doc_chunks; on real data
# the splitter is split(text, '\n') and everything downstream is
# unchanged.
#
# Scale: chunks are md5-hashed map-side so the corpus-wide shuffle
# carries (16-byte key, doc_id, idx) — never chunk text; keep-first is
# the window-free groupBy(min struct)+join idiom shared with dd_exact,
# so one skewed boilerplate line becomes one hot reduce key, not a
# window partition holding every occurrence's full text.
# ---------------------------------------------------------------------------
_LD_W = 12

_LD_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {_LD_W}.0) AS BIGINT))) AS idx
  FROM t
),
k AS (
  SELECT doc_id, idx,
         md5(array_to_string(
             list_slice(toks, idx * {_LD_W} + 1, idx * {_LD_W} + {_LD_W}),
             ' ')) AS ck
  FROM c
),
r AS (
  SELECT doc_id, idx,
         ROW_NUMBER() OVER (PARTITION BY ck ORDER BY doc_id, idx) AS rn
  FROM k
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS removed_ratio
FROM r GROUP BY doc_id
"""


@register("dd_line_dedup", headline=True, oracle=_LD_ORACLE)
def dd_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize+chunk-hash is the CPU-heavy map stage: parallelize an
    # under-split local scan (no-op at scale), and persist the chunk
    # table — it feeds both the first-occurrence agg and the keep join
    # (Spark does not dedupe common subplans)
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    t = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(float(_LD_W))).cast("long")
    c = persist(t.select("doc_id", "toks",
                         F.explode(F.sequence(F.lit(0).cast("long"),
                                              n_chunks - 1)).alias("idx"))
                .select("doc_id", "idx",
                        F.md5(F.concat_ws(
                            " ", F.slice(
                                F.col("toks"),
                                (F.col("idx") * _LD_W + 1).cast("int"),
                                _LD_W))).alias("ck")))
    first = c.groupBy("ck").agg(
        F.min(F.struct(F.col("doc_id"), F.col("idx"))).alias("first"))
    kept = (c.join(first, "ck")
            .withColumn("is_first",
                        (F.col("doc_id") == F.col("first.doc_id"))
                        & (F.col("idx") == F.col("first.idx"))))
    return (kept.groupBy("doc_id")
            .agg(lcount("n_chunks"),
                 F.sum(F.when(F.col("is_first"), 1).otherwise(0))
                 .cast("bigint").alias("n_kept"),
                 F.sum(F.when(~F.col("is_first"), 1).otherwise(0))
                 .cast("bigint").alias("n_removed"))
            .withColumn("removed_ratio",
                        F.round(F.col("n_removed").cast("double")
                                / F.col("n_chunks"), 6)))


# ---------------------------------------------------------------------------
# tx_bm25 — Okapi BM25 ranking (Robertson & Walker SIGIR'94; the
# Lucene-variant idf ln(1 + (N-df+0.5)/(df+0.5))) for the corpus's
# top-_BM25_Q highest-df terms as single-term queries: the lexical
# retrieval half every contamination sweep / hard-negative miner needs
# next to the embedding ANN ops.
#
# Cross-engine float rule: tf/df/dl/N are exact integers; avgdl is one
# integer-sum / count division; the score expression is written as the
# SAME operator tree on both engines (each node fully determined by
# exact inputs), rounded 6dp before ranking so rank order can never
# split on an ulp.
#
# Scale: df/tf are partial-aggregated map-side; the query-term list
# (_BM25_Q rows) and the 1-row corpus stats broadcast, so scoring is a
# map-side probe of the (term, doc) posting aggregate — no all-pairs.
# ---------------------------------------------------------------------------
_BM25_Q = 5          # query terms = top-Q df terms (df desc, term asc)
_BM25_K = 10         # top-K docs per query
_BM25_K1 = 1.2
_BM25_B = 0.75

# identical operator tree on both sides: idf * (tf*(k1+1)) /
# (tf + k1*((1-b) + b*(dl/avgdl)))
_BM25_EXPR = (
    "ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
    f" * (CAST(tf AS DOUBLE) * {_BM25_K1 + 1.0})"
    f" / (CAST(tf AS DOUBLE) + {_BM25_K1} * ({1.0 - _BM25_B}"
    f" + {_BM25_B} * (CAST(dl AS DOUBLE) / avgdl)))")

_BM25_BASE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
d AS (SELECT doc_id, unnest(toks) AS term, len(toks) AS dl FROM t),
tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
              CAST(min(dl) AS BIGINT) AS dl
       FROM d GROUP BY term, doc_id),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
qterms AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT {_BM25_Q}),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(CAST(sum(len(toks)) AS BIGINT) AS DOUBLE)
                 / count(*) AS avgdl
          FROM t),
scored AS (
  SELECT q.term, tf.doc_id, tf.tf, tf.dl,
         round({_BM25_EXPR}, 6) AS bm25
  FROM qterms q JOIN tf ON tf.term = q.term, stats
)
"""

_BM25_ORACLE = _BM25_BASE + f"""
SELECT term, doc_id, tf, dl, bm25, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                               ORDER BY bm25 DESC, doc_id) AS rnk
  FROM scored
) WHERE rnk <= {_BM25_K}
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, tf, dl, bm25) for the top-_BM25_Q df terms.

    Corpus passes: ONE tokenize pass (persisted while the two bounded
    driver collects — Q query-term rows and two corpus scalars — read
    it), then ONE scoring pass over the re-derived postings. Collecting
    the bounded pieces and re-shipping them as a broadcast dim/literals
    keeps the plan at two corpus passes without persisting the
    corpus-sized posting aggregate itself."""
    # tokenization is the CPU-heavy map stage of both corpus passes:
    # parallelize an under-split local scan (no-op at scale)
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    t = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))

    def postings(tok_df):
        d = tok_df.select("doc_id", F.size("toks").alias("dl"),
                          F.explode("toks").alias("term"))
        return (d.groupBy("term", "doc_id")
                .agg(lcount("tf"), F.min("dl").cast("bigint").alias("dl")))

    tcached = persist(t)
    df = postings(tcached).groupBy("term").agg(lcount("df"))
    # the top-Q term list and the two corpus scalars ride ONE collect
    # (a tagged union — the tok_unigram_lm seed idiom), so the
    # tokenize pass + posting agg + scalar agg run in a single Spark
    # job instead of two
    rows = (df.orderBy(F.desc("df"), F.asc("term")).limit(_BM25_Q)
            .select("term", F.col("df").alias("a"),
                    F.lit(None).cast("bigint").alias("b"))
            .unionByName(tcached.agg(
                F.lit(None).cast("string").alias("term"),
                F.count(F.lit(1)).alias("a"),
                F.sum(F.size("toks")).cast("bigint").alias("b")))
            .collect())
    qrows = [(r.term, int(r.a)) for r in rows if r.term is not None]
    n_docs, sum_dl = next((r.a, r.b) for r in rows if r.term is None)
    tcached.unpersist()
    tf = postings(t)  # scoring pass: re-derives from the (uncached) scan
    if not n_docs or not qrows:   # empty corpus: no postings, no terms
        return local_frame(
            [], "term string, doc_id long, tf bigint, dl bigint, bm25 double")
    avgdl = float(sum_dl) / float(n_docs)  # one IEEE division of exact ints
    qterms = local_frame(qrows, "term string, df bigint")
    return (tf.join(F.broadcast(qterms), "term")
            .withColumn("n_docs", F.lit(int(n_docs)).cast("bigint"))
            .withColumn("avgdl", F.lit(avgdl))
            .withColumn("bm25", F.round(F.expr(_BM25_EXPR), 6))
            .select("term", "doc_id", "tf", "dl", "bm25"))


@register("tx_bm25", headline=True, oracle=_BM25_ORACLE)
def tx_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _bm25_scored(spark, sf_dir)
    w = W.partitionBy("term").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= _BM25_K))


# ---------------------------------------------------------------------------
# sim_rrf_fusion — reciprocal-rank fusion (Cormack, Clarke & Buettcher
# SIGIR'09): the standard hybrid-retrieval combiner. Two rankings per
# query term — BM25 and raw term frequency — fuse as
# 1/(k+r_a) + 1/(k+r_b) with k=60; the sum is two single divisions of
# small exact integers evaluated in a fixed order, so it is
# bit-identical across engines before the 6dp round.
#
# Scale: ranking inputs are the broadcast-bounded BM25 posting slice
# above; the fusion itself is two window ranks + a map-side expression.
# ---------------------------------------------------------------------------
_RRF_K = 60
_RRF_TOP = 10

_RRF_ORACLE = _BM25_BASE + f"""
, ranked AS (
  SELECT term, doc_id,
         ROW_NUMBER() OVER (PARTITION BY term
                            ORDER BY bm25 DESC, doc_id) AS rank_bm25,
         ROW_NUMBER() OVER (PARTITION BY term
                            ORDER BY tf DESC, doc_id) AS rank_tf
  FROM scored
),
fused AS (
  SELECT term, doc_id,
         CAST(rank_bm25 AS BIGINT) AS rank_bm25,
         CAST(rank_tf AS BIGINT) AS rank_tf,
         round(1.0 / ({_RRF_K} + rank_bm25)
               + 1.0 / ({_RRF_K} + rank_tf), 6) AS rrf_score
  FROM ranked
)
SELECT term, doc_id, rank_bm25, rank_tf, rrf_score, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                               ORDER BY rrf_score DESC, doc_id) AS rnk
  FROM fused
) WHERE rnk <= {_RRF_TOP}
"""


@register("sim_rrf_fusion", headline=True, oracle=_RRF_ORACLE)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _bm25_scored(spark, sf_dir)
    wb = W.partitionBy("term").orderBy(F.desc("bm25"), F.asc("doc_id"))
    wt = W.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    fused = (scored
             .withColumn("rank_bm25", F.row_number().over(wb).cast("bigint"))
             .withColumn("rank_tf", F.row_number().over(wt).cast("bigint"))
             .withColumn("rrf_score", F.round(
                 F.lit(1.0) / (_RRF_K + F.col("rank_bm25"))
                 + F.lit(1.0) / (_RRF_K + F.col("rank_tf")), 6)))
    wf = W.partitionBy("term").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (fused.withColumn("rnk", F.row_number().over(wf).cast("bigint"))
            .filter(F.col("rnk") <= _RRF_TOP)
            .select("term", "doc_id", "rank_bm25", "rank_tf",
                    "rrf_score", "rnk"))


# ---------------------------------------------------------------------------
# sim_ann_hamming — binary sign-hash similarity (Charikar STOC'02 /
# ITQ-style binarization): each 64-d float vector compresses to TWO
# bigint words of sign bits (16 bytes instead of 512), candidates rank
# by hamming distance via xor+popcount, and the survivors re-rank on
# exact cosine. The third ANN family next to IVF (sim_ann_ivf) and
# bucketed sign-LSH (sim_ann_lsh): here the compact code IS the index.
#
# Scale: packing is map-side; a 1000-executor scan ranks hamming on
# 16-byte codes with two JVM popcount instructions per pair, so the
# memory-bandwidth win vs float dot products is ~32x. Queries
# broadcast; nothing shuffles but the top-k heap rows.
# ---------------------------------------------------------------------------
_HAM_K = 5


def _sql_pack(v: str, lo: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN {v}[{lo + i + 1}] >= 0 THEN CAST({1 << i} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(32))
    return f"({terms})"


def _spark_pack(v: str, lo: int):
    return F.expr(
        f"aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> "
        f"acc + (CASE WHEN element_at({v}, i + {lo + 1}) >= 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END))")


_HAM_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, {_sql_pack("v", 0)} AS w0, {_sql_pack("v", 32)} AS w1
      FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, w0 AS qw0, w1 AS qw1
      FROM s WHERE vec_id < 10),
scored AS (
  SELECT query_id, s.vec_id AS neighbor_id,
         CAST(bit_count(xor(qw0, s.w0)) + bit_count(xor(qw1, s.w1))
              AS BIGINT) AS hamming,
         {_COS.format(a="qv", b="s.v")} AS cos
  FROM q JOIN s ON s.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, hamming, cos, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY hamming, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= {_HAM_K}
"""


@register("sim_ann_hamming", oracle=_HAM_ORACLE)
def sim_ann_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    s = (emb.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
         .withColumn("w0", _spark_pack("v", 0))
         .withColumn("w1", _spark_pack("v", 32)))
    s = sim._with_norm(s, "v", "nv")
    q = (s.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                 F.col("nv").alias("qn"), F.col("w0").alias("qw0"),
                 F.col("w1").alias("qw1")))
    scored = (s.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      (F.bit_count(F.col("qw0").bitwiseXOR(F.col("w0")))
                       + F.bit_count(F.col("qw1").bitwiseXOR(F.col("w1"))))
                      .cast("bigint").alias("hamming"),
                      F.round(sim.dot(F.col("qv"), F.col("v"))
                              / (F.col("qn") * F.col("nv")), 6).alias("cos")))
    w = W.partitionBy("query_id").orderBy(F.asc("hamming"),
                                          F.asc("neighbor_id"))
    return (scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= _HAM_K))


# ---------------------------------------------------------------------------
# dp_sft_format — SFT chat-template rendering with loss-mask offsets:
# each document becomes a (prompt, response) pair — first
# min(16, floor(n/2)) tokens prompt, remainder response — rendered
# through a fixed chat template, with the CHARACTER span of the
# response (the only region that takes loss in supervised fine-tuning)
# reported as 1-based [loss_start, loss_end]. Downstream packers
# (dp_pack / dp_pack_sequences) consume exactly this shape.
#
# Scale: pure map-side string algebra on one corpus scan — no shuffle,
# no UDF; offsets are exact integer arithmetic so the mask never needs
# re-tokenization downstream.
# ---------------------------------------------------------------------------
_SFT_MAX_PROMPT = 16
_SFT_U = "<|user|>"
_SFT_A = "<|assistant|>"
_SFT_E = "<|end|>"

_SFT_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
p AS (
  SELECT doc_id, toks, len(toks) AS n,
         least({_SFT_MAX_PROMPT},
               greatest(1, CAST(floor(len(toks) / 2.0) AS BIGINT))) AS np
  FROM t
),
sel AS (
  SELECT doc_id,
         CAST(np AS BIGINT) AS n_prompt_toks,
         CAST(n - np AS BIGINT) AS n_response_toks,
         array_to_string(list_slice(toks, 1, np), ' ') AS prompt,
         -- DuckDB's array_to_string over an EMPTY slice is NULL (a
         -- 1-token doc has no response); Spark's concat_ws gives ''
         coalesce(array_to_string(list_slice(toks, np + 1, n), ' '), '')
           AS response
  FROM p
)
SELECT doc_id, n_prompt_toks, n_response_toks,
       '{_SFT_U}' || chr(10) || prompt || chr(10) || '{_SFT_A}' || chr(10)
           || response || '{_SFT_E}' AS formatted,
       CAST(length('{_SFT_U}') + 1 + length(prompt) + 1
            + length('{_SFT_A}') + 1 + 1 AS BIGINT) AS loss_start,
       CAST(length('{_SFT_U}') + 1 + length(prompt) + 1
            + length('{_SFT_A}') + 1 + length(response) AS BIGINT) AS loss_end
FROM sel
"""


@register("dp_sft_format", oracle=_SFT_ORACLE)
def dp_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    p = t.select(
        "doc_id", "toks", F.size("toks").alias("n"),
        F.least(F.lit(_SFT_MAX_PROMPT),
                F.greatest(F.lit(1), F.floor(F.size("toks") / 2)))
        .cast("bigint").alias("np"))
    sel = p.select(
        "doc_id",
        F.col("np").alias("n_prompt_toks"),
        (F.col("n") - F.col("np")).cast("bigint").alias("n_response_toks"),
        F.concat_ws(" ", F.slice("toks", 1, F.col("np").cast("int")))
        .alias("prompt"),
        F.concat_ws(" ", F.slice("toks", (F.col("np") + 1).cast("int"),
                                 F.col("n").cast("int"))).alias("response"))
    head_len = (F.lit(len(_SFT_U)) + 1 + F.length("prompt") + 1
                + F.lit(len(_SFT_A)) + 1)
    return sel.select(
        "doc_id", "n_prompt_toks", "n_response_toks",
        F.concat(F.lit(_SFT_U + "\n"), F.col("prompt"),
                 F.lit("\n" + _SFT_A + "\n"), F.col("response"),
                 F.lit(_SFT_E)).alias("formatted"),
        (head_len + 1).cast("bigint").alias("loss_start"),
        (head_len + F.length("response")).cast("bigint").alias("loss_end"))


# ---------------------------------------------------------------------------
# tx_ccnet_buckets — CCNet's head/middle/tail corpus split (Wenzek et
# al., LREC 2020): documents ranked by LM perplexity divide into
# terciles; "head" (lowest ppl) is the high-quality slice that
# pretraining mixes upweight. Composes the tx_perplexity LM (bounded
# broadcast tables) with the dp_curriculum global-NTILE idiom — the
# range-partitioned total order, no single reducer; at real corpus
# scale the cutoffs come from a sampled quantile with identical output
# contract.
# ---------------------------------------------------------------------------
from sanctions_data_pipeline_spark.plans.training_data2 import _PPL_ORACLE

_CCNET_ORACLE = f"""
WITH p AS ({_PPL_ORACLE})
SELECT doc_id, n_bigrams, ppl,
       CAST(NTILE(3) OVER (ORDER BY ppl, doc_id) AS BIGINT) AS tercile,
       CASE CAST(NTILE(3) OVER (ORDER BY ppl, doc_id) AS BIGINT)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM p
"""


@register("tx_ccnet_buckets", oracle=_CCNET_ORACLE)
def tx_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.training_data2 import (
        tx_perplexity)

    from sanctions_data_pipeline_spark.plans.helpers import sharded_ntile

    # materialize the LM scoring ONCE per invocation chain: the
    # sharded NTILE's key-bounds job plus its window/carry branches
    # would otherwise re-execute the whole tx_perplexity pipeline
    # (vocab build, bigram joins) ~3x per action — and
    # mix_ccnet_sampling, composing this op, inherits the same single
    # materialization. The cached table is (doc_id, n_bigrams, ppl) —
    # corpus-linear and 3 columns wide, never the bigram stream.
    p = persist(tx_perplexity(spark, sf_dir))
    # sharded NTILE(3) on perplexity — no single-partition corpus sort
    # (mix_ccnet_sampling composes this, so it scales out too)
    return (sharded_ntile(p, F.col("ppl"),
                          [F.asc("ppl"), F.asc("doc_id")], 3, "tercile")
            .withColumn("bucket",
                        F.when(F.col("tercile") == 1, "head")
                        .when(F.col("tercile") == 2, "middle")
                        .otherwise("tail")))


# ---------------------------------------------------------------------------
# emb_whiten — ZCA whitening of the embedding column (Bell & Sejnowski
# 1997's zero-phase transform; the standard preprocessing before
# similarity search / linear probes when dimensions are correlated):
# one gram pass -> driver-side d x d eigensolve -> W = V L^-1/2 V^T ->
# one map pass applying y = W(x - mu) -> second gram pass verifying the
# result. Output per dimension: variance before vs after (after ~= 1
# by construction).
#
# Oracle contract (round 9, the q_approx_sketch pattern): the
# eigensolve has no SQL twin, but the INPUT variance per dimension is
# pure relational algebra once components are fixed-point quantized —
# xi = floor(x * 1e3 + 0.5) is the identical double op on both
# engines, and var = (n*Σxi² − (Σxi)²) / n² / 1e6 is ONE exact-integer
# numerator (order-free on both engines) divided through one identical
# IEEE tree (exact while n·Σxi² < 2^53, i.e. ~9e9 rows at |x| <= 2 —
# far past any stats-probe tier; shard beyond). The whitening RESULT
# crosses as the REAL invariant |var_after − 1| <= 1e-3, which a
# broken eigensolve/transform flips. Exact unquantized variances stay
# pinned by tests/test_training_ext3.py over emb_whiten_full.
#
# Scale: both gram passes are partition-bounded partials (the emb_pca
# contract — a few MB of driver state at d=64 x 1000 executors); the
# transform broadcasts in task closures; the quantized-variance pass
# is one posexplode + (dim)-keyed agg; nothing corpus-sized ever
# reaches one node.
# ---------------------------------------------------------------------------
_QVAR_SQL = """
  SELECT CAST(u.i - 1 AS INT) AS dim,
         CAST(FLOOR(embedding[i]::DOUBLE * 1000 + 0.5) AS BIGINT) AS xi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)
"""

_QVAR_EXPR = ("CAST(count(*) * CAST(SUM(xi * xi) AS BIGINT)"
              " - CAST(SUM(xi) AS BIGINT) * CAST(SUM(xi) AS BIGINT)"
              " AS DOUBLE) / count(*) / count(*) / 1000000.0")

_WHITEN_ORACLE = f"""
WITH x AS ({_QVAR_SQL})
SELECT dim, {sql_pround6(_QVAR_EXPR)} AS var_before,
       TRUE AS whitened_ok
FROM x GROUP BY dim
"""


def _quantized_dim_variance(emb: DataFrame) -> DataFrame:
    """(dim, var_before): exact cross-engine per-dim variance of the
    3dp-quantized embedding components (see the oracle-contract note
    above emb_whiten)."""
    n = F.count(F.lit(1))
    num = (n * F.sum(F.col("xi") * F.col("xi"))
           - F.sum("xi") * F.sum("xi")).cast("double")
    return (emb.select(F.posexplode("embedding").alias("dim", "x"))
            .select(F.col("dim").cast("int").alias("dim"),
                    F.floor(F.col("x").cast("double") * F.lit(1000.0)
                            + F.lit(0.5)).cast("bigint").alias("xi"))
            .groupBy("dim")
            .agg(pround6(num / n / n / F.lit(1000000.0)).alias("var_before")))


@register("emb_whiten", oracle=_WHITEN_ORACLE)
def emb_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ok = emb_whiten_full(spark, sf_dir).select(
        "dim", (F.abs(F.col("var_after") - F.lit(1.0)) <= F.lit(1e-3))
        .alias("whitened_ok"))
    return _quantized_dim_variance(emb).join(F.broadcast(ok), "dim")


def emb_whiten_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unquantized variant (numpy-exact var before/after per dim) —
    the pytest value-pin surface."""
    from sanctions_data_pipeline_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
    _, mu, cov, w = pca.whitening_model(base, col="v")
    wh = pca.apply_whitening(base, mu, w, col="v")
    _, _, cov_after = pca._combined_moments(wh, col="y")
    d = cov.shape[0]
    rows = [(i, round(float(cov[i, i]), 6), round(float(cov_after[i, i]), 6))
            for i in range(d)]
    return local_frame(rows, "dim int, var_before double, var_after double")


# ---------------------------------------------------------------------------
# dp_fim_transform — fill-in-the-middle training transform (Bavarian et
# al. 2022): for a deterministic fim_rate=50% of documents, two
# hash-derived token cuts split the doc into (prefix, middle, suffix)
# and the example renders in PSM order
# <|fim_pre|>prefix<|fim_suf|>suffix<|fim_mid|>middle; the rest stay
# autoregressive. Cuts are pure functions of doc_id (the tt_split md5
# idiom), so the corpus transform is reproducible across runs, engines
# and cluster sizes.
#
# Scale: map-only string/array algebra on one corpus scan — no
# shuffle, no UDF, no state.
# ---------------------------------------------------------------------------
_FIM_RATE = 50  # percent of docs transformed

_FIM_H = ("(('0x' || substr(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 8))"
          "::BIGINT)")

_FIM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n,
         ({_FIM_H.format(salt="fim0")} % 100) < {_FIM_RATE} AS is_fim,
         {_FIM_H.format(salt="fim1")} AS h1,
         {_FIM_H.format(salt="fim2")} AS h2
  FROM documents
),
c AS (
  SELECT doc_id, toks, n, is_fim,
         least(h1 % (n + 1), h2 % (n + 1)) AS lo,
         greatest(h1 % (n + 1), h2 % (n + 1)) AS hi
  FROM t
)
SELECT doc_id, is_fim,
       CAST(CASE WHEN is_fim THEN lo ELSE n END AS BIGINT) AS n_prefix,
       CAST(CASE WHEN is_fim THEN hi - lo ELSE 0 END AS BIGINT) AS n_middle,
       CAST(CASE WHEN is_fim THEN n - hi ELSE 0 END AS BIGINT) AS n_suffix,
       -- DuckDB's array_to_string over an EMPTY slice is NULL (Spark's
       -- concat_ws is '') — coalesce each piece
       CASE WHEN is_fim THEN
         '<|fim_pre|>'
         || coalesce(array_to_string(list_slice(toks, 1, lo), ' '), '')
         || '<|fim_suf|>'
         || coalesce(array_to_string(list_slice(toks, hi + 1, n), ' '), '')
         || '<|fim_mid|>'
         || coalesce(array_to_string(list_slice(toks, lo + 1, hi), ' '), '')
       ELSE array_to_string(toks, ' ') END AS formatted
FROM c
"""


@register("dp_fim_transform", oracle=_FIM_ORACLE)
def dp_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def h(salt: str):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(salt + ":"),
                           F.col("doc_id").cast("string"))), 1, 8), 16, 10)
            .cast("bigint"))

    t = docs.select(
        "doc_id", tx.tokens(F.col("text")).alias("toks"),
        F.size(tx.tokens(F.col("text"))).alias("n"),
        ((h("fim0") % 100) < _FIM_RATE).alias("is_fim"),
        h("fim1").alias("h1"), h("fim2").alias("h2"))
    c = t.select(
        "doc_id", "toks", "n", "is_fim",
        F.least(F.col("h1") % (F.col("n") + 1),
                F.col("h2") % (F.col("n") + 1)).alias("lo"),
        F.greatest(F.col("h1") % (F.col("n") + 1),
                   F.col("h2") % (F.col("n") + 1)).alias("hi"))
    join = F.concat_ws  # noqa: E731 - readability alias
    fim_str = F.concat(
        F.lit("<|fim_pre|>"),
        join(" ", F.slice("toks", 1, F.col("lo").cast("int"))),
        F.lit("<|fim_suf|>"),
        join(" ", F.slice("toks", (F.col("hi") + 1).cast("int"),
                          F.col("n").cast("int"))),
        F.lit("<|fim_mid|>"),
        join(" ", F.slice("toks", (F.col("lo") + 1).cast("int"),
                          (F.col("hi") - F.col("lo")).cast("int"))))
    return c.select(
        "doc_id", "is_fim",
        F.when(F.col("is_fim"), F.col("lo")).otherwise(F.col("n"))
         .cast("bigint").alias("n_prefix"),
        F.when(F.col("is_fim"), F.col("hi") - F.col("lo")).otherwise(0)
         .cast("bigint").alias("n_middle"),
        F.when(F.col("is_fim"), F.col("n") - F.col("hi")).otherwise(0)
         .cast("bigint").alias("n_suffix"),
        F.when(F.col("is_fim"), fim_str)
         .otherwise(join(" ", F.col("toks"))).alias("formatted"))


# ---------------------------------------------------------------------------
# tt_bloom_contamination — Bloom-filter contamination probe, fully
# relational (Bloom 1970; the constant-memory way to ask "did any test
# document appear in training?" at 100 TB): the TRAIN split's text
# hashes map to k=5 bit positions in an m=2^16 bloom space; the
# DISTINCT set-bit table is bounded by m regardless of corpus size and
# broadcasts; each TEST doc recomputes its k positions map-side and is
# a bloom hit iff all k are set. ``exact_hit`` (a broadcast semi-join
# on the full 16-byte hash) sits alongside so the op also measures its
# own false-positive rate; bloom guarantees exact_hit => bloom_hit.
#
# Scale: the only corpus-wide work is two map passes and one
# ≤m-row-bounded distinct; at bigger corpora m grows (still
# broadcast-sized at 2^30 bits) while the probe stays k JVM hashes +
# one broadcast join per side. No Python anywhere.
# ---------------------------------------------------------------------------
_BF_M = 1 << 16
_BF_K = 5

# 15 hex chars = 60 bits — exact in BIGINT on both engines
_BF_POS = ("(('0x' || substr(md5('bf{i}:' || k), 1, 15))::BIGINT"
           f" % {_BF_M})")

# the canonical tt_split bucket rule, imported so the probe can never
# audit a different train/test partition than the one tt_split makes
from sanctions_data_pipeline_spark.plans.training_data import (  # noqa: E402
    _BUCKET as _BF_SPLIT, split_bucket_col)

_BF_ORACLE = f"""
WITH h AS (
  SELECT doc_id, md5({_NORM}) AS k, {_BF_SPLIT} AS b FROM documents
),
train AS (SELECT doc_id, k FROM h WHERE b < 80),
test AS (SELECT doc_id, k FROM h WHERE b >= 90),
bits AS (
  SELECT DISTINCT pos FROM train,
    UNNEST([{", ".join(_BF_POS.format(i=i) for i in range(_BF_K))}]) AS u(pos)
),
probes AS (
  SELECT doc_id, k, unnest([{", ".join(_BF_POS.format(i=i)
                                       for i in range(_BF_K))}]) AS pos
  FROM test
),
bloom AS (
  SELECT p.doc_id, bool_and(b.pos IS NOT NULL) AS bloom_hit
  FROM probes p LEFT JOIN bits b ON p.pos = b.pos
  GROUP BY p.doc_id
)
SELECT t.doc_id, bloom.bloom_hit,
       EXISTS (SELECT 1 FROM train tr WHERE tr.k = t.k) AS exact_hit
FROM test t JOIN bloom ON bloom.doc_id = t.doc_id
"""


@register("tt_bloom_contamination", oracle=_BF_ORACLE)
def tt_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    h = docs.select("doc_id", F.md5(norm).alias("k"),
                    split_bucket_col().alias("b"))
    train = h.filter(F.col("b") < 80).select("doc_id", "k")
    test = h.filter(F.col("b") >= 90).select("doc_id", "k")

    def pos(i: int):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"bf{i}:"), F.col("k"))), 1, 15), 16, 10)
            .cast("bigint") % _BF_M)

    pos_arr = F.array(*[pos(i) for i in range(_BF_K)])
    bits = (train.select(F.explode(pos_arr).alias("pos")).distinct())
    probes = test.select("doc_id", F.explode(pos_arr).alias("pos"))
    bloom = (probes.join(F.broadcast(bits.withColumn("set", F.lit(True))),
                         "pos", "left")
             .groupBy("doc_id")
             .agg(F.min(F.coalesce(F.col("set"), F.lit(False)))
                  .alias("bloom_hit")))
    exact = (test.join(F.broadcast(train.select("k").distinct()
                                   .withColumn("e", F.lit(True))), "k", "left")
             .select("doc_id", F.coalesce(F.col("e"), F.lit(False))
                     .alias("exact_hit")))
    return test.select("doc_id").join(bloom, "doc_id").join(exact, "doc_id")


# ---------------------------------------------------------------------------
# tok_unigram_lm — unigram-LM tokenizer training (Kudo, ACL 2018; the
# SentencePiece unigram algorithm), completing the in-engine tokenizer
# trio (tok_vocab / tok_bpe_merges+encode / this): seed a piece
# inventory from frequent substrings, then Viterbi-EM — E-step
# segments every distinct word with the current model via a pure-HOF
# dynamic-programming lattice (operators/unigram.py: one aggregate
# builds dp+backpointers, one walks them; zero per-row Python), M-step
# re-estimates piece probabilities from weighted segment counts.
#
# Oracle contract (round 11, the invariant-lane pattern): the EM
# probabilities are iterative floats with no SQL twin, but the SEED
# CENSUS is pure integer relational algebra — the registered output is
# one row per seed piece (top-_UNI_SEED substrings by weighted count,
# ties by piece, plus the single-char floor; DuckDB replays the census
# exactly: piece, piece_len, seed_cnt) carrying the trainer's REAL
# mechanics as booleans stated as literals:
#   in_model_consistent_ok  a seed piece survives to the final model
#                      iff it is a single char OR its final E-step use
#                      count is positive (the M-step keep rule; a
#                      broken prune or smoothing path flips it),
#   prob_normalized_ok the final model sums to 1 within 1e-9 (global),
#   viterbi_optimal_ok re-segmenting every distinct word under the
#                      FINAL model, the Viterbi cost is <= the
#                      single-char segmentation cost — the char path
#                      is always feasible (chars persist), so minimum
#                      optimality guarantees it; a broken lattice,
#                      backpointer walk, or cost map flips it (global,
#                      computed engine-side as one bool_and).
# Exact (rank, n_uses, prob) values stay pinned by the python EM
# replay on tok_unigram_lm_full.
#
# Scale: E-step runs over the DISTINCT word inventory (the
# tok_bpe_merges discipline) as one map stage per round; the model is
# bounded driver state (seed cap + alphabet, the top-V vocab
# contract); M-step counts are a bounded groupBy. The E-step goes
# through unigram.segment_words, which SWITCHES strategy by model
# size: literal cost map here, broadcast position-substring join past
# LITERAL_MAP_MAX pieces (32k-vocab scale path; equality of the two
# paths is pinned in tests).
# ---------------------------------------------------------------------------
_UNI_SEED = 40
_UNI_ROUNDS = 2

_UNI_ORACLE = f"""
WITH wd AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest({_TOKS}) AS w FROM documents)
  GROUP BY w
),
sub AS (
  SELECT unnest(flatten([[w[s : s + ln - 1]
                          for s in range(1, len(w) - ln + 2)]
                         for ln in range(1, 5)])) AS piece,
         c
  FROM wd
),
cand AS (SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM sub GROUP BY piece),
top AS (SELECT piece, cnt FROM cand ORDER BY cnt DESC, piece LIMIT {_UNI_SEED}),
seed AS (
  SELECT piece, cnt FROM top
  UNION
  SELECT piece, cnt FROM cand WHERE length(piece) = 1
)
SELECT piece, CAST(length(piece) AS INT) AS piece_len, cnt AS seed_cnt,
       TRUE AS in_model_consistent_ok, TRUE AS prob_normalized_ok,
       TRUE AS viterbi_optimal_ok
FROM seed
"""


def _unigram_seed_and_words(spark: SparkSession, sf_dir: str):
    """(persisted distinct-word frame, seed piece -> weighted count) —
    shared by the registered lattice and the _full pin surface. The
    caller unpersists the word frame."""
    from sanctions_data_pipeline_spark.operators import unigram as ug

    # tokenize+explode is the CPU-heavy map stage of the word census:
    # parallelize an under-split local scan (no-op at scale)
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    words = persist(docs.select(F.explode(tx.tokens(F.col("text"))).alias("w"))
                    .groupBy("w").agg(lcount("c")))

    # candidate substrings, lengths 1..MAX_PIECE_LEN, weighted by word
    # count (shared generator with the broadcast-join segmentation path).
    # Seed top-K and the single-char floor ride ONE collect (the union
    # tags each side), so the substring explode + count + the persisted
    # words table materialize in a single Spark job instead of three;
    # persist so the two union branches share one computation of cand.
    cand = persist(words.select(
        "c", F.explode(ug.substrings_up_to_max(F.col("w"))).alias("piece"))
        .groupBy("piece").agg(F.sum("c").alias("cnt")))

    rows = (cand.orderBy(F.desc("cnt"), F.asc("piece")).limit(_UNI_SEED)
            .select("piece", "cnt", F.lit(True).alias("is_top"))
            .unionByName(
                cand.filter(F.length("piece") == 1)
                .select("piece", "cnt", F.lit(False).alias("is_top")))
            .collect())
    top = {r.piece: int(r.cnt) for r in rows if r.is_top}
    chars = {r.piece: int(r.cnt) for r in rows if not r.is_top}
    seed = dict(top)
    for p, c in chars.items():
        seed.setdefault(p, c)
    cand.unpersist()
    return words, seed


# SMALL-INVENTORY SWITCH for the unigram trainer: a distinct-word
# inventory that helpers.fetch_if_small brings to the driver (the
# shared DRIVER_MAX_ROWS bound, as for dd_cluster and BPE) runs the
# whole EM + optimality check off that one fetch with the SAME pinned
# python lattice the Arrow path runs per batch — identical
# counts/booleans by construction (integer adds and AND are
# order-free; the double folds are per-word). A web-scale inventory
# routes to the Arrow path by construction.


def _unigram_em(words: DataFrame, seed: dict[str, int], rows=None):
    """The Viterbi-EM loop: (final model, final E-step use counts).
    ``rows`` = fetched (word, count) rows for the small-inventory
    driver path; None = the distributed Arrow path."""
    from sanctions_data_pipeline_spark.operators import unigram as ug

    def normalize(vals: dict[str, float]) -> dict[str, float]:
        tot = sum(vals.values())
        return {p: v / tot for p, v in sorted(vals.items())}

    model = normalize({p: float(c) for p, c in seed.items()})

    vc: dict[str, int] = {}
    for _ in range(_UNI_ROUNDS):
        # E-step on the Arrow path (operators/unigram.em_piece_counts):
        # the pinned python replay of the SAME lattice runs per word
        # inside mapInPandas with per-batch partial counts — identical
        # segmentations (the replay is the JVM form's test oracle), no
        # giant HOF expression tree for Catalyst to re-analyze per
        # round (guide §4; the round-12 tok_unigram_lm fix) — or, when
        # fetch_if_small brought the inventory down, the same replay
        # driver-side (zero Spark jobs per round)
        if rows is not None:
            vc = ug.em_piece_counts_py(rows, model)
        else:
            vc = {r.piece: int(r.n)
                  for r in ug.em_piece_counts(words, "w", "c",
                                              model).collect()}
        # M-step: multi-char pieces live only while used; single chars
        # persist with add-one smoothing so every word stays segmentable
        vals = {}
        for p in model:
            used = vc.get(p, 0)
            if len(p) == 1:
                vals[p] = float(used + 1)
            elif used > 0:
                vals[p] = float(used)
        model = normalize(vals)
    return model, vc


@register("tok_unigram_lm", headline=True, oracle=_UNI_ORACLE)
def tok_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.operators import unigram as ug

    words, seed = _unigram_seed_and_words(spark, sf_dir)
    rows = fetch_if_small(words)
    model, vc = _unigram_em(words, seed, rows)

    prob_norm_ok = abs(sum(model.values()) - 1.0) <= 1e-9

    # Viterbi optimality under the FINAL model: the lattice's cost for
    # each distinct word must be <= the single-char path's cost (always
    # feasible — chars persist through every M-step). One pass on the
    # same Arrow path as the E-step (operators/unigram
    # .viterbi_char_margin_ok): both cost sums fold left-to-right over
    # the identical doubles the JVM HOF form folded, per-batch partial
    # ANDs reduce engine-side to the global bool_and lane — or the
    # same fold driver-side on the small-inventory path.
    if rows is not None:
        vit_ok = bool(ug.viterbi_char_margin_ok_py(
            [w for w, _ in rows], model))
    else:
        vit_ok = bool(ug.viterbi_char_margin_ok(words, "w", model)
                      .collect()[0][0])
    words.unpersist()

    rows = [(p, len(p), int(c),
             bool((p in model) == (len(p) == 1 or vc.get(p, 0) > 0)),
             bool(prob_norm_ok), vit_ok)
            for p, c in sorted(seed.items())]
    return local_frame(
        rows, "piece string, piece_len int, seed_cnt bigint, "
              "in_model_consistent_ok boolean, "
              "prob_normalized_ok boolean, viterbi_optimal_ok boolean")


def tok_unigram_lm_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (rank, piece, piece_len, n_uses, prob) rows — the pytest
    value-pin surface (the pre-round-11 registered output)."""
    words, seed = _unigram_seed_and_words(spark, sf_dir)
    model, vc = _unigram_em(words, seed, fetch_if_small(words))
    words.unpersist()

    rows = sorted(((p, len(p), vc.get(p, 0), round(model[p], 6))
                   for p in model),
                  key=lambda r: (-r[2], r[0]))
    out = [(i + 1, p, ln, c, pr)
           for i, (p, ln, c, pr) in enumerate(rows)]
    return local_frame(
        out, "rank int, piece string, piece_len int, n_uses bigint, "
             "prob double")


# ---------------------------------------------------------------------------
# gr_hits — HITS hubs & authorities (Kleinberg, JACM 1999) over the
# same co-purchase edge table as gr_pagerank: authority(v) sums the
# hub mass of v's in-neighbors, hub(u) sums the authority mass of u's
# out-neighbors, L2-normalized each half-step. Two half-step pairs
# unrolled so the oracle is exact; the loop form inherits the
# dd_cluster persist-per-round discipline.
#
# Cross-engine float rule: iteration-0 authorities are exact integer
# in-degrees; every later sum — per-node contributions AND the global
# L2 norms — is a sorted sequential fold, and every normalization is
# one division by a broadcast scalar, so the operator tree is
# bit-identical on both engines.
# ---------------------------------------------------------------------------
_HITS_ORACLE = f"""
WITH {_PR_EDGES},
ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS d_in FROM edges GROUP BY dst),
n1 AS (SELECT sqrt(CAST(CAST(list_aggregate(list_sort(list(d_in * d_in)),
                                            'sum') AS BIGINT) AS DOUBLE))
         AS z FROM ind),
a1 AS (SELECT dst AS node, CAST(d_in AS DOUBLE) / (SELECT z FROM n1) AS a
       FROM ind),
h1r AS (
  SELECT e.src AS node,
         list_aggregate(list_sort(list(a1.a)), 'sum') AS h
  FROM edges e JOIN a1 ON e.dst = a1.node GROUP BY e.src
),
nh AS (SELECT sqrt(list_aggregate(list_sort(list(h * h)), 'sum')) AS z
       FROM h1r),
h1 AS (SELECT node, h / (SELECT z FROM nh) AS h FROM h1r),
a2r AS (
  SELECT e.dst AS node,
         list_aggregate(list_sort(list(h1.h)), 'sum') AS a
  FROM edges e JOIN h1 ON e.src = h1.node GROUP BY e.dst
),
na AS (SELECT sqrt(list_aggregate(list_sort(list(a * a)), 'sum')) AS z
       FROM a2r),
a2 AS (SELECT node, a / (SELECT z FROM na) AS a FROM a2r)
SELECT a2.node, round(a2.a, 6) AS authority,
       round(coalesce(h1.h, 0.0), 6) AS hub,
       ind.d_in
FROM a2 JOIN ind ON a2.node = ind.dst
        LEFT JOIN h1 ON a2.node = h1.node
"""


@register("gr_hits", oracle=_HITS_ORACLE)
def gr_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 200)
    co = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("p")).distinct()
    edges = persist(co.join(co.withColumnRenamed("p", "q"), "o")
                    .filter(F.col("p") != F.col("q"))
                    .groupBy(F.col("p").alias("src"), F.col("q").alias("dst"))
                    .agg(lcount("w")).filter(F.col("w") >= 3)
                    .select("src", "dst"))
    n_edges = edges.count()  # materialize: every half-step reuses the
    # cache, so the candidate pipeline runs once (dd_cluster lesson)
    if n_edges == 0:  # graph vanishes at some SFs (w>=3 co-occurrence)
        edges.unpersist()
        return local_frame(
            [], "node long, authority double, hub double, d_in bigint")

    def fold(col):
        return F.aggregate(F.array_sort(F.collect_list(col)),
                           F.lit(0.0), lambda a, x: a + x)

    def scalar(df) -> float:
        # each L2 norm is a 1-row Spark agg; collecting it as a lit
        # (bounded driver state) keeps every later stage's lineage flat
        # instead of re-deriving the whole graph per crossJoin branch
        return float(df.collect()[0][0])

    ind = persist(edges.groupBy("dst").agg(lcount("d_in")))
    # norm of the integer in-degree vector: exact bigint sum -> sqrt
    z1 = scalar(ind.agg(F.sqrt((F.sum(F.col("d_in") * F.col("d_in")))
                               .cast("bigint").cast("double"))))
    a1 = ind.select(F.col("dst").alias("node"),
                    (F.col("d_in").cast("double") / F.lit(z1)).alias("a"))
    h1r = persist(edges.join(a1.withColumnRenamed("node", "dst"), "dst")
                  .groupBy(F.col("src").alias("node"))
                  .agg(fold("a").alias("h")))
    zh = scalar(h1r.agg(F.sqrt(fold(F.col("h") * F.col("h")))))
    h1 = persist(h1r.select("node", (F.col("h") / F.lit(zh)).alias("h")))
    a2r = persist(edges.join(h1.withColumnRenamed("node", "src"), "src")
                  .groupBy(F.col("dst").alias("node"))
                  .agg(fold("h").alias("a")))
    za = scalar(a2r.agg(F.sqrt(fold(F.col("a") * F.col("a")))))
    a2 = a2r.select("node", (F.col("a") / F.lit(za)).alias("a"))
    out = (a2.join(ind.withColumnRenamed("dst", "node"), "node")
           .join(h1, "node", "left")
           .select("node", F.round("a", 6).alias("authority"),
                   F.round(F.coalesce(F.col("h"), F.lit(0.0)), 6)
                   .alias("hub"),
                   F.col("d_in").cast("bigint").alias("d_in")))
    # the node domain is bounded by construction (l_partkey < 200), so
    # materializing the result lets every per-invocation cache release
    # instead of pinning executor storage for the session lifetime
    rows = out.collect()
    for c in (edges, ind, h1r, h1, a2r):
        c.unpersist()
    return local_frame(
        rows, "node long, authority double, hub double, d_in bigint")


# ---------------------------------------------------------------------------
# q_attribution — first-touch / last-touch conversion attribution over
# sessionized events (the classic marketing-analytics query): sessions
# form with the q_sessionize 30-min-gap rule; every purchase attributes
# to the session's FIRST event type (first touch) and to the event
# immediately preceding it (last touch; 'direct' when the purchase
# opens its session). Output: conversions + exact-decimal revenue per
# (first_touch, last_touch) channel pair.
#
# Scale: both windows partition by user_id (the natural key — no
# global window), the final rollup is a tiny grouped agg; decimal-
# exact revenue via the dsum idiom.
# ---------------------------------------------------------------------------
_ATTR_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                   OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, event_id, event_type, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), touched AS (
  SELECT event_type, value,
         FIRST_VALUE(event_type) OVER s AS first_touch,
         coalesce(LAG(event_type) OVER s, 'direct') AS last_touch
  FROM sessions
  WINDOW s AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
)
SELECT first_touch, last_touch,
       COUNT(*) AS n_conversions,
       {{dsum}}
FROM touched WHERE event_type = 'purchase'
GROUP BY first_touch, last_touch
""".format(dsum="CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) * 10000 "
                "AS BIGINT) / 10000.0 AS revenue")


@register("q_attribution", headline=True, oracle=_ATTR_ORACLE)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import dsum, dval

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull()
               | (F.unix_micros(F.col("ts"))
                  - F.unix_micros(F.lag("ts").over(w)) > 1_800_000_000),
               1).otherwise(0))
    sessions = flagged.withColumn(
        "sid", F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, 0)))
    s = W.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    touched = sessions.select(
        "event_type", "value",
        F.first("event_type").over(s).alias("first_touch"),
        F.coalesce(F.lag("event_type").over(s), F.lit("direct"))
        .alias("last_touch"))
    return (touched.filter(F.col("event_type") == "purchase")
            .groupBy("first_touch", "last_touch")
            .agg(lcount("n_conversions"),
                 dsum(dval("value"), "revenue")))


# ---------------------------------------------------------------------------
# tx_html_strip — HTML -> text extraction (the boilerplate-strip stage
# every web-scraped corpus runs; cf. the C4/trafilatura pipelines and
# the reference's own HTML scrape seam, main.py:104-212): drop
# script/style blocks wholesale (including markup-looking content
# inside them), strip residual tags, collapse whitespace, and surface
# title + link inventory. The corpus is plain text, so each doc is
# first WRAPPED in a deterministic page template in-query — the
# extraction then has a known right answer and the oracle checks the
# whole round trip.
#
# Scale: pure map-side regexp algebra (JVM codegen, no UDF) — one
# corpus scan, no shuffle.
# ---------------------------------------------------------------------------
_HTML_BUILD = (
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>"
    "<script>var x = 1 < 2;</script><style>.p {{ color: red }}</style>"
    "</head><body><p>' || text || '</p>"
    "<a href=\"/doc/' || CAST(doc_id + 1 AS VARCHAR) || '\">next</a>"
    "<a href=\"/home\">home</a></body></html>'")

_HTML_ORACLE = f"""
WITH page AS (
  SELECT doc_id, {_HTML_BUILD} AS html FROM documents
),
stripped AS (
  SELECT doc_id, html,
         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             html,
             '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
             '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
             '<[^>]+>', ' ', 'g'),
             '\\s+', ' ', 'g')) AS clean_text,
         regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
         regexp_extract_all(html, 'href="([^"]*)"', 1) AS links
  FROM page
)
SELECT doc_id, clean_text, title,
       CAST(len(links) AS BIGINT) AS n_links,
       links[1] AS first_link
FROM stripped
"""


@register("tx_html_strip", oracle=_HTML_ORACLE)
def tx_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title><script>var x = 1 < 2;</script>"
              "<style>.p { color: red }</style></head><body><p>"),
        F.col("text"),
        F.lit("</p><a href=\"/doc/"),
        (F.col("doc_id") + 1).cast("string"),
        F.lit("\">next</a><a href=\"/home\">home</a></body></html>"))
    page = docs.select("doc_id", html.alias("html"))
    clean = F.trim(F.regexp_replace(F.regexp_replace(F.regexp_replace(
        F.regexp_replace(
            F.col("html"), r"(?s)<script[^>]*>.*?</script>", " "),
        r"(?s)<style[^>]*>.*?</style>", " "),
        r"<[^>]+>", " "),
        r"\s+", " "))
    return page.select(
        "doc_id", clean.alias("clean_text"),
        F.regexp_extract("html", r"<title>([^<]*)</title>", 1).alias("title"),
        F.size(F.regexp_extract_all("html", F.lit(r'href="([^"]*)"'), 1))
        .cast("bigint").alias("n_links"),
        F.element_at(F.regexp_extract_all("html", F.lit(r'href="([^"]*)"'), 1),
                     1).alias("first_link"))


# ---------------------------------------------------------------------------
# pr_implicit_als — one alternating-least-squares sweep of matrix
# factorization over (customer, part, quantity) interactions (Koren,
# Bell & Volinsky, IEEE Computer 2009 — the classic recommender
# factorizer; completes the recommender family next to pr_copurchase /
# pr_item_cosine): item factors initialize from a deterministic
# doc-id/factor hash, the U-step solves each user's ridge normal
# equations (YᵀY + λI)x = Yᵀr in closed form inside
# groupBy(user).applyInPandas (one vectorized numpy solve per user,
# the ml_group_fit contract), and the op reports per-user factor
# norms + training RMSE.
#
# Oracle contract (round 11, ml_logreg's loss-below-null pattern): the
# solved factors are float linear algebra with no SQL twin, so the
# registered output is one row per user — the (user_id, n_items)
# lanes are EXACT relational values DuckDB recomputes from the same
# interaction aggregate — carrying the solve's REAL theorems as
# booleans stated as literals:
#   factor_finite_ok    every solved coefficient is finite (a singular
#                       normal matrix or NaN rating flips it),
#   rmse_below_null_ok  the ridge solution's training SSE is <= the
#                       null (x = 0) model's SSE — guaranteed because
#                       x* minimizes ||Yx - r||^2 + lambda*||x||^2 and
#                       x = 0 is feasible with penalty 0, so
#                       SSE(x*) <= SSE(x*) + lambda*||x*||^2 <= SSE(0);
#                       a sign-flipped gradient, a wrong normal
#                       matrix, or rating/factor misalignment breaks
#                       it.
# Exact norms + RMSE stay pinned by the numpy replay on
# pr_implicit_als_full (tests/test_training_ext3.py).
#
# Scale: the ITEM factor matrix is the broadcast model (items kept
# bounded here; at real catalog sizes the I-step runs symmetrically
# and both sides stay (entity, d)-shaped rows — nothing quadratic);
# per-user state never leaves its executor.
# ---------------------------------------------------------------------------
_ALS_D = 4
_ALS_LAMBDA = 0.1

_ALS_ORACLE = """
WITH r AS (
  SELECT o_custkey AS user_id, l_partkey AS item_id
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_partkey < 200
  GROUP BY 1, 2
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_items,
       TRUE AS factor_finite_ok, TRUE AS rmse_below_null_ok
FROM r GROUP BY user_id
"""


def _als_item_factors(items: list[int]) -> dict[int, list[float]]:
    """Deterministic hash init in [-0.5, 0.5): same on driver & tests."""
    import hashlib

    out = {}
    for p in items:
        out[p] = [
            int(hashlib.md5(f"als:{p}:{f}".encode()).hexdigest()[:8], 16)
            % 1000 / 1000.0 - 0.5
            for f in range(_ALS_D)]
    return out


def _als_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, item_id, rating) interaction aggregate shared by the
    registered lattice and the _full pin surface."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 200)
    orders = load_table(spark, sf_dir, "orders")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(F.col("o_custkey").alias("user_id"),
                     F.col("l_partkey").alias("item_id"))
            .agg(F.sum("l_quantity").cast("double").alias("rating")))


@register("pr_implicit_als", oracle=_ALS_ORACLE)
def pr_implicit_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    r = _als_ratings(spark, sf_dir)
    items = sorted(p.item_id for p in r.select("item_id").distinct().collect())
    yfac = _als_item_factors(items)   # bounded model state, ships in closure
    lam, d = _ALS_LAMBDA, _ALS_D

    def lanes(pdf):
        ys = np.array([yfac[i] for i in pdf["item_id"]])
        rv = pdf["rating"].to_numpy()
        a = ys.T @ ys + lam * np.eye(d)
        x = np.linalg.solve(a, ys.T @ rv)
        sse = float(((ys @ x - rv) ** 2).sum())
        null_sse = float((rv ** 2).sum())
        # relative eps absorbs the solve's float rounding; the ridge
        # optimality argument guarantees sse <= null_sse exactly
        below = sse <= null_sse * (1.0 + 1e-9) + 1e-12
        return pd.DataFrame({
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_items": [len(pdf)],
            "factor_finite_ok": [bool(np.isfinite(x).all())],
            "rmse_below_null_ok": [bool(below)],
        })

    lanes.__annotations__ = {"pdf": pd.DataFrame, "return": pd.DataFrame}
    return (r.groupBy("user_id")
            .applyInPandas(lanes, "user_id bigint, n_items bigint, "
                                  "factor_finite_ok boolean, "
                                  "rmse_below_null_ok boolean"))


def pr_implicit_als_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (user_id, n_items, factor_norm, rmse) rows — the pytest
    value-pin surface (the pre-round-11 registered output)."""
    import numpy as np
    import pandas as pd

    r = _als_ratings(spark, sf_dir)
    items = sorted(p.item_id for p in r.select("item_id").distinct().collect())
    yfac = _als_item_factors(items)   # bounded model state, ships in closure
    lam, d = _ALS_LAMBDA, _ALS_D

    def solve(pdf):
        ys = np.array([yfac[i] for i in pdf["item_id"]])
        rv = pdf["rating"].to_numpy()
        a = ys.T @ ys + lam * np.eye(d)
        x = np.linalg.solve(a, ys.T @ rv)
        pred = ys @ x
        rmse = float(np.sqrt(np.mean((pred - rv) ** 2)))
        return pd.DataFrame({
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_items": [len(pdf)],
            "factor_norm": [round(float(np.linalg.norm(x)), 6)],
            "rmse": [round(rmse, 6)],
        })

    solve.__annotations__ = {"pdf": pd.DataFrame, "return": pd.DataFrame}
    return (r.groupBy("user_id")
            .applyInPandas(solve, "user_id long, n_items long, "
                                  "factor_norm double, rmse double"))


# ---------------------------------------------------------------------------
# sim_ann_ivfpq — the composed IVF+PQ index (Jégou et al. TPAMI 2011;
# the FAISS IndexIVFPQ default), joining the two partial indexes the
# engine already ships (sim_ann_ivf's coarse cells, sim_ann_pq's ADC
# codes): per query, only the probed cells' m-byte codes are scored,
# then exact-cosine re-rank. The kmeans + codebook trainers have no
# SQL twin — registered (round 10) as the shared brute-force
# rank-domination invariant lattice (see sim_ann_ivf / sim_ann_pq);
# exact result lists + the recall pin stay on sim_ann_ivfpq_full
# (tests/test_ivf.py).
# ---------------------------------------------------------------------------
_IVFPQ_ORACLE = """
SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_returned,
       TRUE AS rankwise_dominated_ok, TRUE AS neighbors_valid_ok
FROM embeddings WHERE vec_id < 10
"""


@register("sim_ann_ivfpq", headline=True, oracle=_IVFPQ_ORACLE)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.training_data import (
        _ann_domination_lattice)

    vecs = load_table(spark, sf_dir, "embeddings")
    queries = vecs.filter(F.col("vec_id") < 10)
    bf = sim.brute_force_topk(queries, vecs, k=5)
    return _ann_domination_lattice(sim_ann_ivfpq_full(spark, sf_dir), bf)


def sim_ann_ivfpq_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (query_id, neighbor_id, cos, rnk) IVF+PQ results — the
    pytest value-pin surface (the pre-round-10 registered output)."""
    vecs = load_table(spark, sf_dir, "embeddings")
    queries = vecs.filter(F.col("vec_id") < 10)
    return (sim.ivfpq_topk(queries, vecs, k=5, n_centroids=16, n_probe=4,
                           rerank=6)
            .withColumn("rnk", F.col("rnk").cast("bigint")))


# ---------------------------------------------------------------------------
# q_time_weighted_avg — time-weighted average (TWAP) per user over the
# irregular event stream: each observation holds until the next one,
# so its weight is the gap to the user's next event (last event: zero
# weight — half-open interval convention). The canonical downsampling
# aggregate for irregular timeseries.
#
# Cross-engine float rule: weights are exact integer microseconds,
# values go through the scale-4 decimal cast; the weighted sum is an
# exact decimal x bigint product summed in decimal, surfaced by one
# division of two exact numbers. Windows partition by user_id.
# ---------------------------------------------------------------------------
_TWAP_ORACLE = """
WITH g AS (
  SELECT user_id, value,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
           - epoch_us(ts) AS dt_us
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_holds,
       CAST(sum(dt_us) AS BIGINT) AS total_us,
       round(CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4)) * dt_us), 4)
                       * 10000 AS BIGINT) AS DOUBLE) / 10000.0
             / CAST(sum(dt_us) AS BIGINT), 6) AS twap
FROM g WHERE dt_us IS NOT NULL AND dt_us > 0
GROUP BY user_id
"""


@register("q_time_weighted_avg", oracle=_TWAP_ORACLE)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import dval

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id", "value",
        (F.lead(F.unix_micros(F.col("ts"))).over(w)
         - F.unix_micros(F.col("ts"))).alias("dt_us"))
    g = g.filter(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
    wsum = (F.round(F.sum(dval("value") * F.col("dt_us")), 4) * 10000) \
        .cast("bigint").cast("double") / F.lit(10000.0)
    return (g.groupBy("user_id")
            .agg(lcount("n_holds"),
                 F.sum("dt_us").cast("bigint").alias("total_us"),
                 F.round(wsum / F.sum("dt_us").cast("bigint"), 6)
                 .alias("twap")))


# ---------------------------------------------------------------------------
# q_ohlc_bars — OHLC candlestick bars (open/high/low/close) per
# (1h window, event_type): open/close are the values at the min/max
# (ts, event_id) — struct-ordered argmin/argmax, so ties at the bar
# boundary resolve identically on both engines. The canonical
# downsample for market/metric data.
#
# Scale: one map-side-combinable grouped agg — min/max of
# (ts, event_id, value) structs and decimal min/max; no window, no
# shuffle beyond the group-by.
# ---------------------------------------------------------------------------
_OHLC_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_ticks,
       CAST(ROUND(arg_min(CAST(value AS DECIMAL(18,4)),
                          printf('%020d-%012d', epoch_us(ts), event_id)),
                  4) * 10000 AS BIGINT)
         / 10000.0 AS open,
       CAST(ROUND(MAX(CAST(value AS DECIMAL(18,4))), 4) * 10000 AS BIGINT)
         / 10000.0 AS high,
       CAST(ROUND(MIN(CAST(value AS DECIMAL(18,4))), 4) * 10000 AS BIGINT)
         / 10000.0 AS low,
       CAST(ROUND(arg_max(CAST(value AS DECIMAL(18,4)),
                          printf('%020d-%012d', epoch_us(ts), event_id)),
                  4) * 10000 AS BIGINT)
         / 10000.0 AS close
FROM events
GROUP BY 1, 2
"""


@register("q_ohlc_bars", oracle=_OHLC_ORACLE)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import (
        _as_exact_double, dval)

    ev = load_table(spark, sf_dir, "events")
    key = F.format_string("%020d-%012d", F.unix_micros(F.col("ts")),
                          F.col("event_id"))
    return (ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"),
                      "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
        "event_type")
        .agg(lcount("n_ticks"),
             _as_exact_double(F.min_by(dval("value"), key)).alias("open"),
             _as_exact_double(F.max(dval("value"))).alias("high"),
             _as_exact_double(F.min(dval("value"))).alias("low"),
             _as_exact_double(F.max_by(dval("value"), key)).alias("close")))


# ---------------------------------------------------------------------------
# dq_k_anonymity — k-anonymity audit over quasi-identifier columns
# (Sweeney 2002; the governance check a training corpus with user
# metadata needs before release): group documents by their
# quasi-identifier tuple (lang, source), report each class size and
# whether it violates k=5 — violating classes are the re-identifiable
# ones a release would suppress or generalize.
#
# Scale: one map-side-combinable groupBy on the QI tuple; the audit
# output is bounded by the QI domain, not the corpus.
# ---------------------------------------------------------------------------
_KANON_K = 5

_KANON_ORACLE = f"""
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) < {_KANON_K} AS violates_k
FROM documents
GROUP BY lang, source
"""


@register("dq_k_anonymity", oracle=_KANON_ORACLE)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy("lang", "source")
            .agg(lcount("class_size"))
            .withColumn("violates_k", F.col("class_size") < _KANON_K))


# ---------------------------------------------------------------------------
# mix_ccnet_sampling — the CCNet corpus-construction step itself
# (Wenzek et al., LREC 2020, §'LM filtering'): head documents are kept
# in full, middle at 50%, tail at 10% — composed from tx_ccnet_buckets'
# perplexity terciles and the mix_sample deterministic per-row uniform
# (md5 hash -> [0,1)), so the sampled corpus is reproducible across
# runs, engines and cluster sizes.
#
# Scale: the tercile assignment inherits tx_ccnet_buckets' contract;
# the sampling itself is a map-side hash compare against a 3-row
# broadcast rate dim — no extra shuffle.
# ---------------------------------------------------------------------------
_CCS_RATES = (("head", 1.0), ("middle", 0.5), ("tail", 0.1))
_CCS_U = ("(('0x' || substr(md5('ccnet:' || CAST(doc_id AS VARCHAR)), 1, 8))"
          "::BIGINT / 4294967296.0)")

_CCS_ORACLE = f"""
WITH p AS ({_PPL_ORACLE}),
b AS (
  SELECT doc_id, ppl,
         CASE CAST(NTILE(3) OVER (ORDER BY ppl, doc_id) AS BIGINT)
              WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
         END AS bucket
  FROM p
),
r AS (SELECT * FROM (VALUES {", ".join(f"('{b}', {w})" for b, w in _CCS_RATES)})
      AS t(bucket, rate))
SELECT b.doc_id, b.bucket, b.ppl
FROM b JOIN r ON b.bucket = r.bucket
WHERE {_CCS_U} < r.rate
"""


@register("mix_ccnet_sampling", oracle=_CCS_ORACLE)
def mix_ccnet_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = tx_ccnet_buckets(spark, sf_dir).select("doc_id", "bucket", "ppl")
    rates = local_frame(_CCS_RATES, "bucket string, rate double")
    u = (F.conv(F.substring(F.md5(F.concat(F.lit("ccnet:"),
                                           F.col("doc_id").cast("string"))),
                            1, 8), 16, 10)
         .cast("bigint") / F.lit(4294967296.0))
    return (b.join(F.broadcast(rates), "bucket")
            .filter(u < F.col("rate"))
            .select("doc_id", "bucket", "ppl"))


# ---------------------------------------------------------------------------
# gr_kcore — k-core decomposition by iterative peeling (Seidman 1983;
# the standard graph-density screen before expensive community ops):
# repeatedly drop nodes with degree < k until the survivor set is
# stable. A denser co-purchase rule than gr_pagerank's (partkey < 100,
# any co-occurrence) so the peel has real work at every SF. Three
# peel rounds unrolled so the oracle is exact; the loop form follows
# the dd_cluster persist-per-round discipline, and at 3 rounds the
# survivor set is stable on this corpus (pytest proves fixpoint).
#
# Scale: each round is one degree agg + one semi-join on (long, long)
# edges — never materializing anything but the shrinking vertex set.
# ---------------------------------------------------------------------------
_KCORE_K = 3
_KCORE_ROUNDS = 3

_KCORE_EDGES = """
  co AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p
    FROM lineitem WHERE l_partkey < 100
  ),
  edges AS (
    SELECT DISTINCT a.p AS src, b.p AS dst
    FROM co a JOIN co b ON a.o = b.o AND a.p <> b.p
  )
"""


def _kcore_round_sql(prev: str, rnd: int) -> str:
    return f"""
deg{rnd} AS (
  SELECT src, count(*) AS d FROM edges
  WHERE src IN (SELECT v FROM {prev}) AND dst IN (SELECT v FROM {prev})
  GROUP BY src
),
v{rnd} AS (SELECT src AS v FROM deg{rnd} WHERE d >= {_KCORE_K})"""


_KCORE_ORACLE = f"""
WITH {_KCORE_EDGES},
v0 AS (SELECT DISTINCT src AS v FROM edges),
{",".join(_kcore_round_sql(f"v{i}", i + 1) for i in range(_KCORE_ROUNDS))}
SELECT v.v AS node, CAST(d.d AS BIGINT) AS core_degree
FROM v{_KCORE_ROUNDS} v
JOIN deg{_KCORE_ROUNDS} d ON v.v = d.src
"""


@register("gr_kcore", oracle=_KCORE_ORACLE)
def gr_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 100)
    co = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("p")).distinct()
    edges = persist(co.join(co.withColumnRenamed("p", "q"), "o")
                    .filter(F.col("p") != F.col("q"))
                    .select(F.col("p").alias("src"), F.col("q").alias("dst"))
                    .distinct())
    edges.count()

    alive = edges.select(F.col("src").alias("v")).distinct()
    deg = None
    for _ in range(_KCORE_ROUNDS):
        kept = (edges
                .join(alive.withColumnRenamed("v", "src"), "src", "leftsemi")
                .join(alive.withColumnRenamed("v", "dst"), "dst", "leftsemi"))
        deg = kept.groupBy("src").agg(lcount("d"))
        alive = deg.filter(F.col("d") >= _KCORE_K).select(
            F.col("src").alias("v"))
    out = (alive.join(deg.withColumnRenamed("src", "v"), "v")
           .select(F.col("v").alias("node"),
                   F.col("d").cast("bigint").alias("core_degree")))
    rows = out.collect()   # bounded by the filtered part domain (<100)
    edges.unpersist()
    return local_frame(rows, "node long, core_degree bigint")


# ---------------------------------------------------------------------------
# s_aml_structuring — anti-money-laundering STRUCTURING (smurfing)
# detection, the screen a sanctions pipeline runs beside name matching:
# flag purchases where the same user's trailing-24h purchase series is
# many small transactions (each under the reporting threshold) that
# SUM over it — the classic sub-threshold splitting pattern (FATF / 31
# CFR 1010.313 structuring definition; thresholds scaled to this
# corpus's value range).
#
# Scale: one time-RANGE window partitioned by user_id (the
# q_range_frame idiom — each partition sorts only its user's events);
# the windowed sum is decimal-exact so the flag is deterministic.
# ---------------------------------------------------------------------------
_AML_SINGLE_MAX = 150   # every tx in the window stays under this
_AML_SUM_MIN = 300      # while the trailing-7d total reaches this
_AML_N_MIN = 5

_AML_ORACLE = f"""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
w AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         COUNT(*) OVER win AS n_tx_7d,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER win, 4) * 10000
              AS BIGINT) / 10000.0 AS total_7d,
         CAST(ROUND(MAX(CAST(value AS DECIMAL(18,4))) OVER win, 4) * 10000
              AS BIGINT) / 10000.0 AS max_single_7d
  FROM p
  WINDOW win AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 168 HOURS PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts_us, n_tx_7d, total_7d, max_single_7d
FROM w
WHERE n_tx_7d >= {_AML_N_MIN}
  AND max_single_7d < {_AML_SINGLE_MAX}
  AND total_7d >= {_AML_SUM_MIN}
"""


@register("s_aml_structuring", oracle=_AML_ORACLE)
def s_aml_structuring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import (
        _as_exact_double, dval)

    p = (load_table(spark, sf_dir, "events")
         .filter(F.col("event_type") == "purchase"))
    week_us = 168 * 3_600_000_000
    win = (W.partitionBy("user_id").orderBy(F.unix_micros("ts"))
           .rangeBetween(-week_us, 0))
    w = p.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.count(F.lit(1)).over(win).alias("n_tx_7d"),
        _as_exact_double(F.sum(dval("value")).over(win)).alias("total_7d"),
        _as_exact_double(F.max(dval("value")).over(win))
        .alias("max_single_7d"))
    return w.filter((F.col("n_tx_7d") >= _AML_N_MIN)
                    & (F.col("max_single_7d") < _AML_SINGLE_MAX)
                    & (F.col("total_7d") >= _AML_SUM_MIN))


# ---------------------------------------------------------------------------
# q_benford_check — Benford's-law first-digit audit over transaction
# values (Nigrini's forensic-accounting screen; a synthetic/uniform
# value column FAILS it, which is itself the point of the audit
# output): observed first-significant-digit shares vs log10(1 + 1/d).
# The digit extracts from the scale-4 decimal STRING rendering —
# identical on both engines — never from float log10 math, whose
# boundary cells (100.0) could round differently.
#
# Scale: map-side digit extraction + a 9-row agg.
# ---------------------------------------------------------------------------
_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(regexp_extract(CAST(CAST(value AS DECIMAL(18,4)) AS VARCHAR),
                             '[1-9]') AS INT) AS digit
  FROM events WHERE value > 0
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
SELECT digit,
       CAST(count(*) AS BIGINT) AS n_obs,
       round(CAST(count(*) AS DOUBLE) / (SELECT n FROM tot), 6) AS obs_frac,
       round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_frac
FROM d GROUP BY digit
"""


@register("q_benford_check", oracle=_BENFORD_ORACLE)
def q_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import dval

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    d = ev.select(F.regexp_extract(dval("value").cast("string"),
                                   "[1-9]", 0).cast("int").alias("digit"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (d.groupBy("digit").agg(lcount("n_obs"))
            .crossJoin(F.broadcast(tot))
            .select("digit", "n_obs",
                    F.round(F.col("n_obs").cast("double") / F.col("n"), 6)
                    .alias("obs_frac"),
                    F.round(F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
                            / F.log(F.lit(10.0)), 6).alias("benford_frac")))


# ---------------------------------------------------------------------------
# tx_zipf_fit — Zipf-law exponent of the token frequency distribution
# (Zipf 1949; the corpus-statistics sanity check every tokenizer team
# plots): OLS of ln(count) on ln(rank) over the top-V ranks. A natural
# corpus fits slope ~ -1; the fitted slope + r² land in the output so
# drift is visible in one number.
#
# Cross-engine float rule: ranks come from a TakeOrdered top-V (bounded
# driver-free), the four OLS sums are sorted sequential folds over <= V
# doubles, and the slope/intercept are the same closed-form expression
# tree on both engines, rounded 6dp.
# ---------------------------------------------------------------------------
_ZIPF_V = 100

_ZIPF_ORACLE = f"""
WITH tf AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
  GROUP BY tok
),
ranked AS (
  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
  FROM (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS r FROM tf)
  WHERE r <= {_ZIPF_V}
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         list_aggregate(list_sort(list(x)), 'sum') AS sx,
         list_aggregate(list_sort(list(y)), 'sum') AS sy,
         list_aggregate(list_sort(list(x * y)), 'sum') AS sxy,
         list_aggregate(list_sort(list(x * x)), 'sum') AS sxx
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_points,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept
FROM s
"""


@register("tx_zipf_fit", oracle=_ZIPF_ORACLE)
def tx_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select(F.explode(tx.tokens(F.col("text"))).alias("tok"))
          .groupBy("tok").agg(lcount("cnt")))
    # top-V via TakeOrdered, then rank within the V-row result (small)
    top = tf.orderBy(F.desc("cnt"), F.asc("tok")).limit(_ZIPF_V)
    r = F.row_number().over(W.orderBy(F.desc("cnt"), F.asc("tok")))
    ranked = top.select(F.log(r.cast("double")).alias("x"),
                        F.log(F.col("cnt").cast("double")).alias("y"))

    def fold(col):
        return F.aggregate(F.array_sort(F.collect_list(col)),
                           F.lit(0.0), lambda a, b: a + b)

    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        fold(F.col("x")).alias("sx"), fold(F.col("y")).alias("sy"),
        fold(F.col("x") * F.col("y")).alias("sxy"),
        fold(F.col("x") * F.col("x")).alias("sxx"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return s.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"))


# ---------------------------------------------------------------------------
# tx_readability — Flesch reading-ease + Flesch-Kincaid grade level
# (Flesch 1948 / Kincaid 1975; the readability features quality
# classifiers feed on): syllables approximate as vowel GROUPS per word
# (the standard dictionary-free heuristic), sentences as
# period-delimited runs with a floor of 1. Pure map-side column
# algebra; every ratio is exact-int / exact-int through an identical
# tree on both engines.
# ---------------------------------------------------------------------------
_READ_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks,
         greatest(length(text) - length(replace(text, '.', '')), 1)
           AS n_sents
  FROM documents
),
m AS (
  SELECT doc_id, n_sents,
         len(toks) AS n_words,
         CAST(list_aggregate(list_transform(toks,
              w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)),
              'sum') AS BIGINT) AS n_syll
  FROM t
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sents AS BIGINT) AS n_sents, n_syll,
       round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
             - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch_ease,
       round(0.39 * (CAST(n_words AS DOUBLE) / n_sents)
             + 11.8 * (CAST(n_syll AS DOUBLE) / n_words) - 15.59, 6)
         AS fk_grade
FROM m
"""


@register("tx_readability", oracle=_READ_ORACLE)
def tx_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    t = docs.select(
        "doc_id", toks.alias("toks"),
        F.greatest(F.length("text")
                   - F.length(F.replace("text", F.lit("."))),
                   F.lit(1)).alias("n_sents"))
    syll = F.aggregate(
        F.transform("toks", lambda w: F.greatest(
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0)),
            F.lit(1))),
        F.lit(0), lambda a, x: a + x).cast("bigint")
    m = t.select("doc_id", F.size("toks").alias("n_words"),
                 "n_sents", syll.alias("n_syll"))
    wps = F.col("n_words").cast("double") / F.col("n_sents")
    spw = F.col("n_syll").cast("double") / F.col("n_words")
    return m.select(
        "doc_id", F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_sents").cast("bigint").alias("n_sents"), "n_syll",
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6)
        .alias("flesch_ease"),
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6)
        .alias("fk_grade"))


# ---------------------------------------------------------------------------
# gr_assortativity — degree assortativity coefficient (Newman, PRL
# 2002): the Pearson correlation of endpoint degrees over edges —
# positive means hubs link hubs. One number that summarizes the
# co-purchase graph's mixing structure (social-like vs hub-and-spoke).
#
# Cross-engine float rule: degrees are exact ints; all five Pearson
# sums are exact bigint sums of int products (no float folds needed at
# all), and the coefficient is one identical closed-form double tree.
# ---------------------------------------------------------------------------
_ASSORT_ORACLE = f"""
WITH {_KCORE_EDGES},
deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d
        FROM edges GROUP BY src),
pairs AS (
  SELECT a.d AS x, b.d AS y
  FROM edges e JOIN deg a ON e.src = a.v JOIN deg b ON e.dst = b.v
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs
)
SELECT n AS n_edges,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS assortativity
FROM s
"""


@register("gr_assortativity", oracle=_ASSORT_ORACLE)
def gr_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 100)
    co = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("p")).distinct()
    # edges feeds three consumers (the degree census + both pair-join
    # probes): persist the narrow (src, dst) list so the co-occurrence
    # self-join + distinct runs once (round-12 subtree lint)
    edges = persist(co.join(co.withColumnRenamed("p", "q"), "o")
                    .filter(F.col("p") != F.col("q"))
                    .select(F.col("p").alias("src"), F.col("q").alias("dst"))
                    .distinct())
    deg = edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d"))
    pairs = (edges
             .join(deg.select(F.col("v").alias("src"),
                              F.col("d").alias("x")), "src")
             .join(deg.select(F.col("v").alias("dst"),
                              F.col("d").alias("y")), "dst"))
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"))
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = (F.sqrt(n * F.col("sxx")
                  - F.col("sx").cast("double") * F.col("sx"))
           * F.sqrt(n * F.col("syy")
                    - F.col("sy").cast("double") * F.col("sy")))
    return s.select(F.col("n").alias("n_edges"),
                    F.round(num / den, 6).alias("assortativity"))


# ---------------------------------------------------------------------------
# s_velocity_check — transaction-velocity burst screen (the second
# classic AML monitor next to s_aml_structuring): flag events whose
# trailing-24h same-user activity runs well above that user's own
# lifetime daily baseline (n_total / (active-span days + 1 smoothing
# day)). Relative-to-self baselining catches bursts that absolute
# thresholds miss on high-volume users.
#
# Scale: one RANGE window + one per-user 3-column baseline agg joined
# back on user_id — both shuffles on the same natural key; ratios are
# exact-int inputs through one identical double tree.
# ---------------------------------------------------------------------------
_VEL_N_MIN = 5
_VEL_RATIO = 3.0

_VEL_ORACLE = f"""
WITH base AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_total,
         CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS span_us
  FROM events GROUP BY user_id
),
w AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                        RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                        AND CURRENT ROW) AS n_24h
  FROM events
)
SELECT w.event_id, w.user_id, w.ts_us,
       CAST(w.n_24h AS BIGINT) AS n_24h,
       round(CAST(b.n_total AS DOUBLE)
             / (CAST(b.span_us AS DOUBLE) / 86400000000.0 + 1.0), 6)
         AS baseline_daily
FROM w JOIN base b ON w.user_id = b.user_id
WHERE w.n_24h >= {_VEL_N_MIN}
  AND w.n_24h > {_VEL_RATIO} * (CAST(b.n_total AS DOUBLE)
             / (CAST(b.span_us AS DOUBLE) / 86400000000.0 + 1.0))
"""


@register("s_velocity_check", oracle=_VEL_ORACLE)
def s_velocity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("bigint").alias("span_us"))
    day_us = 86_400_000_000
    win = (W.partitionBy("user_id").orderBy(F.unix_micros("ts"))
           .rangeBetween(-day_us, 0))
    w = ev.select("user_id", "event_id",
                  F.unix_micros("ts").alias("ts_us"),
                  F.count(F.lit(1)).over(win).cast("bigint").alias("n_24h"))
    daily = (F.col("n_total").cast("double")
             / (F.col("span_us").cast("double") / F.lit(86400000000.0)
                + F.lit(1.0)))
    return (w.join(base, "user_id")
            .filter((F.col("n_24h") >= _VEL_N_MIN)
                    & (F.col("n_24h") > F.lit(_VEL_RATIO) * daily))
            .select("event_id", "user_id", "ts_us", "n_24h",
                    F.round(daily, 6).alias("baseline_daily")))


# ---------------------------------------------------------------------------
# q_funnel_ttc — time-to-convert distribution for the signup→purchase
# funnel: per user, the delay from FIRST signup to the first purchase
# at-or-after it; surfaced as conversion rate + exact p50/p90 delay
# hours (the q_percentile portable-interpolation idiom). The companion
# to q_funnel's step counts — the number growth teams actually watch.
#
# Scale: two per-user aggs + one join on user_id; the 1-row signup
# total broadcasts for the rate.
# ---------------------------------------------------------------------------
_TTC_ORACLE = """
WITH s AS (SELECT user_id, min(ts) AS s_ts FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
p AS (
  SELECT e.user_id,
         CAST(min(epoch_us(e.ts) - epoch_us(s.s_ts)) AS BIGINT) AS delay_us
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
  GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup_users,
       CAST(count(*) AS BIGINT) AS n_converted,
       round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM s), 6)
         AS conversion_rate,
       round(quantile_cont(delay_us / 3600000000.0, 0.5), 6) AS p50_hours,
       round(quantile_cont(delay_us / 3600000000.0, 0.9), 6) AS p90_hours
FROM p
"""


@register("q_funnel_ttc", oracle=_TTC_ORACLE)
def q_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (ev.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("s_ts")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(s, "user_id")
         .filter(F.col("ts") >= F.col("s_ts"))
         .groupBy("user_id")
         .agg(F.min(F.unix_micros("ts") - F.unix_micros("s_ts"))
              .cast("bigint").alias("delay_us")))
    n_signup = s.agg(F.count(F.lit(1)).cast("bigint").alias("n_signup_users"))
    hours = F.col("delay_us") / F.lit(3_600_000_000.0)
    return (p.select("delay_us", hours.alias("h"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_converted"),
                 F.round(F.percentile("h", F.lit(0.5)), 6).alias("p50_hours"),
                 F.round(F.percentile("h", F.lit(0.9)), 6).alias("p90_hours"))
            .crossJoin(F.broadcast(n_signup))
            .select("n_signup_users", "n_converted",
                    F.round(F.col("n_converted").cast("double")
                            / F.col("n_signup_users"), 6)
                    .alias("conversion_rate"),
                    "p50_hours", "p90_hours"))


# ---------------------------------------------------------------------------
# emb_procrustes_align — orthogonal Procrustes alignment (Schönemann,
# Psychometrika 1966; the standard cross-space embedding aligner, cf.
# Smith et al. 2017 for cross-lingual vectors): find the rotation W =
# argmin_{W orthogonal} ||A W - B||_F via SVD of BᵀA. Space B here is
# A's int8 symmetric-quantized reconstruction (the emb_quantize
# scheme), so alignment must recover ~identity and the residual drop
# quantifies how much of the quantization error is a rigid rotation
# (almost none — which the op reports, per dim).
#
# Oracle contract (round 11, emb_isotropy's improves-lattice pattern):
# the SVD has no SQL twin, so the registered output is the dense
# 0..d-1 DIM lattice (SQL-derivable row set) carrying the exact
# vector-count lane plus the construction's REAL theorems as booleans
# stated as literals:
#   col_norm_ok        W = U Vᵀ is orthogonal, so every column has
#                      unit L2 norm (per-dim lane; a degenerate SVD or
#                      transposition bug flips it),
#   w_diag_bounded_ok  |w_ii| <= 1 for an orthogonal matrix (per-dim),
#   total_resid_improved_ok  the aligned total Frobenius residual
#                      ||A W - B||_F is <= the unaligned ||A - B||_F
#                      — guaranteed because W minimizes over all
#                      orthogonal matrices and the identity is
#                      feasible (global lane, same literal per row).
# Exact per-dim RMSEs + w_diag stay pinned by the numpy replay on
# emb_procrustes_align_full.
#
# Scale: BᵀA accumulates as partition-bounded d x d partials (the
# emb_pca gram contract); the SVD is a driver-side d x d solve;
# residuals come from one more bounded-partial pass. Nothing
# corpus-sized reaches one node.
# ---------------------------------------------------------------------------
_PROC_D = 64

_PROC_ORACLE = f"""
SELECT CAST(u.d AS INT) AS dim,
       (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
       TRUE AS col_norm_ok, TRUE AS w_diag_bounded_ok,
       TRUE AS total_resid_improved_ok
FROM range(0, {_PROC_D}) u(d)
"""


@register("emb_procrustes_align", oracle=_PROC_ORACLE)
def emb_procrustes_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    w, rb, ra, n_total = _procrustes_solve(spark, sf_dir)
    col_norms = np.sqrt((w * w).sum(axis=0))
    improved = bool(float(ra.sum())
                    <= float(rb.sum()) * (1.0 + 1e-9) + 1e-12)
    rows = [(i, int(n_total),
             bool(abs(float(col_norms[i]) - 1.0) <= 1e-8),
             bool(abs(float(w[i, i])) <= 1.0 + 1e-9),
             improved)
            for i in range(_PROC_D)]
    return local_frame(
        rows, "dim int, n_vectors bigint, col_norm_ok boolean, "
              "w_diag_bounded_ok boolean, total_resid_improved_ok boolean")


def emb_procrustes_align_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (dim, rmse_before, rmse_aligned, w_diag) rows — the
    pytest value-pin surface (the pre-round-11 registered output)."""
    import numpy as np

    w, rb, ra, n_total = _procrustes_solve(spark, sf_dir)
    rows = [(i, round(float(np.sqrt(rb[i] / n_total)), 6),
             round(float(np.sqrt(ra[i] / n_total)), 6),
             round(float(w[i, i]), 6))
            for i in range(_PROC_D)]
    return local_frame(
        rows, "dim int, rmse_before double, rmse_aligned double, "
              "w_diag double")


def _procrustes_solve(spark: SparkSession, sf_dir: str):
    """Shared solve: (W, per-dim SSE before, per-dim SSE aligned,
    n_vectors) — consumed by the registered lattice and the _full pin
    surface."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))

    def quantized(col):
        # B = round(x * 127/absmax) * absmax/127  (emb_quantize scheme)
        absmax = F.array_max(F.transform(col, lambda x: F.abs(x)))
        return F.transform(
            col, lambda x: (F.floor(x * (F.lit(127.0) / absmax) + F.lit(0.5))
                            * (absmax / F.lit(127.0))))

    ab = base.select("vec_id", F.col("v").alias("a"),
                     quantized(F.col("v")).alias("b"))

    # cross-covariance M = Aᵀ B via partition partials (d x d each):
    # min_W ||A W - B||_F over orthogonal W has W = U Vᵀ from SVD(AᵀB)
    def partials(batches):
        import pandas as pd
        m = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.vstack(pdf["a"].to_numpy())
            b = np.vstack(pdf["b"].to_numpy())
            mm = a.T @ b
            m = mm if m is None else m + mm
            n += len(pdf)
        if n:
            yield pd.DataFrame({"n": [n], "m": [m.reshape(-1).tolist()]})

    parts = sorted(
        ab.select("a", "b").mapInPandas(
            partials, "n long, m array<double>").collect(),
        key=lambda p: (p["n"], tuple(p["m"][:4])))
    d = _PROC_D
    m = np.sum([np.asarray(p["m"]) for p in parts], axis=0).reshape(d, d)
    u, _, vt = np.linalg.svd(m)
    w = u @ vt                      # the orthogonal aligner

    # per-dim residual before (||a_i - b_i||) vs after (||a w - b||)
    wlit = w.copy()

    def resid(batches):
        import pandas as pd
        rb = np.zeros(d)
        ra = np.zeros(d)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.vstack(pdf["a"].to_numpy())
            b = np.vstack(pdf["b"].to_numpy())
            rb += ((a - b) ** 2).sum(axis=0)
            ra += ((a @ wlit - b) ** 2).sum(axis=0)
            n += len(pdf)
        if n:
            yield pd.DataFrame({"n": [n], "rb": [rb.tolist()],
                                "ra": [ra.tolist()]})

    rparts = sorted(
        ab.select("a", "b").mapInPandas(
            resid, "n long, rb array<double>, ra array<double>").collect(),
        key=lambda p: (p["n"], tuple(p["rb"][:4])))
    n_total = sum(p["n"] for p in rparts)
    rb = np.sum([np.asarray(p["rb"]) for p in rparts], axis=0)
    ra = np.sum([np.asarray(p["ra"]) for p in rparts], axis=0)
    return w, rb, ra, n_total


# ---------------------------------------------------------------------------
# dp_packing_bestfit — best-fit-decreasing sequence packing per
# language shard, the quality-optimal counterpart to dp_pack's
# streaming contiguous bins (Johnson 1973: BFD wastes <= 11/9 OPT+1
# bins): docs sort by token count descending, each placed into the
# fullest open bin that still fits. The op reports per-shard bin
# efficiency vs dp_pack's so the packing-quality tradeoff is a number,
# not folklore.
#
# Scale: BFD is inherently sequential PER SHARD — each language runs
# inside one applyInPandas group (the ml_group_fit contract); shards
# are the parallel unit, as in every real packing pipeline. Bin state
# is a heap of open-bin remainders, O(bins) per shard.
#
# Oracle (round 8): the per-shard fold is ALL-INTEGER state, so a
# DuckDB recursive CTE replays it exactly — one doc per recursion
# level, bins carried as a BIGINT list, best-fit = first index of
# list_min(list_filter(bins, b -> b >= ntok)) (identical tie rule to
# the python loop's strict-< scan). Shards advance in lockstep and
# drop out of the recursion when exhausted; the pytest BFD-vs-
# contiguous bound check remains.
# ---------------------------------------------------------------------------
_BFD_ORACLE = f"""
WITH RECURSIVE
t AS (SELECT lang, doc_id, CAST(len({_TOKS}) AS BIGINT) AS ntok
      FROM documents),
r AS (SELECT lang, ntok,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY ntok DESC, doc_id) AS rn
      FROM t),
g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ntok) AS BIGINT) AS tot
      FROM t GROUP BY lang),
step AS (
  SELECT lang, CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS bins FROM g
  UNION ALL
  SELECT lang, i + 1,
         CASE WHEN fit IS NULL THEN list_append(bins, 2048 - ntok)
              ELSE list_transform(bins, (b, j) ->
                     CASE WHEN j = list_position(bins, fit)
                          THEN b - ntok ELSE b END)
         END AS bins
  FROM (
    SELECT s.lang, s.i, s.bins, x.ntok,
           list_min(list_filter(s.bins, b -> b >= x.ntok)) AS fit
    FROM step s JOIN r x ON x.lang = s.lang AND x.rn = s.i + 1
  )
),
fin AS (
  SELECT s.lang, s.bins FROM step s JOIN g ON s.lang = g.lang AND s.i = g.n
)
SELECT g.lang, g.n AS n_docs, g.tot AS total_tokens,
       CAST(len(f.bins) AS BIGINT) AS n_bins_bfd,
       round(CASE WHEN len(f.bins) = 0 THEN 0.0
                  ELSE g.tot * 1.0 / (len(f.bins) * 2048) END, 6)
         AS fill_ratio
FROM g JOIN fin f USING (lang)
"""


@register("dp_packing_bestfit", oracle=_BFD_ORACLE)
def dp_packing_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("lang", "doc_id",
                    F.size(tx.tokens(F.col("text"))).alias("ntok"))

    budget = 2048  # == dp_pack's _PACK_BUDGET

    def pack(pdf):
        pdf = pdf.sort_values(["ntok", "doc_id"],
                              ascending=[False, True])
        bins: list[int] = []        # remaining capacity per bin
        naive_bins = None
        n_docs = 0
        tokens = 0
        for ntok in pdf["ntok"]:
            n_docs += 1
            tokens += int(ntok)
            best, best_rem = -1, budget + 1
            for i, rem in enumerate(bins):
                if ntok <= rem < best_rem:
                    best, best_rem = i, rem
            if best >= 0:
                bins[best] -= int(ntok)
            else:
                bins.append(budget - int(ntok))
        n_bins = len(bins)
        fill = tokens / (n_bins * budget) if n_bins else 0.0
        return pd.DataFrame({
            "lang": [pdf["lang"].iloc[0]],
            "n_docs": [n_docs],
            "total_tokens": [tokens],
            "n_bins_bfd": [n_bins],
            "fill_ratio": [round(fill, 6)],
        })

    pack.__annotations__ = {"pdf": pd.DataFrame, "return": pd.DataFrame}
    return (t.groupBy("lang")
            .applyInPandas(pack, "lang string, n_docs long, "
                                 "total_tokens long, n_bins_bfd long, "
                                 "fill_ratio double"))


# ---------------------------------------------------------------------------
# dp_rendezvous_shards — rendezvous / highest-random-weight shard
# assignment (Thaler & Ravishankar 1998; the consistent-hashing
# building block distributed dedup and shard-stable reprocessing rely
# on): each doc goes to the shard with the max md5(doc, shard) weight,
# so adding shard N+1 moves only ~1/(N+1) of documents — unlike
# mod-N, which reshuffles almost everything. The op emits both the
# N-shard and (N+1)-shard assignments plus the per-doc moved flag, so
# the stability property is IN the verified output.
#
# Scale: pure map-side hash algebra — N+1 hashes per row, no shuffle.
# ---------------------------------------------------------------------------
_RVZ_N = 8

_RVZ_W = ("(('0x' || substr(md5('rvz:' || CAST({s} AS VARCHAR) || ':' "
          "|| CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)")


def _rvz_argmax_sql(n: int) -> str:
    structs = ", ".join(
        f"ROW({_RVZ_W.format(s=s)}, {s})" for s in range(n))
    # DuckDB: list_max over ROW(weight, shard) is lexicographic
    return f"list_max([{structs}])"


_RVZ_ORACLE = f"""
WITH a AS (
  SELECT doc_id,
         {_rvz_argmax_sql(_RVZ_N)} AS w8,
         {_rvz_argmax_sql(_RVZ_N + 1)} AS w9
  FROM documents
)
SELECT doc_id,
       CAST(w8[2] AS BIGINT) AS shard_n,
       CAST(w9[2] AS BIGINT) AS shard_n1,
       w8[2] <> w9[2] AS moved
FROM a
"""


@register("dp_rendezvous_shards", oracle=_RVZ_ORACLE)
def dp_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def weight(s: int):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"rvz:{s}:"),
                           F.col("doc_id").cast("string"))), 1, 15),
            16, 10).cast("bigint"))

    def argmax(n: int):
        return F.array_max(F.array(*[
            F.struct(weight(s).alias("w"), F.lit(s).alias("s"))
            for s in range(n)]))["s"].cast("bigint")

    return docs.select(
        "doc_id",
        argmax(_RVZ_N).alias("shard_n"),
        argmax(_RVZ_N + 1).alias("shard_n1")) \
        .withColumn("moved", F.col("shard_n") != F.col("shard_n1"))


# ---------------------------------------------------------------------------
# tx_heaps_fit — Heaps'-law vocabulary-growth fit (Heaps 1978; the
# companion diagnostic to tx_zipf_fit): distinct-vocabulary size V(n)
# vs cumulative token count n follows V = K n^beta; the op measures
# (n, V) at each document boundary in doc_id order — V(doc) counts
# token types whose FIRST corpus occurrence is at-or-before that doc —
# and fits (log K, beta) by OLS in log-log space with sorted-fold sums.
#
# Scale: first occurrences come from one (token -> min position) agg;
# the cumulative counts are two running sums over the doc_id order
# (the dp_pack window shape); the OLS runs over n_docs points via
# sorted folds.
# ---------------------------------------------------------------------------
_HEAPS_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
n_tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM t),
f2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new
       FROM (SELECT tok, min(doc_id) AS doc_id
             FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY tok)
       GROUP BY doc_id),
curve AS (
  SELECT n_tok.doc_id,
         SUM(n_tok.n) OVER (ORDER BY n_tok.doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         SUM(coalesce(f2.n_new, 0)) OVER (ORDER BY n_tok.doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_vocab
  FROM n_tok LEFT JOIN f2 ON n_tok.doc_id = f2.doc_id
),
pts AS (SELECT ln(CAST(cum_tokens AS DOUBLE)) AS x,
               ln(CAST(cum_vocab AS DOUBLE)) AS y FROM curve),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         list_aggregate(list_sort(list(x)), 'sum') AS sx,
         list_aggregate(list_sort(list(y)), 'sum') AS sy,
         list_aggregate(list_sort(list(x * y)), 'sum') AS sxy,
         list_aggregate(list_sort(list(x * x)), 'sum') AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
       round(exp((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n), 6) AS k
FROM s
"""


@register("tx_heaps_fit", oracle=_HEAPS_ORACLE)
def tx_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    n_tok = t.select("doc_id", F.size("toks").cast("bigint").alias("n"))
    f2 = (t.select("doc_id", F.explode("toks").alias("tok"))
          .groupBy("tok").agg(F.min("doc_id").alias("doc_id"))
          .groupBy("doc_id").agg(lcount("n_new")))
    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_global_window)

    # sharded prefix-sums along doc_id (range-shard + broadcast
    # carry-in) — the growth curve no longer needs a one-task sort;
    # the helper persists its input internally, so the two tokenize
    # pipelines behind the join run once (round-12 subtree lint)
    curve = sharded_global_window(
        n_tok.join(f2, "doc_id", "left")
        .select("doc_id", "n",
                F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new")),
        F.col("doc_id"), [F.asc("doc_id")],
        sums=[("n", "cum_tokens"), ("n_new", "cum_vocab")]
    ).select("cum_tokens", "cum_vocab")
    pts = curve.select(
        F.log(F.col("cum_tokens").cast("double")).alias("x"),
        F.log(F.col("cum_vocab").cast("double")).alias("y"))

    def fold(col):
        return F.aggregate(F.array_sort(F.collect_list(col)),
                           F.lit(0.0), lambda a, b: a + b)

    s = pts.agg(F.count(F.lit(1)).cast("double").alias("n"),
                fold(F.col("x")).alias("sx"), fold(F.col("y")).alias("sy"),
                fold(F.col("x") * F.col("y")).alias("sxy"),
                fold(F.col("x") * F.col("x")).alias("sxx"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return s.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("beta"),
        F.round(F.exp((F.col("sy") - slope * F.col("sx")) / F.col("n")), 6)
        .alias("k"))


# ---------------------------------------------------------------------------
# dd_sorted_neighborhood — the Sorted Neighborhood Method (Hernández &
# Stolfo, SIGMOD 1995), the second classic entity-resolution blocking
# family next to token/LSH blocking: records sort by a blocking key
# (here the first 3 normalized tokens), a window of _SNM_W consecutive
# records generates candidate pairs, and candidates verify by token
# Jaccard. Candidates per record are bounded by the window — the
# linear-cost alternative when key clustering is good.
#
# Scale: the global sort is a range-partitioned exchange (the
# dp_curriculum convention); the pair join is rank-banded
# (|rank_i - rank_j| < w), so each row joins to at most w-1 others.
# Verification hashes nothing corpus-wide — the join carries token
# arrays only inside the window band.
# ---------------------------------------------------------------------------
_SNM_W = 5
_SNM_T = 0.5

_SNM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks,
         array_to_string(list_slice({_TOKS}, 1, 3), ' ') AS bkey
  FROM documents
),
r AS (
  SELECT doc_id, toks,
         row_number() OVER (ORDER BY bkey, doc_id) AS rnk
  FROM t
),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j, a.toks AS ta, b.toks AS tb
  FROM r a JOIN r b
    ON b.rnk > a.rnk AND b.rnk < a.rnk + {_SNM_W}
)
SELECT i, j,
       round(CAST(len(list_intersect(ta, tb)) AS DOUBLE)
             / len(list_distinct(ta || tb)), 6) AS jaccard
FROM cand
WHERE CAST(len(list_intersect(ta, tb)) AS DOUBLE)
      / len(list_distinct(ta || tb)) >= {_SNM_T}
"""


@register("dd_sorted_neighborhood", oracle=_SNM_ORACLE)
def dd_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    t = docs.select("doc_id", toks.alias("toks"),
                    F.concat_ws(" ", F.slice(toks, 1, 3)).alias("bkey"))
    # classic SNM sharding: range-shard on the blocking key's 7-byte
    # prefix (order-preserving under UTF8_BINARY), per-shard rank +
    # broadcast count carry-in — the global sort is n_shards-way
    # parallel and the w=5 band never crosses one task's memory
    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_global_window, str_prefix_key)
    r = sharded_global_window(
        t, str_prefix_key("bkey"), [F.asc("bkey"), F.asc("doc_id")],
        rn="rnk").select("doc_id", "toks", "rnk")
    # EQUI-join formulation of the window: each left record explodes
    # into its w-1 partner ranks, so the join is a hash join on rnk
    # (replication factor w-1) — never a non-equi nested loop
    a = (r.select(F.col("doc_id").alias("i"), F.col("toks").alias("ta"),
                  F.explode(F.sequence(F.col("rnk") + 1,
                                       F.col("rnk") + _SNM_W - 1))
                  .alias("rnk")))
    b = r.select(F.col("doc_id").alias("j"), F.col("toks").alias("tb"),
                 "rnk")
    cand = a.join(b, "rnk")
    # set-semantics Jaccard over token arrays (duplicates collapse),
    # matching DuckDB's list_intersect/list_distinct
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size(F.array_distinct(F.concat("ta", "tb")))
    jac = inter / union
    return (cand.filter(jac >= _SNM_T)
            .select("i", "j", F.round(jac, 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# tx_burstiness — term burstiness via the variance-to-mean ratio of
# per-document counts (Church & Gale 1995: content words are bursty,
# function words are Poisson-like, so VMR separates them better than
# raw frequency): for the top-_BURST_V df terms, VMR over all docs
# (zeros included). Every moment is an exact integer sum over
# per-(term, doc) counts — no float folds anywhere before the final
# closed-form division.
#
# Scale: one (term, doc) count agg + a bounded broadcast term list;
# the zero-docs correction is algebra on the corpus doc count, not a
# dense zero-filled join.
# ---------------------------------------------------------------------------
_BURST_V = 20

_BURST_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
n_docs AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM t),
tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY term, doc_id
),
top AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
  FROM tf GROUP BY term
  ORDER BY count(*) DESC, term LIMIT {_BURST_V}
)
SELECT term, df,
       round(CAST(s1 AS DOUBLE) / (SELECT nd FROM n_docs), 6) AS mean_count,
       round((CAST(s2 AS DOUBLE) / (SELECT nd FROM n_docs)
              - (CAST(s1 AS DOUBLE) / (SELECT nd FROM n_docs))
                * (CAST(s1 AS DOUBLE) / (SELECT nd FROM n_docs)))
             / (CAST(s1 AS DOUBLE) / (SELECT nd FROM n_docs)), 6) AS vmr
FROM top
"""


@register("tx_burstiness", oracle=_BURST_ORACLE)
def tx_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    nd = t.count()  # bounded driver scalar (corpus doc count)
    tf = (t.select("doc_id", F.explode("toks").alias("term"))
          .groupBy("term", "doc_id").agg(lcount("c")))
    top = (tf.groupBy("term")
           .agg(lcount("df"),
                F.sum("c").cast("bigint").alias("s1"),
                F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"))
           .orderBy(F.desc("df"), F.asc("term")).limit(_BURST_V))
    mean = F.col("s1").cast("double") / F.lit(nd)
    return top.select(
        "term", "df", F.round(mean, 6).alias("mean_count"),
        F.round((F.col("s2").cast("double") / F.lit(nd) - mean * mean)
                / mean, 6).alias("vmr"))


# ---------------------------------------------------------------------------
# q_pareto_abc — ABC / Pareto revenue classification (the 80/15/5
# inventory-analysis classic): parts rank by total revenue, the
# decimal-exact running share assigns class A (first 80% of revenue),
# B (next 15%), C (tail). Cumulative sums run over the revenue-desc
# order — a range-partitioned global sort, with decimal-exact
# aggregation so the class boundaries are deterministic.
# ---------------------------------------------------------------------------
_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(8,4))
                           - CAST(l_discount AS DECIMAL(8,4)))), 4) * 10000
              AS BIGINT) AS r4
  FROM lineitem WHERE l_partkey < 500 GROUP BY l_partkey
),
tot AS (SELECT CAST(sum(r4) AS BIGINT) AS t FROM rev),
c AS (
  SELECT l_partkey, r4,
         CAST(SUM(r4) OVER (ORDER BY r4 DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM rev
)
SELECT l_partkey, r4 / 10000.0 AS revenue,
       round(CAST(cum AS DOUBLE) / (SELECT t FROM tot), 6) AS cum_share,
       CASE WHEN CAST(cum AS DOUBLE) / (SELECT t FROM tot) <= 0.80 THEN 'A'
            WHEN CAST(cum AS DOUBLE) / (SELECT t FROM tot) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
"""


@register("q_pareto_abc", oracle=_ABC_ORACLE)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import drate, dval

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 500)
    # revenue at scale 4 as exact bigint so cumsum/shares never drift
    rev = (li.groupBy("l_partkey")
           .agg(((F.round(F.sum(dval("l_extendedprice")
                                * (F.lit(1).cast("decimal(8,4)")
                                   - drate("l_discount"))), 4) * 10000)
                 .cast("bigint")).alias("r4")))
    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_global_window)

    # sharded prefix-sum down the revenue order + broadcast total —
    # filter-bounded today, but the idiom now scales past the filter
    c = sharded_global_window(
        rev, -F.col("r4"), [F.desc("r4"), F.asc("l_partkey")],
        sums=[("r4", "cum")], sum_totals=[("r4", "t")], nulls="last")
    share = F.col("cum").cast("double") / F.col("t")
    return (c
            .select("l_partkey",
                    (F.col("r4") / F.lit(10000.0)).alias("revenue"),
                    F.round(share, 6).alias("cum_share"),
                    F.when(share <= 0.80, "A")
                    .when(share <= 0.95, "B").otherwise("C")
                    .alias("abc_class")))


# ---------------------------------------------------------------------------
# q_market_basket — association rules over order baskets (Agrawal,
# Imielinski & Swami, SIGMOD 1993): for part pairs co-occurring in >=
# _MB_MINSUP orders, support / confidence / lift — the canonical
# basket-analysis triple. Pair generation is the co-occurrence
# self-join bounded by the basket (per-order distinct parts), never a
# catalog cross join; supports are exact integers, the three ratios
# are identical closed-form doubles.
# ---------------------------------------------------------------------------
_MB_MINSUP = 3

_MB_ORACLE = f"""
WITH co AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_partkey < 200
),
n_orders AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM co),
item AS (SELECT p, CAST(count(*) AS BIGINT) AS s FROM co GROUP BY p),
pair AS (
  SELECT a.p AS ante, b.p AS cons, CAST(count(*) AS BIGINT) AS s_ab
  FROM co a JOIN co b ON a.o = b.o AND a.p <> b.p
  GROUP BY a.p, b.p HAVING count(*) >= {_MB_MINSUP}
)
SELECT pair.ante, pair.cons, pair.s_ab,
       round(CAST(pair.s_ab AS DOUBLE) / (SELECT n FROM n_orders), 6)
         AS support,
       round(CAST(pair.s_ab AS DOUBLE) / ia.s, 6) AS confidence,
       round((CAST(pair.s_ab AS DOUBLE) / ia.s)
             / (CAST(ic.s AS DOUBLE) / (SELECT n FROM n_orders)), 6) AS lift
FROM pair JOIN item ia ON pair.ante = ia.p
          JOIN item ic ON pair.cons = ic.p
"""


@register("q_market_basket", oracle=_MB_ORACLE)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 200)
    co = persist(li.select(F.col("l_orderkey").alias("o"),
                           F.col("l_partkey").alias("p")).distinct())
    n_orders = co.select("o").distinct().count()  # bounded driver scalar
    item = co.groupBy("p").agg(lcount("s"))
    pair = (co.join(co.withColumnRenamed("p", "q"), "o")
            .filter(F.col("p") != F.col("q"))
            .groupBy(F.col("p").alias("ante"), F.col("q").alias("cons"))
            .agg(lcount("s_ab")).filter(F.col("s_ab") >= _MB_MINSUP))
    out = (pair
           .join(item.select(F.col("p").alias("ante"),
                             F.col("s").alias("sa")), "ante")
           .join(item.select(F.col("p").alias("cons"),
                             F.col("s").alias("sc")), "cons")
           .select("ante", "cons", "s_ab",
                   F.round(F.col("s_ab").cast("double") / F.lit(n_orders), 6)
                   .alias("support"),
                   F.round(F.col("s_ab").cast("double") / F.col("sa"), 6)
                   .alias("confidence"),
                   F.round((F.col("s_ab").cast("double") / F.col("sa"))
                           / (F.col("sc").cast("double") / F.lit(n_orders)),
                           6).alias("lift")))
    rows = out.collect()   # bounded: pairs over the filtered part domain
    co.unpersist()
    return local_frame(
        rows, "ante long, cons long, s_ab bigint, support double, "
              "confidence double, lift double")


# ---------------------------------------------------------------------------
# q_rfm_segmentation — RFM customer segmentation (Hughes 1994; the
# classic marketing rollup): per customer, Recency (days since last
# order), Frequency (order count), Monetary (decimal-exact total
# spend), each scored 1-5 by NTILE over the customer population, and
# the three digits concatenated into the segment code (555 = best).
# NTILE ties break on custkey, so segments are deterministic.
# ---------------------------------------------------------------------------
_RFM_ORACLE = """
WITH o AS (
  SELECT o_custkey,
         CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS last_us,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) / 10000.0 AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, last_us, freq, monetary,
         CAST(NTILE(5) OVER (ORDER BY last_us, o_custkey) AS BIGINT) AS r,
         CAST(NTILE(5) OVER (ORDER BY freq, o_custkey) AS BIGINT) AS f,
         CAST(NTILE(5) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m
  FROM o
)
SELECT o_custkey AS custkey, freq, monetary, r, f, m,
       CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
         AS rfm_code
FROM scored
"""


@register("q_rfm_segmentation", oracle=_RFM_ORACLE)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import _as_exact_double

    orders = load_table(spark, sf_dir, "orders")
    o = (orders.groupBy(F.col("o_custkey"))
         .agg(F.max(F.unix_micros("o_orderdate")).cast("bigint")
              .alias("last_us"),
              lcount("freq"),
              _as_exact_double(
                  F.sum(F.col("o_totalprice").cast("decimal(18,4)")))
              .alias("monetary")))
    from sanctions_data_pipeline_spark.plans.helpers import sharded_ntile

    # three sharded NTILE(5)s, one per RFM axis — each a range-shard +
    # per-shard rank + broadcast count carry-in, never a one-task sort.
    # Persist the per-customer rollup first: each ntile runs a
    # key-bounds job, and without the persist each bounds job would
    # re-execute the orders aggregation plus every preceding ntile.
    # The returned plan reads it 8x, lazily (see query_scope).
    o = persist(o)
    # ONE bounds job for all three axes (round-12): each chained ntile
    # used to run its own min/max job over the cached frame (3 jobs);
    # min/max of every key ride a single agg and thread through via
    # ``bounds``. All three keys are columns of `o` itself, so bounds
    # computed here are valid for every call in the chain.
    b = o.agg(*[f(F.col(c).cast("double"))
                for c in ("last_us", "freq", "monetary")
                for f in (F.min, F.max)]).first()
    q = sharded_ntile(o, F.col("last_us"),
                      [F.asc("last_us"), F.asc("o_custkey")], 5, "r",
                      bounds=(b[0], b[1]))
    q = sharded_ntile(q, F.col("freq"),
                      [F.asc("freq"), F.asc("o_custkey")], 5, "f",
                      bounds=(b[2], b[3]))
    q = sharded_ntile(q, F.col("monetary"),
                      [F.asc("monetary"), F.asc("o_custkey")], 5, "m",
                      bounds=(b[4], b[5]))
    scored = q.select(F.col("o_custkey").alias("custkey"), "freq",
                      "monetary", "r", "f", "m")
    return scored.withColumn(
        "rfm_code", F.concat(F.col("r").cast("string"),
                             F.col("f").cast("string"),
                             F.col("m").cast("string")))


# ---------------------------------------------------------------------------
# q_cohort_ltv — cohort lifetime-value matrix (the growth-analytics
# rollup next to q_retention's counts): customers cohort by FIRST-order
# month; each cell (cohort_month, months_since) carries that cohort's
# decimal-exact revenue in that month plus the running cumulative LTV
# along the cohort row. months_since is exact calendar arithmetic, the
# cumulative is a window over the (small) cohort x month lattice.
# ---------------------------------------------------------------------------
_LTV_ORACLE = """
WITH first AS (
  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
  FROM orders GROUP BY o_custkey
),
cell AS (
  SELECT strftime(f.cohort, '%Y-%m') AS cohort_month,
         CAST((date_part('year', o.o_orderdate)
               - date_part('year', f.cohort)) * 12
              + (date_part('month', o.o_orderdate)
                 - date_part('month', f.cohort)) AS BIGINT) AS months_since,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS rev4
  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
)
SELECT cohort_month, months_since, n_orders,
       rev4 / 10000.0 AS revenue,
       CAST(SUM(rev4) OVER (PARTITION BY cohort_month ORDER BY months_since
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) / 10000.0
         AS cum_ltv
FROM cell
"""


@register("q_cohort_ltv", oracle=_LTV_ORACLE)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    first = (orders.groupBy("o_custkey")
             .agg(F.date_trunc("month", F.min("o_orderdate"))
                  .alias("cohort")))
    cell = (orders.join(first, "o_custkey")
            .groupBy(
                F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
                ((F.year("o_orderdate") - F.year("cohort")) * 12
                 + (F.month("o_orderdate") - F.month("cohort")))
                .cast("bigint").alias("months_since"))
            .agg(lcount("n_orders"),
                 (F.round(F.sum(F.col("o_totalprice")
                                .cast("decimal(18,4)")), 4) * 10000)
                 .cast("bigint").alias("rev4")))
    w = (W.partitionBy("cohort_month").orderBy("months_since")
         .rowsBetween(W.unboundedPreceding, 0))
    return cell.select(
        "cohort_month", "months_since", "n_orders",
        (F.col("rev4") / F.lit(10000.0)).alias("revenue"),
        (F.sum("rev4").over(w).cast("bigint") / F.lit(10000.0))
        .alias("cum_ltv"))


# ---------------------------------------------------------------------------
# gr_local_clustering — local clustering coefficient per node
# (Watts & Strogatz, Nature 1998): 2*triangles(v) / (d(v)(d(v)-1)) —
# the per-node closure density behind the small-world diagnostic.
# Triangles reuse gr_triangle_count's edge-iterator shape (oriented
# wedges closed against the edge list; (long,long) shuffles only);
# degrees come from the undirected edge list.
# ---------------------------------------------------------------------------
_LCC_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_orderkey < 2000
), e0 AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0
  ) GROUP BY node
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e0 e1 JOIN e0 e2 ON e1.v = e2.u
  JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v
), tcnt AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT a AS node FROM tri UNION ALL
        SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY node
)
SELECT deg.node, deg.d, CAST(coalesce(tcnt.t, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN deg.d >= 2
                  THEN 2.0 * coalesce(tcnt.t, 0) / (deg.d * (deg.d - 1))
                  ELSE 0.0 END, 6) AS lcc
FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
"""


@register("gr_local_clustering", oracle=_LCC_ORACLE)
def gr_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 2000)
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct())
    e0 = persist(li.select("o", F.col("p").alias("u"))
                 .join(li.select("o", F.col("p").alias("v")), "o")
                 .filter(F.col("u") < F.col("v"))
                 .select("u", "v").distinct())
    deg = (e0.select(F.col("u").alias("node"))
           .union(e0.select(F.col("v").alias("node")))
           .groupBy("node").agg(lcount("d")))
    tri = (e0.alias("e1")
           .join(e0.alias("e2"), F.col("e1.v") == F.col("e2.u"))
           .join(e0.alias("e3"), (F.col("e3.u") == F.col("e1.u"))
                 & (F.col("e3.v") == F.col("e2.v")))
           .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"),
                   F.col("e2.v").alias("c")))
    tcnt = (tri.select(F.col("a").alias("node"))
            .union(tri.select("b")).union(tri.select("c"))
            .groupBy("node").agg(lcount("t")))
    out = (deg.join(tcnt, "node", "left")
           .select("node", "d",
                   F.coalesce(F.col("t"), F.lit(0)).cast("bigint")
                   .alias("n_triangles"),
                   F.round(F.when(F.col("d") >= 2,
                                  F.lit(2.0) * F.coalesce(F.col("t"),
                                                          F.lit(0))
                                  / (F.col("d") * (F.col("d") - 1)))
                           .otherwise(0.0), 6).alias("lcc")))
    rows = out.collect()   # bounded by the part domain in the filter
    e0.unpersist()
    return local_frame(
        rows, "node long, d bigint, n_triangles bigint, lcc double")


# ---------------------------------------------------------------------------
# q_cep_pattern — complex-event pattern matching (the MATCH_RECOGNIZE
# shape Spark SQL lacks, re-expressed as window composition — the
# "compose existing DataFrame ops" path for a missing operator): per
# user, find error -> purchase sequences where the purchase lands
# within 30 minutes of the error AND no signup intervenes. The three
# clauses become: lead-scan for the next purchase, a filtered lag-scan
# for the next signup, and the interval predicate.
#
# Scale: everything partitions by user_id (one shuffle); each
# partition sorts only its own user's events — the CEP state machine
# never materializes, only the two next-event pointers.
# ---------------------------------------------------------------------------
_CEP_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         epoch_us(ts) AS ts_us
  FROM events WHERE event_type IN ('error', 'purchase', 'signup')
),
nxt AS (
  SELECT user_id, ts_us, event_id, event_type,
         MIN(CASE WHEN event_type = 'purchase' THEN ts_us END)
           OVER w AS next_purchase_us,
         MIN(CASE WHEN event_type = 'signup' THEN ts_us END)
           OVER w AS next_signup_us
  FROM seq
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, event_id AS error_event_id, ts_us AS error_ts_us,
       CAST(next_purchase_us AS BIGINT) AS purchase_ts_us,
       CAST(next_purchase_us - ts_us AS BIGINT) AS delay_us
FROM nxt
WHERE event_type = 'error'
  AND next_purchase_us IS NOT NULL
  AND next_purchase_us - ts_us <= 1800000000
  AND (next_signup_us IS NULL OR next_signup_us > next_purchase_us)
"""


@register("q_cep_pattern", oracle=_CEP_ORACLE)
def q_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("error", "purchase", "signup"))
          .select("user_id", F.unix_micros("ts").alias("ts_us"),
                  "event_id", "event_type"))
    w = (W.partitionBy("user_id").orderBy("ts_us", "event_id")
         .rowsBetween(1, W.unboundedFollowing))
    nxt = ev.select(
        "user_id", "ts_us", "event_id", "event_type",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us")))
        .over(w).alias("next_purchase_us"),
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us")))
        .over(w).alias("next_signup_us"))
    return (nxt.filter(
        (F.col("event_type") == "error")
        & F.col("next_purchase_us").isNotNull()
        & (F.col("next_purchase_us") - F.col("ts_us") <= 1_800_000_000)
        & (F.col("next_signup_us").isNull()
           | (F.col("next_signup_us") > F.col("next_purchase_us"))))
        .select("user_id", F.col("event_id").alias("error_event_id"),
                F.col("ts_us").alias("error_ts_us"),
                F.col("next_purchase_us").cast("bigint")
                .alias("purchase_ts_us"),
                (F.col("next_purchase_us") - F.col("ts_us")).cast("bigint")
                .alias("delay_us")))


# ---------------------------------------------------------------------------
# q_skyline — skyline / Pareto-dominance query (Börzsönyi ICDE 2001):
# parts not dominated in (retailprice low, size high) — no other part
# is at-most-equal price AND at-least-equal size with one strict. The
# registry form is the block-nested anti-join over a filtered domain;
# at catalog scale the standard refinement is sort-filter-skyline
# (presort by one dimension, prune against the running frontier).
# Decimal-exact price comparisons keep dominance deterministic.
# ---------------------------------------------------------------------------
_SKY_ORACLE = """
WITH p AS (
  SELECT p_partkey, CAST(p_retailprice AS DECIMAL(18,4)) AS price,
         CAST(p_size AS BIGINT) AS size
  FROM part WHERE p_partkey < 400
)
SELECT a.p_partkey,
       CAST(ROUND(a.price, 4) * 10000 AS BIGINT) / 10000.0 AS price,
       a.size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.price <= a.price AND b.size >= a.size
    AND (b.price < a.price OR b.size > a.size)
)
"""


@register("q_skyline", oracle=_SKY_ORACLE)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sanctions_data_pipeline_spark.plans.helpers import _as_exact_double

    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_partkey") < 400)
         .select("p_partkey",
                 F.col("p_retailprice").cast("decimal(18,4)").alias("price"),
                 F.col("p_size").cast("bigint").alias("size")))
    b = p.select(F.col("price").alias("bp"), F.col("size").alias("bs"))
    dominated = p.join(
        F.broadcast(b),
        (F.col("bp") <= F.col("price")) & (F.col("bs") >= F.col("size"))
        & ((F.col("bp") < F.col("price")) | (F.col("bs") > F.col("size"))),
        "leftsemi")
    sky = p.join(dominated.select("p_partkey"), "p_partkey", "leftanti")
    return sky.select("p_partkey",
                      _as_exact_double(F.col("price")).alias("price"),
                      "size")


# ---------------------------------------------------------------------------
# q_path_analysis — top user paths through the product (the classic
# product-analytics "path mining" rollup): per 30-min session, the
# ordered sequence of its first 5 event types joins into a path
# string; paths count corpus-wide. Ordering inside a group is made
# deterministic by sorting (ts, event_id, type) STRUCTS after
# collect_list — never relying on array_agg order, which neither
# engine guarantees.
#
# Scale: sessionization windows partition by user_id; the path agg
# carries one short string per session; the final count is a tiny
# grouped agg.
# ---------------------------------------------------------------------------
_PATH_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                   OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), paths AS (
  SELECT user_id, sid,
         array_to_string(
           list_transform(
             list_slice(list_sort(list(ROW(epoch_us(ts), event_id,
                                           event_type))), 1, 5),
             x -> x[3]), '>') AS path
  FROM sessions GROUP BY user_id, sid
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
"""


@register("q_path_analysis", oracle=_PATH_ORACLE)
def q_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull()
               | (F.unix_micros(F.col("ts"))
                  - F.unix_micros(F.lag("ts").over(w)) > 1_800_000_000),
               1).otherwise(0))
    sessions = flagged.withColumn(
        "sid", F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, 0)))
    path = F.concat_ws(">", F.transform(
        F.slice(F.array_sort(F.collect_list(
            F.struct(F.unix_micros("ts").alias("t"),
                     F.col("event_id").alias("e"),
                     F.col("event_type").alias("y")))), 1, 5),
        lambda x: x["y"]))
    paths = (sessions.groupBy("user_id", "sid")
             .agg(path.alias("path")))
    return paths.groupBy("path").agg(lcount("n_sessions"))


# ---------------------------------------------------------------------------
# q_cusum_changepoint — CUSUM changepoint detection (Page, Biometrika
# 1954) over the daily event-count series: S_t = max(0, S_{t-1} + x_t
# - mean - slack), alarm when S_t > h. The recursion has the exact
# closed form S_t = P_t - min_{0<=j<=t} P_j with P_t the prefix sum of
# (x - mean - k) — so it runs as windows over the bounded calendar-day
# series (NO driver loop, no collect) and the oracle replays the same
# prefix-sum/running-min expression tree verbatim: P_t derives from
# the EXACT bigint running sum (P_t = cum_x - t*(mean+k)), so every
# double is one identical IEEE tree on both engines. The pytest replay
# pins BOTH this closed form (exactly) and the original recursion
# (within float tolerance).
#
# Scale: the corpus-wide work is one map-side date_trunc + count agg;
# the window input is |days| rows regardless of event volume.
# ---------------------------------------------------------------------------
_CUSUM_SLACK = 0.5   # slack k, in stddev units
_CUSUM_H = 4.0       # alarm threshold, in stddev units

_CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(n) AS BIGINT) AS sx,
         CAST(sum(n * n) AS BIGINT) AS sxx
  FROM daily
),
par AS (
  SELECT CAST(sx AS DOUBLE) / nd AS mean,
         CASE WHEN sqrt(greatest(CAST(sxx AS DOUBLE) / nd
                  - (CAST(sx AS DOUBLE) / nd) * (CAST(sx AS DOUBLE) / nd),
                  0.0)) = 0.0 THEN 1.0
              ELSE sqrt(greatest(CAST(sxx AS DOUBLE) / nd
                  - (CAST(sx AS DOUBLE) / nd) * (CAST(sx AS DOUBLE) / nd),
                  0.0)) END AS sd
  FROM st
),
cum AS (
  SELECT day, n,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
         CAST(sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cx
  FROM daily
),
p AS (
  SELECT day, n, mean, sd,
         CAST(cx AS DOUBLE) - i * (mean + {_CUSUM_SLACK} * sd) AS ph,
         -CAST(cx AS DOUBLE) + i * (mean - {_CUSUM_SLACK} * sd) AS pl
  FROM cum, par
),
m AS (
  SELECT day, n, sd,
         ph - least(0.0, min(ph) OVER (ORDER BY day
                                       ROWS UNBOUNDED PRECEDING)) AS sh,
         pl - least(0.0, min(pl) OVER (ORDER BY day
                                       ROWS UNBOUNDED PRECEDING)) AS sl
  FROM p
)
SELECT day, n AS n_events,
       {sql_pround6("sh / sd")} AS cusum_hi,
       {sql_pround6("sl / sd")} AS cusum_lo,
       CAST(CASE WHEN sh > {_CUSUM_H} * sd OR sl > {_CUSUM_H} * sd
                 THEN 1 ELSE 0 END AS BIGINT) AS alarm
FROM m
"""


@register("q_cusum_changepoint", oracle=_CUSUM_ORACLE)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"),
                                      "yyyy-MM-dd").alias("day"))
             .agg(lcount("n")))
    st = daily.agg(F.count(F.lit(1)).cast("bigint").alias("nd"),
                   F.sum("n").cast("bigint").alias("sx"),
                   F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sxx"))
    mean = F.col("sx").cast("double") / F.col("nd")
    var = F.greatest(F.col("sxx").cast("double") / F.col("nd") - mean * mean,
                     F.lit(0.0))
    sd0 = F.sqrt(var)
    par = st.select(mean.alias("mean"),
                    F.when(sd0 == 0.0, 1.0).otherwise(sd0).alias("sd"))
    wday = W.orderBy("day")      # bounded: one row per calendar day
    cum = daily.select(
        "day", "n",
        F.row_number().over(wday).cast("bigint").alias("i"),
        F.sum("n").over(wday.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint").alias("cx"))
    p = cum.crossJoin(F.broadcast(par)).select(
        "day", "n", "mean", "sd",
        (F.col("cx").cast("double")
         - F.col("i") * (F.col("mean") + _CUSUM_SLACK * F.col("sd")))
        .alias("ph"),
        (-F.col("cx").cast("double")
         + F.col("i") * (F.col("mean") - _CUSUM_SLACK * F.col("sd")))
        .alias("pl"))
    wmin = wday.rowsBetween(W.unboundedPreceding, 0)
    m = p.select(
        "day", "n", "sd",
        (F.col("ph") - F.least(F.lit(0.0), F.min("ph").over(wmin)))
        .alias("sh"),
        (F.col("pl") - F.least(F.lit(0.0), F.min("pl").over(wmin)))
        .alias("sl"))
    return m.select(
        "day", F.col("n").alias("n_events"),
        pround6(F.col("sh") / F.col("sd")).alias("cusum_hi"),
        pround6(F.col("sl") / F.col("sd")).alias("cusum_lo"),
        F.when((F.col("sh") > _CUSUM_H * F.col("sd"))
               | (F.col("sl") > _CUSUM_H * F.col("sd")), 1).otherwise(0)
        .cast("bigint").alias("alarm"))


# ---------------------------------------------------------------------------
# sim_ndcg_eval — nDCG@10 ranking quality (Järvelin & Kekäläinen,
# TOIS 2002) of the BM25 ranking per query term, with graded relevance
# = raw term frequency: DCG = sum rel_i / log2(i + 1) over the BM25
# order, IDCG over the relevance-ideal order, nDCG their ratio — the
# standard IR eval next to sim_recall_eval's recall@k.
#
# Cross-engine float rule: both DCG sums are sorted sequential folds
# over <= 10 terms (the gain values sort identically on both engines),
# log2 on exact integers, one final division rounded 6dp.
# ---------------------------------------------------------------------------
_NDCG_K = 10

_NDCG_ORACLE = _BM25_BASE + f"""
, ranked AS (
  SELECT term, doc_id, tf,
         ROW_NUMBER() OVER (PARTITION BY term
                            ORDER BY bm25 DESC, doc_id) AS rnk
  FROM scored
),
dcg AS (
  SELECT term,
         list_aggregate(list_sort(list(CAST(tf AS DOUBLE)
             / (ln(rnk + 1.0) / ln(2.0)))), 'sum') AS dcg
  FROM ranked WHERE rnk <= {_NDCG_K} GROUP BY term
),
ideal AS (
  SELECT term, doc_id, tf,
         ROW_NUMBER() OVER (PARTITION BY term
                            ORDER BY tf DESC, doc_id) AS irnk
  FROM scored
),
idcg AS (
  SELECT term,
         list_aggregate(list_sort(list(CAST(tf AS DOUBLE)
             / (ln(irnk + 1.0) / ln(2.0)))), 'sum') AS idcg
  FROM ideal WHERE irnk <= {_NDCG_K} GROUP BY term
)
SELECT dcg.term, round(dcg.dcg, 6) AS dcg, round(idcg.idcg, 6) AS idcg,
       round(dcg.dcg / idcg.idcg, 6) AS ndcg
FROM dcg JOIN idcg ON dcg.term = idcg.term
"""


@register("sim_ndcg_eval", oracle=_NDCG_ORACLE)
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _bm25_scored(spark, sf_dir)

    def fold(col):
        return F.aggregate(F.array_sort(F.collect_list(col)),
                           F.lit(0.0), lambda a, b: a + b)

    def gain(rank_col):
        return (F.col("tf").cast("double")
                / (F.log(rank_col + F.lit(1.0)) / F.log(F.lit(2.0))))

    wb = W.partitionBy("term").orderBy(F.desc("bm25"), F.asc("doc_id"))
    wi = W.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    ranked = scored.withColumn("rnk", F.row_number().over(wb))
    ideal = scored.withColumn("irnk", F.row_number().over(wi))
    dcg = (ranked.filter(F.col("rnk") <= _NDCG_K)
           .groupBy("term").agg(fold(gain(F.col("rnk"))).alias("dcg")))
    idcg = (ideal.filter(F.col("irnk") <= _NDCG_K)
            .groupBy("term").agg(fold(gain(F.col("irnk"))).alias("idcg")))
    return (dcg.join(idcg, "term")
            .select("term", F.round("dcg", 6).alias("dcg"),
                    F.round("idcg", 6).alias("idcg"),
                    F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg")))


# ---------------------------------------------------------------------------
# q_holt_forecast — Holt's linear exponential smoothing (Holt 1957)
# over the daily event-count series, plus a 7-day-ahead forecast:
# level/trend recursions l_t = a x_t + (1-a)(l + b),
# b_t = g(l_t - l) + (1-g) b. Like q_cusum_changepoint, the recursion
# is sequential over the CALENDAR-bounded day series (one fold over
# |days| values; the corpus-wide work is the map-side daily count agg).
#
# Oracled (round-7 conversion): DuckDB replays the identical recursion
# as a WITH RECURSIVE walk over the day-ordered series. Bit-identical
# doubles hold because both engines evaluate the SAME IEEE expression
# tree in the same order — including the deliberately-unsimplified
# (1 - 0.5) and (1 - 0.3) factors, which must stay as written: Python
# computes 1 - 0.3 = 0.7000000000000000444..., one ulp away from the
# double the literal 0.7 parses to (the fold_pagerank teleport lesson).
# Rounding happens in the ENGINES (F.round / round), not in Python
# (python round is half-even; the engines' are half-up-compatible).
# ---------------------------------------------------------------------------
_HOLT_ALPHA = 0.5
_HOLT_GAMMA = 0.3
_HOLT_HORIZON = 7

_HOLT_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
ord AS (SELECT day, n, row_number() OVER (ORDER BY day) AS rn FROM daily),
init AS (
  SELECT CAST((SELECT n FROM ord WHERE rn = 1) AS DOUBLE) AS l0,
         coalesce(CAST((SELECT n FROM ord WHERE rn = 2) AS DOUBLE)
                  - CAST((SELECT n FROM ord WHERE rn = 1) AS DOUBLE),
                  0.0) AS b0
),
rec AS (
  SELECT o.rn, o.day, o.n,
         {_HOLT_ALPHA} * o.n + (1 - {_HOLT_ALPHA}) * (i.l0 + i.b0) AS level,
         {_HOLT_GAMMA} * ({_HOLT_ALPHA} * o.n
                          + (1 - {_HOLT_ALPHA}) * (i.l0 + i.b0) - i.l0)
           + (1 - {_HOLT_GAMMA}) * i.b0 AS trend
  FROM ord o, init i WHERE o.rn = 1
  UNION ALL
  SELECT o.rn, o.day, o.n,
         {_HOLT_ALPHA} * o.n + (1 - {_HOLT_ALPHA}) * (r.level + r.trend),
         {_HOLT_GAMMA} * ({_HOLT_ALPHA} * o.n
                          + (1 - {_HOLT_ALPHA}) * (r.level + r.trend)
                          - r.level)
           + (1 - {_HOLT_GAMMA}) * r.trend
  FROM rec r JOIN ord o ON o.rn = r.rn + 1
),
last AS (SELECT day, level, trend FROM rec ORDER BY rn DESC LIMIT 1)
SELECT day, n AS n_events, round(level, 6) AS level,
       round(trend, 6) AS trend, round(level + trend, 6) AS forecast,
       FALSE AS is_future
FROM rec
UNION ALL
SELECT strftime(CAST(l.day AS DATE) + CAST(h.h AS INTEGER), '%Y-%m-%d'),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       round(l.level + h.h * l.trend, 6), TRUE
FROM (SELECT unnest(range(1, {_HOLT_HORIZON + 1})) AS h) h, last l
"""


@register("q_holt_forecast", oracle=_HOLT_ORACLE)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"),
                                      "yyyy-MM-dd").alias("day"))
             .agg(lcount("n")))
    days = (daily.agg(F.array_sort(F.collect_list(
        F.struct(F.col("day").alias("d"), F.col("n").alias("n")))))
        .collect()[0][0])     # bounded: one row per calendar day
    _HOLT_SCHEMA = ("day string, n_events bigint, level double, "
                    "trend double, forecast double, is_future boolean")
    if not days:              # empty events table -> empty result, same schema
        return local_frame([], _HOLT_SCHEMA)
    a, g = _HOLT_ALPHA, _HOLT_GAMMA
    xs = [int(r["n"]) for r in days]
    level, trend = float(xs[0]), float(xs[1] - xs[0]) if len(xs) > 1 else 0.0
    rows = []
    for r, x in zip(days, xs):
        prev_l, prev_b = level, trend
        level = a * x + (1 - a) * (prev_l + prev_b)
        trend = g * (level - prev_l) + (1 - g) * prev_b
        rows.append((r["d"], x, level, trend, level + trend, False))
    import datetime as dt
    last = dt.date.fromisoformat(days[-1]["d"])
    for hstep in range(1, _HOLT_HORIZON + 1):
        rows.append(((last + dt.timedelta(days=hstep)).isoformat(),
                     None, None, None, level + hstep * trend, True))
    raw = local_frame(rows, _HOLT_SCHEMA)
    # round ENGINE-side (F.round): python round() is half-even and can
    # diverge from DuckDB's round at exact 6dp .5 ties
    return raw.select(
        "day", "n_events", F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"), "is_future")


# ---------------------------------------------------------------------------
# emb_isotropy — embedding isotropy measurement + the All-but-the-Top
# correction (Mu & Viswanath, ICLR 2018): anisotropic embeddings
# concentrate along a few directions, hurting cosine retrieval; the
# fix removes the mean and the top-D principal directions. The op
# reports the isotropy proxy min|Z|/max|Z| over eigenvector probes
# before and after the correction (1.0 = perfectly isotropic).
#
# Oracle contract (round 10, the tok_fertility invariant-lane
# pattern): the eigendecomposition has no SQL twin, so the registered
# single-row output carries the exact vector-count lane plus the
# chain's REAL theorems as booleans stated as literals:
#   abtt_improved_ok  removing the mean + top-D directions must not
#                     WORSEN the isotropy proxy (the Mu & Viswanath
#                     claim — a broken projector or eigen-sort flips
#                     it),
#   ratios_valid_ok   both proxies are genuine min/max ratios in
#                     (0, 1],
#   eig_share_valid_ok the top eigenvalue's share of the trace lies
#                     in (0, 1].
# Exact proxy values stay pinned by the numpy replay on
# emb_isotropy_full.
#
# Scale: two gram passes (the emb_pca partition-partial contract) +
# one map pass applying the bounded d x D projector; partition
# function probes evaluate on the d x d eigenbasis driver-side.
# ---------------------------------------------------------------------------
_ISO_TOP_D = 2

_ISO_ORACLE = f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
       CAST({_ISO_TOP_D} AS INT) AS top_d,
       TRUE AS abtt_improved_ok, TRUE AS ratios_valid_ok,
       TRUE AS eig_share_valid_ok
"""


@register("emb_isotropy", oracle=_ISO_ORACLE)
def emb_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = emb_isotropy_full(spark, sf_dir).collect()[0]
    rows = [(r.n_vectors, r.top_d,
             bool(r.isotropy_after >= r.isotropy_before - 1e-6),
             bool(0.0 < r.isotropy_before <= 1.0
                  and 0.0 < r.isotropy_after <= 1.0),
             bool(0.0 < r.top_eig_share <= 1.0))]
    return local_frame(
        rows, "n_vectors bigint, top_d int, abtt_improved_ok boolean, "
              "ratios_valid_ok boolean, eig_share_valid_ok boolean")


def emb_isotropy_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proxy values — the pytest value-pin surface (the
    pre-round-10 registered output)."""
    import numpy as np

    from sanctions_data_pipeline_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
    n, mu, cov = pca._combined_moments(base, col="v")
    lam, vecs = np.linalg.eigh(cov)            # ascending

    def iso(mean, second_moment):
        # |Z(c)| proxy per unit eigenvector c: sqrt of E[(c·x)^2]
        # (the quadratic term of the partition function; exact from the
        # gram moments, no sampling)
        z = np.sqrt(np.maximum(
            np.einsum("ij,jk,ki->i", vecs.T, second_moment, vecs), 1e-12))
        return float(z.min() / z.max())

    second = cov + np.outer(mu, mu)            # E[xxᵀ]
    before = iso(mu, second)
    # ABTT: remove mean, project out the top-D eigendirections
    top = vecs[:, -_ISO_TOP_D:]                # d x D
    proj = np.eye(len(mu)) - top @ top.T
    # corrected second moment: P (E[xxᵀ] - mu muᵀ) Pᵀ  (mean removed)
    second_after = proj @ cov @ proj.T
    z_after = np.sqrt(np.maximum(
        np.einsum("ij,jk,ki->i", vecs.T, second_after, vecs), 1e-12))
    # exclude the nulled top-D directions from the after-ratio
    keep = z_after[np.argsort(z_after)[_ISO_TOP_D:]]
    after = float(keep.min() / keep.max())
    rows = [(int(n), _ISO_TOP_D, round(before, 6), round(after, 6),
             round(float(lam[-1] / max(lam.sum(), 1e-12)), 6))]
    return local_frame(
        rows, "n_vectors bigint, top_d int, isotropy_before double, "
              "isotropy_after double, top_eig_share double")


# ---------------------------------------------------------------------------
# q_ab_ztest — two-proportion z-test with an A/A calibration framing:
# users hash-split deterministically into two arms (the tt_split md5
# idiom on user_id), conversion = "more than 13 purchase events" (a median split,
# so neither arm saturates); the z
# statistic compares arm conversion rates. Because the split is
# random-by-hash, this IS an A/A test — |z| should be small, and a
# pipeline whose A/A z-stats blow up has a broken bucketing or
# logging path. All inputs exact integers; z is one closed-form
# double tree both engines share.
# ---------------------------------------------------------------------------
_AB_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
              ::BIGINT % 2 AS BIGINT) AS arm,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   > 13 THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
s AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM u GROUP BY arm
),
w AS (
  SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
         max(CASE WHEN arm = 0 THEN conv END) AS c0,
         max(CASE WHEN arm = 1 THEN n END) AS n1,
         max(CASE WHEN arm = 1 THEN conv END) AS c1
  FROM s
)
SELECT n0, c0, n1, c1,
       round(CAST(c0 AS DOUBLE) / n0, 6) AS rate0,
       round(CAST(c1 AS DOUBLE) / n1, 6) AS rate1,
       round((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z_stat
FROM w
"""


@register("q_ab_ztest", oracle=_AB_ORACLE)
def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm = (F.conv(F.substring(F.md5(F.concat(F.lit("ab:"),
                                             F.col("user_id").cast("string"))),
                              1, 8), 16, 10).cast("bigint") % 2)
    u = (ev.groupBy("user_id")
         .agg(F.when(F.sum(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)) > 13, 1).otherwise(0)
              .alias("converted"))
         .withColumn("arm", arm))
    s = u.groupBy("arm").agg(lcount("n"),
                             F.sum("converted").cast("bigint").alias("conv"))
    w = s.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"))
    p = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0")
                                                      + F.col("n1"))
    z = ((F.col("c0").cast("double") / F.col("n0")
          - F.col("c1").cast("double") / F.col("n1"))
         / F.sqrt(p * (F.lit(1.0) - p)
                  * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))))
    return w.select(
        "n0", "c0", "n1", "c1",
        F.round(F.col("c0").cast("double") / F.col("n0"), 6).alias("rate0"),
        F.round(F.col("c1").cast("double") / F.col("n1"), 6).alias("rate1"),
        F.round(z, 6).alias("z_stat"))


# ---------------------------------------------------------------------------
# q_dormancy_reactivation — dormant-user reactivation analytics (the
# lifecycle rollup next to q_retention / q_funnel_ttc): an event
# REACTIVATES its user when the gap since their previous event exceeds
# 7 days; per user, the reactivation count and the longest dormancy in
# exact integer hours. Windows partition by user_id.
# ---------------------------------------------------------------------------
_DORMANT_US = 7 * 86_400_000_000

_DORM_ORACLE = f"""
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN gap_us > {_DORMANT_US} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_reactivations,
       CAST(floor(coalesce(max(gap_us), 0) / 3600000000.0) AS BIGINT)
         AS max_gap_hours
FROM g GROUP BY user_id
"""


@register("q_dormancy_reactivation", oracle=_DORM_ORACLE)
def q_dormancy_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w))
        .alias("gap_us"))
    return (g.groupBy("user_id")
            .agg(lcount("n_events"),
                 F.sum(F.when(F.col("gap_us") > _DORMANT_US, 1)
                       .otherwise(0)).cast("bigint")
                 .alias("n_reactivations"),
                 F.floor(F.coalesce(F.max("gap_us"), F.lit(0))
                         / F.lit(3_600_000_000)).cast("bigint")
                 .alias("max_gap_hours")))


# ---------------------------------------------------------------------------
# q_gini_coefficient — Gini concentration of customer spend (the
# inequality summary next to q_pareto_abc's class labels):
# G = (2 Σ i·x_i) / (n Σ x) − (n+1)/n over ascending-sorted spend.
# Spend is decimal-exact at scale 4 and ranks come from the
# range-partitioned global sort (dp_curriculum convention), so BOTH
# big sums are exact integers and G is one closed-form double.
# ---------------------------------------------------------------------------
_GINI_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) * 10000
              AS BIGINT) AS x4
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT x4, row_number() OVER (ORDER BY x4, o_custkey) AS i FROM spend
),
s AS (
  -- sum(i*x4) crosses int64 around sf0.3; DuckDB accumulates in
  -- HUGEINT, kept exact as DECIMAL(38,0) (headroom to ~1e38) and only
  -- converted to double inside the final ratio.
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x4) AS BIGINT) AS sx,
         CAST(sum(i * x4) AS DECIMAL(38,0)) AS six
  FROM ranked
)
SELECT n AS n_customers, sx / 10000.0 AS total_spend,
       round(2.0 * six / (CAST(n AS DOUBLE) * sx)
             - (CAST(n AS DOUBLE) + 1.0) / n, 6) AS gini
FROM s
"""


@register("q_gini_coefficient", oracle=_GINI_ORACLE)
def q_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spend = (orders.groupBy("o_custkey")
             .agg((F.round(F.sum(F.col("o_totalprice")
                                 .cast("decimal(18,4)")), 4) * 10000)
                  .cast("bigint").alias("x4")))
    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_global_window)

    # sharded global rank over spend — no single-partition customer sort
    ranked = sharded_global_window(
        spend, F.col("x4"), [F.asc("x4"), F.asc("o_custkey")],
        rn="i").select("x4", "i")
    # Per-element i*x4 stays well inside int64 (n * max_x4 ~ 9e17 even at
    # sf1000) but the SUM crosses int64 around sf0.3 — accumulate in
    # DECIMAL(38,0) (exact, ~1e38 headroom) and convert to double only
    # inside the final ratio; non-ANSI Spark would otherwise wrap silently.
    s = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                   F.sum("x4").cast("bigint").alias("sx"),
                   F.sum((F.col("i") * F.col("x4")).cast("decimal(38,0)"))
                   .cast("decimal(38,0)").alias("six"))
    n = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_customers"),
        (F.col("sx") / F.lit(10000.0)).alias("total_spend"),
        F.round(F.lit(2.0) * F.col("six") / (n * F.col("sx"))
                - (n + F.lit(1.0)) / F.col("n"), 6).alias("gini"))


# ---------------------------------------------------------------------------
# tok_fertility — tokenizer fertility comparison (the eval every
# tokenizer team runs before committing a vocab: mean symbols emitted
# per word, lower = better compression): whitespace (1.0 by
# definition), characters (the ceiling), trained BPE (tok_bpe_merges
# applied via tok_bpe_encode's fold) and trained unigram-LM (Viterbi
# over the distinct-word inventory) side by side, corpus-weighted.
# Rows-only (depends on both trainers); pytest checks the ordering
# laws and cross-references the sibling ops.
# ---------------------------------------------------------------------------
# Oracle contract (round 9, the q_approx_sketch / tx_compress_ratio
# pattern): the whitespace and character lanes are pure relational
# token accounting, so the driver hash-checks their EXACT symbol
# counts and fertilities; the BPE and unigram lanes come from trained
# tokenizers (iterative merge training / Viterbi-EM — no SQL twin),
# so they cross as REAL compression invariants the oracle states as
# literals: a trained subword tokenizer emits at least one symbol per
# word and never more than the character baseline
# (n_words <= n_symbols <= n_chars + n_words). A tokenizer regression
# (runaway splits, dropped words, merge corruption) flips a boolean
# and fails the hash; the exact trained-lane values stay pinned by
# tests/test_training_ext3.py over tok_fertility_full.
_FERT_ORACLE = f"""
WITH w AS (SELECT unnest({_TOKS}) AS tok FROM documents),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS n_words,
         CAST(coalesce(sum(length(tok)), 0) + count(*) AS BIGINT) AS n_ch
  FROM w
)
SELECT tokenizer, n_symbols, fertility, bounds_ok FROM (
  SELECT 1 AS ord, 'whitespace' AS tokenizer, n_words AS n_symbols,
         1.0 AS fertility, TRUE AS bounds_ok FROM t WHERE n_words > 0
  UNION ALL
  SELECT 2, 'character', n_ch,
         {sql_pround6("CAST(n_ch AS DOUBLE) / n_words")}, TRUE
  FROM t WHERE n_words > 0
  UNION ALL
  SELECT 3, 'bpe', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), TRUE
  FROM t WHERE n_words > 0
  UNION ALL
  SELECT 4, 'unigram_lm', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), TRUE
  FROM t WHERE n_words > 0
)
"""


@register("tok_fertility", oracle=_FERT_ORACLE)
def tok_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _math

    full = {r.tokenizer: (r.n_symbols, r.fertility)
            for r in tok_fertility_full(spark, sf_dir).collect()}
    schema = ("tokenizer string, n_symbols bigint, fertility double,"
              " bounds_ok boolean")
    if not full or not full["whitespace"][0]:
        # mirror the oracle's WHERE n_words > 0: a corpus with docs
        # but zero tokens emits no rows (ADVICE round 9 — the n_words
        # division below must never see 0)
        return local_frame([], schema)
    n_words = int(full["whitespace"][0])
    n_ch = int(full["character"][0])          # chars + </w> markers
    bpe, uni = int(full["bpe"][0]), int(full["unigram_lm"][0])
    rows = [
        ("whitespace", n_words, 1.0, n_words >= 1),
        ("character", n_ch,
         _math.floor(n_ch / n_words * 1e6 + 0.5) / 1e6, n_ch >= n_words),
        ("bpe", None, None, n_words <= bpe <= n_ch),
        ("unigram_lm", None, None, n_words <= uni <= n_ch),
    ]
    return local_frame(rows, schema)


def tok_fertility_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-value variant (whitespace/character/BPE/unigram symbol
    totals + fertilities) — the pytest value-pin surface."""
    from sanctions_data_pipeline_spark.operators import unigram as ug
    from sanctions_data_pipeline_spark.plans.training_data2 import (
        tok_bpe_encode)

    docs = load_table(spark, sf_dir, "documents")
    words = persist(docs.select(F.explode(tx.tokens(F.col("text"))).alias("w"))
                    .groupBy("w").agg(lcount("c")))
    totals = words.agg(
        F.sum("c").cast("bigint"),
        F.sum(F.col("c") * F.length("w")).cast("bigint")).collect()[0]
    _FERT_SCHEMA = "tokenizer string, n_symbols bigint, fertility double"
    if totals[0] is None:     # empty corpus -> empty result, same schema
        words.unpersist()
        return local_frame([], _FERT_SCHEMA)
    n_words, n_chars = int(totals[0]), int(totals[1])

    # BPE: corpus totals from the encode op's per-doc accounting
    bpe = tok_bpe_encode(spark, sf_dir).agg(
        F.sum("n_bpe_symbols").cast("bigint")).collect()[0][0]

    # unigram: train (the tok_unigram_lm pipeline — the _full surface,
    # which carries the model probs; the registered entry is the r11
    # seed-census lattice) then Viterbi counts
    uni_rows = tok_unigram_lm_full(spark, sf_dir).collect()
    model = {r.piece: r.prob for r in uni_rows}
    uni = (words.select(
        "c", F.size(ug.viterbi_pieces(F.col("w"), model)).alias("np"))
        .agg(F.sum(F.col("c") * F.col("np")).cast("bigint"))
        .collect()[0][0])
    words.unpersist()

    rows = [
        ("whitespace", n_words, round(1.0, 6)),
        ("character", n_chars + n_words,          # chars + </w> markers
         round((n_chars + n_words) / n_words, 6)),
        ("bpe", int(bpe), round(int(bpe) / n_words, 6)),
        ("unigram_lm", int(uni), round(int(uni) / n_words, 6)),
    ]
    return local_frame(rows, _FERT_SCHEMA)


# ---------------------------------------------------------------------------
# q_weekday_seasonality — day-of-week seasonal indices over the event
# series (the seasonal-naive decomposition every ops dashboard runs
# before trusting a trend): per weekday, mean daily event count vs the
# grand daily mean; index > 1 marks hot weekdays. Counts are exact
# integers; the two means and the index are one identical double tree.
# ---------------------------------------------------------------------------
_WSEA_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
g AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS nd FROM daily)
-- DuckDB dayofweek is 0=Sunday..6; Spark's is 1=Sunday..7 — align
SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(n) AS BIGINT) AS n_events,
       round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS mean_daily,
       round((CAST(sum(n) AS DOUBLE) / count(*))
             / (CAST((SELECT tot FROM g) AS DOUBLE)
                / (SELECT nd FROM g)), 6) AS seasonal_index
FROM daily GROUP BY 1
"""


@register("q_weekday_seasonality", oracle=_WSEA_ORACLE)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("day", "ts").alias("d"))
             .agg(lcount("n")))
    tot, nd = daily.agg(F.sum("n").cast("bigint"),
                        F.count(F.lit(1)).cast("bigint")).collect()[0]
    if tot is None:           # empty events table -> empty result, same schema
        return local_frame(
            [], "dow bigint, n_days bigint, n_events bigint, "
                "mean_daily double, seasonal_index double")
    grand = F.lit(float(tot)) / F.lit(int(nd))   # exact ints -> one div
    return (daily.groupBy(F.dayofweek("d").cast("bigint").alias("dow"))
            .agg(lcount("n_days"),
                 F.sum("n").cast("bigint").alias("n_events"))
            .select("dow", "n_days", "n_events",
                    F.round(F.col("n_events").cast("double")
                            / F.col("n_days"), 6).alias("mean_daily"),
                    F.round((F.col("n_events").cast("double")
                             / F.col("n_days")) / grand, 6)
                    .alias("seasonal_index")))
