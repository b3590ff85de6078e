"""Round-3 extension ops: Gopher quality rules, soft dedup weights,
PageRank, MMR diversification, k-means training surface — each pinned
against an independent pure-python recomputation."""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.plans import registry


def _run(spark, sf_dir, name):
    return registry.queries()[name](spark, sf_dir)


def _toks(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


def test_tx_gopher_rules_matches_python(spark, sf_dir):
    got = {r.doc_id: r for r in _run(spark, sf_dir, "tx_gopher_rules").collect()}
    docs = load_table(spark, sf_dir, "documents").collect()
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")
    assert len(got) == len(docs)
    for d in docs:
        t = _toks(d.text)
        n = len(t)
        mwl = sum(len(w) for w in t) / n
        swr = (d.text.count("#")
               + (len(d.text) - len(d.text.replace("...", ""))) // 3) / n
        alpha = sum(1 for w in t if re.search("[a-z]", w)) / n
        n_stop = sum(1 for w in stops if w in t)
        passes = (50 <= n <= 100000 and 3 <= mwl <= 10 and swr <= 0.1
                  and alpha >= 0.8 and n_stop >= 2)
        g = got[d.doc_id]
        assert g.n_words == n
        assert abs(g.mean_word_len - round(mwl, 6)) < 1e-9
        assert abs(g.symbol_ratio - round(swr, 6)) < 1e-9
        assert abs(g.alpha_ratio - round(alpha, 6)) < 1e-9
        assert g.n_stopwords == n_stop
        assert g.passes == passes, (d.doc_id, g)


def test_tx_gopher_rules_discriminates(spark, tmp_path):
    """The synthetic corpus's short word-soup docs all fail the real
    Gopher thresholds (correctly), so prove discrimination on a crafted
    corpus: a fluent 60-word doc passes, spam shapes each trip a
    different rule."""
    from sanctions_data_pipeline_spark.plans.training_data3 import tx_gopher_rules

    fluent = ("the quick brown fox jumps over the lazy dog and then "
              "runs off to find that one friend it used to have with "
              "all the time in the world ") * 3  # 66 words, stopword-rich
    short = "the cat and the hat"                      # < 50 words
    symbols = "# ".join(["the and of that have with be to"] * 8)  # swr > 0.1
    numeric = " ".join(["12345"] * 60) + " the and"    # alpha < 0.8
    rows = [(1, fluent, "en", "s", len(fluent)),
            (2, short, "en", "s", len(short)),
            (3, symbols, "en", "s", len(symbols)),
            (4, numeric, "en", "s", len(numeric))]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r.passes
           for r in tx_gopher_rules(spark, str(tmp_path)).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False}


def test_dd_soft_dedup_weights_sum_to_distinct_count(spark, sf_dir):
    rows = _run(spark, sf_dir, "dd_soft_dedup").collect()
    docs = load_table(spark, sf_dir, "documents").collect()
    from collections import Counter
    norm = Counter(re.sub(r"\s+", " ", d.text.lower()).strip() for d in docs)
    assert len(rows) == len(docs)
    for r in rows:
        assert r.weight == round(1.0 / r.dup_count, 6)
    # Σ weights == number of DISTINCT texts (each group contributes ~1)
    total = sum(r.weight for r in rows)
    assert abs(total - len(norm)) < 1e-3
    assert max(r.dup_count for r in rows) == max(norm.values())


def test_tt_dedup_aware_split_never_splits_a_dup_group(spark, sf_dir):
    rows = _run(spark, sf_dir, "tt_dedup_aware_split").collect()
    docs = {d.doc_id: re.sub(r"\s+", " ", d.text.lower()).strip()
            for d in load_table(spark, sf_dir, "documents").collect()}
    assert len(rows) == len(docs)
    by_text: dict[str, set] = {}
    for r in rows:
        by_text.setdefault(docs[r.doc_id], set()).add((r.group_id, r.split))
    # every exact-duplicate group has ONE group id and ONE split side
    for text, assignments in by_text.items():
        assert len(assignments) == 1, (text[:40], assignments)
    assert {r.split for r in rows} == {"train", "valid", "test"}


def test_tt_dedup_aware_split_groups_dups_on_crafted_corpus(spark, tmp_path):
    """sf0.001 has no exact duplicates, so force some: 30 base texts,
    each duplicated 3x with different doc_ids (including ws/case
    variants that normalize equal) — all copies must share group_id
    and split side."""
    from sanctions_data_pipeline_spark.plans.training_data3 import (
        tt_dedup_aware_split)

    rows = []
    did = 0
    for i in range(30):
        base = f"some document number {i} with shared content"
        for variant in (base, base.upper(), f"  {base}  "):
            rows.append((did, variant, "en", "s", len(variant)))
            did += 1
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = tt_dedup_aware_split(spark, str(tmp_path)).collect()
    assert len(got) == 90
    by_group: dict[int, set] = {}
    for r in got:
        by_group.setdefault(r.group_id, set()).add(r.split)
    assert len(by_group) == 30          # 3 copies collapse to one group
    assert all(len(s) == 1 for s in by_group.values())  # one side each
    # group ids are the min doc_id of each triple
    assert set(by_group) == {3 * i for i in range(30)}


def test_gr_pagerank_matches_power_iteration(spark, sf_dir):
    got = {r.node: (r.degree, r.pagerank)
           for r in _run(spark, sf_dir, "gr_pagerank").collect()}

    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_partkey") < 200)
          .select("l_orderkey", "l_partkey").distinct().collect())
    from collections import Counter, defaultdict
    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    pair_orders: Counter = Counter()
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    pair_orders[(a, b)] += 1
    edges = [(a, b) for (a, b), c in pair_orders.items() if c >= 3]
    deg = Counter(a for a, _ in edges)
    n = len(deg)
    assert set(got) == set(deg)
    pr = {v: 1.0 / n for v in deg}
    for _ in range(2):
        contribs = defaultdict(list)
        for a, b in edges:
            if a in pr:
                contribs[b].append(pr[a] / deg[a])
        pr = {v: 0.15 / n + 0.85 * math.fsum(sorted(cs))
              for v, cs in contribs.items()}
    for v, (d_, p_) in got.items():
        assert d_ == deg[v]
        assert abs(p_ - pr[v]) < 1e-6, (v, p_, pr[v])


def test_sim_mmr_diversify_matches_greedy_replay(spark, sf_dir):
    got = [(r.rank, r.vec_id, r.mmr)
           for r in _run(spark, sf_dir, "sim_mmr_diversify")
           .orderBy("rank").collect()]

    emb = load_table(spark, sf_dir, "embeddings").collect()
    q = min((r for r in emb if r.label == 0), key=lambda r: r.vec_id)
    qv = [float(x) for x in q.embedding]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    cand = sorted(((r.vec_id, [float(x) for x in r.embedding])
                   for r in emb if r.label != 0),
                  key=lambda t: (-cos(qv, t[1]), t[0]))[:50]
    lam, sel, expect = 0.7, [], []
    pool = [(vid, v, cos(qv, v)) for vid, v in cand]
    while pool and len(sel) < 10:
        best = max(pool, key=lambda t: (
            lam * t[2] - (1 - lam) * max((cos(t[1], s[1]) for s in sel),
                                         default=0.0), -t[0]))
        red = max((cos(best[1], s[1]) for s in sel), default=0.0)
        sel.append(best)
        pool.remove(best)
        expect.append((len(sel), best[0],
                       round(lam * best[2] - (1 - lam) * red, 6)))
    assert [(r, v) for r, v, _ in got] == [(r, v) for r, v, _ in expect]
    for (_, _, a), (_, _, b) in zip(got, expect):
        assert abs(a - b) < 1e-6
    # diversification actually reorders vs pure relevance
    pure = [vid for vid, _, _ in
            sorted(((vid, v, cos(qv, v)) for vid, v in cand),
                   key=lambda t: (-t[2], t[0]))[:10]]
    assert [v for _, v, _ in got] != pure or len(set(pure)) <= 1


def test_gr_pagerank_mass_conservation(spark, sf_dir):
    """On a symmetric graph (no dangling nodes) every iteration
    redistributes all probability mass: Σ pr = Σ [0.15/N + 0.85·(mass
    flowing in)] = 0.15 + 0.85 = 1. The 6dp-rounded outputs must sum
    to 1 within rounding slack."""
    rows = _run(spark, sf_dir, "gr_pagerank").collect()
    total = math.fsum(r.pagerank for r in rows)
    assert abs(total - 1.0) < len(rows) * 5e-7 + 1e-6, total
    assert all(r.pagerank > 0 for r in rows)


def test_mmr_scores_monotone_nonincreasing_in_rank(spark, sf_dir):
    """Greedy MMR picks the argmax each step over a shrinking pool
    whose redundancy terms only grow — selected scores can tie but
    never improve with rank."""
    rows = sorted(_run(spark, sf_dir, "sim_mmr_diversify").collect(),
                  key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    # rank-1 score is pure relevance (no redundancy term yet): it must
    # be the global max; later scores may fluctuate but never beat it
    assert all(rows[0].mmr >= r.mmr - 1e-9 for r in rows[1:])
    assert len({r.vec_id for r in rows}) == len(rows)  # no repeats


def test_emb_kmeans_train_cells_match_replay(spark, sf_dir):
    from sanctions_data_pipeline_spark.operators.similarity import kmeans_fit
    from sanctions_data_pipeline_spark.plans.training_data3 import (
        emb_kmeans_train_full)

    got = {r.cell: (r.n_members, r.mean_cos)
           for r in emb_kmeans_train_full(spark, sf_dir).collect()}
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, 8)

    rows = emb.collect()

    def cos_to(c, v):
        d = sum(x * y for x, y in zip(c, v))
        return d / math.sqrt(sum(x * x for x in v))  # c is unit-norm

    cells: dict[int, list[float]] = {}
    for r in rows:
        v = [float(x) for x in r.embedding]
        dots = [sum(x * y for x, y in zip(c, v)) for c in cents]
        cell = dots.index(max(dots)) + 1
        cells.setdefault(cell, []).append(round(cos_to(cents[cell - 1], v), 6))
    assert set(got) == set(cells)
    for cell, vals in cells.items():
        n, mc = got[cell]
        assert n == len(vals)
        assert abs(mc - round(math.fsum(sorted(vals)) / len(vals), 6)) < 1e-6
    assert sum(n for n, _ in got.values()) == len(rows)


def test_dd_line_dedup_matches_python_replay(spark, sf_dir):
    """Keep-first chunk dedup must equal a pure-python replay: chunks
    are aligned 12-token windows, a chunk survives iff it is the
    (doc_id, idx)-minimal occurrence of its exact text."""
    W = 12
    docs = sorted(load_table(spark, sf_dir, "documents").collect(),
                  key=lambda d: d.doc_id)
    first_seen: set[str] = set()
    expect = {}
    for d in docs:          # doc_id asc == (doc_id, idx) lexicographic scan
        t = _toks(d.text)
        nch = (len(t) + W - 1) // W
        kept = 0
        for i in range(nch):
            key = " ".join(t[i * W:(i + 1) * W])
            if key not in first_seen:
                first_seen.add(key)
                kept += 1
        expect[d.doc_id] = (nch, kept, nch - kept,
                            round((nch - kept) / nch, 6))
    got = {r.doc_id: (r.n_chunks, r.n_kept, r.n_removed, r.removed_ratio)
           for r in _run(spark, sf_dir, "dd_line_dedup").collect()}
    assert got == expect
    # global invariant: kept chunks == distinct chunk keys in the corpus
    assert sum(v[1] for v in got.values()) == len(first_seen)


def test_tx_bm25_matches_python_replay(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").collect()
    toks = {d.doc_id: _toks(d.text) for d in docs}
    n_docs = len(toks)
    avgdl = float(sum(len(t) for t in toks.values())) / n_docs
    df: dict[str, int] = {}
    for t in toks.values():
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    qterms = sorted(df, key=lambda w: (-df[w], w))[:5]
    expect = {}
    for term in qterms:
        scored = []
        for doc_id, t in toks.items():
            tf = t.count(term)
            if not tf:
                continue
            idf = math.log(1.0 + (float(n_docs - df[term]) + 0.5)
                           / (float(df[term]) + 0.5))
            s = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75
                                                * (len(t) / avgdl)))
            scored.append((round(s, 6), doc_id, tf, len(t)))
        scored.sort(key=lambda x: (-x[0], x[1]))
        for rnk, (s, doc_id, tf, dl) in enumerate(scored[:10], 1):
            expect[(term, doc_id)] = (tf, dl, s, rnk)
    got = {(r.term, r.doc_id): (r.tf, r.dl, r.bm25, r.rnk)
           for r in _run(spark, sf_dir, "tx_bm25").collect()}
    assert got == expect


def test_sim_rrf_fusion_formula_and_ranks(spark, sf_dir):
    rows = _run(spark, sf_dir, "sim_rrf_fusion").collect()
    assert rows
    per_term: dict[str, list] = {}
    for r in rows:
        assert r.rrf_score == round(1.0 / (60 + r.rank_bm25)
                                    + 1.0 / (60 + r.rank_tf), 6)
        per_term.setdefault(r.term, []).append(r)
    for term, rs in per_term.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        # fused order is non-increasing in score
        scores = [r.rrf_score for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_sim_ann_hamming_matches_sign_mismatch_count(spark, sf_dir):
    emb = {r.vec_id: [float(x) for x in r.embedding]
           for r in load_table(spark, sf_dir, "embeddings").collect()}
    rows = _run(spark, sf_dir, "sim_ann_hamming").collect()
    assert {r.query_id for r in rows} == set(range(10))
    for r in rows:
        q, c = emb[r.query_id], emb[r.neighbor_id]
        expect = sum((a >= 0) != (b >= 0) for a, b in zip(q, c))
        assert r.hamming == expect
    # per query: exactly 5 rows ranked by (hamming, neighbor_id)
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert len(rs) == 5
        keys = [(r.hamming, r.neighbor_id) for r in rs]
        assert keys == sorted(keys)


def test_dp_sft_format_mask_offsets_recover_response(spark, sf_dir):
    """The [loss_start, loss_end] char span must slice exactly the
    response out of the rendered template, for every document."""
    docs = {d.doc_id: _toks(d.text)
            for d in load_table(spark, sf_dir, "documents").collect()}
    for r in _run(spark, sf_dir, "dp_sft_format").collect():
        t = docs[r.doc_id]
        np_ = min(16, max(1, len(t) // 2))
        assert r.n_prompt_toks == np_
        assert r.n_response_toks == len(t) - np_
        response = " ".join(t[np_:])
        assert r.formatted[r.loss_start - 1:r.loss_end] == response
        assert r.formatted.startswith("<|user|>\n" + " ".join(t[:np_]))
        assert r.formatted.endswith("<|end|>")


def test_tx_ccnet_buckets_are_ppl_terciles(spark, sf_dir):
    """Tercile assignment must equal a python NTILE(3) replay over the
    engine's own perplexity output, ordered by (ppl, doc_id)."""
    ppl = sorted(((r.ppl, r.doc_id)
                  for r in _run(spark, sf_dir, "tx_perplexity").collect()))
    n = len(ppl)
    expect = {}
    for i, (_, doc_id) in enumerate(ppl):
        # SQL NTILE: first (n % 3) buckets get ceil(n/3) rows
        big, rem = divmod(n, 3)
        t = 1 + (i // (big + 1) if i < (big + 1) * rem
                 else rem + (i - (big + 1) * rem) // big)
        expect[doc_id] = (t, {1: "head", 2: "middle", 3: "tail"}[t])
    got = {r.doc_id: (r.tercile, r.bucket)
           for r in _run(spark, sf_dir, "tx_ccnet_buckets").collect()}
    assert got == expect
    sizes = {}
    for t, _ in got.values():
        sizes[t] = sizes.get(t, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_st_anomaly_matches_exact_decimal_replay(spark, sf_dir):
    """Window stats must equal an integer-exact replay of the decimal
    pipeline (values at scale 4, squares at scale 8, half-up rounds),
    including the outlier flag computed from unrounded doubles."""
    import math as m

    ev = load_table(spark, sf_dir, "events").collect()
    groups: dict[tuple, list[int]] = {}
    for e in ev:
        ws = e.ts.replace(minute=0, second=0, microsecond=0)
        groups.setdefault((ws.strftime("%Y-%m-%d %H:%M:%S"), e.event_type),
                          []).append(int(round(e.value * 10000)))
    expect = {}
    for (ws, et), vals in groups.items():
        n = len(vals)
        s = sum(vals) / 1e4                          # scale-4 sum, exact
        sq_int = sum(v * v for v in vals)            # scale-8 sum, exact
        sq = ((sq_int + 5000) // 10000) / 1e4        # ROUND(.,4) half-up
        mx = max(vals) / 1e4
        mean = s / n
        var = max(sq / n - mean * mean, 0.0)
        expect[(ws, et)] = (n, round(mean, 6), round(m.sqrt(var), 6),
                            round(mx, 6),
                            (mx - mean) > 2.0 * m.sqrt(var))
    got = {(r.window_start, r.event_type):
           (r.n_events, r.mean_value, r.std_value, r.max_value,
            r.has_outlier)
           for r in _run(spark, sf_dir, "st_anomaly").collect()}
    assert set(got) == set(expect)
    for k, (n, mean, std, mx, flag) in expect.items():
        gn, gmean, gstd, gmx, gflag = got[k]
        assert gn == n and gflag == flag and abs(gmx - mx) < 1e-9
        assert abs(gmean - mean) < 1e-9 and abs(gstd - std) < 1e-9


def test_emb_whiten_unit_variance_and_numpy_replay(spark, sf_dir):
    import numpy as np

    from sanctions_data_pipeline_spark.plans.training_data3 import (
        emb_whiten_full)

    rows = {r.dim: (r.var_before, r.var_after)
            for r in emb_whiten_full(spark, sf_dir).collect()}
    assert len(rows) == 64
    # the registered (oracle-checked) projection: quantized variance
    # within quantization error of the true one, whitening invariant ok
    reg = {r.dim: r for r in _run(spark, sf_dir, "emb_whiten").collect()}
    assert len(reg) == 64
    for d, r in reg.items():
        assert abs(r.var_before - rows[d][0]) < 1e-3, (d, r.var_before)
        assert r.whitened_ok
    # whitening contract: every output dimension has variance ~= 1
    for d, (vb, va) in rows.items():
        assert abs(va - 1.0) < 1e-3, (d, va)
    # full numpy replay of the chain
    emb = load_table(spark, sf_dir, "embeddings").collect()
    x = np.array([[float(v) for v in r.embedding] for r in emb])
    mu = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mu, mu)
    lam, v = np.linalg.eigh(cov)
    w = v @ np.diag(1.0 / np.sqrt(lam + 1e-6)) @ v.T
    y = (x - mu) @ w.T
    cov_after = (y.T @ y) / len(y) - np.outer(y.mean(axis=0), y.mean(axis=0))
    for d in range(64):
        assert abs(rows[d][0] - cov[d, d]) < 1e-4
        assert abs(rows[d][1] - cov_after[d, d]) < 1e-4


def test_dp_fim_transform_reassembles_and_rates(spark, sf_dir):
    """PSM pieces must re-concatenate to the original token stream
    (prefix+middle+suffix == doc), counts must agree, and the
    hash-derived fim rate must be near 50%."""
    docs = {d.doc_id: _toks(d.text)
            for d in load_table(spark, sf_dir, "documents").collect()}
    rows = _run(spark, sf_dir, "dp_fim_transform").collect()
    assert len(rows) == len(docs)
    n_fim = 0
    for r in rows:
        t = docs[r.doc_id]
        assert r.n_prefix + r.n_middle + r.n_suffix == len(t)
        if r.is_fim:
            n_fim += 1
            body = r.formatted
            assert body.startswith("<|fim_pre|>")
            pre, rest = body[len("<|fim_pre|>"):].split("<|fim_suf|>", 1)
            suf, mid = rest.split("<|fim_mid|>", 1)
            reorder = [w for w in (pre.split(" ") + mid.split(" ")
                                   + suf.split(" ")) if w]
            assert reorder == t
            assert len([w for w in pre.split(" ") if w]) == r.n_prefix
            assert len([w for w in mid.split(" ") if w]) == r.n_middle
        else:
            assert r.formatted == " ".join(t)
            assert r.n_middle == 0 and r.n_suffix == 0
    assert 0.35 < n_fim / len(rows) < 0.65


def test_tt_bloom_contamination_no_false_negatives(spark, sf_dir):
    """Bloom guarantee: every exact hit IS a bloom hit; the FP rate at
    k=5, m=2^16 must be tiny; probes cover exactly the test split."""
    rows = _run(spark, sf_dir, "tt_bloom_contamination").collect()
    assert rows
    splits = {r.doc_id: r.split
              for r in _run(spark, sf_dir, "tt_split").collect()}
    assert {r.doc_id for r in rows} == {d for d, s in splits.items()
                                        if s == "test"}
    fp = 0
    for r in rows:
        if r.exact_hit:
            assert r.bloom_hit, f"false negative at doc {r.doc_id}"
        elif r.bloom_hit:
            fp += 1
    assert fp / len(rows) < 0.05


def _unigram_replay(texts):
    """Pure-python replay of tok_unigram_lm's seed + Viterbi-EM."""
    from collections import Counter
    from sanctions_data_pipeline_spark.operators import unigram as ug
    from sanctions_data_pipeline_spark.plans.training_data3 import (
        _UNI_ROUNDS, _UNI_SEED)

    wc = Counter()
    for t in texts:
        wc.update(_toks(t))
    cand: Counter = Counter()
    for w, c in wc.items():
        for ln in range(1, ug.MAX_PIECE_LEN + 1):
            for i in range(len(w) - ln + 1):
                cand[w[i:i + ln]] += c
    top = dict(sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))
               [:_UNI_SEED])
    for p, c in cand.items():
        if len(p) == 1:
            top.setdefault(p, c)

    def normalize(vals):
        tot = sum(vals.values())
        return {p: v / tot for p, v in sorted(vals.items())}

    model = normalize({p: float(c) for p, c in top.items()})
    vc: Counter = Counter()
    for _ in range(_UNI_ROUNDS):
        vc = Counter()
        for w, c in wc.items():
            for piece in ug.viterbi_pieces_py(w, model):
                vc[piece] += c
        vals = {}
        for p in model:
            used = vc.get(p, 0)
            if len(p) == 1:
                vals[p] = float(used + 1)
            elif used > 0:
                vals[p] = float(used)
        model = normalize(vals)
    return model, vc, wc


def test_tok_unigram_lm_matches_python_em_replay(spark, sf_dir):
    """Exact-value pin for the EM trainer, on tok_unigram_lm_full (the
    registered entry carries the round-11 seed-census lattice)."""
    from sanctions_data_pipeline_spark.plans.training_data3 import (
        tok_unigram_lm_full)

    texts = [d.text
             for d in load_table(spark, sf_dir, "documents").collect()]
    model, vc, _ = _unigram_replay(texts)
    expect = {p: (len(p), vc.get(p, 0), round(model[p], 6)) for p in model}
    got = {r.piece: (r.piece_len, r.n_uses, r.prob)
           for r in tok_unigram_lm_full(spark, sf_dir).collect()}
    assert got == expect


def test_viterbi_pieces_hof_equals_python_and_respells_word(spark, sf_dir):
    """The HOF lattice must emit exactly the python DP's segmentation
    for every distinct corpus word under the seed model, and pieces
    must concatenate back to the word."""
    from sanctions_data_pipeline_spark.operators import unigram as ug

    texts = [d.text
             for d in load_table(spark, sf_dir, "documents").collect()]
    model, _, wc = _unigram_replay(texts)
    words = sorted(wc)
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.w: list(r.p)
           for r in df.select("w", ug.viterbi_pieces(F.col("w"), model)
                              .alias("p")).collect()}
    for w in words:
        assert "".join(got[w]) == w
        assert got[w] == ug.viterbi_pieces_py(w, model)


def test_gr_hits_matches_python_replay(spark, sf_dir):
    """HITS 2-iteration replay with identical sorted-fold float order."""
    from collections import Counter, defaultdict
    import math as m

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < 200).select("l_orderkey", "l_partkey").collect()
    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    wc: Counter = Counter()
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    wc[(a, b)] += 1
    edges = [(a, b) for (a, b), w in wc.items() if w >= 3]
    ind: Counter = Counter(b for _, b in edges)
    z1 = m.sqrt(float(sum(d * d for d in ind.values())))
    a1 = {v: d / z1 for v, d in ind.items()}
    h1r = {}
    outn = defaultdict(list)
    for u, v in edges:
        outn[u].append(v)
    for u, vs in outn.items():
        h1r[u] = sum(sorted(a1[v] for v in vs if v in a1))
    zh = m.sqrt(sum(sorted(h * h for h in h1r.values())))
    h1 = {u: h / zh for u, h in h1r.items()}
    inn = defaultdict(list)
    for u, v in edges:
        inn[v].append(u)
    a2r = {v: sum(sorted(h1[u] for u in us if u in h1))
           for v, us in inn.items()}
    za = m.sqrt(sum(sorted(a * a for a in a2r.values())))
    expect = {v: (round(a / za, 6), round(h1.get(v, 0.0), 6), ind[v])
              for v, a in a2r.items()}
    got = {r.node: (r.authority, r.hub, r.d_in)
           for r in _run(spark, sf_dir, "gr_hits").collect()}
    assert got == expect


def test_q_attribution_matches_python_sessionization(spark, sf_dir):
    from collections import defaultdict

    ev = sorted(load_table(spark, sf_dir, "events").collect(),
                key=lambda e: (e.user_id, e.ts, e.event_id))
    per_user = defaultdict(list)
    for e in ev:
        per_user[e.user_id].append(e)
    agg = defaultdict(lambda: [0, 0])   # (first, last) -> [n, cents*100]
    for user, es in per_user.items():
        prev_ts = None
        session = []
        for e in es:
            if prev_ts is None or (e.ts - prev_ts).total_seconds() > 1800:
                session = []
            session.append(e)
            prev_ts = e.ts
            if e.event_type == "purchase":
                first = session[0].event_type
                last = (session[-2].event_type if len(session) > 1
                        else "direct")
                a = agg[(first, last)]
                a[0] += 1
                a[1] += int(round(e.value * 10000))
    expect = {k: (n, v / 1e4) for k, (n, v) in agg.items()}
    got = {(r.first_touch, r.last_touch): (r.n_conversions, r.revenue)
           for r in _run(spark, sf_dir, "q_attribution").collect()}
    assert set(got) == set(expect)
    for k, (n, rev) in expect.items():
        assert got[k][0] == n and abs(got[k][1] - rev) < 1e-9


def test_tx_html_strip_round_trip(spark, sf_dir):
    import re as _re

    docs = {d.doc_id: d.text
            for d in load_table(spark, sf_dir, "documents").collect()}
    rows = _run(spark, sf_dir, "tx_html_strip").collect()
    assert len(rows) == len(docs)
    for r in rows:
        body = _re.sub(r"\s+", " ", docs[r.doc_id]).strip()
        assert r.clean_text == f"Doc {r.doc_id} {body} next home"
        assert r.title == f"Doc {r.doc_id}"
        assert r.n_links == 2
        assert r.first_link == f"/doc/{r.doc_id + 1}"


def test_pr_implicit_als_matches_numpy_replay(spark, sf_dir):
    """Exact-value pin for the ALS solve, on pr_implicit_als_full (the
    registered entry carries the round-11 invariant lattice)."""
    import numpy as np
    from collections import defaultdict
    from sanctions_data_pipeline_spark.plans.training_data3 import (
        _ALS_D, _ALS_LAMBDA, _als_item_factors, pr_implicit_als_full)

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < 200).collect()
    orders = {o.o_orderkey: o.o_custkey
              for o in load_table(spark, sf_dir, "orders").collect()}
    ratings = defaultdict(float)
    for r in li:
        ratings[(orders[r.l_orderkey], r.l_partkey)] += float(r.l_quantity)
    items = sorted({i for _, i in ratings})
    yfac = _als_item_factors(items)
    per_user = defaultdict(list)
    for (u, i), v in ratings.items():
        per_user[u].append((i, v))
    expect = {}
    for u, iv in per_user.items():
        # pandas arrives grouped in item order per groupBy key ordering;
        # ridge solve is order-independent up to float assoc — replicate
        # by sorting on item_id, which matches the agg's deterministic
        # content (values are equal regardless; tolerance below absorbs
        # association differences)
        iv.sort()
        ys = np.array([yfac[i] for i, _ in iv])
        rv = np.array([v for _, v in iv])
        a = ys.T @ ys + _ALS_LAMBDA * np.eye(_ALS_D)
        x = np.linalg.solve(a, ys.T @ rv)
        rmse = float(np.sqrt(np.mean((ys @ x - rv) ** 2)))
        expect[u] = (len(iv), float(np.linalg.norm(x)), rmse)
    got = {r.user_id: (r.n_items, r.factor_norm, r.rmse)
           for r in pr_implicit_als_full(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for u, (n, norm, rmse) in expect.items():
        gn, gnorm, grmse = got[u]
        assert gn == n
        assert abs(gnorm - norm) < 1e-4 and abs(grmse - rmse) < 1e-4
    # a solved factor model must beat the zero-factor baseline
    # (pred=0 -> rmse = ||r||/sqrt(n)) for users with enough items
    for u, iv in per_user.items():
        if expect[u][0] >= 3:
            base = float(np.sqrt(np.mean([v * v for _, v in iv])))
            assert expect[u][2] < base


def test_q_time_weighted_avg_matches_integer_replay(spark, sf_dir):
    from collections import defaultdict

    ev = sorted(load_table(spark, sf_dir, "events").collect(),
                key=lambda e: (e.user_id, e.ts, e.event_id))
    per_user = defaultdict(list)
    for e in ev:
        per_user[e.user_id].append(e)
    expect = {}
    for u, es in per_user.items():
        holds = []
        for a, b in zip(es, es[1:]):
            td = b.ts - a.ts
            dt = (td.days * 86_400_000_000 + td.seconds * 1_000_000
                  + td.microseconds)   # exact integer microseconds
            if dt > 0:
                holds.append((int(round(a.value * 10000)), dt))
        if not holds:
            continue
        tot = sum(dt for _, dt in holds)
        wsum4 = sum(v * dt for v, dt in holds)      # scale-4 exact int
        twap = (wsum4 / 1e4) / tot
        expect[u] = (len(holds), tot, round(twap, 6))
    got = {r.user_id: (r.n_holds, r.total_us, r.twap)
           for r in _run(spark, sf_dir, "q_time_weighted_avg").collect()}
    assert set(got) == set(expect)
    for u, (n, tot, twap) in expect.items():
        gn, gtot, gtwap = got[u]
        assert gn == n and gtot == tot and abs(gtwap - twap) < 1e-9


def test_q_ohlc_bars_semantics(spark, sf_dir):
    from collections import defaultdict

    ev = load_table(spark, sf_dir, "events").collect()
    bars = defaultdict(list)
    for e in ev:
        bs = e.ts.replace(minute=0, second=0, microsecond=0)
        bars[(bs.strftime("%Y-%m-%d %H:%M:%S"), e.event_type)].append(e)
    got = {(r.bar_start, r.event_type): r
           for r in _run(spark, sf_dir, "q_ohlc_bars").collect()}
    assert set(got) == set(bars)
    for k, es in bars.items():
        es.sort(key=lambda e: (e.ts, e.event_id))
        r = got[k]
        q4 = lambda v: round(int(round(v * 10000)) / 1e4, 4)
        assert r.n_ticks == len(es)
        assert r.open == q4(es[0].value)
        assert r.close == q4(es[-1].value)
        assert r.high == q4(max(e.value for e in es))
        assert r.low == q4(min(e.value for e in es))
        assert r.low <= r.open <= r.high and r.low <= r.close <= r.high


def test_dq_k_anonymity_class_accounting(spark, sf_dir):
    from collections import Counter

    docs = load_table(spark, sf_dir, "documents").collect()
    classes = Counter((d.lang, d.source) for d in docs)
    got = {(r.lang, r.source): (r.class_size, r.violates_k)
           for r in _run(spark, sf_dir, "dq_k_anonymity").collect()}
    assert set(got) == set(classes)
    for k, n in classes.items():
        assert got[k] == (n, n < 5)
    # every document is in exactly one class
    assert sum(n for n, _ in got.values()) == len(docs)


def test_dp_sft_format_one_token_doc_empty_response(spark, tmp_path):
    """Regression (review find): a 1-token doc has an EMPTY response;
    the mask must be the empty span and the oracle's DuckDB side
    coalesces the empty slice (array_to_string([]) is NULL there)."""
    import os
    d = str(tmp_path / "sf_sft1")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(1, "solo", "en", "s", 4), (2, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"), mode="overwrite")
    rows = {r.doc_id: r for r in
            registry.queries()["dp_sft_format"](spark, d).collect()}
    for doc_id, prompt in ((1, "solo"), (2, "")):
        r = rows[doc_id]
        assert r.n_prompt_toks == 1 and r.n_response_toks == 0
        assert r.formatted == f"<|user|>\n{prompt}\n<|assistant|>\n<|end|>"
        assert r.loss_end == r.loss_start - 1          # empty mask span
        assert r.formatted[r.loss_start - 1:r.loss_end] == ""
    # oracle parity on this degenerate corpus (the NULL-slice regression)
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(d, 'documents.parquet', '*.parquet')}'")
    from sanctions_data_pipeline_spark.plans import registry as reg
    duck = con.execute(reg.oracle_sql()["dp_sft_format"]).fetchall()
    got = {r[0]: r for r in duck}
    for doc_id in (1, 2):
        assert got[doc_id][3] == rows[doc_id].formatted


def test_mix_ccnet_sampling_rates_and_determinism(spark, sf_dir):
    import hashlib

    buckets = {r.doc_id: r.bucket
               for r in _run(spark, sf_dir, "tx_ccnet_buckets").collect()}
    kept = {r.doc_id: r.bucket
            for r in _run(spark, sf_dir, "mix_ccnet_sampling").collect()}
    rates = {"head": 1.0, "middle": 0.5, "tail": 0.1}
    # exact membership replay: doc kept iff md5-u < its bucket's rate
    for doc_id, b in buckets.items():
        u = int(hashlib.md5(f"ccnet:{doc_id}".encode()).hexdigest()[:8],
                16) / 4294967296.0
        assert (doc_id in kept) == (u < rates[b]), (doc_id, b, u)
    # all head docs survive; tail is heavily cut
    heads = [d for d, b in buckets.items() if b == "head"]
    assert all(d in kept for d in heads)
    tails = [d for d, b in buckets.items() if b == "tail"]
    assert 0 < sum(d in kept for d in tails) < 0.3 * len(tails)


def test_gr_kcore_is_a_fixpoint_and_valid_core(spark, sf_dir):
    """After the unrolled rounds the survivor set must be a true
    k-core: every member has >= k neighbors INSIDE the set (one more
    peel round changes nothing)."""
    from collections import defaultdict

    got = {r.node: r.core_degree
           for r in _run(spark, sf_dir, "gr_kcore").collect()}
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < 100).select("l_orderkey", "l_partkey").collect()
    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    nbrs = defaultdict(set)
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    nbrs[a].add(b)
    core = set(got)
    assert core, "empty core"
    for v in core:
        inside = len(nbrs[v] & core)
        assert inside >= 3                      # k-core membership
        assert got[v] == inside                 # reported core degree
    # python peel to ITS fixpoint reaches the same set
    alive = set(nbrs)
    while True:
        drop = {v for v in alive if len(nbrs[v] & alive) < 3}
        if not drop:
            break
        alive -= drop
    assert core == alive


def test_s_aml_structuring_flags_match_python_replay(spark, sf_dir):
    from collections import defaultdict

    ev = sorted((e for e in load_table(spark, sf_dir, "events").collect()
                 if e.event_type == "purchase"),
                key=lambda e: (e.user_id, e.ts, e.event_id))
    per_user = defaultdict(list)
    for e in ev:
        per_user[e.user_id].append(e)
    week_us = 168 * 3_600_000_000
    expect = {}
    for u, es in per_user.items():
        micros = []
        for e in es:
            td = e.ts - es[0].ts
            micros.append(td.days * 86_400_000_000 + td.seconds * 1_000_000
                          + td.microseconds)
        for i, e in enumerate(es):
            # RANGE frame: all rows with sort key within [t-7d, t]
            w = [x for j, x in enumerate(es)
                 if micros[i] - week_us <= micros[j] <= micros[i]]
            vals = [int(round(x.value * 10000)) for x in w]
            n, tot, mx = len(vals), sum(vals) / 1e4, max(vals) / 1e4
            if n >= 5 and mx < 150 and tot >= 300:
                expect[e.event_id] = (n, round(tot, 4), round(mx, 4))
    got = {r.event_id: (r.n_tx_7d, r.total_7d, r.max_single_7d)
           for r in _run(spark, sf_dir, "s_aml_structuring").collect()}
    assert set(got) == set(expect)
    for k, (n, tot, mx) in expect.items():
        gn, gtot, gmx = got[k]
        assert gn == n and abs(gtot - tot) < 1e-9 and abs(gmx - mx) < 1e-9
    assert got, "detector flagged nothing on the test corpus"


def test_q_benford_check_shares_sum_to_one(spark, sf_dir):
    import math as m

    rows = {r.digit: r for r in
            _run(spark, sf_dir, "q_benford_check").collect()}
    assert set(rows) <= set(range(1, 10))
    total = sum(r.n_obs for r in rows.values())
    ev = load_table(spark, sf_dir, "events").collect()
    assert total == sum(1 for e in ev if e.value > 0)
    for d, r in rows.items():
        assert abs(r.benford_frac - round(m.log10(1 + 1 / d), 6)) < 1e-9
        assert abs(r.obs_frac - round(r.n_obs / total, 6)) < 1e-6
    # the audit surfaces a nonzero deviation statistic on this corpus
    # (observed ~0.008; a true Benford sample would be ~0)
    chi = sum((rows[d].obs_frac - rows[d].benford_frac) ** 2
              / rows[d].benford_frac for d in rows)
    assert chi > 0.001


def test_tx_zipf_fit_matches_numpy_ols(spark, sf_dir):
    import numpy as np
    from collections import Counter

    docs = load_table(spark, sf_dir, "documents").collect()
    tf = Counter()
    for d in docs:
        tf.update(_toks(d.text))
    top = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    x = np.log(np.arange(1, len(top) + 1, dtype=float))
    y = np.log(np.array([c for _, c in top], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    r = _run(spark, sf_dir, "tx_zipf_fit").collect()[0]
    assert r.n_points == len(top)
    assert abs(r.slope - slope) < 1e-4
    assert abs(r.intercept - intercept) < 1e-4
    assert r.slope < 0          # frequency falls with rank


def test_tx_readability_matches_python_replay(spark, sf_dir):
    import re as _re

    docs = load_table(spark, sf_dir, "documents").collect()
    got = {r.doc_id: r for r in
           _run(spark, sf_dir, "tx_readability").collect()}
    assert len(got) == len(docs)
    for d in docs:
        t = _toks(d.text)
        n_sents = max(d.text.count("."), 1)
        syll = sum(max(len(_re.findall("[aeiouy]+", w)), 1) for w in t)
        wps, spw = len(t) / n_sents, syll / len(t)
        r = got[d.doc_id]
        assert (r.n_words, r.n_sents, r.n_syll) == (len(t), n_sents, syll)
        assert abs(r.flesch_ease
                   - round(206.835 - 1.015 * wps - 84.6 * spw, 6)) < 1e-9
        assert abs(r.fk_grade
                   - round(0.39 * wps + 11.8 * spw - 15.59, 6)) < 1e-9


def test_gr_assortativity_matches_numpy_pearson(spark, sf_dir):
    import numpy as np
    from collections import defaultdict

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < 100).select("l_orderkey", "l_partkey").collect()
    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    edges.add((a, b))
    deg = defaultdict(int)
    for a, _ in edges:
        deg[a] += 1
    x = np.array([deg[a] for a, b in sorted(edges)], dtype=float)
    y = np.array([deg[b] for a, b in sorted(edges)], dtype=float)
    expect = np.corrcoef(x, y)[0, 1]
    r = _run(spark, sf_dir, "gr_assortativity").collect()[0]
    assert r.n_edges == len(edges)
    assert abs(r.assortativity - expect) < 1e-4
    assert -1.0 <= r.assortativity <= 1.0


def test_s_velocity_check_matches_python_replay(spark, sf_dir):
    from collections import defaultdict

    ev = sorted(load_table(spark, sf_dir, "events").collect(),
                key=lambda e: (e.user_id, e.ts, e.event_id))
    per_user = defaultdict(list)
    for e in ev:
        per_user[e.user_id].append(e)

    def micros(td):
        return (td.days * 86_400_000_000 + td.seconds * 1_000_000
                + td.microseconds)

    day = 86_400_000_000
    expect = {}
    for u, es in per_user.items():
        span = micros(es[-1].ts - es[0].ts)
        daily = len(es) / (span / 86400000000.0 + 1.0)
        t0 = es[0].ts
        ms = [micros(e.ts - t0) for e in es]
        for i, e in enumerate(es):
            n24 = sum(1 for m in ms if ms[i] - day <= m <= ms[i])
            if n24 >= 5 and n24 > 3.0 * daily:
                expect[e.event_id] = (n24, round(daily, 6))
    got = {r.event_id: (r.n_24h, r.baseline_daily)
           for r in _run(spark, sf_dir, "s_velocity_check").collect()}
    assert got == expect
    assert got, "velocity screen flagged nothing"


def test_q_funnel_ttc_accounting(spark, sf_dir):
    from collections import defaultdict

    ev = load_table(spark, sf_dir, "events").collect()
    signups, purchases = {}, defaultdict(list)
    for e in ev:
        if e.event_type == "signup":
            if e.user_id not in signups or e.ts < signups[e.user_id]:
                signups[e.user_id] = e.ts
        elif e.event_type == "purchase":
            purchases[e.user_id].append(e.ts)
    delays = []
    for u, s_ts in signups.items():
        after = [t for t in purchases.get(u, []) if t >= s_ts]
        if after:
            td = min(after) - s_ts
            delays.append((td.days * 86_400_000_000
                           + td.seconds * 1_000_000 + td.microseconds)
                          / 3_600_000_000.0)
    r = _run(spark, sf_dir, "q_funnel_ttc").collect()[0]
    assert r.n_signup_users == len(signups)
    assert r.n_converted == len(delays)
    assert r.conversion_rate == round(len(delays) / len(signups), 6)
    delays.sort()
    import numpy as np
    assert abs(r.p50_hours - np.percentile(delays, 50)) < 1e-4
    assert abs(r.p90_hours - np.percentile(delays, 90)) < 1e-4
    assert 0 < r.conversion_rate <= 1 and r.p50_hours <= r.p90_hours


def test_emb_procrustes_align_recovers_quantization_geometry(spark, sf_dir):
    """Exact-value pin for the SVD chain, on emb_procrustes_align_full
    (the registered entry carries the round-11 invariant lattice)."""
    import numpy as np

    from sanctions_data_pipeline_spark.plans.training_data3 import (
        emb_procrustes_align_full)

    rows = {r.dim: r for r in
            emb_procrustes_align_full(spark, sf_dir).collect()}
    assert len(rows) == 64
    # full numpy replay from the raw embeddings
    emb = load_table(spark, sf_dir, "embeddings").collect()
    a = np.array([[float(x) for x in r.embedding] for r in emb])
    absmax = np.abs(a).max(axis=1, keepdims=True)
    b = np.floor(a * (127.0 / absmax) + 0.5) * (absmax / 127.0)
    m = a.T @ b
    u, _, vt = np.linalg.svd(m)
    w = u @ vt
    rb = np.sqrt(((a - b) ** 2).mean(axis=0))
    ra = np.sqrt(((a @ w - b) ** 2).mean(axis=0))
    for i in range(64):
        assert abs(rows[i].rmse_before - rb[i]) < 1e-5
        assert abs(rows[i].rmse_aligned - ra[i]) < 1e-5
        assert abs(rows[i].w_diag - w[i, i]) < 1e-5
        # the aligner is near-identity: quantization noise is not a
        # rotation, so W's diagonal stays close to 1
        assert rows[i].w_diag > 0.99
    # Procrustes optimality is in FROBENIUS norm (identity is a
    # feasible W), i.e. over summed SQUARES — not per-dim RMSE sums
    assert sum(r.rmse_aligned ** 2 for r in rows.values()) \
        <= sum(r.rmse_before ** 2 for r in rows.values()) + 1e-9


def test_dp_packing_bestfit_beats_or_ties_contiguous_pack(spark, sf_dir):
    from collections import defaultdict

    got = {r.lang: r for r in
           _run(spark, sf_dir, "dp_packing_bestfit").collect()}
    docs = load_table(spark, sf_dir, "documents").collect()
    per_lang = defaultdict(list)
    for d in docs:
        per_lang[d.lang].append((d.doc_id, len(_toks(d.text))))
    budget = 2048
    for lang, items in per_lang.items():
        r = got[lang]
        assert r.n_docs == len(items)
        assert r.total_tokens == sum(n for _, n in items)
        # python BFD replay
        bins = []
        for _, n in sorted(items, key=lambda x: (-x[1], x[0])):
            best, best_rem = -1, budget + 1
            for i, rem in enumerate(bins):
                if n <= rem < best_rem:
                    best, best_rem = i, rem
            if best >= 0:
                bins[best] -= n
            else:
                bins.append(budget - n)
        assert r.n_bins_bfd == len(bins)
        assert r.fill_ratio == round(
            r.total_tokens / (len(bins) * budget), 6)
        # BFD stays within one bin of the volume lower bound on this
        # corpus (items are tiny vs the budget) — fill_ratio alone is
        # NOT a tightness signal: ceil() slack dominates small shards
        lb = -(-r.total_tokens // budget)
        assert lb <= r.n_bins_bfd <= lb + 1


def test_dp_rendezvous_shards_stability_property(spark, sf_dir):
    """HRW replay + THE property: growing 8 -> 9 shards moves only
    ~1/9 of documents, and every moved doc moves TO the new shard."""
    import hashlib

    def weight(s, doc_id):
        return int(hashlib.md5(f"rvz:{s}:{doc_id}".encode())
                   .hexdigest()[:15], 16)

    rows = _run(spark, sf_dir, "dp_rendezvous_shards").collect()
    docs = [d.doc_id
            for d in load_table(spark, sf_dir, "documents").collect()]
    assert len(rows) == len(docs)
    moved = 0
    for r in rows:
        w8 = max(range(8), key=lambda s: (weight(s, r.doc_id), s))
        w9 = max(range(9), key=lambda s: (weight(s, r.doc_id), s))
        assert (r.shard_n, r.shard_n1) == (w8, w9)
        assert r.moved == (w8 != w9)
        if r.moved:
            moved += 1
            assert r.shard_n1 == 8      # moves go ONLY to the new shard
    # expected move fraction = 1/9; generous band for a 500-doc sample
    assert 0.02 < moved / len(rows) < 0.25


def test_tx_heaps_fit_matches_numpy_ols(spark, sf_dir):
    import numpy as np

    docs = sorted(load_table(spark, sf_dir, "documents").collect(),
                  key=lambda d: d.doc_id)
    seen: set = set()
    xs, ys = [], []
    cum = 0
    for d in docs:
        t = _toks(d.text)
        cum += len(t)
        seen.update(t)
        xs.append(np.log(cum))
        ys.append(np.log(len(seen)))
    beta, logk = np.polyfit(np.array(xs), np.array(ys), 1)
    r = _run(spark, sf_dir, "tx_heaps_fit").collect()[0]
    assert r.n_points == len(docs)
    assert abs(r.beta - beta) < 1e-4
    assert abs(r.k - np.exp(logk)) < max(1e-3, np.exp(logk) * 1e-4)
    assert 0.0 < r.beta < 1.0       # sublinear vocabulary growth


def test_dd_sorted_neighborhood_matches_python_replay(spark, sf_dir):
    """Full SNM replay: sort by (3-token blocking key, doc_id), window
    w=5, set-Jaccard >= 0.5 — pair set and scores must match, and
    every emitted pair must be within window distance."""
    docs = load_table(spark, sf_dir, "documents").collect()
    recs = sorted(
        ((" ".join(_toks(d.text)[:3]), d.doc_id, set(_toks(d.text)))
         for d in docs))
    expect = {}
    rank_of = {doc_id: i for i, (_, doc_id, _) in enumerate(recs)}
    for i, (_, di, ti) in enumerate(recs):
        for j in range(i + 1, min(i + 5, len(recs))):
            _, dj, tj = recs[j]
            jac = len(ti & tj) / len(ti | tj)
            if jac >= 0.5:
                expect[(di, dj)] = round(jac, 6)
    got = {(r.i, r.j): r.jaccard
           for r in _run(spark, sf_dir, "dd_sorted_neighborhood").collect()}
    assert got == expect
    for (i, j) in got:
        assert 0 < rank_of[j] - rank_of[i] < 5


def test_tx_burstiness_matches_python_and_discriminates(spark, sf_dir):
    from collections import Counter, defaultdict

    docs = load_table(spark, sf_dir, "documents").collect()
    per_term = defaultdict(Counter)
    for d in docs:
        for w, c in Counter(_toks(d.text)).items():
            per_term[w][d.doc_id] = c
    nd = len(docs)
    df = {w: len(cs) for w, cs in per_term.items()}
    top = sorted(df, key=lambda w: (-df[w], w))[:20]
    got = {r.term: (r.df, r.mean_count, r.vmr)
           for r in _run(spark, sf_dir, "tx_burstiness").collect()}
    assert set(got) == set(top)
    for w in top:
        s1 = sum(per_term[w].values())
        s2 = sum(c * c for c in per_term[w].values())
        mean = s1 / nd
        vmr = (s2 / nd - mean * mean) / mean
        assert got[w][0] == df[w]
        assert abs(got[w][1] - round(mean, 6)) < 1e-9
        assert abs(got[w][2] - round(vmr, 6)) < 1e-9
    # Poisson-like terms have VMR near 1+; everything nonnegative-ish
    assert all(v[2] > 0 for v in got.values())


def test_q_pareto_abc_classes_partition_revenue(spark, sf_dir):
    rows = sorted(_run(spark, sf_dir, "q_pareto_abc").collect(),
                  key=lambda r: r.cum_share)
    assert rows
    total = sum(r.revenue for r in rows)
    # cumulative share is monotone and ends at 1
    shares = [r.cum_share for r in rows]
    assert shares == sorted(shares)
    assert abs(shares[-1] - 1.0) < 1e-6
    # class boundaries: A then B then C in cum-share order
    classes = "".join(r.abc_class for r in rows)
    assert re.fullmatch(r"A+B*C*", classes), classes[:50]
    a_rev = sum(r.revenue for r in rows if r.abc_class == "A")
    assert a_rev / total <= 0.80 + max(r.revenue for r in rows) / total
    # every class respects its cutoff
    for r in rows:
        if r.abc_class == "A":
            assert r.cum_share <= 0.80
        elif r.abc_class == "B":
            assert 0.80 < r.cum_share <= 0.95 or r.cum_share <= 0.95
        else:
            assert r.cum_share > 0.95


def test_q_market_basket_rules_match_python_replay(spark, sf_dir):
    from collections import Counter, defaultdict

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < 200).select("l_orderkey", "l_partkey").collect()
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    n_orders = len(baskets)
    item: Counter = Counter()
    pair: Counter = Counter()
    for parts in baskets.values():
        for a in parts:
            item[a] += 1
            for b in parts:
                if a != b:
                    pair[(a, b)] += 1
    expect = {}
    for (a, b), s_ab in pair.items():
        if s_ab >= 3:
            conf = s_ab / item[a]
            expect[(a, b)] = (s_ab, round(s_ab / n_orders, 6),
                              round(conf, 6),
                              round(conf / (item[b] / n_orders), 6))
    got = {(r.ante, r.cons): (r.s_ab, r.support, r.confidence, r.lift)
           for r in _run(spark, sf_dir, "q_market_basket").collect()}
    assert got == expect
    # lift symmetry law: lift(a->b) == lift(b->a)
    for (a, b), (_, _, _, lift) in got.items():
        if (b, a) in got:
            assert abs(got[(b, a)][3] - lift) < 1e-6


def test_q_rfm_segmentation_quintiles(spark, sf_dir):
    rows = _run(spark, sf_dir, "q_rfm_segmentation").collect()
    assert rows
    n = len(rows)
    for dim in ("r", "f", "m"):
        sizes: dict[int, int] = {}
        for r in rows:
            v = getattr(r, dim)
            assert 1 <= v <= 5
            sizes[v] = sizes.get(v, 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1
        assert sum(sizes.values()) == n
    for r in rows:
        assert r.rfm_code == f"{r.r}{r.f}{r.m}"
    # monetary quintile is monotone in monetary value (ties aside):
    by_m = sorted(rows, key=lambda r: (r.monetary, r.custkey))
    ms = [r.m for r in by_m]
    assert ms == sorted(ms)


def test_q_cohort_ltv_row_accounting(spark, sf_dir):
    from collections import defaultdict

    orders = load_table(spark, sf_dir, "orders").collect()
    first = {}
    for o in orders:
        cm = o.o_orderdate.replace(day=1, hour=0, minute=0, second=0,
                                   microsecond=0)
        if o.o_custkey not in first or cm < first[o.o_custkey]:
            first[o.o_custkey] = cm
    cells = defaultdict(lambda: [0, 0])
    for o in orders:
        f = first[o.o_custkey]
        ms = ((o.o_orderdate.year - f.year) * 12
              + (o.o_orderdate.month - f.month))
        c = cells[(f.strftime("%Y-%m"), ms)]
        c[0] += 1
        c[1] += int(round(o.o_totalprice * 10000))
    got = {(r.cohort_month, r.months_since): r
           for r in _run(spark, sf_dir, "q_cohort_ltv").collect()}
    assert set(got) == set(cells)
    for k, (n, rev4) in cells.items():
        assert got[k].n_orders == n
        assert abs(got[k].revenue - rev4 / 1e4) < 1e-9
    # cum_ltv telescopes: last cell of each cohort row == row sum
    from collections import defaultdict as dd
    per_cohort = dd(list)
    for (cm, ms), v in cells.items():
        per_cohort[cm].append((ms, v[1]))
    for cm, vals in per_cohort.items():
        total = sum(v for _, v in vals) / 1e4
        last_ms = max(ms for ms, _ in vals)
        assert abs(got[(cm, last_ms)].cum_ltv - total) < 1e-9
    # months_since is never negative (first order defines the cohort)
    assert all(ms >= 0 for _, ms in got)


def test_gr_local_clustering_matches_python(spark, sf_dir):
    from collections import defaultdict

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 2000).select("l_orderkey", "l_partkey").collect()
    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    nbrs = defaultdict(set)
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    nbrs[a].add(b)
    got = {r.node: (r.d, r.n_triangles, r.lcc)
           for r in _run(spark, sf_dir, "gr_local_clustering").collect()}
    assert set(got) == set(nbrs)
    for v, ns in nbrs.items():
        d = len(ns)
        tri = sum(1 for a in ns for b in ns if a < b and b in nbrs[a])
        lcc = round(2.0 * tri / (d * (d - 1)), 6) if d >= 2 else 0.0
        assert got[v] == (d, tri, lcc), v
        assert 0.0 <= got[v][2] <= 1.0


def test_q_cep_pattern_matches_python_state_machine(spark, sf_dir):
    from collections import defaultdict

    ev = sorted((e for e in load_table(spark, sf_dir, "events").collect()
                 if e.event_type in ("error", "purchase", "signup")),
                key=lambda e: (e.user_id, e.ts, e.event_id))
    per_user = defaultdict(list)
    for e in ev:
        per_user[e.user_id].append(e)

    def us(e, base):
        td = e.ts - base
        return (td.days * 86_400_000_000 + td.seconds * 1_000_000
                + td.microseconds)

    expect = {}
    for u, es in per_user.items():
        base = es[0].ts
        for i, e in enumerate(es):
            if e.event_type != "error":
                continue
            nxt_p = next((us(x, base) for x in es[i + 1:]
                          if x.event_type == "purchase"), None)
            nxt_s = next((us(x, base) for x in es[i + 1:]
                          if x.event_type == "signup"), None)
            if (nxt_p is not None and nxt_p - us(e, base) <= 1_800_000_000
                    and (nxt_s is None or nxt_s > nxt_p)):
                expect[e.event_id] = (u, nxt_p - us(e, base))
    got = {r.error_event_id: (r.user_id, r.delay_us)
           for r in _run(spark, sf_dir, "q_cep_pattern").collect()}
    assert got == expect
    assert got, "pattern never matched on the test corpus"
    assert all(0 <= d <= 1_800_000_000 for _, d in got.values())


def test_q_skyline_is_the_pareto_frontier(spark, sf_dir):
    parts = [(p.p_partkey, round(p.p_retailprice, 4), p.p_size)
             for p in load_table(spark, sf_dir, "part").collect()
             if p.p_partkey < 400]
    got = {r.p_partkey for r in _run(spark, sf_dir, "q_skyline").collect()}

    def dominated(a):
        return any(b[1] <= a[1] and b[2] >= a[2]
                   and (b[1] < a[1] or b[2] > a[2]) for b in parts)

    expect = {k for (k, pr, sz) in parts if not dominated((k, pr, sz))}
    assert got == expect
    assert got, "empty skyline"
    # frontier law: skyline points are mutually non-dominating
    sky = [p for p in parts if p[0] in got]
    for a in sky:
        for b in sky:
            if a[0] != b[0]:
                assert not (b[1] <= a[1] and b[2] >= a[2]
                            and (b[1] < a[1] or b[2] > a[2]))


def test_q_path_analysis_matches_python_sessionizer(spark, sf_dir):
    from collections import Counter, defaultdict

    ev = sorted(load_table(spark, sf_dir, "events").collect(),
                key=lambda e: (e.user_id, e.ts, e.event_id))
    per_user = defaultdict(list)
    for e in ev:
        per_user[e.user_id].append(e)
    paths: Counter = Counter()
    for u, es in per_user.items():
        prev = None
        cur: list[str] = []
        for e in es:
            if prev is None or (e.ts - prev).total_seconds() > 1800:
                if cur:
                    paths[">".join(cur[:5])] += 1
                cur = []
            cur.append(e.event_type)
            prev = e.ts
        if cur:
            paths[">".join(cur[:5])] += 1
    got = {r.path: r.n_sessions
           for r in _run(spark, sf_dir, "q_path_analysis").collect()}
    assert got == dict(paths)
    assert sum(got.values()) == sum(paths.values())


def test_q_cusum_changepoint_recursion_replay(spark, sf_dir):
    """Two independent replays: (a) the closed prefix-sum/running-min
    form the engine computes, pinned EXACTLY (same IEEE expression
    tree in python), and (b) Page's original max(0, ...) recursion,
    pinned within float tolerance — proving the closed form IS the
    recursion, not just close to it."""
    import math
    from collections import Counter

    ev = load_table(spark, sf_dir, "events").collect()
    daily = Counter(e.ts.strftime("%Y-%m-%d") for e in ev)
    days = sorted(daily)
    xs = [daily[d] for d in days]
    nd = len(xs)
    sx, sxx = sum(xs), sum(x * x for x in xs)
    mean = sx / nd
    sd = math.sqrt(max(sxx / nd - mean * mean, 0.0)) or 1.0
    k, h = 0.5 * sd, 4.0 * sd

    def p6(x):
        return math.floor(x * 1000000.0 + 0.5) / 1000000.0

    # (a) closed form, exact
    expect = {}
    cx, mh, ml = 0, 0.0, 0.0
    for i, (d, x) in enumerate(zip(days, xs), start=1):
        cx += x
        ph = float(cx) - i * (mean + 0.5 * sd)
        pl = -float(cx) + i * (mean - 0.5 * sd)
        mh, ml = min(mh, ph), min(ml, pl)
        sh, sl = ph - min(0.0, mh), pl - min(0.0, ml)
        expect[d] = (x, p6(sh / sd), p6(sl / sd),
                     1 if (sh > h or sl > h) else 0)
    got = {r.day: (r.n_events, r.cusum_hi, r.cusum_lo, r.alarm)
           for r in _run(spark, sf_dir, "q_cusum_changepoint").collect()}
    assert got == expect
    # (b) the original recursion, within tolerance
    s_hi = s_lo = 0.0
    for d, x in zip(days, xs):
        s_hi = max(0.0, s_hi + (x - mean) - k)
        s_lo = max(0.0, s_lo - (x - mean) - k)
        assert abs(got[d][1] - s_hi / sd) < 2e-6, d
        assert abs(got[d][2] - s_lo / sd) < 2e-6, d
    # CUSUM laws: statistics never negative
    assert all(hi >= 0 and lo >= 0 for _, hi, lo, _ in got.values())


def test_sim_ndcg_eval_laws_and_replay(spark, sf_dir):
    import math as m

    # tx_bm25 emits top-10 only, so recompute the full posting here
    docs = load_table(spark, sf_dir, "documents").collect()
    toks = {d.doc_id: _toks(d.text) for d in docs}
    from collections import Counter
    df: Counter = Counter()
    for t in toks.values():
        df.update(set(t))
    qterms = sorted(df, key=lambda w: (-df[w], w))[:5]
    got = {r.term: (r.dcg, r.idcg, r.ndcg)
           for r in _run(spark, sf_dir, "sim_ndcg_eval").collect()}
    assert set(got) == set(qterms)
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    for term in qterms:
        posting = []
        for doc_id, t in toks.items():
            tf = t.count(term)
            if tf:
                idf = m.log(1.0 + (float(n_docs - df[term]) + 0.5)
                            / (float(df[term]) + 0.5))
                s = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75
                                                    * (len(t) / avgdl)))
                posting.append((round(s, 6), doc_id, tf))
        by_bm25 = sorted(posting, key=lambda x: (-x[0], x[1]))[:10]
        by_rel = sorted(posting, key=lambda x: (-x[2], x[1]))[:10]
        dcg = sum(sorted(tf / m.log2(i + 2)
                         for i, (_, _, tf) in enumerate(by_bm25)))
        idcg = sum(sorted(tf / m.log2(i + 2)
                          for i, (_, _, tf) in enumerate(by_rel)))
        gd, gi, gn = got[term]
        assert abs(gd - round(dcg, 6)) < 1e-9
        assert abs(gi - round(idcg, 6)) < 1e-9
        assert abs(gn - round(dcg / idcg, 6)) < 1e-9
        assert 0.0 < gn <= 1.0 + 1e-9      # nDCG law


def test_q_holt_forecast_recursion_replay(spark, sf_dir):
    from collections import Counter

    ev = load_table(spark, sf_dir, "events").collect()
    daily = Counter(e.ts.strftime("%Y-%m-%d") for e in ev)
    days = sorted(daily)
    xs = [daily[d] for d in days]
    a, g = 0.5, 0.3
    level, trend = float(xs[0]), float(xs[1] - xs[0])
    expect = {}
    for d, x in zip(days, xs):
        pl, pb = level, trend
        level = a * x + (1 - a) * (pl + pb)
        trend = g * (level - pl) + (1 - g) * pb
        expect[d] = (x, round(level, 6), round(trend, 6),
                     round(level + trend, 6), False)
    rows = {r.day: (r.n_events, r.level, r.trend, r.forecast, r.is_future)
            for r in _run(spark, sf_dir, "q_holt_forecast").collect()}
    hist = {d: v for d, v in rows.items() if not v[4]}
    assert hist == expect
    fut = sorted((d, v) for d, v in rows.items() if v[4])
    assert len(fut) == 7
    # future forecasts extrapolate linearly: constant increments
    incs = [round(fut[i + 1][1][3] - fut[i][1][3], 6)
            for i in range(len(fut) - 1)]
    assert all(abs(i - round(trend, 6)) < 1e-4 for i in incs)


def test_emb_isotropy_abtt_improves_isotropy(spark, sf_dir):
    import numpy as np

    from sanctions_data_pipeline_spark.plans.training_data3 import (
        emb_isotropy_full)

    r = emb_isotropy_full(spark, sf_dir).collect()[0]
    assert 0.0 < r.isotropy_before <= 1.0
    assert 0.0 < r.isotropy_after <= 1.0
    # removing the dominant directions must not WORSEN isotropy
    assert r.isotropy_after >= r.isotropy_before - 1e-6
    # numpy replay of the full chain
    emb = load_table(spark, sf_dir, "embeddings").collect()
    x = np.array([[float(v) for v in e.embedding] for e in emb])
    n = len(x)
    mu = x.mean(axis=0)
    cov = (x.T @ x) / n - np.outer(mu, mu)
    lam, vecs = np.linalg.eigh(cov)
    second = cov + np.outer(mu, mu)
    z = np.sqrt(np.maximum(
        np.einsum("ij,jk,ki->i", vecs.T, second, vecs), 1e-12))
    assert abs(r.isotropy_before - round(float(z.min() / z.max()), 6)) < 1e-5
    assert r.n_vectors == n
    assert abs(r.top_eig_share
               - round(float(lam[-1] / lam.sum()), 6)) < 1e-5


def test_q_ab_ztest_aa_calibration(spark, sf_dir):
    import hashlib
    from collections import Counter

    ev = load_table(spark, sf_dir, "events").collect()
    purchases: Counter = Counter()
    users = set()
    for e in ev:
        users.add(e.user_id)
        if e.event_type == "purchase":
            purchases[e.user_id] += 1
    arms = {u: int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:8], 16) % 2
            for u in users}
    n = Counter(arms.values())
    conv = Counter()
    for u in users:
        if purchases[u] > 13:
            conv[arms[u]] += 1
    r = _run(spark, sf_dir, "q_ab_ztest").collect()[0]
    assert (r.n0, r.c0, r.n1, r.c1) == (n[0], conv[0], n[1], conv[1])
    import math as m
    p = (conv[0] + conv[1]) / (n[0] + n[1])
    z = ((conv[0] / n[0] - conv[1] / n[1])
         / m.sqrt(p * (1 - p) * (1 / n[0] + 1 / n[1])))
    assert abs(r.z_stat - round(z, 6)) < 1e-9
    # A/A calibration: the hash split must not "detect" an effect
    assert abs(r.z_stat) < 3.0


def test_q_dormancy_reactivation_matches_python(spark, sf_dir):
    from collections import defaultdict

    ev = sorted(load_table(spark, sf_dir, "events").collect(),
                key=lambda e: (e.user_id, e.ts, e.event_id))
    per_user = defaultdict(list)
    for e in ev:
        per_user[e.user_id].append(e)
    week = 7 * 86_400_000_000
    expect = {}
    for u, es in per_user.items():
        gaps = []
        for a, b in zip(es, es[1:]):
            td = b.ts - a.ts
            gaps.append(td.days * 86_400_000_000 + td.seconds * 1_000_000
                        + td.microseconds)
        expect[u] = (len(es), sum(1 for g in gaps if g > week),
                     (max(gaps) if gaps else 0) // 3_600_000_000)
    got = {r.user_id: (r.n_events, r.n_reactivations, r.max_gap_hours)
           for r in _run(spark, sf_dir, "q_dormancy_reactivation").collect()}
    assert got == expect


def test_q_gini_coefficient_matches_python(spark, sf_dir):
    from collections import defaultdict

    orders = load_table(spark, sf_dir, "orders").collect()
    spend = defaultdict(int)
    for o in orders:
        spend[o.o_custkey] += int(round(o.o_totalprice * 10000))
    xs = [x for _, x in sorted(spend.items(), key=lambda kv: (kv[1], kv[0]))]
    n, sx = len(xs), sum(xs)
    six = sum((i + 1) * x for i, x in enumerate(xs))
    gini = 2.0 * six / (n * sx) - (n + 1.0) / n
    r = _run(spark, sf_dir, "q_gini_coefficient").collect()[0]
    assert r.n_customers == n
    assert abs(r.total_spend - sx / 1e4) < 1e-9
    assert abs(r.gini - round(gini, 6)) < 1e-9
    assert 0.0 <= r.gini < 1.0


def test_tok_fertility_ordering_laws(spark, sf_dir):
    from sanctions_data_pipeline_spark.plans.training_data3 import (
        tok_fertility_full)

    rows = {r.tokenizer: (r.n_symbols, r.fertility)
            for r in tok_fertility_full(spark, sf_dir).collect()}
    assert set(rows) == {"whitespace", "character", "bpe", "unigram_lm"}
    ws, ch = rows["whitespace"], rows["character"]
    bpe, uni = rows["bpe"], rows["unigram_lm"]
    assert ws[1] == 1.0
    # trained subword tokenizers beat characters and cannot beat words
    for trained in (bpe, uni):
        assert 1.0 <= trained[1] <= ch[1]
    # BPE cross-check: totals equal the encode op's own accounting
    enc = _run(spark, sf_dir, "tok_bpe_encode").collect()
    assert bpe[0] == sum(r.n_bpe_symbols for r in enc)
    assert ch[0] == sum(r.n_raw_symbols for r in enc)
    # the registered (oracle-checked) projection agrees with the full
    # lanes: exact relational values + true compression invariants
    reg = {r.tokenizer: r for r in
           _run(spark, sf_dir, "tok_fertility").collect()}
    assert reg["whitespace"].n_symbols == ws[0]
    assert reg["character"].n_symbols == ch[0]
    assert all(reg[k].bounds_ok for k in reg)
    assert reg["bpe"].n_symbols is None and reg["unigram_lm"].fertility is None


def test_q_weekday_seasonality_accounting(spark, sf_dir):
    from collections import defaultdict

    ev = load_table(spark, sf_dir, "events").collect()
    daily = defaultdict(int)
    for e in ev:
        daily[e.ts.date()] += 1
    grand = sum(daily.values()) / len(daily)
    per_dow = defaultdict(lambda: [0, 0])
    for d, n in daily.items():
        dow = (d.isoweekday() % 7) + 1       # Spark: 1=Sunday..7
        per_dow[dow][0] += 1
        per_dow[dow][1] += n
    got = {r.dow: (r.n_days, r.n_events, r.mean_daily, r.seasonal_index)
           for r in _run(spark, sf_dir, "q_weekday_seasonality").collect()}
    assert set(got) == set(per_dow)
    for dow, (nd, nev) in per_dow.items():
        g = got[dow]
        assert (g[0], g[1]) == (nd, nev)
        assert abs(g[2] - round(nev / nd, 6)) < 1e-9
        assert abs(g[3] - round((nev / nd) / grand, 6)) < 1e-9
    # indices average ~1 weighted by days
    wsum = sum(got[d][3] * got[d][0] for d in got)
    assert abs(wsum / sum(got[d][0] for d in got) - 1.0) < 0.01


def test_segment_words_join_path_equals_literal_path(spark, sf_dir):
    """The 32k-vocab scale switch: forcing the broadcast
    position-substring join (literal_map_max=0) must segment every
    distinct sf-fixture word identically to the literal-map lattice."""
    import math

    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.operators import textstats as tx
    from sanctions_data_pipeline_spark.operators import unigram as ug

    docs = load_table(spark, sf_dir, "documents")
    words = (docs.select(F.explode(tx.tokens(F.col("text"))).alias("w"))
             .filter(F.col("w") != "").distinct())
    # a model with multi-char pieces, single chars, and gaps (some
    # words have NO in-vocab substring -> NULL map branch)
    sample = [r.w for r in words.limit(200).collect()]
    model = {}
    for w in sample[:50]:
        for piece in (w[:2], w[:1], w[-3:]):
            if piece:
                model[piece] = model.get(piece, 0) + 1
    tot = sum(model.values())
    model = {p: c / tot for p, c in model.items()}

    lit = {r.w: list(r["__pieces"]) for r in ug.segmented_words(
        words, "w", model, literal_map_max=10 ** 6).collect()}
    join = {r.w: list(r["__pieces"]) for r in ug.segmented_words(
        words, "w", model, literal_map_max=0).collect()}
    assert lit == join and lit  # ORDERED segmentations identical
    # and the join path replays the pure-python lattice too
    for w_ in sample[:80]:
        assert join[w_] == ug.viterbi_pieces_py(w_, model), w_


def test_em_piece_counts_arrow_path_equals_jvm_path(spark, sf_dir):
    """The round-12 E-step switch: em_piece_counts (Arrow-batched
    python lattice replay + per-batch partial counts) must produce
    EXACTLY the piece-use census the JVM segment_words explode +
    groupBy produced, and viterbi_char_margin_ok must agree with the
    JVM HOF bool_and form it replaced — on real fixture words with a
    messy model (multi-char pieces, gaps, full char floor)."""
    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.operators import textstats as tx
    from sanctions_data_pipeline_spark.operators import unigram as ug

    docs = load_table(spark, sf_dir, "documents")
    words = (docs.select(F.explode(tx.tokens(F.col("text"))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("c")).persist())
    sample = [r.w for r in words.limit(200).collect() if r.w]
    model = {}
    for w in sample[:60]:
        for piece in (w[:2], w[-3:]):
            if piece:
                model[piece] = model.get(piece, 0) + 1
        for ch in w:           # char floor: every word stays segmentable
            model[ch] = model.get(ch, 0) + 1
    tot = sum(model.values())
    model = {p: c / tot for p, c in model.items()}

    jvm = {r.piece: int(r.n) for r in
           ug.segment_words(words, "w", model).select("c", "piece")
           .groupBy("piece").agg(F.sum("c").alias("n")).collect()}
    arrow = {r.piece: int(r.n) for r in
             ug.em_piece_counts(words, "w", "c", model).collect()}
    assert arrow == jvm and arrow

    # optimality lane: Arrow margin check == the JVM HOF form
    cost_map = ug._cost_map(model)
    segd = ug.segmented_words(words, "w", model)
    vit_cost = F.aggregate(
        F.col("__pieces"), F.lit(0.0),
        lambda acc, p: acc + F.element_at(cost_map, p))
    char_cost = F.aggregate(
        F.transform(F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.substring(F.col("w"), i.cast("int"), 1)),
        F.lit(0.0),
        lambda acc, ch: acc + F.element_at(cost_map, ch))
    jvm_ok = segd.agg(
        F.bool_and(vit_cost <= char_cost + F.lit(1e-6))).collect()[0][0]
    arrow_ok = ug.viterbi_char_margin_ok(words, "w", model).collect()[0][0]
    words.unpersist()
    assert arrow_ok == jvm_ok


def test_unigram_arrow_paths_skip_null_words(spark):
    """A NULL word has no pieces and no margin verdict — on the Arrow
    workers, in the driver-side replays and in the JVM form they
    replaced — instead of crashing the Python worker."""
    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.operators import unigram as ug

    model = {"ab": 0.4, "a": 0.2, "b": 0.2, "c": 0.2}
    rows = [("abc", 2), (None, 5), ("ab", 1)]
    words = spark.createDataFrame(rows, "w string, c bigint")
    arrow = {r.piece: int(r.n) for r in
             ug.em_piece_counts(words, "w", "c", model).collect()}
    jvm = {r.piece: int(r.n) for r in
           ug.segment_words(words, "w", model).groupBy("piece")
           .agg(F.sum("c").alias("n")).collect()}
    assert arrow == jvm == ug.em_piece_counts_py(rows, model) \
        == {"ab": 3, "c": 2}
    assert ug.viterbi_char_margin_ok(words, "w", model).collect()[0][0] \
        is True
    assert ug.viterbi_char_margin_ok_py([w for w, _ in rows], model) is True

    nulls = spark.createDataFrame([(None, 1)], "w string, c bigint")
    assert ug.em_piece_counts(nulls, "w", "c", model).collect() == []
    assert ug.viterbi_char_margin_ok(nulls, "w", model).collect()[0][0] \
        is None
    assert ug.viterbi_char_margin_ok_py([None], model) is None


def test_segment_words_join_path_tolerates_duplicate_words(spark):
    """The broadcast-join path must accept duplicate word rows (the
    literal path always did) — map_from_entries crashed with
    DUPLICATED_MAP_KEY before the per-(word, piece) distinct
    (code-review r06 finding)."""
    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.operators import unigram as ug

    df = spark.createDataFrame(
        [("banana",), ("banana",), ("band",)], "w string")
    model = {"ba": 0.4, "na": 0.4, "nd": 0.2}
    rows = ug.segment_words(df, "w", model, literal_map_max=0).collect()
    by_word = {}
    for r in rows:
        by_word.setdefault(r.w, []).append(r.piece)
    # two banana rows -> two segmentations' worth of pieces
    assert len(by_word["banana"]) == 2 * len(
        ug.viterbi_pieces_py("banana", model))


def test_unigram_small_inventory_switch_matches_arrow_path(
        spark, sf_dir, monkeypatch):
    """The round-12 small-inventory driver switch must be
    output-identical to the Arrow mapInPandas path on both the
    registered lattice and the _full pin surface (the dd_cluster /
    BPE both-paths pin): force the Arrow path by zeroing the gate."""
    import sanctions_data_pipeline_spark.plans.training_data3 as td3
    from sanctions_data_pipeline_spark.plans import helpers, registry

    def rows(fn):
        return sorted(tuple(r) for r in fn(spark, sf_dir).collect())

    fast = rows(registry.queries()["tok_unigram_lm"])
    fast_full = rows(td3.tok_unigram_lm_full)
    monkeypatch.setattr(helpers, "DRIVER_MAX_ROWS", 0)
    slow = rows(registry.queries()["tok_unigram_lm"])
    slow_full = rows(td3.tok_unigram_lm_full)
    assert fast == slow
    assert fast_full == slow_full
