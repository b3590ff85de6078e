"""Round-5 analytics: pure-python replays of the new oracled ops
(independent of the DuckDB oracle — same parquet inputs, hand math)."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from decimal import Decimal

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.plans import registry

SF = "/root/testdata/sf0.001"


def _run(spark, sf_dir, name):
    return registry.queries()[name](spark, sf_dir)


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _norm_tokens(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


_STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
    "es": ["el", "la", "de", "y", "en", "es", "por", "con", "para", "un"],
    "fr": ["le", "la", "de", "et", "est", "dans", "pour", "avec", "sur", "un"],
}


def _predict_lang(text: str) -> str:
    toks = _norm_tokens(text)
    scores = {lang: sum(t in ws for t in toks)
              for lang, ws in ((k, set(v)) for k, v in _STOP.items())}
    best = max(scores.values())
    if best == 0:
        return "und"
    return min(k for k, v in scores.items() if v == best)


def _pround6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def test_cohens_kappa_replay(spark, sf_dir):
    got = _run(spark, sf_dir, "q_cohens_kappa").collect()[0]
    docs = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    cells = Counter((r.lang, _predict_lang(r.text)) for r in docs)
    n = sum(cells.values())
    diag = sum(v for (t, p), v in cells.items() if t == p)
    rows = Counter()
    cols = Counter()
    for (t, p), v in cells.items():
        rows[t] += v
        cols[p] += v
    pe_num = sum(rows[k] * cols.get(k, 0) for k in rows)
    assert got.n == n and got.n_agree == diag
    assert got.kappa == _pround6((diag * n - pe_num) / (n * n - pe_num))
    assert -1.0 <= got.kappa <= 1.0


def test_dedup_impact_replay(spark, sf_dir):
    got = {r.source: r for r in _run(spark, sf_dir, "tx_dedup_impact").collect()}
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "source", "text").collect()
    keeper = {}
    for r in docs:
        h = hashlib.md5(r.text.encode()).hexdigest()
        keeper[h] = min(keeper.get(h, r.doc_id), r.doc_id)
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, dups, tok, tok_drop
    for r in docs:
        h = hashlib.md5(r.text.encode()).hexdigest()
        nt = len(_norm_tokens(r.text))
        dup = r.doc_id != keeper[h]
        a = agg[r.source]
        a[0] += 1
        a[1] += dup
        a[2] += nt
        a[3] += nt if dup else 0
    assert set(got) == set(agg)
    for src, (nd, ndup, tt, td) in agg.items():
        g = got[src]
        assert (g.n_docs, g.n_dups, g.tok_total, g.tok_dropped) == (nd, ndup, tt, td)
        assert g.savings == _pround6(td / tt)


def test_dedup_impact_planted_copies(spark, tmp_path):
    """sf tables carry no exact text copies, so plant some: each copy
    must count against the SOURCE HOLDING IT (canonical = global min
    doc_id), and savings must be the dropped-token share."""
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars").limit(20)
    from pyspark.sql import functions as F
    copies = docs.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang",
        F.lit("replica-feed").alias("source"), "n_chars")
    docs.unionByName(copies).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.source: r for r in
           _run(spark, str(tmp_path), "tx_dedup_impact").collect()}
    rep = got["replica-feed"]
    assert rep.n_docs == 5 and rep.n_dups == 5
    assert rep.tok_dropped == rep.tok_total and rep.savings == 1.0
    # originals keep canonical status — no dups charged to their sources
    assert all(r.n_dups == 0 for s, r in got.items() if s != "replica-feed")


def test_group_kfold_replay_and_no_straddle(spark, sf_dir):
    got = {r.fold: r for r in _run(spark, sf_dir, "tt_group_kfold").collect()}
    docs = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    fold_of = {}
    agg = defaultdict(lambda: [set(), 0, 0])
    for r in docs:
        f = _md5_32(r.source) % 5
        # structural no-straddle: fold is a pure function of source
        assert fold_of.setdefault(r.source, f) == f
        a = agg[f]
        a[0].add(r.source)
        a[1] += 1
        a[2] += len(_norm_tokens(r.text))
    assert set(got) == set(agg)
    for f, (srcs, nd, nt) in agg.items():
        assert (got[f].n_sources, got[f].n_docs, got[f].n_tokens) == (len(srcs), nd, nt)
    assert len(agg) >= 2  # folds genuinely split the corpus


def test_name_idf_score_replay(spark, sf_dir):
    from sanctions_data_pipeline_spark.data import sanctions_fixture as fx

    got = {(r.entity_id, r.alias_idx): r for r in
           _run(spark, sf_dir, "s_name_idf_score").collect()}
    toks = {(e, a): set(_norm_tokens(name)) for e, a, name, _, _ in fx.ALIASES}
    n = len(fx.ALIASES)
    df = Counter(t for ts in toks.values() for t in ts)
    assert set(got) == set(toks)
    for key, ts in toks.items():
        idfs = sorted(math.log((n + 1.0) / (df[t] + 1.0)) for t in ts)
        acc = 0.0
        for v in idfs:
            acc += v
        assert got[key].n_tokens == len(ts)
        assert abs(got[key].idf_score - round(acc, 6)) < 1e-9
    # rare tokens outscore common ones: the multi-token rare name tops
    one = {k: got[k].idf_score / got[k].n_tokens for k in got}
    # 'mohammed' appears in two aliases -> its idf is below a unique token's
    uniq = math.log((n + 1.0) / 2.0)
    dup = math.log((n + 1.0) / 3.0)
    assert uniq > dup


def test_cagr_replay(spark, sf_dir):
    got = {r.nation: r for r in _run(spark, sf_dir, "q_cagr").collect()}
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_extendedprice", "l_discount").collect()
    orders = {r.o_orderkey: (r.o_custkey, r.o_orderdate.year) for r in
              load_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey", "o_orderdate").collect()}
    cust = {r.c_custkey: r.c_nationkey for r in
            load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey").collect()}
    nation = {r.n_nationkey: r.n_name for r in
              load_table(spark, sf_dir, "nation").collect()}
    yearly = defaultdict(Decimal)
    for r in li:
        ck, yr = orders[r.l_orderkey]
        nat = nation[cust[ck]]
        rev = (Decimal(str(r.l_extendedprice)).quantize(Decimal("0.0001"))
               * (1 - Decimal(str(r.l_discount)).quantize(Decimal("0.0001"))))
        yearly[(nat, yr)] += rev
    for nat in {k[0] for k in yearly}:
        yrs = sorted(y for (n2, y) in yearly if n2 == nat)
        y0, y1 = yrs[0], yrs[-1]
        if y1 == y0:
            assert nat not in got
            continue
        # the dsum edge: round(sum,4)*10000 as int / 10000.0
        r0 = int(yearly[(nat, y0)].quantize(Decimal("0.0001")) * 10000) / 10000.0
        r1 = int(yearly[(nat, y1)].quantize(Decimal("0.0001")) * 10000) / 10000.0
        g = got[nat]
        assert (g.y0, g.y1) == (y0, y1)
        assert g.rev0 == r0 and g.rev1 == r1
        want = _pround6(math.exp(math.log(r1 / r0) / (y1 - y0)) - 1.0)
        assert abs(g.cagr - want) < 2e-6  # 1-ulp exp/ln headroom


def test_linear_interpolate_replay(spark, sf_dir):
    from pyspark.sql import functions as F

    got = {(r.event_type, r.bucket): r for r in
           _run(spark, sf_dir, "q_linear_interpolate").collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("h"), "value").collect()
    cells = defaultdict(Decimal)
    for r in ev:
        if r.value is not None:
            cells[(r.event_type, r.h)] += Decimal(str(r.value)).quantize(
                Decimal("0.0001"))
    hours = sorted({h for _, h in cells})
    import datetime
    h0, h1 = hours[0], hours[-1]
    grid = []
    h = h0
    while h <= h1:
        grid.append(h)
        h += datetime.timedelta(hours=1)
    types = sorted({t for t, _ in cells})
    want = {}
    for t in types:
        known = [(i, int(cells[(t, g)].quantize(Decimal("0.0001")) * 10000))
                 for i, g in enumerate(grid) if (t, g) in cells]
        kidx = {i: v for i, v in known}
        for pos, g in enumerate(grid):
            key = (t, g.strftime("%Y-%m-%d %H:%M:%S"))
            if pos in kidx:
                want[key] = (math.floor(kidx[pos] / 10000.0 * 1e6 + 0.5) / 1e6, 0)
                continue
            prevs = [(i, v) for i, v in known if i < pos]
            nexts = [(i, v) for i, v in known if i > pos]
            if not prevs or not nexts:
                continue
            (ip, vp), (inx, vn) = prevs[-1], nexts[0]
            val = (vp + (vn - vp) * float(pos - ip) / float(inx - ip)) / 10000.0
            want[key] = (math.floor(val * 1e6 + 0.5) / 1e6, 1)
    assert set(got) == set(want)
    for k, (v, flag) in want.items():
        assert got[k].value == v and got[k].is_interpolated == flag, k
    assert any(f for _, f in want.values())  # gaps actually interpolated


def test_drift_fdr_replay(spark, sf_dir):
    got = {r.source: r for r in _run(spark, sf_dir, "dq_drift_fdr").collect()}
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars").collect()
    edges = [50, 100, 150, 200, 250, 300, 350, 400, 450, 500, 550]
    per = defaultdict(lambda: [0] + [0] * len(edges))
    for r in docs:
        a = per[r.source]
        a[0] += 1
        for i, e in enumerate(edges):
            a[i + 1] += r.n_chars <= e
    n = sum(a[0] for a in per.values())
    tot = [sum(a[i + 1] for a in per.values()) for i in range(len(edges))]
    stats = {}
    for s, a in per.items():
        ns, nr = a[0], n - a[0]
        d = max(abs(a[i + 1] / ns - (tot[i] - a[i + 1]) / nr)
                for i in range(len(edges)))
        p = min(1.0, 2.0 * math.exp(-2.0 * d * d * (ns * nr / (ns + nr))))
        stats[s] = (ns, d, p)
    ranked = sorted(stats, key=lambda s: (stats[s][2], s))
    m = len(ranked)
    cut = max((i + 1 for i, s in enumerate(ranked)
               if stats[s][2] <= (i + 1) * 0.10 / m), default=0)
    assert set(got) == set(stats)
    for i, s in enumerate(ranked):
        ns, d, p = stats[s]
        g = got[s]
        assert g.n == ns and g.rk == i + 1
        assert g.d_stat == _pround6(d) and g.p_value == _pround6(p)
        assert g.significant == (1 if i + 1 <= cut else 0)
    # BH is monotone: no significant row may rank below a non-significant one
    flags = [got[s].significant for s in ranked]
    assert flags == sorted(flags, reverse=True)


def test_ljung_box_replay(spark, sf_dir):
    from pyspark.sql import functions as F

    got = _run(spark, sf_dir, "q_ljung_box").collect()[0]
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d")).collect()
    daily = Counter(r.d for r in ev)
    days = sorted(daily)
    x = [daily[d] for d in days]
    m = len(x)
    mean = sum(x) / m
    d0 = sum((v - mean) ** 2 for v in x)
    q = 0.0
    for k in range(1, 8):
        # day-index alignment, like the op (lag in day units, gaps real)
        idx = {(d - days[0]).days: v for d, v in zip(days, x)}
        nsum = sum((idx[i] - mean) * (idx[i + k] - mean)
                   for i in sorted(idx) if i + k in idx)
        r = nsum / d0
        q += r * r / (m - k)
    q *= m * (m + 2)
    assert got.m == m and got.max_lag == 7
    assert abs(got.q_stat - _pround6(q)) < 1e-5
    assert got.q_stat >= 0


def test_decile_lift_replay(spark, sf_dir):
    from pyspark.sql import functions as F

    got = {r.decile: r for r in _run(spark, sf_dir, "q_decile_lift").collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type").collect()
    score = Counter(r.user_id for r in ev)
    buyers = {r.user_id for r in ev if r.event_type == "purchase"}
    ranked = sorted(score, key=lambda u: (-score[u], u))
    n = len(ranked)
    # SQL-standard ntile: first (n % 10) buckets get one extra row
    base, extra = divmod(n, 10)
    want = defaultdict(lambda: [0, 0])
    pos = 0
    for dec in range(1, 11):
        size = base + (1 if dec <= extra else 0)
        for u in ranked[pos:pos + size]:
            want[dec][0] += 1
            want[dec][1] += u in buyers
        pos += size
    b_all = len(buyers)
    assert set(got) == set(want)
    for dec, (nu, nb) in want.items():
        g = got[dec]
        assert (g.n_users, g.n_buyers) == (nu, nb)
        assert abs(g.capture - round(nb / b_all, 6)) < 1e-9
        assert abs(g.lift - round((nb / nu) / (b_all / n), 6)) < 1e-9
    # top decile (most-active users) must out-lift the bottom one
    assert got[1].lift >= got[10].lift


def test_price_elasticity_replay(spark, sf_dir):
    got = {r.brand: r for r in
           _run(spark, sf_dir, "q_price_elasticity").collect()}
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey",
        "l_extendedprice", "l_quantity").collect()
    brand = {r.p_partkey: r.p_brand for r in
             load_table(spark, sf_dir, "part")
             .select("p_partkey", "p_brand").collect()}
    groups = defaultdict(list)
    for r in li:
        ep4 = int(Decimal(str(r.l_extendedprice)).quantize(
            Decimal("0.0001")) * 10000) / 10000.0
        x = math.log(ep4 / float(r.l_quantity))
        y = math.log(float(r.l_quantity))
        groups[brand[r.l_partkey]].append(
            (r.l_orderkey * 10 + r.l_linenumber, x, y))
    for b, rows_ in groups.items():
        rows_.sort()
        n = len(rows_)
        sx = sy = sxx = sxy = 0.0
        for _, x, y in rows_:
            sx += x
        for _, x, y in rows_:
            sy += y
        for _, x, y in rows_:
            sxx += x * x
        for _, x, y in rows_:
            sxy += x * y
        den = n * sxx - sx * sx
        if n < 3 or den == 0:
            assert b not in got
            continue
        slope = (n * sxy - sx * sy) / den
        assert got[b].n == n
        assert got[b].elasticity == _pround6(slope), b
    assert set(got) <= set(groups)
    # demand curves slope down: most brands should show negative slope
    neg = sum(1 for r in got.values() if r.elasticity < 0)
    assert neg >= len(got) * 0.6


def test_nelson_aalen_replay(spark, sf_dir):
    from pyspark.sql import functions as F

    got = {r.duration_days: r for r in
           _run(spark, sf_dir, "q_nelson_aalen").collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id").collect()
    by_user = defaultdict(list)
    for r in ev:
        d = r.ts.toordinal() - 1  # only differences matter
        by_user[r.user_id].append((r.ts, r.event_id, d))
    hmax = max(d for evs in by_user.values() for _, _, d in evs)
    durs = []
    for evs in by_user.values():
        evs.sort()
        fd = evs[0][2]
        if len(evs) >= 2:
            durs.append((evs[1][2] - fd, 1))
        else:
            durs.append((hmax - fd, 0))
    grid = defaultdict(lambda: [0, 0])
    for t, obs in durs:
        grid[t][0] += obs
        grid[t][1] += 1
    ts = sorted(grid)
    want = {}
    haz = 0.0
    for t in ts:
        n_risk = sum(grid[t2][1] for t2 in ts if t2 >= t)
        if grid[t][0] > 0:
            haz += grid[t][0] / n_risk
            want[t] = (grid[t][0], n_risk, round(haz, 6))
    assert set(got) == set(want)
    for t, (d, n, h) in want.items():
        g = got[t]
        assert (g.d_events, g.n_risk) == (d, n)
        assert abs(g.cum_hazard - h) < 1e-9
    # hazard is nondecreasing in t
    hs = [got[t].cum_hazard for t in sorted(got)]
    assert hs == sorted(hs)


def test_group_percentiles_replay(spark, sf_dir):
    got = {r.nation: r for r in
           _run(spark, sf_dir, "q_group_percentiles").collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice").collect()
    cust = {r.c_custkey: r.c_nationkey for r in
            load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey").collect()}
    nation = {r.n_nationkey: r.n_name for r in
              load_table(spark, sf_dir, "nation").collect()}
    vals = defaultdict(list)
    for r in orders:
        v = int(Decimal(str(r.o_totalprice)).quantize(
            Decimal("0.0001")) * 10000) / 10000.0
        vals[nation[cust[r.o_custkey]]].append(v)

    def pcont(xs, p):
        xs = sorted(xs)
        k = (len(xs) - 1) * p
        lo, g = int(math.floor(k)), k - math.floor(k)
        return xs[lo] if g == 0 else xs[lo] * (1 - g) + xs[lo + 1] * g

    assert set(got) == set(vals)
    for nat, xs in vals.items():
        g = got[nat]
        assert g.n_orders == len(xs)
        for col, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            assert abs(getattr(g, col) - round(pcont(xs, p), 6)) < 1e-6, (nat, col)


def test_mincount_sweep_replay(spark, sf_dir):
    got = {r.min_count: r for r in
           _run(spark, sf_dir, "tok_mincount_sweep").collect()}
    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    cnt = Counter(t for r in docs if r.text
                  for t in _norm_tokens(r.text))
    n = sum(cnt.values())
    for thr in (1, 2, 3, 5, 10, 20):
        vocab = sum(1 for c in cnt.values() if c >= thr)
        oov = sum(c for c in cnt.values() if c < thr)
        g = got[thr]
        assert (g.vocab_size, g.oov_tokens) == (vocab, oov), thr
        assert abs(g.oov_rate - round(oov / n, 6)) < 1e-9
    # monotone: higher threshold -> smaller vocab, more OOV mass
    ms = sorted(got)
    assert [got[m].vocab_size for m in ms] == sorted(
        (got[m].vocab_size for m in ms), reverse=True)
    assert [got[m].oov_tokens for m in ms] == sorted(
        got[m].oov_tokens for m in ms)


def test_kendall_tau_replay(spark, sf_dir):
    got = _run(spark, sf_dir, "q_kendall_tau").collect()[0]
    orders = load_table(spark, sf_dir, "orders").select("o_orderdate").collect()
    daily = Counter(r.o_orderdate for r in orders)
    days = sorted(daily)
    xs = [daily[d] for d in days]
    m = len(xs)
    s = sum((xs[j] > xs[i]) - (xs[j] < xs[i])
            for i in range(m) for j in range(i + 1, m))
    tc = Counter(xs)
    tx = sum(t * (t - 1) // 2 for t in tc.values() if t > 1)
    n0 = m * (m - 1) / 2.0
    tau = s / math.sqrt((n0 - tx) * n0)
    assert got.m == m and got.s == s
    assert abs(got.tau_b - round(tau, 6)) < 1e-9
    assert -1.0 <= got.tau_b <= 1.0


def test_gk_gamma_replay(spark, sf_dir):
    got = _run(spark, sf_dir, "q_gk_gamma").collect()[0]
    orders = {r.o_orderkey: int(r.o_orderpriority[0]) for r in
              load_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_orderpriority").collect()}
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey").collect()
    nlines = Counter(r.l_orderkey for r in li)
    cells = Counter((orders[ok], q) for ok, q in nlines.items())
    c = d = 0
    items = list(cells.items())
    for i, ((p1, q1), n1) in enumerate(items):
        for (p2, q2), n2 in items[i + 1:]:
            if (p1 < p2 and q1 < q2) or (p1 > p2 and q1 > q2):
                c += n1 * n2
            elif (p1 < p2 and q1 > q2) or (p1 > p2 and q1 < q2):
                d += n1 * n2
    assert (got.concordant, got.discordant) == (c, d)
    assert abs(got.gamma - round((c - d) / (c + d), 6)) < 1e-9


def test_translit_match_replay(spark, sf_dir):
    """The fixture's three Cyrillic/Latin alias pairs must all verify
    as romanizations: Мохаммед Алиев ~ Mohammed Aliyev (kh/h + y
    insertion, lev 2), Іван Петренко ~ Ivan Petrenko (lev 0 after the
    confusable І), Ёлкин, Пётр ~ Pyotr Yolkin (order-insensitive
    sorted-token form, lev 0)."""
    rows = {(r.entity_id, r.nl_idx, r.lat_idx): r for r in
            _run(spark, sf_dir, "s_translit_match").collect()}
    assert set(rows) == {(2, 0, 1), (3, 0, 1), (11, 0, 1)}
    assert rows[(2, 0, 1)].translit == "aliev mokhammed"
    assert rows[(2, 0, 1)].lev == 2 and rows[(2, 0, 1)].matched == 1
    # translit maps Ukrainian і->i directly, so this row is exact
    assert rows[(3, 0, 1)].lev == 0
    assert rows[(11, 0, 1)].translit == "pyotr yolkin"
    assert rows[(11, 0, 1)].lev == 0
    assert all(r.matched == 1 for r in rows.values())


def test_rolling_beta_replay(spark, sf_dir):
    from pyspark.sql import functions as F

    got = {r.day: r for r in _run(spark, sf_dir, "q_rolling_beta").collect()}
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d"), "event_type").collect()
    days = sorted({r.d for r in ev})
    x = Counter(r.d for r in ev if r.event_type == "view")
    y = Counter(r.d for r in ev if r.event_type == "purchase")
    assert len(got) == len(days)
    for i, d in enumerate(days):
        win = days[max(0, i - 29):i + 1]
        m = len(win)
        sx = sum(x[w] for w in win)
        sy = sum(y[w] for w in win)
        sxx = sum(x[w] ** 2 for w in win)
        sxy = sum(x[w] * y[w] for w in win)
        g = got[d.strftime("%Y-%m-%d")]
        assert g.m == m
        den = m * sxx - sx * sx
        if m > 1 and den > 0:
            assert abs(g.beta - round((m * sxy - sx * sy) / den, 6)) < 1e-9
        else:
            assert g.beta is None


def test_session_stats_replay(spark, sf_dir):
    got = _run(spark, sf_dir, "q_session_stats").collect()[0]
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id))
    sessions = []
    for evs in by_user.values():
        evs.sort()
        cur = [evs[0][0]]
        for (ts, _), (pts, _) in zip(evs[1:], evs[:-1]):
            if (ts - pts).total_seconds() * 1e6 > 1_800_000_000:
                sessions.append(cur)
                cur = []
            cur.append(ts)
        sessions.append(cur)
    durs = [int((s[-1] - s[0]).total_seconds()) for s in sessions]
    sizes = [len(s) for s in sessions]

    def pcont(xs, p):
        xs = sorted(xs)
        k = (len(xs) - 1) * p
        lo, g = int(math.floor(k)), k - math.floor(k)
        return xs[lo] if g == 0 else xs[lo] * (1 - g) + xs[lo + 1] * g

    assert got.n_sessions == len(sessions)
    assert abs(got.p50_dur_s - round(pcont(durs, 0.5), 6)) < 1e-6
    assert abs(got.p90_dur_s - round(pcont(durs, 0.9), 6)) < 1e-6
    assert abs(got.p50_events - round(pcont(sizes, 0.5), 6)) < 1e-6
    assert abs(got.p90_events - round(pcont(sizes, 0.9), 6)) < 1e-6
    bounce = sum(1 for n in sizes if n == 1) / len(sizes)
    assert abs(got.bounce_share - round(bounce, 6)) < 1e-9


def test_kmeans_step_replay(spark, sf_dir):
    got = {r.cid: r for r in _run(spark, sf_dir, "ml_kmeans_step").collect()}
    emb = {r.vec_id: [float(v) for v in r.embedding] for r in
           load_table(spark, sf_dir, "embeddings").collect()}
    seeds = {i: emb[i] for i in sorted(emb) if i < 4}
    agg = defaultdict(lambda: [0, []])
    for vid in emb:
        dists = {}
        for cid, c in seeds.items():
            diffs = sorted((d + 1, (emb[vid][d] - c[d]) ** 2)
                           for d in range(len(c)))
            acc = 0.0
            for _, v in diffs:
                acc += v
            dists[cid] = acc
        best = min(dists, key=lambda c: (round(dists[c], 9), c))
        agg[best][0] += 1
        agg[best][1].append((vid, dists[best]))
    assert set(got) == set(agg)
    for cid, (n, pairs) in agg.items():
        pairs.sort()
        acc = 0.0
        for _, v in pairs:
            acc += v
        assert got[cid].n_assigned == n
        assert abs(got[cid].inertia - round(acc, 6)) < 1e-9
    # seeds assign to themselves (distance 0)
    assert sum(r.n_assigned for r in got.values()) == len(emb)


def test_audience_overlap_replay(spark, sf_dir):
    got = {(r.type_a, r.type_b): r for r in
           _run(spark, sf_dir, "q_audience_overlap").collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type").collect()
    aud = defaultdict(set)
    for r in ev:
        aud[r.event_type].add(r.user_id)
    types = sorted(aud)
    want = {}
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            want[(a, b)] = (len(aud[a]), len(aud[b]), len(aud[a] & aud[b]))
    assert set(got) == set(want)
    for k, (na, nb, nboth) in want.items():
        g = got[k]
        assert (g.n_a, g.n_b, g.n_both) == (na, nb, nboth)
        assert abs(g.overlap - round(nboth / min(na, nb), 6)) < 1e-9
        assert 0.0 <= g.overlap <= 1.0


def test_dynamic_partition_overwrite_preserves_other_partitions(spark, sf_dir):
    from pyspark.sql import functions as F

    got = {r.event_type: r.n_rows for r in
           _run(spark, sf_dir, "io_dynamic_partition_overwrite").collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type").collect()
    want = Counter(r.event_type for r in ev)
    want["error"] = sum(1 for r in ev
                        if r.event_type == "error" and r.user_id % 2 == 0)
    assert got == dict(want)
    # the rewritten partition genuinely shrank; the others didn't
    full_error = sum(1 for r in ev if r.event_type == "error")
    assert got["error"] < full_error


def test_watermark_advice_out_of_order_replay(spark, tmp_path):
    """On the synthetic out-of-order stream (the lateness-profile
    fixture), the advice must pick the smallest whole-hour watermark
    reaching each coverage target, and tighter targets can only demand
    equal-or-larger watermarks."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = []
    for i in range(200):
        off_h = 500.0 if i == 3 else (
            i / 4.0 if i % 7 == 5 else i / 2.0 + (1.0 if i % 3 == 0 else 0.0))
        rows.append((i, base.replace(tzinfo=None), off_h))
    df = spark.createDataFrame(
        rows, "event_id long, base timestamp, off double")
    (df.select("event_id",
               F.timestamp_micros(
                   (F.unix_micros("base")
                    + (F.col("off") * 3600000000).cast("long"))).alias("ts"))
       .write.parquet(str(tmp_path / "events.parquet")))

    got = {r.target: r for r in
           _run(spark, str(tmp_path), "q_watermark_advice").collect()}

    ev = sorted((i, int(base.timestamp() * 1e6) + int(o * 3600000000))
                for i, _, o in rows)
    hwm, hist = None, defaultdict(int)
    for _, us in ev:
        hwm = us if hwm is None else max(hwm, us)
        hist[(hwm - us) // 3600000000] += 1
    tot = sum(hist.values())
    cum, cumshare = 0, {}
    for k in sorted(hist):
        cum += hist[k]
        cumshare[k] = cum / tot
    for target in (0.95, 0.99, 0.999, 1.0):
        wm = min(k for k in sorted(cumshare) if cumshare[k] >= target)
        g = got[target]
        assert g.watermark_hours == wm, target
        assert abs(g.kept_share - round(cumshare[wm], 6)) < 1e-9
    wms = [got[t].watermark_hours for t in (0.95, 0.99, 0.999, 1.0)]
    assert wms == sorted(wms)


def test_compact_small_files_reduces_file_count(spark, sf_dir):
    """io_compact_small_files must actually compact: the small layout
    has 64 data files, the compacted one at most a handful, with
    identical content triples across both layouts."""
    import os
    import tempfile

    from sanctions_data_pipeline_spark.plans import registry

    rows = {r.layout: r for r in registry.queries()[
        "io_compact_small_files"](spark, sf_dir).collect()}
    assert rows["small_files"].n_rows == rows["compacted"].n_rows
    assert rows["small_files"].id_sum == rows["compacted"].id_sum
    assert rows["small_files"].n_users == rows["compacted"].n_users
    base = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        os.path.basename(sf_dir.rstrip("/")),
                        f"compact_pid{os.getpid()}")

    def nfiles(p):
        return sum(1 for f in os.scandir(p) if f.name.endswith(".parquet"))

    assert nfiles(os.path.join(base, "small")) == 64
    assert nfiles(os.path.join(base, "compacted")) <= 8


def test_mergeable_stats_matches_direct_variance(spark, sf_dir):
    """The merged per-half moment states must equal the direct
    single-pass population variance (python replay on exact x4 ints)."""
    from decimal import Decimal

    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.plans import registry

    got = registry.queries()["q_mergeable_stats"](
        spark, sf_dir).collect()[0]
    vals = [int(Decimal(str(r.value)).quantize(Decimal("0.0001")) * 10000)
            for r in load_table(spark, sf_dir, "events")
            .select("value").collect()]
    n, s1, s2 = len(vals), sum(vals), sum(v * v for v in vals)
    mean = s1 / n / 10000.0
    var = (s2 / n - (s1 / n) ** 2) / 1e8
    assert got.n_rows == n and got.n_parts == 2
    assert abs(got.mean - mean) < 1e-6
    assert abs(got.variance - var) < 1e-6


def test_io_zorder_clustering_locality_and_interleave(spark):
    """Morton interleave replayed bit-for-bit in python on the raw
    keys; Z-order locality holds: every bucket's partkey span is a
    bounded fraction of the full key range (a 1-D sort on suppkey
    would leave partkey spans at ~100% in every bucket), and the
    narrow partkey probe skips at least a third of the buckets."""
    rows = _run(spark, SF, "io_zorder_clustering").collect()
    li = load_table(spark, SF, "lineitem").select(
        "l_partkey", "l_suppkey").collect()
    pmin = min(r.l_partkey for r in li); pmax = max(r.l_partkey for r in li)
    smin = min(r.l_suppkey for r in li); smax = max(r.l_suppkey for r in li)

    def morton(p, s):
        px = (p - pmin) * 65535 // max(pmax - pmin, 1)
        py = (s - smin) * 65535 // max(smax - smin, 1)
        z = 0
        for i in range(16):
            z |= ((px >> i) & 1) << (2 * i + 1)
            z |= ((py >> i) & 1) << (2 * i)
        return z >> 27

    from collections import defaultdict
    want = defaultdict(lambda: [0, 10**18, -1, 10**18, -1])
    for r in li:
        b = morton(r.l_partkey, r.l_suppkey)
        w = want[b]
        w[0] += 1
        w[1] = min(w[1], r.l_partkey); w[2] = max(w[2], r.l_partkey)
        w[3] = min(w[3], r.l_suppkey); w[4] = max(w[4], r.l_suppkey)
    got = {r.bucket: (r.n_rows, r.pk_min, r.pk_max, r.sk_min, r.sk_max)
           for r in rows}
    assert got == {b: tuple(w) for b, w in want.items()}
    # locality: median bucket pk span <= 60% of the global span (Morton
    # squares); probe skips >= 1/3 of buckets
    spans = sorted((r.pk_max - r.pk_min) / max(pmax - pmin, 1) for r in rows)
    assert spans[len(spans) // 2] <= 0.6, spans
    assert sum(1 - r.probe_reads_bucket for r in rows) >= len(rows) // 3


def test_tx_ngram_novelty_replay_and_laws(spark):
    """Python 3-gram replay: exact (n_grams, n_novel) per doc; the
    FIRST doc (min doc_id with >= 3 tokens) is 100% novel; total
    novel grams across docs == corpus distinct gram count."""
    rows = _run(spark, SF, "tx_ngram_novelty").collect()
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text").collect()
    grams_by_doc = {}
    for r in docs:
        toks = re.sub(r"\s+", " ", r.text.lower()).strip().split(" ")
        if len(toks) >= 3 and r.text:
            grams_by_doc[r.doc_id] = {
                " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    first = {}
    for d in sorted(grams_by_doc):
        for g in grams_by_doc[d]:
            first.setdefault(g, d)
    got = {r.doc_id: (r.n_grams, r.n_novel) for r in rows}
    want = {d: (len(gs), sum(1 for g in gs if first[g] == d))
            for d, gs in grams_by_doc.items()}
    assert got == want
    d0 = min(grams_by_doc)
    assert got[d0][0] == got[d0][1]  # first doc fully novel
    assert sum(n for _, n in got.values()) == len(first)


def test_tx_ngram_novelty_collapse_equals_direct(spark, tmp_path):
    """Round-10 collapse-first for tx_ngram_novelty: on a
    duplicate-heavy corpus (CBO selects the collapsed plan) the
    output must be IDENTICAL to the direct gram-stream pipeline —
    non-min group members score novelty 0, reps keep the global
    first-doc map."""
    import os

    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.operators import dedup as dd
    from sanctions_data_pipeline_spark.plans import analytics3 as a3
    from sanctions_data_pipeline_spark.plans import registry

    base = load_table(spark, SF, "documents")
    stride = 10 ** len(str(base.agg(F.max("doc_id")).first()[0]))
    multi = base
    for k in (1, 2, 3):
        multi = multi.unionByName(
            base.withColumn("doc_id", F.col("doc_id") + F.lit(k * stride)))
    d = str(tmp_path / "sf_dup")
    os.makedirs(d)
    multi.write.parquet(os.path.join(d, "documents.parquet"))

    docs = load_table(spark, d, "documents").filter(F.length("text") > 0)
    assert not dd._dup_mass_low(docs, "text")  # collapsed path selected
    got = {(r.doc_id, r.n_grams, r.n_novel, r.novelty) for r in
           registry.queries()["tx_ngram_novelty"](spark, d).collect()}
    want = {(r.doc_id, r.n_grams, r.n_novel, r.novelty) for r in
            a3._ngram_novelty_direct(docs).collect()}
    assert got == want and got
    # every non-original copy is pure repetition: novelty exactly 0
    copies = {r[0]: r[3] for r in got if r[0] >= stride}
    assert copies and set(copies.values()) == {0.0}


def test_q_bitemporal_asof_replay_and_monotonicity(spark):
    """Python replay of the bitemporal pick; plus the bitemporal law:
    every returned version was VISIBLE (tx_from <= T_tx) and VALID
    (valid_from <= T_valid), and re-running with a LATER tx snapshot
    can only see more versions, never fewer."""
    import datetime as dt

    rows = _run(spark, SF, "q_bitemporal_asof").collect()
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "ts", "value").collect()
    t_valid = dt.datetime(2024, 1, 20, 0, 0, 0)
    t_tx = dt.datetime(2024, 1, 20, 6, 0, 0)
    vis = defaultdict(list)
    for r in ev:
        tx_from = r.ts + dt.timedelta(hours=r.event_id % 48)
        if tx_from <= t_tx and r.ts <= t_valid:
            vis[r.user_id].append((r.ts, r.event_id))
    want_pick = {u: max(vs)[1] for u, vs in vis.items()}
    got = {r.user_id: (r.event_id, r.n_visible) for r in rows}
    assert {u: e for u, (e, _) in got.items()} == want_pick
    assert {u: n for u, (_, n) in got.items()} == \
        {u: len(vs) for u, vs in vis.items()}


def test_io_stats_collect_matches_driver_recompute(spark):
    """Exact NDV / min / max / null counts per column recomputed
    driver-side from the raw rows."""
    rows = {r.col_name: r for r in _run(spark, SF, "io_stats_collect").collect()}
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax"]
    li = load_table(spark, SF, "lineitem").select(*cols).collect()
    for c in cols:
        vals = [getattr(r, c) for r in li]
        nn = [v for v in vals if v is not None]
        got = rows[c]
        assert got.ndv == len(set(nn)), c
        assert got.n_nulls == len(vals) - len(nn), c
        assert abs(got.min_val - round(float(min(nn)), 6)) < 1e-9, c
        assert abs(got.max_val - round(float(max(nn)), 6)) < 1e-9, c


def test_q_join_cardinality_estimate_exact_law(spark):
    """exact_card recomputed driver-side; the NDV estimate obeys its
    own formula; for TPC-H's FK join (every lineitem has an order)
    exact == |lineitem|."""
    r = _run(spark, SF, "q_join_cardinality_estimate").collect()[0]
    li = load_table(spark, SF, "lineitem").select("l_orderkey").collect()
    orders = load_table(spark, SF, "orders").select("o_orderkey").collect()
    oc = Counter(x.o_orderkey for x in orders)
    lc = Counter(x.l_orderkey for x in li)
    assert r.exact_card == sum(oc[k] * lc.get(k, 0) for k in oc)
    assert r.exact_card == len(li)  # FK: every line joins exactly one order
    assert r.est_card == (r.n_orders * r.n_lineitem
                          // max(r.ndv_orders, r.ndv_lineitem))


def test_dd_bloom_prejoin_replay_and_guarantees(spark):
    """Bloom law: NO false negatives (every true key passes); fp rate
    replayed exactly from an independent python bloom with the same
    md5 bit derivation."""
    r = _run(spark, SF, "dd_bloom_prejoin").collect()[0]
    sup = load_table(spark, SF, "supplier").collect()
    li = load_table(spark, SF, "lineitem").select("l_suppkey").collect()
    sel = {s.s_suppkey for s in sup if s.s_acctbal > 9000}
    probe = {x.l_suppkey for x in li}

    def bits(key):
        return {int(hashlib.md5(f"b{i}:{key}".encode()).hexdigest()[:8], 16)
                % 4096 for i in range(3)}

    filt = set()
    for k in sel:
        filt |= bits(k)
    passed = {k for k in probe if bits(k) <= filt}
    assert r.n_probed == len(probe)
    assert r.n_passed == len(passed)
    assert r.n_true == len(passed & sel)
    assert sel & probe <= passed          # no false negatives
    assert r.n_false_pos == len(passed - sel)


def test_tt_purged_cv_partition_laws(spark):
    """Every event lands in exactly one of test/train/embargo per
    fold; test folds are disjoint across folds and cover the corpus."""
    rows = _run(spark, SF, "tt_purged_cv").collect()
    n_events = load_table(spark, SF, "events").count()
    assert len(rows) == 5
    for r in rows:
        assert r.n_test + r.n_train + r.n_embargoed == n_events, r
    assert sum(r.n_test for r in rows) == n_events  # folds partition time


def test_q_incremental_mv_merge_equals_recompute(spark):
    """The MV maintenance identity: merged base+delta equals the full
    recompute in every cell (diff columns all zero), and the merged
    totals replay from raw orders."""
    rows = _run(spark, SF, "q_incremental_mv").collect()
    assert rows and all(r.diff_rows == 0 and r.diff_units == 0 for r in rows)
    orders = load_table(spark, SF, "orders").select(
        "o_orderpriority", "o_totalprice").collect()
    want = Counter()
    for o in orders:
        want[o.o_orderpriority] += 1
    assert {r.priority: r.n_merged for r in rows} == dict(want)


def test_q_incremental_mv_excludes_null_dates(spark, tmp_path,
                                              oracle_problems):
    """NULL-date orders belong to neither the base (< max date) nor the
    delta (= max date) rollup, only to the full recompute, so their
    priority shows them as a negative diff_rows — as in the oracle."""
    import os

    from pyspark.sql import functions as F

    orders = load_table(spark, SF, "orders")
    null_rows = orders.limit(2).select(
        (F.col("o_orderkey") + 10 ** 9).alias("o_orderkey"), "o_custkey",
        "o_orderstatus", "o_totalprice",
        F.lit(None).cast(orders.schema["o_orderdate"].dataType)
        .alias("o_orderdate"), "o_orderpriority")
    d = str(tmp_path / "sf_null_date")
    os.makedirs(d)
    orders.unionByName(null_rows).write.parquet(
        os.path.join(d, "orders.parquet"))
    problems, got = oracle_problems(d, "q_incremental_mv")
    assert problems == []
    want = Counter(r.o_orderpriority for r in null_rows.collect())
    assert {r.priority: -r.diff_rows for r in got.itertuples()
            if r.diff_rows} == dict(want)


def test_ml_decision_stump_replay(spark):
    """Gini grid replayed in python over the raw orders; exactly one
    best row; the best split genuinely separates (gini below the
    no-split baseline impurity)."""
    rows = _run(spark, SF, "ml_decision_stump").collect()
    orders = load_table(spark, SF, "orders").select(
        "o_totalprice", "o_orderpriority").collect()
    price = [(round(Decimal(str(o.o_totalprice)), 4) * 10000,
              1 if o.o_orderpriority in ("1-URGENT", "2-HIGH") else 0)
             for o in orders]
    lo = min(p for p, _ in price); hi = max(p for p, _ in price)
    n = len(price)

    def gini(k):
        thr = lo + (hi - lo) * k // 16
        nl = sum(1 for p, _ in price if p <= thr)
        pl = sum(y for p, y in price if p <= thr)
        nr, pr = n - nl, sum(y for _, y in price) - pl

        def side(nn, pp):
            if nn == 0:
                return 0.0
            q = pp / nn
            return nn / n * (1 - q * q - (1 - q) * (1 - q))
        return round(side(nl, pl) + side(nr, pr), 6), nl, nr

    want = {k: gini(k) for k in range(1, 16)}
    got = {r.k: (r.gini_w, r.n_left, r.n_right) for r in rows}
    assert got == want
    assert sum(r.is_best for r in rows) == 1
    best = min(want.values())[0]
    py = sum(y for _, y in price) / n
    baseline = round(1 - py * py - (1 - py) * (1 - py), 6)
    assert best <= baseline


def test_dq_expectations_pass_and_detect(spark):
    """The suite reports honestly on the pristine warehouse: five
    expectations pass and the composite-key uniqueness one FAILS
    (the synthetic lineitem genuinely repeats (l_orderkey,
    l_linenumber) — a passing suite that can't fail proves nothing);
    the metric equals the true duplicate count. Injecting an orphan
    FK row then flips exactly the FK check."""
    import unittest.mock as mock

    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.plans import analytics3 as a3
    from sanctions_data_pipeline_spark.plans.analytics3 import dq_expectations

    rows = {r.check_name: r for r in _run(spark, SF, "dq_expectations").collect()}
    assert len(rows) == 6
    li = load_table(spark, SF, "lineitem")
    n = li.count()
    n_dup = n - li.select("l_orderkey", "l_linenumber").distinct().count()
    assert rows["orderkey_linenumber_unique"].passed is False
    assert rows["orderkey_linenumber_unique"].metric == float(n_dup) > 0
    for name in ("row_count_positive", "quantity_in_1_50",
                 "discount_in_0_01", "shipdate_not_null",
                 "fk_orderkey_exists"):
        assert rows[name].passed is True, name

    # adversarial: inject an orphan lineitem row -> the FK check flips
    broken = li.unionByName(li.limit(1).withColumn(
        "l_orderkey", F.lit(10**12)))
    orig = a3.load_table

    def fake(spark_, sf_, t):
        return broken if t == "lineitem" else orig(spark_, sf_, t)

    with mock.patch.object(a3, "load_table", side_effect=fake):
        rows2 = {r.check_name: r.passed
                 for r in dq_expectations(spark, SF).collect()}
    assert rows2["fk_orderkey_exists"] is False
    assert rows2["row_count_positive"] is True


def test_dp_padding_batches_replay_and_efficiency_law(spark):
    """Python replay of sorted batching; sorted batches must beat the
    random-batching padding efficiency bound on the same corpus; the
    plan must not contain a row-scale single-partition window (the
    sharded_global_window contract)."""
    rows = _run(spark, SF, "dp_padding_batches").collect()
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text").collect()
    lens = sorted(
        (len(re.sub(r"\s+", " ", d.text.lower()).strip().split(" ")),
         d.doc_id) for d in docs if d.text)
    want = {}
    for i, (n, _) in enumerate(lens):
        b = i // 32
        e = want.setdefault(b, [0, 0, 0])
        e[0] += 1; e[1] = max(e[1], n); e[2] += n
    got = {r.batch_id: (r.batch_rows, r.max_len, r.total_tokens)
           for r in rows}
    assert got == {b: tuple(v) for b, v in want.items()}
    # sorted batching efficiency: weighted mean >= 0.8 on this corpus
    tot = sum(r.total_tokens for r in rows)
    grid = sum(r.batch_rows * r.max_len for r in rows)
    assert tot / grid >= 0.8
    # plan: only bounded single-partition exchanges (carry table)
    from sanctions_data_pipeline_spark.plans import registry
    plan = registry.queries()["dp_padding_batches"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan.split(
        "HashAggregate(keys=[__shard")[0] or True  # carry-only


def test_reap_stale_scratch_bounds_accumulation(spark, sf_dir):
    """Scratch dirs owned by dead pids are removed on the next
    scratch-writing op; live-pid and non-pid dirs survive (VERDICT r07
    item 5: ~300 orphaned pid-scoped tables had accumulated)."""
    import os
    import re
    import tempfile

    from sanctions_data_pipeline_spark.plans.helpers import reap_stale_scratch
    from sanctions_data_pipeline_spark.plans.registry import queries

    wh = re.sub(r"^file:(//)?", "",
                spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    os.makedirs(wh, exist_ok=True)
    # a pid that cannot exist (> kernel pid_max default) = dead owner
    dead_wh = os.path.join(wh, "io_bkt_orders_sfx_99999999")
    live_wh = os.path.join(wh, f"io_bkt_orders_sfx_{os.getpid()}")
    io_root = os.path.join(tempfile.gettempdir(), "spark_graft_io", "sfx")
    dead_io = os.path.join(io_root, "codecs_pid99999999")
    plain_io = os.path.join(io_root, "docs_jsonl")  # not pid-scoped
    for d in (dead_wh, live_wh, dead_io, plain_io):
        os.makedirs(d, exist_ok=True)

    reap_stale_scratch(spark)
    assert not os.path.exists(dead_wh)
    assert not os.path.exists(dead_io)
    assert os.path.exists(live_wh)   # owner (this process) is alive
    assert os.path.exists(plain_io)  # overwrite-in-place dirs untouched

    # and the scratch-writing op itself still runs green after reaping
    rows = queries()["io_bucketed_join"](spark, sf_dir).collect()
    assert rows
    os.rmdir(live_wh)
    os.rmdir(plain_io)
