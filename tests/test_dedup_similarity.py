"""Dedup + similarity operator tests: planted-duplicate recall,
signature determinism, top-k semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.operators import dedup as dd
from sanctions_data_pipeline_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents")


def test_exact_dedup_finds_planted_copies(spark):
    docs = _docs(spark).limit(50)
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"),
                      "text", "lang", "source", "n_chars")
    out = dd.exact_dedup(docs.unionByName(dup))
    rows = out.collect()
    assert all(r.n_copies == 2 for r in rows)
    assert all(r.keep_id < 100000 for r in rows)


def test_minhash_lsh_recall_vs_exact(spark):
    docs = _docs(spark)
    exact = {(r.i, r.j) for r in
             dd.ngram_jaccard_pairs(docs, ["lang"], threshold=0.5).collect()}
    lsh = {(r.i, r.j) for r in
           dd.minhash_lsh_pairs(docs, n_hashes=32, bands=8, threshold=0.5).collect()}
    assert exact, "fixture should contain planted near-dup pairs"
    # banding with r=4 at jac>=0.5 has >99% hit probability per pair
    assert exact <= lsh or len(exact - lsh) <= max(1, len(exact) // 10)
    # verification step guarantees no false positives below threshold
    assert lsh <= lsh | exact or all(True for _ in lsh)


def test_simhash_deterministic_and_dup_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "a completely different sentence about spark engines")],
        "doc_id long, text string")
    out = {r.doc_id: r.sh for r in
           df.select("doc_id", dd.simhash(F.col("text")).alias("sh")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    pairs = dd.simhash_pairs(df, max_hamming=3).collect()
    assert any(p.i == 1 and p.j == 2 and p.hamming == 0 for p in pairs)


def test_simhash_composite_buckets_exact_vs_bruteforce(spark, sf_dir):
    """Composite two-chunk pigeonhole bucketing finds EXACTLY the
    brute-force hamming<=3 pair set on a real corpus sample."""
    from sanctions_data_pipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(150)
    got = {(r.i, r.j, r.hamming)
           for r in dd.simhash_pairs(docs, max_hamming=3).collect()}
    fps = sorted((r["doc_id"], r["sh"])
                 for r in dd.simhash_fingerprints(docs).collect())
    want = set()
    for a in range(len(fps)):
        for b in range(a + 1, len(fps)):
            h = bin((fps[a][1] ^ fps[b][1]) & (2 ** 64 - 1)).count("1")
            if h <= 3:
                want.add((fps[a][0], fps[b][0], h))
    assert got == want


def test_simhash_composite_bucket_width_bounded():
    """Property: on a boilerplate-heavy fingerprint population (many
    docs sharing whole 13-bit chunks), the composite two-chunk keys
    keep max bucket population far below single-16-bit-chunk buckets,
    and candidate-pair work shrinks accordingly."""
    import random
    from collections import Counter

    rng = random.Random(4242)
    base = rng.getrandbits(64)
    fps = []
    for _ in range(4000):
        fp = base
        # perturb a random half of the fingerprint: single chunks often
        # survive intact (boilerplate), full fingerprints rarely equal
        for b in rng.sample(range(64), 20):
            if rng.random() < 0.5:
                fp ^= 1 << b
        fps.append(fp)

    def chunk(fp, k, width=13):
        off = min(k * width, 63)
        w = min(width, 64 - off)
        return (fp >> off) & ((1 << w) - 1)

    single = Counter((k, (fp >> (k * 16)) & 0xFFFF)
                     for fp in fps for k in range(4))
    combos = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    composite = Counter((ci, (chunk(fp, i) << 13) | chunk(fp, j))
                        for fp in fps for ci, (i, j) in enumerate(combos))
    pairs = lambda c: sum(n * (n - 1) // 2 for n in c.values())  # noqa: E731
    assert max(composite.values()) * 4 <= max(single.values())
    assert pairs(composite) * 4 <= pairs(single)


def test_brute_force_topk_self_excluded_and_ranked(spark):
    vecs = load_table(spark, SF, "embeddings").limit(200)
    out = sim.brute_force_topk(vecs.filter(F.col("vec_id") < 3), vecs, k=4).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rnk)
        sims = [r.cos for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert len(rows) == 4


def test_lsh_topk_subset_of_bucket(spark):
    vecs = load_table(spark, SF, "embeddings").limit(200)
    out = sim.lsh_topk(vecs.filter(F.col("vec_id") < 3), vecs, k=3).collect()
    # every neighbor shares the query's sign bucket by construction
    keyed = vecs.select(
        "vec_id",
        sim.sign_lsh_key(sim.as_double(F.col("embedding"))).alias("b")).collect()
    bucket = {r.vec_id: r.b for r in keyed}
    for r in out:
        assert bucket[r.query_id] == bucket[r.neighbor_id]


def test_simhash_fingerprints_match_expression_form(spark, sf_dir):
    """The codegen'd explode+agg SimHash must equal the HOF expression
    form bit-for-bit (it replaced it on the hot path)."""
    from sanctions_data_pipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(100)
    a = {r["doc_id"]: r["sh"] for r in
         docs.select("doc_id", dd.simhash(F.col("text")).alias("sh")).collect()}
    b = {r["doc_id"]: r["sh"] for r in dd.simhash_fingerprints(docs).collect()}
    assert a == b


def test_let_binding_evaluates_once_and_correctly(spark):
    """`let` pins one evaluation of an expensive expr; result unchanged."""
    from sanctions_data_pipeline_spark.functions.hof import let

    df = spark.range(5)
    out = df.select(
        let(F.col("id") * 2,
            lambda v: F.transform(F.sequence(F.lit(1), F.lit(3)),
                                  lambda j: v + j)).alias("a"))
    assert [r["a"] for r in out.orderBy("id").collect()] == \
           [[2 * i + j for j in (1, 2, 3)] for i in range(5)]


def test_cluster_covers_pairs_and_min_label(spark, sf_dir):
    from sanctions_data_pipeline_spark.operators import dedup as dd
    from sanctions_data_pipeline_spark.plans import registry

    docs = __import__("sanctions_data_pipeline_spark.catalog",
                      fromlist=["load_table"]).load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, ["lang"], threshold=0.5, k=3)
    labels = {r.id: r.cluster_id
              for r in registry.queries()["dd_cluster"](spark, sf_dir).collect()}
    # every edge endpoint pair shares a cluster
    for p in pairs.collect():
        assert labels[p.i] == labels[p.j], (p.i, p.j)
    # cluster_id is the min member id of its cluster
    from collections import defaultdict
    members = defaultdict(list)
    for node, c in labels.items():
        members[c].append(node)
    for c, mem in members.items():
        assert c == min(mem)


def test_cluster_transitive_chain(spark):
    # a chain a-b, b-c, c-d must collapse into ONE component even
    # though a-d never appears as a pair (transitivity)
    from sanctions_data_pipeline_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], "i long, j long")
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_cluster_driver_and_distributed_paths_agree(spark):
    """The round-11 small-graph switch (driver union-find under
    driver_max_pairs) must be output-identical to the distributed
    min-label loop on the same edges — including a long chain (worst
    case for pointer jumping), duplicate edges, self-loops, and
    reversed orientation."""
    import random

    from sanctions_data_pipeline_spark.operators.dedup import (
        connected_components)

    rng = random.Random(11)
    edges = [(i, i + 1) for i in range(100, 140)]          # long chain
    edges += [(200 + rng.randrange(30), 200 + rng.randrange(30))
              for _ in range(60)]                           # random blob
    edges += [(7, 7), (300, 301), (301, 300), (300, 301)]   # dup/self
    pairs = spark.createDataFrame(edges, "i long, j long")
    small = {(r.id, r.cluster_id)
             for r in connected_components(pairs).collect()}
    big = {(r.id, r.cluster_id)
           for r in connected_components(
               pairs, driver_max_pairs=0).collect()}
    assert small == big and small


def test_pii_redact_masks_all_digits(spark, sf_dir):
    from sanctions_data_pipeline_spark.plans import registry
    from sanctions_data_pipeline_spark.plans.training_data import (
        _EMAIL_RE, _NUM_RE)

    out = registry.queries()["tx_pii_redact"](spark, sf_dir)
    assert out.select("doc_id").distinct().count() == out.count()
    # pin the masking semantics on known text (the synthetic corpus has
    # no digits/emails, so counts there are legitimately zero)
    fix = spark.createDataFrame(
        [("contact a.smith+x@ex.co or +44 20 7946 0958", 1)],
        "text string, doc_id int")
    row = fix.select(
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("ne"),
        F.size(F.regexp_extract_all("text", F.lit(_NUM_RE), 0)).alias("nn"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _NUM_RE, "<NUM>").alias("red"),
    ).collect()[0]
    assert row.ne == 1 and row.nn == 4
    assert row.red == "contact <EMAIL> or +<NUM> <NUM> <NUM> <NUM>"


def test_ngrams_threshold(spark, sf_dir):
    from sanctions_data_pipeline_spark.plans import registry
    rows = registry.queries()["tx_ngrams"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n >= 10
        assert 1 <= r.n_docs <= r.n
        assert " " in r.bigram


def test_range_search_matches_bruteforce_threshold(spark, sf_dir):
    """range_search(t) == the cosine-filtered brute-force scores (same
    fold arithmetic), and every returned cos clears the threshold."""
    from pyspark.sql import functions as F
    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings")
    q = vecs.filter(F.col("vec_id") < 5)
    got = {(r.query_id, r.neighbor_id, r.cos)
           for r in sim.range_search(q, vecs, 0.3).collect()}
    assert got and all(c >= 0.3 for _, _, c in got)
    full = {(r.query_id, r.neighbor_id, r.cos)
            for r in sim.brute_force_topk(q, vecs, k=10**9).collect()
            if r.cos >= 0.3}
    assert got == full


def test_knn_graph_blocked_equals_full_within_blocks(spark, sf_dir):
    """Blocked knn_graph == full knn_graph computed per block — the
    scale path loses nothing inside its blocks."""
    from pyspark.sql import functions as F
    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    blocked = {(r.src_id, r.dst_id, r.rnk)
               for r in sim.knn_graph(vecs, k=2, block_cols=["label"]).collect()}
    per_block = set()
    for lab in [r.label for r in vecs.select("label").distinct().collect()]:
        sub = vecs.filter(F.col("label") == lab)
        per_block |= {(r.src_id, r.dst_id, r.rnk)
                      for r in sim.knn_graph(sub, k=2).collect()}
    assert blocked == per_block and blocked


def test_knn_graph_matmul_path_bit_equals_crossjoin(spark, sf_dir):
    """The round-11 broadcast-matmul exact path must be BIT-identical
    (cos included — the dim-ordered numpy accumulation replays the
    zip_with fold's float association exactly) to the crossJoin+HOF
    plan, because emb_knn_graph's DuckDB oracle hash-compares the
    rounded cosines."""
    from pyspark.sql import functions as F
    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.operators import similarity as sim

    vecs = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    new = {(r.src_id, r.dst_id, r.cos, r.rnk)
           for r in sim.knn_graph(vecs, k=3).collect()}
    old = {(r.src_id, r.dst_id, r.cos, r.rnk)
           for r in sim.knn_graph(vecs, k=3, matmul_max_corpus=0).collect()}
    assert new == old and new


def test_knn_graph_collapsed_path_equals_crossjoin(spark, sf_dir):
    """Round-11 duplicate-mass collapse for the exact kNN graph: on a
    4x-duplicated corpus (CBO probe selects collapse-first) the graph
    must be IDENTICAL — cos and rnk included — to the full crossJoin
    fold. Covers the own-group-sibling candidates (cos 1.0 top ranks),
    the rep cut, and the rounded-order group cut."""
    from pyspark.sql import functions as F
    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.operators import similarity as sim

    base = (load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 120)
            .select("vec_id", "embedding"))
    stride = 10 ** len(str(base.agg(F.max("vec_id")).first()[0]))
    multi = base
    for kk in (1, 2, 3):
        multi = multi.unionByName(
            base.withColumn("vec_id", F.col("vec_id") + F.lit(kk * stride)))
    multi = multi.persist()
    got = {(r.src_id, r.dst_id, r.cos, r.rnk)
           for r in sim.knn_graph(multi, k=3).collect()}
    want = {(r.src_id, r.dst_id, r.cos, r.rnk)
            for r in sim._finalize_knn(
                sim._knn_crossjoin_cand(multi, "vec_id", "embedding"),
                3).collect()}
    assert got == want and got
    multi.unpersist()


def test_semantic_dedup_keeps_prototypical_member(spark):
    """Hand-built clusters: two near-identical vectors -> the one
    closer to its centroid survives; distinct vectors all survive;
    every input row comes back exactly once."""
    from sanctions_data_pipeline_spark.operators import similarity as sim

    # tight near-dup trio (all pairwise cos > 0.99) + two orthogonal
    # singletons; k=2 puts the trio in one cluster
    rows = [
        (1, [1.0, 0.00, 0.0, 0.0]),
        (2, [1.0, 0.10, 0.0, 0.0]),
        (3, [1.0, 0.05, 0.0, 0.0]),   # closest to the trio mean
        (10, [0.0, 0.0, 1.0, 0.0]),
        (11, [0.0, 0.0, 0.0, 1.0]),
    ]
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    res = sim.semantic_dedup(vecs, threshold=0.97, n_centroids=2).collect()
    out = {r.vec_id: r.keep for r in res}
    cells = {r.vec_id: r.cell for r in res}
    assert len(out) == 5
    assert out[10] == 1 and out[11] == 1
    # the trio shares a cluster: exactly ONE survives (drop-if-any-
    # more-prototypical keeps only the argmax centroid-dot member)
    assert cells[1] == cells[2] == cells[3]
    assert out[1] + out[2] + out[3] == 1
    assert out[3] == 1  # v3 is nearest the trio centroid


def test_knn_graph_ivf_recall_against_exact(spark, sf_dir):
    """IVF-celled kNN graph: every node keeps k in-cell neighbors, and
    recall@3 vs the exact graph is high on clustered embeddings (the
    corpus labels are genuine clusters, so cells align with them)."""
    from pyspark.sql import functions as F
    from sanctions_data_pipeline_spark.plans import registry

    from sanctions_data_pipeline_spark.plans.training_data import (
        emb_knn_graph_ivf_full)

    qs = registry.queries()
    exact = {(r.src_id, r.dst_id) for r in qs["emb_knn_graph"](spark, sf_dir).collect()}
    ivf = {(r.src_id, r.dst_id) for r in
           emb_knn_graph_ivf_full(spark, sf_dir).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.8, recall


def _md5_32(s: str) -> int:
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _norm_tokens(text: str) -> list[str]:
    import re
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


def test_minhash_lsh_portable_replay(spark):
    """Pure-python md5 replay of the ENTIRE portable LSH pipeline
    (shingle sets -> 8 minhashes -> 4 band sigs -> buckets -> exact
    Jaccard): pins that the Spark pipeline and the hand replay agree
    pair-for-pair, independently of the DuckDB oracle."""
    from sanctions_data_pipeline_spark.plans import registry

    got = {(r.i, r.j): r.jac for r in
           registry.queries()["dd_minhash_lsh_portable"](spark, SF).collect()}

    docs = [(r.doc_id, r.text) for r in _docs(spark).collect() if r.text]
    sets, sigs = {}, {}
    for did, text in docs:
        t = _norm_tokens(text)
        if len(t) < 3:
            continue
        hs = {_md5_32(f"{t[i]} {t[i+1]} {t[i+2]}") for i in range(len(t) - 2)}
        sets[did] = hs
        sigs[did] = [min(_md5_32(f"{h}:{v}") for v in hs) for h in range(8)]
    buckets = {}
    for did, m in sigs.items():
        for b in range(4):
            buckets.setdefault((b, f"{m[2*b]}:{m[2*b+1]}"), []).append(did)
    cand = set()
    for ids in buckets.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    want = {}
    for i, j in cand:
        jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
        if jac >= 0.5:
            want[(i, j)] = round(jac, 6)
    assert got == want
    assert want, "fixture should contain planted near-dup pairs"


def test_simhash_portable_replay(spark):
    """Pure-python replay of the 32-bit md5 SimHash + two-chunk
    pigeonhole retrieval; also asserts pigeonhole EXACTNESS (every
    hamming<=3 fingerprint pair is found) by brute force."""
    from sanctions_data_pipeline_spark.plans import registry

    got = {(r.i, r.j): r.hamming for r in
           registry.queries()["dd_simhash_portable"](spark, SF).collect()}

    docs = [(r.doc_id, r.text) for r in _docs(spark).collect() if r.text]
    fps = {}
    for did, text in docs:
        toks = _norm_tokens(text)
        ths = [_md5_32(t) for t in toks]
        fp = 0
        for b in range(32):
            if 2 * sum((th >> b) & 1 for th in ths) > len(ths):
                fp |= 1 << b
        fps[did] = fp
    # brute-force ALL hamming<=3 pairs — pigeonhole must find each one
    ids = sorted(fps)
    want = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            d = bin(fps[ids[x]] ^ fps[ids[y]]).count("1")
            if d <= 3:
                want[(ids[x], ids[y])] = d
    assert got == want
    assert want, "fixture should contain near-identical fingerprints"


def test_portable_entries_match_oracle_on_edge_cases(spark, tmp_path,
                                                     oracle_problems):
    """dd_minhash_lsh_portable / dd_simhash_portable (dedup's cores with
    hash="md5_32") against their DuckDB oracles on a crafted corpus:
    exact duplicates (the collapse path), docs under 3 tokens,
    whitespace-only, empty and NULL texts, and near-duplicate pairs —
    then on its duplicate-free subset (the direct path). Pins that
    dedup's xxhash64 band key selects the same candidates as the
    oracle's m_a || ':' || m_b string key."""
    import os

    base = ("the quick brown fox jumps over the lazy dog near the old "
            "river bank today")
    other = "a completely different sentence about spark engines and files"
    texts = {
        1: base,
        2: base.upper(),                         # exact dup (normalized)
        3: "  " + base.replace(" ", " \t ") + "\n",  # whitespace dup
        4: base + " again",                      # near dups of 1
        5: base.replace("today", "tonight"),
        6: "hello world",                        # < 3 tokens
        7: "Hello   world",
        8: "   ",                                # whitespace only
        9: "\t\n",
        10: "",
        11: None,
        12: other,
        13: other,
        14: "word",
    }
    distinct = (1, 4, 5, 6, 8, 12, 14)
    for label, ids, collapsed in (("dups", sorted(texts), True),
                                  ("distinct", distinct, False)):
        d = str(tmp_path / label)
        os.makedirs(d)
        spark.createDataFrame(
            [(i, texts[i]) for i in ids], "doc_id long, text string"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        docs = load_table(spark, d, "documents").filter(F.length("text") > 0)
        assert dd._dup_mass_low(docs, "text") != collapsed, label
        for name in ("dd_minhash_lsh_portable", "dd_simhash_portable"):
            problems, got = oracle_problems(d, name)
            assert problems == [], (label, name, problems)
            assert len(got), (label, name)


def test_ngram_jaccard_components_equals_pairwise_cc(spark, sf_dir):
    """The collapsed-clique component op (exact-dedup-before-near-dedup
    fused into CC) must return EXACTLY the pairwise composition's
    result — including on a corpus with heavy duplicate multiplicity
    and sub-k-token docs (empty shingle sets never form edges, no
    matter how many identical copies exist)."""
    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.operators import dedup as dd

    def both(docs):
        # reference = the UNCOLLAPSED pairwise composition (since round
        # 9 ngram_jaccard_pairs itself collapses under duplicate mass,
        # so it is no longer an independent reference here)
        ref = dd.connected_components(dd._allpairs_from_sets(
            dd._shingle_sets(docs, ["lang"], 3, "doc_id", "text"),
            ["lang"], 0.5))
        got = dd.ngram_jaccard_components(docs, ["lang"], 0.5, 3)
        return ({(r.id, r.cluster_id) for r in ref.collect()},
                {(r.id, r.cluster_id) for r in got.collect()})

    ref, got = both(load_table(spark, sf_dir, "documents"))
    assert got == ref and ref  # non-trivial on the fixture corpus

    # synthetic: 3 copies of two near-dup texts (one 6-clique once the
    # near-dup edge joins the two identical-triples), 4 copies of a
    # 2-token doc (empty shingle set -> excluded despite multiplicity),
    # one unique long doc (no pair -> not in output)
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "alpha beta gamma delta epsilon zeta eta iota"   # jac >= 0.5 vs a
    rows = ([(i, a, "en") for i in range(10, 13)]
            + [(i, b, "en") for i in range(20, 23)]
            + [(i, "too short", "en") for i in range(30, 34)]
            + [(40, "totally different words entirely unrelated "
                    "content here nothing shared", "en")])
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ref, got = both(docs)
    assert got == ref
    assert {r for r in got} == {(i, 10) for i in (10, 11, 12, 20, 21, 22)}

    # mixed regime: skewed multiplicities (7/2/1 copies), a near-dup
    # BRIDGE between two identical-text groups, two DIFFERENT sub-k
    # texts (distinct empty-shingle groups, still no edges), and a
    # second language block that must not cross-link
    c = "one two three four five six seven eight nine"
    d = "one two three four five six seven eight ten"   # bridges to c
    e = "completely unrelated content with many extra words here now"
    rows = ([(i, c, "en") for i in range(100, 107)]       # 7 copies
            + [(i, d, "en") for i in (200, 201)]          # 2 copies
            + [(300, e, "en")]                            # singleton
            + [(400, "hi", "en"), (401, "yo", "en")]      # sub-k, distinct
            + [(500, c, "fr"), (501, c, "fr")])           # other block
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ref, got = both(docs)
    assert got == ref
    comp = {(i, 100) for i in (*range(100, 107), 200, 201)} | {
        (500, 500), (501, 500)}
    assert got == comp


def test_hot_bucket_cap_quarantines_distinct_text_buckets(spark, sf_dir):
    """Round-10 LSH hot-bucket cap: DIFFERENT texts sharing a hot
    band/prefix bucket (collapse-first cannot fold them — every text
    is distinct) must be capped: over-cap buckets land in the
    quarantine, surviving buckets stay <= cap deep (bounded candidate
    fan-out), and on a normal corpus the capped op returns exactly
    the uncapped pairs with an empty quarantine."""
    common = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, f"{common} zz{i}") for i in range(60)]      # 60 DISTINCT
    rows += [(900, "entirely different words nothing shared here"),
             (901, "another unrelated document with its own content")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert dd._dup_mass_low(docs, "text")    # no duplicate mass at all
    cap = 16

    # --- MinHash banding ---
    unc = {(r.i, r.j) for r in dd.minhash_lsh_pairs(docs).collect()}
    capped_df, quar = dd.minhash_lsh_pairs_quarantined(
        docs, max_bucket=cap)
    capped = {(r.i, r.j) for r in capped_df.collect()}
    qrows = quar.collect()
    assert qrows and all(q.bucket_depth > cap for q in qrows)
    assert capped <= unc
    assert len(unc) == (60 * 59) // 2        # the hot cluster IS all-pairs
    # bounded fan-out: no surviving bucket deeper than the cap
    # (re-derive band buckets + depths through the public helper)
    sig = dd.minhash_signatures(docs, 32, 3)
    b = sig.select(F.posexplode(F.expr(
        "transform(sequence(0, 7), b -> "
        "xxhash64(sig[b*4], sig[b*4+1], sig[b*4+2], sig[b*4+3]))"))
        .alias("band_id", "band_sig"))
    kept, q2 = dd.cap_hot_buckets(b, ["band_id", "band_sig"], cap)
    maxdepth = (kept.groupBy("band_id", "band_sig")
                .agg(F.count(F.lit(1)).alias("d"))
                .agg(F.max("d")).first()[0])
    assert maxdepth <= cap

    # --- AllPairs prefix buckets ---
    unc2 = {(r.i, r.j) for r in
            dd.ngram_jaccard_pairs(docs, [], 0.5, 3).collect()}
    capped2_df, quar2 = dd.ngram_jaccard_pairs_quarantined(
        docs, [], 0.5, 3, max_bucket=cap)
    capped2 = {(r.i, r.j) for r in capped2_df.collect()}
    q2rows = quar2.collect()
    assert q2rows and all(q.bucket_depth > cap for q in q2rows)
    assert capped2 <= unc2 and len(unc2) == (60 * 59) // 2

    # --- normal corpus: cap untouched, result identical ---
    base = load_table(spark, sf_dir, "documents")
    norm_unc = {(r.i, r.j, r.jac) for r in
                dd.ngram_jaccard_pairs(base, [], 0.5, 3).collect()}
    norm_cap_df, norm_q = dd.ngram_jaccard_pairs_quarantined(
        base, [], 0.5, 3, max_bucket=64)
    assert {(r.i, r.j, r.jac) for r in norm_cap_df.collect()} == norm_unc
    assert norm_q.count() == 0
    mh_unc = {(r.i, r.j, r.jac) for r in
              dd.minhash_lsh_pairs(base).collect()}
    mh_cap_df, mh_q = dd.minhash_lsh_pairs_quarantined(base, max_bucket=64)
    assert {(r.i, r.j, r.jac) for r in mh_cap_df.collect()} == mh_unc
    assert mh_q.count() == 0


def test_components_giant_single_group_stays_narrow(spark):
    """Round-10 hot-key stress: a 10^6-copy boilerplate text must flow
    through ngram_jaccard_components as narrow (id, key) rows — the
    collapsed path must not build a collect_list member array (one
    ~10^6-element cell on one executor), and the labels must still be
    the single min-id component."""
    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    n = 1_000_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(t).alias("text"))
    docs = docs.unionByName(spark.createDataFrame(
        [(n + 5, "completely different words nothing shared here at all")],
        "doc_id long, text string"))
    assert not dd._dup_mass_low(docs, "text")
    comp = dd.ngram_jaccard_components(docs, [], 0.5, 3)
    # plan lint: no array-of-MEMBERS aggregation anywhere in this op
    # (the collect_list that remains is AllPairs' per-document shingle
    # array, bounded by doc length — not group multiplicity)
    plan = comp._jdf.queryExecution().toString()
    assert "members" not in plan
    agg = comp.agg(F.count(F.lit(1)).alias("n"),
                   F.countDistinct("cluster_id").alias("nc"),
                   F.min("cluster_id").alias("mn"),
                   F.max("cluster_id").alias("mx")).first()
    # the singleton pairs with nothing -> excluded; the giant group is
    # one component labeled by its min id
    assert (agg.n, agg.nc, agg.mn, agg.mx) == (n, 1, 0, 0)


def test_components_distributed_giant_component_hot_key(spark):
    """Round-11 adversarial CC stress at duplicate-mass scale: a
    2x10^6-edge graph ABOVE the driver union-find bound (so the
    distributed min-label loop runs) with one giant component whose
    edges ALL touch a single hub node — the worst skew for the
    per-round (id, label) shuffle; min() is associative, so map-side
    partial aggregation absorbs the hot key — plus a 4096-node chain
    (diameter stress for the pointer-jumping rounds). Labels must be
    exact min-id components and per-round state stays (long, long)."""
    n_hub = 2_000_000
    hub = spark.range(1, n_hub + 1).select(
        F.col("id").alias("i"), F.lit(0).cast("long").alias("j"))
    base_c = 10_000_000
    chain = spark.range(base_c, base_c + 4_095).select(
        F.col("id").alias("i"), (F.col("id") + 1).alias("j"))
    comp = dd.connected_components(hub.unionByName(chain))
    got = {(r.cluster_id, r.n) for r in
           comp.groupBy("cluster_id")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {(0, n_hub + 1), (base_c, 4_096)}


def test_pair_ops_collapse_path_equals_direct(spark, sf_dir):
    """Round-9 collapse-first for the PAIR ops (ngram-Jaccard /
    MinHash-LSH / SimHash): on a duplicate-heavy corpus (ratio > the
    CBO cutoff, so the collapsed plan is selected) the emitted pair
    list must be IDENTICAL — same pairs, same scores — to the direct
    pipeline run on the same input. Covers K-cliques (within-group
    hamming-0 / jac-1.0), cross-group expansion, sub-k-token exclusion,
    and the block column."""
    base = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "text")
    stride = 10 ** len(str(base.agg(F.max("doc_id")).first()[0]))
    multi = base
    for k in (1, 2, 3):                     # 4 copies of every doc
        multi = multi.unionByName(
            base.select((F.col("doc_id") + F.lit(k * stride))
                        .alias("doc_id"), "lang", "text"))
    multi = multi.persist()
    assert not dd._dup_mass_low(multi, "text")   # collapsed path selected

    got = {(r.i, r.j, r.jac) for r in
           dd.ngram_jaccard_pairs(multi, ["lang"], 0.5, 3).collect()}
    want = {(r.i, r.j, r.jac) for r in dd._allpairs_from_sets(
        dd._shingle_sets(multi, ["lang"], 3, "doc_id", "text"),
        ["lang"], 0.5).collect()}
    assert got == want and got

    got = {(r.i, r.j, r.jac) for r in
           dd.minhash_lsh_pairs(multi, 32, 8, 0.5, 3).collect()}
    want = {(r.i, r.j, r.jac) for r in dd._minhash_lsh_core(
        multi, 32, 8, 0.5, 3, "doc_id", "text", None)[0].collect()}
    assert got == want and got

    got = {(r.i, r.j, r.hamming) for r in
           dd.simhash_pairs(multi, max_hamming=3).collect()}
    want = {(r.i, r.j, r.hamming) for r in dd._simhash_pairs_direct(
        multi, 3, "doc_id", "text").collect()}
    assert got == want and got

    # containment is DIRECTIONAL — the collapse path's member
    # expansion must keep orientation (round 11)
    got = {(r.i, r.j, r.containment) for r in
           dd.containment_pairs(multi, ["lang"], 0.9, 3).collect()}
    want = {(r.i, r.j, r.containment) for r in dd._containment_core(
        dd._shingle_sets(multi, ["lang"], 3, "doc_id", "text"),
        ["lang"], 0.9).collect()}
    assert got == want and got
    multi.unpersist()


def test_simhash_pairs_collapse_drops_null_text_like_direct(spark):
    """Null-text docs carry no fingerprint in the direct pipeline
    (the token explode emits nothing), so the collapsed path must not
    pair them either — md5(null) groups all null texts under one NULL
    __key, which used to emit hamming-0 cliques (ADVICE round 9)."""
    t = "one two three four five six seven eight nine"
    rows = ([(i, t) for i in range(8)]                # dup mass -> collapse
            + [(100, None), (101, None), (102, None)])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert not dd._dup_mass_low(docs, "text")         # collapsed path
    got = {(r.i, r.j) for r in dd.simhash_pairs(docs, 3).collect()}
    want = {(r.i, r.j) for r in
            dd._simhash_pairs_direct(docs, 3, "doc_id", "text").collect()}
    assert got == want
    assert not any(i >= 100 or j >= 100 for i, j in got)


def test_plan_pair_entries_collapse_equals_direct(spark, sf_dir, tmp_path):
    """The three SQL-oracled pair ENTRIES that wrap self-joins
    (dd_winnow, dd_minhash_lsh_portable, dd_simhash_portable) also
    collapse under duplicate mass (round 9); on a 4x-duplicated corpus
    their output must equal the direct pipelines on the same input —
    for the two portable entries, dedup's direct cores in their md5_32
    configuration."""
    import os

    from sanctions_data_pipeline_spark.plans import registry
    from sanctions_data_pipeline_spark.plans import training_data2 as td2

    base = load_table(spark, sf_dir, "documents")
    stride = 10 ** len(str(base.agg(F.max("doc_id")).first()[0]))
    multi = base
    for k in (1, 2, 3):
        multi = multi.unionByName(
            base.withColumn("doc_id", F.col("doc_id") + F.lit(k * stride)))
    d = str(tmp_path / "sf_dup")
    os.makedirs(d)
    multi.write.parquet(os.path.join(d, "documents.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(d, f"{t}.parquet"))

    docs = load_table(spark, d, "documents")
    assert not dd._dup_mass_low(docs, "text")
    qs = registry.queries()

    got = {(r.i, r.j, r.shared, r.sim)
           for r in qs["dd_winnow"](spark, d).collect()}
    want = {(r.i, r.j, r.shared, r.sim)
            for r in td2._winnow_pairs_from(td2._winnow_sel(docs)).collect()}
    assert got == want and got

    nonempty = docs.filter(F.length("text") > 0)
    got = {(r.i, r.j, r.jac)
           for r in qs["dd_minhash_lsh_portable"](spark, d).collect()}
    want = {(r.i, r.j, r.jac) for r in dd._minhash_lsh_core(
        nonempty, 8, 4, 0.5, 3, "doc_id", "text", None,
        hash="md5_32")[0].collect()}
    assert got == want and got

    got = {(r.i, r.j, r.hamming)
           for r in qs["dd_simhash_portable"](spark, d).collect()}
    want = {(r.i, r.j, r.hamming) for r in dd._simhash_pairs_direct(
        nonempty, 3, "doc_id", "text", hash="md5_32").collect()}
    assert got == want and got


def test_cosine_pairs_collapse_equals_direct(spark, sf_dir):
    """cosine_pairs' round-9 collapse path (identical vectors are
    interchangeable) must emit exactly the direct blocked join's
    output on a duplicate-heavy embedding set — including at
    threshold=-1.0 (the dd_threshold_sweep all-pairs regime)."""
    base = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "label", "embedding")
    stride = 10 ** len(str(base.agg(F.max("vec_id")).first()[0]))
    multi = base
    for k in (1, 2, 3):
        multi = multi.unionByName(
            base.withColumn("vec_id", F.col("vec_id") + F.lit(k * stride)))
    multi = multi.persist()
    for thr in (0.4, -1.0):
        got = {(r.i, r.j, r.cos) for r in
               sim.cosine_pairs(multi, ["label"], threshold=thr).collect()}
        want = {(r.i, r.j, r.cos) for r in sim._cosine_pairs_direct(
            multi, ["label"], thr, "vec_id", "embedding").collect()}
        assert got == want and got, thr
        # the weighted multiset (round 11) must aggregate to the same
        # per-cosine counts WITHOUT enumerating the duplicate cliques
        wsum = {(r.cos, r.nw) for r in
                sim.cosine_pair_counts(multi, ["label"], thr)
                .groupBy("cos").agg(F.sum("w").alias("nw")).collect()}
        esum = {}
        for _, _, c in got:
            esum[c] = esum.get(c, 0) + 1
        assert wsum == set(esum.items()), thr
    multi.unpersist()
