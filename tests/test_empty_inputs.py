"""Degenerate-input hardening: operators must return empty results (not
crash) on empty tables, single rows, and empty strings — the shapes a
100 TB pipeline's stragglers and fresh partitions actually produce."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from sanctions_data_pipeline_spark.operators import dedup as dd
from sanctions_data_pipeline_spark.operators import similarity as sim


def _empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long")


def test_dedup_family_on_empty_corpus(spark):
    docs = _empty_docs(spark)
    assert dd.exact_dedup(docs).count() == 0
    assert dd.ngram_jaccard_pairs(docs, ["lang"], threshold=0.5).count() == 0
    assert dd.simhash_pairs(docs).count() == 0
    assert dd.minhash_lsh_pairs(docs).count() == 0


def test_connected_components_on_empty_pairs(spark):
    pairs = spark.createDataFrame([], "i long, j long")
    assert dd.connected_components(pairs).count() == 0


def test_dedup_on_single_and_empty_text(spark):
    docs = spark.createDataFrame(
        [(1, "", "en", "s", 0), (2, "one", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long")
    # no pair can form; empty-shingle doc must be dropped, not crash
    assert dd.ngram_jaccard_pairs(docs, ["lang"], threshold=0.5).count() == 0
    ex = {r.keep_id for r in dd.exact_dedup(docs).collect()}
    assert ex == {1, 2}


def test_cosine_pairs_empty_embeddings(spark):
    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    assert sim.cosine_pairs(emb, ["label"], threshold=0.9).count() == 0


def test_registry_queries_tolerate_empty_documents(spark, sf_dir, tmp_path):
    """A handful of document-table queries run end-to-end against an
    sf dir whose documents table is EMPTY (other tables intact)."""
    import os
    import shutil

    d = str(tmp_path / "sf_empty")
    os.makedirs(d, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(d, f"{t}.parquet"))
    load_table(spark, sf_dir, "documents").limit(0).write.parquet(
        os.path.join(d, "documents.parquet"), mode="overwrite")

    from sanctions_data_pipeline_spark.plans import registry
    qs = registry.queries()
    for name in ("dd_exact", "tt_split", "tx_langid", "tx_quality",
                 "dp_length_buckets", "corpus_report", "dd_span_dedup",
                 "tx_perplexity", "mix_dsir_weights", "dp_interleave"):
        rows = qs[name](spark, d).collect()
        assert rows == [] or all(r is not None for r in rows), name


def test_new_round3_ops_tolerate_empty_documents(spark, sf_dir, tmp_path):
    """The round-3 additions over documents must run (empty or
    well-defined output) when the documents table is empty."""
    import os

    d = str(tmp_path / "sf_empty3")
    os.makedirs(d, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(d, f"{t}.parquet"))
    load_table(spark, sf_dir, "documents").limit(0).write.parquet(
        os.path.join(d, "documents.parquet"), mode="overwrite")

    from sanctions_data_pipeline_spark.plans import registry
    qs = registry.queries()
    for name in ("dd_line_dedup", "tx_bm25", "sim_rrf_fusion",
                 "dp_sft_format", "dp_fim_transform", "tok_bpe_encode",
                 "tt_bloom_contamination", "tx_ccnet_buckets"):
        rows = qs[name](spark, d).collect()
        assert rows == [], name
    # trainers on an empty corpus: empty model, no crash
    assert qs["tok_unigram_lm"](spark, d).collect() == []


def test_dd_line_dedup_single_and_empty_text(spark, tmp_path):
    import os
    d = str(tmp_path / "sf_tiny_ld")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(1, "", "en", "s", 0), (2, "one two", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"), mode="overwrite")
    from sanctions_data_pipeline_spark.plans import registry
    rows = {r.doc_id: r for r in
            registry.queries()["dd_line_dedup"](spark, d).collect()}
    # empty text tokenizes to [''] -> one 1-token chunk; both docs keep
    assert rows[1].n_chunks == 1 and rows[1].n_removed == 0
    assert rows[2].n_chunks == 1 and rows[2].n_kept == 1


def test_series_ops_tolerate_empty_events(spark, sf_dir, tmp_path):
    """The driver-collect day-series ops (CUSUM, Holt, weekday
    seasonality) and tok_fertility must return an EMPTY DataFrame with
    the declared schema — not IndexError / ZeroDivisionError — when
    their source table is empty (ADVICE r03)."""
    import os

    d = str(tmp_path / "sf_empty_ev")
    os.makedirs(d, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "embeddings"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(d, f"{t}.parquet"))
    load_table(spark, sf_dir, "events").limit(0).write.parquet(
        os.path.join(d, "events.parquet"), mode="overwrite")
    load_table(spark, sf_dir, "documents").limit(0).write.parquet(
        os.path.join(d, "documents.parquet"), mode="overwrite")

    from sanctions_data_pipeline_spark.plans import registry
    qs = registry.queries()
    for name in ("q_cusum_changepoint", "q_holt_forecast",
                 "q_weekday_seasonality", "tok_fertility",
                 # pure-window day-series ops: empty in -> empty out
                 "q_bollinger_bands", "q_drawdown", "q_rsi"):
        df = qs[name](spark, d)
        assert df.collect() == [], name
        assert len(df.schema.fields) >= 3, name  # declared schema, not a stub


def test_round5_ops_tolerate_empty_documents(spark, sf_dir, tmp_path):
    """Round-5 document-table ops must run (empty or well-defined
    output, never a crash) when the documents table is empty."""
    import os

    d = str(tmp_path / "sf_empty5")
    os.makedirs(d, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(d, f"{t}.parquet"))
    load_table(spark, sf_dir, "documents").limit(0).write.parquet(
        os.path.join(d, "documents.parquet"), mode="overwrite")

    from sanctions_data_pipeline_spark.plans import registry
    qs = registry.queries()
    for name in ("dd_minhash_lsh_portable", "dd_simhash_portable",
                 "tx_dedup_impact", "tt_group_kfold", "tok_mincount_sweep",
                 "dq_drift_fdr"):
        assert qs[name](spark, d).collect() == [], name
    # global-summary ops: either no row or an all-null/zero row — not a crash
    rows = qs["q_cohens_kappa"](spark, d).collect()
    assert rows == [] or rows[0].n in (0, None)


def test_lateness_family_tolerates_empty_events(spark, tmp_path):
    """The sharded high-water-mark ops collect min/max event_id as
    driver state; on an EMPTY events table they must return empty
    results, not crash on int(None) (round-5 review finding)."""
    import os

    d = str(tmp_path / "sf_empty_ev")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))
    from sanctions_data_pipeline_spark.plans import registry
    qs = registry.queries()
    assert qs["q_lateness_profile"](spark, d).collect() == []
    assert qs["q_watermark_advice"](spark, d).collect() == []
    # dynamic-partition overwrite must also survive an empty source
    assert qs["io_dynamic_partition_overwrite"](spark, d).collect() == []


def test_dynamic_partition_overwrite_empty_slice_keeps_partition(spark, tmp_path):
    """Dynamic mode replaces ONLY partitions present in the write: if
    no 'error' row has an even user_id, the write is empty and the
    original error partition must survive intact (round-5 review
    finding — the op and oracle both encode this)."""
    import os

    d = str(tmp_path / "sf_odd_err")
    os.makedirs(d, exist_ok=True)
    rows = [(i, None, 2 * i + 1, "error", 0.0, None) for i in range(5)] + \
           [(10 + i, None, i, "click", 0.0, None) for i in range(7)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string"
    ).write.parquet(os.path.join(d, "events.parquet"))
    from sanctions_data_pipeline_spark.plans import registry
    got = {r.event_type: r.n_rows for r in
           registry.queries()["io_dynamic_partition_overwrite"](
               spark, d).collect()}
    assert got == {"error": 5, "click": 7}  # error partition untouched


def test_round7_ops_tolerate_empty_tables(spark, sf_dir, tmp_path):
    """Round-7 additions must run (empty or well-defined bounded
    output) when their driving table is EMPTY — the straggler /
    fresh-partition shape. Covers documents-, events-, lineitem- and
    orders-driven new ops."""
    import os

    d = str(tmp_path / "sf_empty7")
    os.makedirs(d, exist_ok=True)
    from sanctions_data_pipeline_spark.plans import registry
    qs = registry.queries()

    # all four driving tables emptied at once (dims intact)
    for t in ("region", "nation", "customer", "supplier", "part",
              "embeddings"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(d, f"{t}.parquet"))
    for t in ("documents", "events", "lineitem", "orders"):
        load_table(spark, sf_dir, t).limit(0).write.parquet(
            os.path.join(d, f"{t}.parquet"), mode="overwrite")

    # empty-result ops
    for name in ("tx_ngram_novelty", "q_bitemporal_asof",
                 "io_zorder_clustering", "q_incremental_mv"):
        assert qs[name](spark, d).collect() == [], name
    # bounded-output ops: defined row sets with zero/NULL metrics
    stats = qs["io_stats_collect"](spark, d).collect()
    assert len(stats) == 7 and all(r.ndv == 0 and r.n_nulls == 0
                                   for r in stats)
    folds = qs["tt_purged_cv"](spark, d).collect()
    assert folds == [] or all(
        r.n_test == 0 and r.n_train == 0 for r in folds)
    bloom = qs["dd_bloom_prejoin"](spark, d).collect()
    assert len(bloom) == 1 and bloom[0].n_probed == 0 \
        and bloom[0].n_passed == 0
    card = qs["q_join_cardinality_estimate"](spark, d).collect()
    assert card == [] or card[0].exact_card in (None, 0)
    stump = qs["ml_decision_stump"](spark, d).collect()
    assert stump == [] or all(r.n_left == 0 and r.n_right == 0
                              for r in stump)
    dq = {r.check_name: r for r in qs["dq_expectations"](spark, d).collect()}
    assert len(dq) == 6 and dq["row_count_positive"].passed is False


def test_neighbor_fill_on_empty_and_single_row(spark):
    from sanctions_data_pipeline_spark.operators.matching import neighbor_fill

    schema = "row_id int, full_name string, cand string"
    for rows, want in (([], []), ([(1, "A", "X")], ["X"])):
        out = neighbor_fill(spark.createDataFrame(rows, schema), "row_id",
                            "full_name", "cand", state_col="state",
                            third_pass=True)
        assert [r.filled for r in out.collect()] == want
