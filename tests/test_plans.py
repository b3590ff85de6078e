"""Physical-plan audit: pins the scale properties SURVEY §6 claims.

Correctness tests prove the operators compute the right answer at
sf0.001; these prove the PLANS are the ones that survive 100 TB —
filters reach the parquet scan, projections prune columns, dim joins
broadcast, and nothing silently degrades to a cartesian product.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from sanctions_data_pipeline_spark.plans.helpers import persist, query_scope
from sanctions_data_pipeline_spark.plans.registry import REGISTRY, queries

queries()  # force lazy registry load before REGISTRY is inspected


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q6_filters_push_to_scan(spark, sf_dir):
    p = plan_of(REGISTRY["q6_forecast_revenue"].build(spark, sf_dir))
    assert "PushedFilters: [" in p
    # at least one real predicate reached the reader (not just IsNotNull)
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any(("GreaterThan" in ln or "LessThan" in ln or "EqualTo" in ln)
               for ln in pushed), pushed


def test_q1_scan_prunes_columns(spark, sf_dir):
    p = plan_of(REGISTRY["q1_pricing_summary"].build(spark, sf_dir))
    schema_lines = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert schema_lines, p
    # q1 needs 7 lineitem columns; the 16-column scan would be wrong
    line = schema_lines[0]
    assert "l_comment" not in line and "l_orderkey" not in line
    assert "l_quantity" in line and "l_returnflag" in line


def test_q5_dims_broadcast(spark, sf_dir):
    p = plan_of(REGISTRY["q5_local_supplier"].build(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 3, p


def test_whole_stage_codegen_covers_q1(spark, sf_dir):
    # AQE wraps everything in AdaptiveSparkPlan and defers codegen to
    # stage execution; disable it for the inspection only so the static
    # plan shows its codegen subtrees.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan_of(REGISTRY["q1_pricing_summary"].build(spark, sf_dir),
                    "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in p and "Found 0" not in p


# Queries whose plans legitimately contain a non-equi broadcast join
# (top-k similarity intentionally scores query x corpus / query x cell).
# sim_ann_pq / sim_ann_ivfpq joined in r10: their domination lattices
# compute the brute-force baseline in-plan.
_NON_EQUI_OK = {"sim_topk_bruteforce", "sim_ann_lsh", "sim_ann_ivf",
                "sim_ann_pq", "sim_ann_ivfpq",
                # binary sign-hash ANN: the same intentional
                # query x corpus broadcast scoring cross, on 16-byte codes
                "sim_ann_hamming",
                "q_range_join", "q_asof_join",
                # intentional broadcast scoring joins: radius query and
                # the exact kNN-graph baseline (blocked form is equi);
                # the kNN classifier composes the same baseline; the
                # IVF recall lattice (r10) compares against that exact
                # baseline in-plan
                "sim_range_search", "emb_knn_graph", "emb_knn_accuracy",
                "emb_knn_graph_ivf",
                # one-row corpus-total broadcast
                "corpus_report", "tok_vocab", "q_sketch_merge",
                # r10 census: 1-row corpus-count + 1-row member-sum
                # crosses onto the 8-row cell lattice
                "emb_kmeans_train",
                "q_benford_check", "q_funnel_ttc", "q_pareto_abc",
                # skyline dominance is inherently non-equi: the
                # registry form is a documented block-nested broadcast
                # over the filtered domain (SFS refinement at scale)
                "q_skyline",
                # ANN/eval scoring joins (query x corpus by design) and
                # the NB class cross (|classes| = 5 broadcast)
                "sim_recall_eval", "emb_matryoshka_eval", "ml_naive_bayes",
                # MaxSim late interaction: query-set x corpus by design
                "sim_maxsim",
                # DPR hard-negative mining: query x corpus scoring cross
                "sim_hard_negatives",
                # literal d-row hash-row lattice cross (CMS)
                "q_cms_topk",
                # literal parameter-lattice crosses (no corpus scan on
                # the lattice side)
                "dd_lsh_tuning", "dd_threshold_sweep", "sim_threshold_eval",
                # 4-row fold lattice + 10-row degree-threshold lattice
                "tt_rolling_origin", "gr_rich_club",
                # B x days literal resample lattice + 1-row m broadcast
                "q_bootstrap_se",
                # 3-row block-size lattice + 1-row regression fit cross
                "q_hurst_exponent",
                # 4-row percentile lattice crossed with ranked spend
                "q_top_share",
                # intentional broadcast of a ONE-row scalar (corpus size /
                # global hour bounds / max revenue / balance threshold /
                # mixture normalizer)
                "tx_tfidf", "tx_keywords", "q_gap_fill",
                "q22_idle_customers", "mix_temperature", "q_funnel",
                "q11_important_parts", "q15_top_supplier", "q_dq_audit",
                "q_keyset_page", "q_robust_stats",
                # one-row global-max broadcast (padding accounting)
                "dp_length_buckets",
                # margin-lattice / one-row-total crosses (chi-square grid
                # is |priorities| x |segments|; ANOVA crosses one
                # grand-total row; the FK audit pairs one-row counts)
                "q_chi_square", "q_anova_f", "dq_referential",
                # mutual-NN composes the exact kNN-graph baseline
                # (same intentional scoring cross as emb_knn_graph)
                "sim_reciprocal_nn",
                # calendar-bounded day-series crosses: Mann-Kendall's
                # i<j sign pairs and ACF's lag alignment join |days|-row
                # aggregates (tiny by construction), plus 1-row stats
                "q_mann_kendall", "q_acf",
                # MK's day-pair lattice with tau-b normalization
                "q_kendall_tau",
                # bounded (priority x line-count) cell-pair lattice
                "q_gk_gamma",
                # composes q_acf's lag-alignment cross + 1-row totals
                "q_ljung_box",
                # one-row (n_all, b_all) totals broadcast
                "q_decile_lift",
                # one-row (n1, n2) totals broadcast over the value grid
                "q_ks_test",
                # one-row exact-median broadcast over the day series
                "q_runs_test",
                # Pettitt's V_t needs the same bounded day x day sign
                # pairs as q_mann_kendall; Theil-Sen medians the same
                # bounded pairwise-slope cross; the event study recomputes
                # Pettitt inline + a 15-row offset lattice
                "q_pettitt_test", "q_theil_sen", "q_event_study",
                # one-row median-day cutoff + (lo, hi) range broadcasts
                "dq_psi_drift",
                # one-row corpus totals (N tokens / N bigrams) broadcast
                "tx_bigram_pmi",
                # one-row corpus-token-total broadcast (G2 expecteds)
                "tx_keyness",
                # one-row global round-share base-rate broadcast
                "s_round_amount_bias",
                # composes s_round_amount_bias (same one-row broadcast)
                "s_risk_scorecard",
                # one-row triangle/edge totals crossed with wedge totals
                "gr_transitivity",
                # one-row moment-sums broadcast over the day series
                "q_grubbs_test", "q_control_chart",
                # one-row (min day, max day) cutoff bounds broadcast
                "tt_temporal_split",
                # one-row cutoff/moments/naive-pred broadcasts
                "q_forecast_backtest",
                # one-row half-cutoff bounds broadcast
                "q_segment_migration",
                # one-row horizon broadcast for tail-gap intervals
                "q_dormancy_timeline",
                # bounded duration-grid prefix cross (KM product) +
                # one-row horizon broadcast; the Weibull fit composes it
                "q_kaplan_meier", "q_weibull_fit",
                # same KM duration-grid prefix cross (cumulative hazard)
                "q_nelson_aalen",
                # literal threshold lattice + one-row token-total cross
                "tok_mincount_sweep",
                # same margin-lattice cross as q_chi_square
                "q_cramers_v",
                # one-row group-stats cross (click row x view row)
                "q_welch_ttest",
                # one-row tie-correction total crossed with rank sums
                "q_mann_whitney",
                # one-row MH pooled-OR broadcast over year strata
                "q_mantel_haenszel",
                # composes the brute-force ground truth (query x corpus
                # scoring cross, same as sim_recall_eval)
                "sim_mrr_eval",
                # one-row grand-total cross (the q_anova_f shape)
                "q_levene_test",
                # one-row totals x one-row pe_num cross (kappa)
                "q_cohens_kappa",
                # one-row (h0, h1) bounds broadcast (the q_gap_fill grid)
                "q_linear_interpolate",
                # one-row (mean, sd) stats broadcast over the bounded
                # day series (the closed-form CUSUM parameters)
                "q_cusum_changepoint",
                # 4-row coverage-target lattice over the lateness histogram
                "q_watermark_advice",
                # one-row key-bounds broadcast (Morton grid scaling)
                "io_zorder_clustering",
                # one-row scalar broadcasts: table totals / max-date /
                # fold bounds crossed onto bounded relations
                "q_join_cardinality_estimate", "dd_bloom_prejoin",
                "tt_purged_cv", "q_incremental_mv",
                # 15-row threshold-grid / one-row suite-state crosses
                "ml_decision_stump", "dq_expectations"}


@pytest.mark.parametrize("name", sorted(
    n for n in REGISTRY if not n.startswith(("st_", "pipeline", "xml", "pdf"))))
def test_no_unplanned_cartesian(spark, sf_dir, name):
    df = queries()[name](spark, sf_dir)
    p = plan_of(df, "simple")
    assert "CartesianProduct" not in p, f"{name} degraded to cartesian"
    if name not in _NON_EQUI_OK:
        assert "BroadcastNestedLoopJoin" not in p, \
            f"{name} has an unplanned non-equi join"


def test_aqe_splits_skewed_sort_merge_join(spark):
    """A 90%-hot-key join must come out of AQE with the fat partition
    SPLIT (SortMergeJoin(skew=true) + 'coalesced and skewed' shuffle
    read) — the runtime half of the engine's skew story (q_skew_salted
    is the compile-time half). Thresholds are lowered so local-mode
    data sizes trip the same code path a 100 TB partition would."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(500_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id"))
             .alias("k"),
            F.concat(F.lit("payload_payload_payload_payload_"),
                     F.col("id").cast("string")).alias("pad"))
        right = spark.range(50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv"))
        df = left.join(right, "k")
        assert df.count() > 0
        df.foreach(lambda r: None)  # finalize THIS plan instance's AQE
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan.splitlines()[0]
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan  # AQEShuffleRead split the fat partition
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """With broadcast off (modeling a fact-fact join too big to
    broadcast), Catalyst must inject a runtime bloom filter from the
    selective orders side into the lineitem scan — rows that cannot
    join are dropped BEFORE the shuffle, the 100 TB analogue of
    shipping 4x less data into the exchange."""
    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.catalog import load_table

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple")
        assert "might_contain" in plan.lower(), plan[:1500]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", ["q4_order_priority", "q12_late_lines",
                                  "q16_supplier_cnt"])
def test_sql_surface_parity(spark, sf_dir, name):
    """Third surface check: the (ANSI-subset) oracle SQL executed by
    SPARK's own SQL engine must produce the same rows as the DataFrame
    builder — users of the engine can freely mix spark.sql() with the
    registry's DataFrame API."""
    from sanctions_data_pipeline_spark.catalog import register_views
    from sanctions_data_pipeline_spark.plans.registry import oracle_sql

    register_views(spark, sf_dir)
    df_rows = sorted(tuple(r) for r in queries()[name](spark, sf_dir).collect())
    sql_rows = sorted(tuple(r) for r in spark.sql(oracle_sql()[name]).collect())
    assert df_rows == sql_rows and df_rows


def test_join_hints_steer_the_physical_strategy(spark, sf_dir):
    """Hints are the manual override when stats mislead the planner at
    scale: merge, shuffle_hash, and broadcast must each surface as the
    corresponding physical join."""
    from sanctions_data_pipeline_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    cases = {
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "broadcast": "BroadcastHashJoin",
    }
    for hint, op in cases.items():
        j = li.join(orders.hint(hint), li.l_orderkey == orders.o_orderkey)
        p = plan_of(j, "simple")
        assert op in p, f"hint {hint!r} did not plan {op}: {p[:800]}"


def test_dp_shuffle_scan_prunes_the_text_column(spark, sf_dir):
    """dp_shuffle addresses documents purely by doc_id; its parquet
    scan must not read `text` (the corpus's dominant bytes) — the
    difference between scanning 8 bytes/row and the whole 100 TB."""
    df = queries()["dp_shuffle"](spark, sf_dir)
    p = plan_of(df)
    schema_lines = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert schema_lines
    assert all("text" not in ln for ln in schema_lines), schema_lines
    assert any("doc_id" in ln for ln in schema_lines)


def test_registry_contract_invariants():
    """Driver-contract guards: every entry callable, oracle SQL
    non-trivial where present, headline set inside the registry, and
    the 50-entry correctness window derived from CORRECTNESS_r*.json:
    all SQL-oracled, every never-green SQL-oracled entry in it, then
    REPROVE, then the stalest evidence round in full."""
    from sanctions_data_pipeline_spark.plans import registry as reg

    qs = reg.queries()
    os_ = reg.oracle_sql()
    assert len(qs) >= 190 and len(os_) >= 160
    assert set(os_) <= set(qs) == set(reg.REGISTRY)
    for name, sql in os_.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name
    for name, qd in reg.headline_queries().items():
        assert name in qs and qd.headline
    assert list(reg.headline_queries()) == [
        n for n, qd in reg.REGISTRY.items() if qd.headline]
    # REPROVE names real SQL-oracled entries (a typo would drop silently)
    assert set(reg.REPROVE) <= set(os_)
    assert len(reg.REPROVE) <= 15
    green = reg.last_green()
    assert green is not None
    window = list(qs)[:50]
    assert set(window) <= set(os_)
    never = [n for n in os_ if n not in green]
    assert len(never) < 50 and window[:len(never)] == never
    reprove = [n for n in reg.REPROVE if n in green]
    assert window[len(never):len(never) + len(reprove)] == reprove
    oldest = min(green[n] for n in os_ if n in green)
    assert {n for n in os_ if green.get(n) == oldest} <= set(window)


def _evidence(tmp_path, rounds):
    import json

    for name, records in rounds.items():
        (tmp_path / f"CORRECTNESS_{name}.json").write_text(
            json.dumps(records) if isinstance(records, dict) else records)
    return tmp_path


def test_rotation_derives_four_tier_order_from_evidence(tmp_path):
    """The window order comes from the evidence files alone: never-green
    SQL-oracled entries first (a failed record, and a no_oracle record
    of an entry that has an oracle today, are not green), then REPROVE,
    then the rest by last green round (rounds sorted numerically, r10
    after r2), rows-only last. Nothing never-checked escapes the head."""
    from sanctions_data_pipeline_spark.plans import registry as reg

    reg.queries()
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "err": None}
    bad = {**ok, "hash_match": False}
    no_oracle = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "err": "no_oracle"}
    rep = reg.REPROVE[0]
    ev = _evidence(tmp_path, {
        "r1": {"q_rollup_reuse": bad, "q1_pricing_summary": bad,
               "q3_shipping_priority": ok, "q6_forecast_revenue": ok},
        "r2": {"xml_entity_extract": no_oracle, "dd_minhash_lsh": no_oracle,
               rep: ok, "q6_forecast_revenue": ok},
        "r10": {"q1_pricing_summary": ok},
        "r11": "{not json",
    })
    assert reg.last_green(ev) == {
        "q3_shipping_priority": 1, "q6_forecast_revenue": 2, rep: 2,
        "dd_minhash_lsh": 2, "q1_pricing_summary": 10}
    order = reg.rotation(ev)
    assert sorted(order) == sorted(reg.REGISTRY)
    rows_only = [n for n, qd in reg.REGISTRY.items() if not qd.oracle]
    green = {"q3_shipping_priority", "q6_forecast_revenue", rep,
             "q1_pricing_summary"}
    never = [n for n, qd in reg.REGISTRY.items()
             if qd.oracle and n not in green]
    assert "q_rollup_reuse" in never and "xml_entity_extract" in never
    assert order == [*never, rep, "q3_shipping_priority",
                     "q6_forecast_revenue", "q1_pricing_summary", *rows_only]


def test_rotation_without_evidence_is_registration_order(tmp_path):
    from sanctions_data_pipeline_spark.plans import registry as reg

    reg.queries()
    assert reg.last_green(tmp_path / "missing") is None
    assert reg.rotation(tmp_path / "missing") == list(reg.REGISTRY)
    unreadable = _evidence(tmp_path, {"r1": "[1, 2]", "r2": "{"})
    assert reg.rotation(unreadable) == list(reg.REGISTRY)


def test_survey_registry_sync():
    """SURVEY.md §2 is the judge's coverage checklist: every id listed
    there must be a registry entry and vice versa (1:1 both ways), and
    the STATUS paragraph's counts must equal the live registry's —
    this is the scripted check that keeps the doc from going stale."""
    import os
    import re

    from sanctions_data_pipeline_spark.plans import registry as reg

    qs = reg.queries()
    os_ = reg.oracle_sql()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "SURVEY.md")).read()
    sec2 = text.split("## §2", 1)[1].split("\n## §", 1)[0]
    ids = set()
    for line in sec2.splitlines():
        m = re.match(r"\|\s*`?([a-z][a-z0-9_]+)`?\s*\|", line)
        if m and m.group(1) not in ("id",):
            ids.add(m.group(1))
    assert ids == set(qs), (
        f"SURVEY §2 vs registry drift: only-in-survey={sorted(ids - set(qs))} "
        f"only-in-registry={sorted(set(qs) - ids)}")
    # the STATUS paragraph's three counts must be the live ones
    m = re.search(r"all (\d+) registry entries", sec2)
    assert m and int(m.group(1)) == len(qs), (m and m.group(1), len(qs))
    m = re.search(r"(\d+) with cross-engine-exact DuckDB\s*\n?oracles", sec2)
    assert m and int(m.group(1)) == len(os_), (m and m.group(1), len(os_))
    m = re.search(r"(\d+) rows-only", sec2)
    assert m and int(m.group(1)) == len(qs) - len(os_), (
        m and m.group(1), len(qs) - len(os_))


def test_bench_summary_line_is_last_and_bounded():
    """The driver records only the tail of bench.py's stdout (~2000
    chars); BENCH_r07.json lost its headline ("parsed": null) when the
    single combined JSON line outgrew that window, and PERF_r11 lost
    its per-query/scaling comparison when the mins moved OFF the
    summary line. Pin the round-12 contract: the LAST emitted line is
    a summary that parses, carries the metric + gate subtotals + the
    per-query mins WHEN they fit the tail window, and falls back to
    the compact (min-free) shape — never a truncated line — if the
    headline set outgrows it."""
    import json as _json

    import bench

    # (a) a realistic 51-name set: summary must carry per-query mins
    # and still fit the driver's 2000-char tail window
    real = {f"q_real_{i:02d}": 1.234 for i in range(31)}
    real.update({k: 0.5 for k in bench.LEGACY_20})
    med = {k: v + 0.1 for k, v in real.items()}
    cold = {k: v + 0.3 for k, v in real.items()}
    lines = bench.emit_lines(real, med, 4, 0.1,
                             cal_per_pass=[0.4, 0.41], colds=cold)
    summary = _json.loads(lines[-1])
    assert summary["queries"] == real
    assert summary["cold_total"] == round(sum(cold.values()), 3)
    assert summary["legacy20_cold_subtotal"] == round(0.8 * 20, 3)
    assert len(lines[-1]) <= bench.SUMMARY_MAX_CHARS < 2000

    # (b) 160 synthetic headliners — 3x the current set: the summary
    # drops the per-query dict rather than overflow the tail window
    timings = {f"q_synthetic_{i:03d}": 1.234 for i in range(160)}
    timings.update({k: 0.5 for k in bench.LEGACY_20})
    medians = {k: v + 0.1 for k, v in timings.items()}
    lines = bench.emit_lines(timings, medians, 3, 0.1,
                             cal_per_pass=[0.4, 0.41, 0.62])
    summary = _json.loads(lines[-1])
    assert "queries" not in summary
    assert summary["metric"] == "headline_query_total_runtime"
    assert summary["unit"] == "sec"
    assert summary["runs_per_query"] == 3
    # round-10 noise record: calibration dispersion + poisoned-pass flag
    assert summary["cal_per_pass"] == [0.4, 0.41, 0.62]
    assert summary["cal_noise_pct"] == 55.0
    assert summary["noisy_passes"] == [2]
    assert summary["n_queries"] == len(timings)
    assert summary["legacy20_subtotal"] == round(0.5 * 20, 3)
    assert "likeforlike45_subtotal" in summary
    assert len(lines[-1]) < 1000, len(lines[-1])
    # the per-query detail parses too, on a PRECEDING line
    detail = _json.loads(lines[0])
    assert detail["queries"] == timings
    assert detail["queries_median"] == medians
    # the gate/like-for-like sets are subsets of the real registry
    from sanctions_data_pipeline_spark.plans import registry as reg
    names = set(reg.queries())
    assert bench.LEGACY_20 <= names
    assert bench.LIKE_FOR_LIKE_45 <= names


# ---------------------------------------------------------------------------
# The sharded-global-window family (VERDICT r05 "what's wrong"): ops
# whose global rank / running sum / NTILE used to plan a
# single-partition WindowExec over ROW-SCALE input. They now go through
# plans/helpers.sharded_global_window / sharded_ntile (range-shard on
# an order-monotone key, per-shard window, broadcast carry-in). These
# tests pin the plans: the only SinglePartition exchanges left must
# feed from bounded relations — the n_shards-row carry table
# (HashAggregate keys=[__shard...]), a global reduction
# (HashAggregate keys=[], partial-aggregated upstream), or an
# op-specific bounded grid listed below.
# ---------------------------------------------------------------------------
_SHARDED_FAMILY = [
    "q_concurrency_profile", "mix_budget_fill", "dp_curriculum",
    "dp_balanced_shards", "dd_sorted_neighborhood", "q_pareto_abc",
    "tx_ccnet_buckets", "mix_ccnet_sampling", "tx_heaps_fit",
    "q_rfm_segmentation", "q_gini_coefficient", "q_quantile_bins",
    "q_lorenz_deciles", "q_top_share",
]

# per-op additional bounded single-partition feeds (grids bounded by
# construction, not by data size)
_BOUNDED_SP_KEYS = {
    "q_lorenz_deciles": ("decile",),  # 10-row decile grid cum/tot
}


@pytest.mark.parametrize("name", _SHARDED_FAMILY)
def test_no_row_scale_single_partition_window(spark, sf_dir, name):
    df = queries()[name](spark, sf_dir)
    p = plan_of(df, "simple")
    assert "__shard" in p, f"{name}: sharded path missing from plan"
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln or "ReusedExchange" in ln:
            continue
        # walk down to the first CARDINALITY-DEFINING node under the
        # exchange (Project/Filter/Sort/Window are pass-throughs): a
        # HashAggregate bounds rows to its key-space; a Scan / Join /
        # Generate / Union / Range means row-scale data crossed into
        # one partition
        child = next(
            (l for l in lines[i + 1:]
             if any(t in l for t in ("HashAggregate", "Scan", "Join",
                                     "Generate", "Union", "Range",
                                     "Exchange"))),
            "")
        ok = ("HashAggregate(keys=[]" in child
              or "HashAggregate(keys=[__shard" in child
              or any(f"HashAggregate(keys=[{k}" in child
                     for k in _BOUNDED_SP_KEYS.get(name, ())))
        assert ok, (f"{name}: single-partition exchange fed by a "
                    f"row-scale relation:\n  {ln}\n  child: {child}")


def test_sharded_global_window_matches_native_global_window(spark):
    """Carry-in replay (the r05 lateness pattern, generalized): on a
    synthetic frame with heavy key ties and negative values, the
    sharded rank / running-sum / NTILE / totals must be value-identical
    to the native unpartitioned Window forms, including string-prefix
    keys and the k > n NTILE edge."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_global_window, sharded_ntile, str_prefix_key)

    random.seed(7)
    rows = [(i, random.randint(-50, 50),
             random.choice(["apple", "über", "b", "zeta", "apple pie", ""]))
            for i in range(2003)]
    df = spark.createDataFrame(rows, "id long, v long, s string")

    g = df.select(
        "id",
        F.row_number().over(W.orderBy(F.desc("v"), "id"))
        .cast("bigint").alias("rn"),
        F.sum("v").over(W.orderBy(F.desc("v"), "id")
                        .rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint").alias("cv"))
    s = sharded_global_window(
        df, -F.col("v"), [F.desc("v"), F.asc("id")], rn="rn2",
        sums=[("v", "cv2")], count_total="n", sum_totals=[("v", "tot")],
        n_shards=7)
    tot = df.agg(F.sum("v")).first()[0]
    assert s.filter((F.col("n") != 2003) | (F.col("tot") != tot)).count() == 0
    j = g.join(s.select("id", "rn2", "cv2"), "id")
    assert j.filter((F.col("rn") != F.col("rn2"))
                    | (F.col("cv") != F.col("cv2"))).count() == 0

    for k in (4, 3000):  # k < n and k > n
        gk = df.select("id", F.ntile(k).over(W.orderBy("v", "id"))
                       .cast("bigint").alias("t"))
        sk = sharded_ntile(df, F.col("v"), [F.asc("v"), F.asc("id")],
                           k, "t2", n_shards=7)
        assert (gk.join(sk.select("id", "t2"), "id")
                .filter(F.col("t") != F.col("t2")).count() == 0), k

    gs = df.select("id", F.row_number().over(W.orderBy("s", "id"))
                   .cast("bigint").alias("r"))
    ss = sharded_global_window(df, str_prefix_key("s"),
                               [F.asc("s"), F.asc("id")], rn="r2",
                               n_shards=7)
    assert (gs.join(ss.select("id", "r2"), "id")
            .filter(F.col("r") != F.col("r2")).count() == 0)

    empty = df.filter(F.lit(False))
    assert sharded_global_window(empty, F.col("v"), [F.asc("v")],
                                 rn="r").count() == 0
    assert sharded_ntile(empty, F.col("v"), [F.asc("v")], 5, "t").count() == 0


def test_sharded_global_window_null_keys_match_native(spark):
    """NULL-key rows must land where the native window's default null
    ordering puts them: NULLS FIRST for an ascending leading column,
    NULLS LAST for a descending one (code-review r06 finding)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.plans.helpers import (
        sharded_global_window)

    rows = [(1, 5), (2, None), (3, 1), (4, 9), (5, None), (6, -2)]
    df = spark.createDataFrame(rows, "id long, v long")

    ga = df.select("id", F.row_number().over(W.orderBy(F.asc("v"), "id"))
                   .cast("bigint").alias("rn"))
    sa = sharded_global_window(df, F.col("v"), [F.asc("v"), F.asc("id")],
                               rn="rn2", n_shards=4)
    assert (ga.join(sa.select("id", "rn2"), "id")
            .filter(F.col("rn") != F.col("rn2")).count() == 0)

    gd = df.select("id", F.row_number().over(W.orderBy(F.desc("v"), "id"))
                   .cast("bigint").alias("rn"))
    sd = sharded_global_window(df, -F.col("v"), [F.desc("v"), F.asc("id")],
                               rn="rn2", n_shards=4, nulls="last")
    assert (gd.join(sd.select("id", "rn2"), "id")
            .filter(F.col("rn") != F.col("rn2")).count() == 0)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """io_bucketed_join's storage layout must eliminate the join
    shuffle entirely: both sides are bucketed by the join key with the
    same bucket count, so the sort-merge join reads bucket-aligned —
    the plan may contain NO shuffle Exchange anywhere below the join
    (the final groupBy agg above it still exchanges on its own key)."""
    df = queries()["io_bucketed_join"](spark, sf_dir)
    p = plan_of(df, "simple")
    lines = p.splitlines()
    join_i = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln
                  or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln)
    below = "\n".join(lines[join_i:])
    assert "Exchange hashpartitioning" not in below, below
    # and the scans really are the bucketed tables
    assert "SelectedBucketsCount" in p or "Bucketed: true" in p, p


# ---------------------------------------------------------------------------
# Rows-only evidence lint (VERDICT r06 task 7): SURVEY §2 claims every
# rows-only registry entry carries pytest VALUE pins against an
# independent implementation. This test makes that claim structural:
# each rows-only op must name its pinning test here, and the named
# test function must actually exist in the named file — so a future
# rows-only op cannot ship without consciously registering its
# evidence, and a renamed/deleted pin test fails loudly.
# ---------------------------------------------------------------------------
_ROWS_ONLY_VALUE_PINS = {
    "dd_minhash_lsh": ("test_dedup_similarity.py", "test_minhash_lsh_portable_replay"),
    "dd_simhash": ("test_dedup_similarity.py", "test_simhash_portable_replay"),
    # emb_isotropy gained the ABTT-improves invariant-lane oracle in
    # round 10; the exact proxy pin stays on emb_isotropy_full.
    # emb_kmeans_train / emb_knn_graph_ivf / emb_semantic_dedup /
    # sim_ann_ivf gained invariant-lane SQL oracles in round 10; their
    # exact-value pins stay on the *_full surfaces (same test files).
    # emb_procrustes_align gained the orthogonality/improves lattice in
    # round 11; the SVD-chain pin stays on emb_procrustes_align_full.
    # ml_logreg gained the loss-below-null invariant-lane SQL oracle
    # in round 10; exact weights stay pinned on ml_logreg_full via
    # test_logreg_matches_driver_recompute_and_learns.
    # mm_spectral gained a framing+Parseval invariant-lane SQL oracle
    # in round 10; its exact-value pin stays on mm_spectral_full.
    # pr_implicit_als gained the ridge rmse-below-null lattice in
    # round 11; the numpy replay pin stays on pr_implicit_als_full.
    # sim_ann_pq / sim_ann_ivfpq gained the shared domination-lattice
    # SQL oracle in round 10; exact-value pins stay on *_full.
    # tok_bpe_merges / tok_bpe_encode gained value-exact unrolled
    # recursive-CTE oracles in round 10 (the first trainers with one);
    # the python replays remain as third checks in test_training_ext2.
    # tok_unigram_lm gained the seed-census + Viterbi-optimality
    # lattice in round 11; the EM replay pin stays on
    # tok_unigram_lm_full. dd_minhash_lsh / dd_simhash above are the
    # TERMINAL rows-only pool: xxhash64 signature machinery with
    # fully-oracled portable twins (dd_minhash_lsh_portable /
    # dd_simhash_portable).
}


def test_rows_only_entries_have_registered_value_pins():
    import os
    import re

    from sanctions_data_pipeline_spark.plans import registry as reg

    reg.queries()
    rows_only = {n for n, qd in reg.REGISTRY.items() if not qd.oracle}
    assert rows_only == set(_ROWS_ONLY_VALUE_PINS), (
        f"unmapped rows-only ops (add a value-pin test + register it "
        f"here): {sorted(rows_only - set(_ROWS_ONLY_VALUE_PINS))}; "
        f"stale entries (op gained an oracle or was removed): "
        f"{sorted(set(_ROWS_ONLY_VALUE_PINS) - rows_only)}")
    here = os.path.dirname(os.path.abspath(__file__))
    srcs: dict[str, str] = {}
    for op, (fname, test_fn) in _ROWS_ONLY_VALUE_PINS.items():
        path = os.path.join(here, fname)
        assert os.path.exists(path), f"{op}: {fname} missing"
        if fname not in srcs:
            srcs[fname] = open(path).read()
        assert re.search(rf"^def {re.escape(test_fn)}\b", srcs[fname],
                         re.M), f"{op}: {fname} has no {test_fn}"


def test_subtree_lint_expectation_is_curated(spark, sf_dir):
    """Pin the duplicated-heavy-subtree lint (tools/lint_subtrees.py)
    on a representative slice: the round-12 persist/rewrite fixes must
    stay flag-FREE, and the documented leave-alones must stay exactly
    the known flags (emb_semantic_dedup's checker lane recomputes by
    design; q_acf/q_ljung_box re-run a one-row agg over a cached
    frame; q_forecast_backtest's duplicates sit over a cached bounded
    census). A new flag on the fixed set means a shared heavy subtree
    lost its persist; a vanished flag on the leave-alones means their
    documented rationale is stale."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "lint_subtrees", os.path.join(root, "tools", "lint_subtrees.py"))
    lint = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lint)

    must_be_clean = [
        "q_kaplan_meier", "q_chi_square", "q_cms_topk", "dq_expectations",
        "dd_minhash_est_error", "q_rfm_segmentation", "tx_tfidf",
        "q_mann_kendall", "tok_vocab_overlap", "q_funnel",
    ]
    leave_alones = {"emb_semantic_dedup", "q_acf", "q_ljung_box",
                    "q_forecast_backtest"}
    qs = queries()
    for name in must_be_clean:
        with query_scope():
            assert lint.lint_plan(qs[name](spark, sf_dir)) == [], (
                f"{name} regressed: lost a persist")
    for name in sorted(leave_alones):
        with query_scope():
            assert lint.lint_plan(qs[name](spark, sf_dir)), (
                f"{name}: documented leave-alone no longer flags — "
                "update the rationale in OPTIMIZATION_r12.md")


def test_fetch_if_small_bounds_and_jobs(spark, monkeypatch):
    """One ``limit(n + 1)`` fetch answers the size gate: rows at n - 1
    and n, None at n + 1, [] on an empty frame, the default bound read
    at call time; on a persisted aggregate it runs fewer jobs than the
    count-then-collect it replaces."""
    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.plans import helpers
    from sanctions_data_pipeline_spark.plans.helpers import fetch_if_small

    n = 5
    for size, want in ((n - 1, n - 1), (n, n), (n + 1, None)):
        got = fetch_if_small(spark.range(size), n)
        assert (None if got is None else len(got)) == want, size
    assert sorted(r.id for r in fetch_if_small(spark.range(n), n)) \
        == list(range(n))
    assert fetch_if_small(spark.range(0), n) == []
    monkeypatch.setattr(helpers, "DRIVER_MAX_ROWS", 2)
    assert fetch_if_small(spark.range(3)) is None
    assert len(fetch_if_small(spark.range(2))) == 2

    sc = spark.sparkContext

    def jobs(group, fn):
        agg = (spark.range(30_000)
               .groupBy((F.col("id") % 3000).alias("k")).count().persist())
        sc.setJobGroup(group, group)
        try:
            fn(agg)
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            agg.unpersist()

    gate = jobs("gate-count-collect",
                lambda df: df.collect() if df.count() <= 100_000 else None)
    fetch = jobs("gate-fetch", lambda df: fetch_if_small(df, 100_000))
    assert fetch < gate, (fetch, gate)


def test_query_scope_releases_only_its_own_entries(spark):
    """A scope unpersists the entries ``persist`` created inside it, on
    exit and on error; an entry cached before it under the same
    canonical plan survives; a nested scope releases only its own; and
    ``persist`` outside a scope leaves its entry to the caller."""
    from pyspark.sql import functions as F

    entries = spark._jsparkSession.sharedState().cacheManager() \
        .numCachedEntries

    def agg(k):
        return spark.range(1000).groupBy((F.col("id") % k).alias("g")).count()

    def cached(k):
        return agg(k).storageLevel.useMemory

    base = entries()
    owner = persist(agg(7))  # no scope open: the caller owns it
    with query_scope():
        persist(agg(7)).count()  # aliases owner's entry
        persist(agg(11)).count()
        assert entries() == base + 2
    assert cached(7) and not cached(11) and entries() == base + 1
    with pytest.raises(ValueError), query_scope():
        persist(agg(13)).count()
        raise ValueError
    assert not cached(13) and entries() == base + 1
    with query_scope():
        persist(agg(17))
        with query_scope():
            persist(agg(19))
            assert entries() == base + 3
        assert cached(17) and not cached(19)
    assert not cached(17) and entries() == base + 1
    owner.unpersist()
    assert entries() == base


def test_query_scope_releases_what_builders_leave(spark, sf_dir, tmp_path):
    """Registry entries whose returned frames read persisted
    intermediates leave nothing cached once built and sunk inside a
    scope. The tables are read through a fresh path, so no entry an
    earlier test left under the same plan can hide a leak."""
    entries = spark._jsparkSession.sharedState().cacheManager() \
        .numCachedEntries
    sf = tmp_path / "sf0.001"
    sf.symlink_to(sf_dir)
    qs = queries()
    for name in ("dd_minhash_lsh", "tx_bigram_pmi", "q_kaplan_meier",
                 "mm_phash"):
        before = entries()
        with query_scope():
            qs[name](spark, str(sf)).write.format("noop") \
                .mode("overwrite").save()
            assert entries() > before, name
        assert entries() == before, name


def test_local_frame_types_nulls_and_plan(spark):
    """local_frame keeps each column's type and its NULLs, takes empty
    rows, Row inputs, DDL strings and StructTypes, plans a LocalRelation
    without starting a job, and rejects a float for an int column as
    the list path's verifySchema does."""
    from pyspark.sql import Row
    from pyspark.sql.types import DataType

    from sanctions_data_pipeline_spark.plans.helpers import local_frame

    ddl = "i int, b bigint, f boolean, d double, a array<string>"
    rows = [(1, None, True, None, ["x", None]),
            (None, 2, None, 1.5, None)]
    sc = spark.sparkContext
    sc.setJobGroup("local-frame-build", "build only")
    try:
        df = local_frame(rows, ddl)
        assert list(sc.statusTracker().getJobIdsForGroup(
            "local-frame-build")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.schema == DataType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation", plan.toString()

    empty = local_frame([], ddl)
    assert empty.schema == DataType.fromDDL(ddl) and empty.collect() == []
    same = local_frame([Row(k=1, v="x"), Row(k=2, v=None)],
                       DataType.fromDDL("k long, v string"))
    assert [tuple(r) for r in same.collect()] == [(1, "x"), (2, None)]
    with pytest.raises(TypeError):
        local_frame([(1.0,)], "i int")
    with pytest.raises(TypeError):
        local_frame([(1.5,)], "i bigint")


def test_driver_round_trips_go_through_the_helpers():
    """One path per direction: ``createDataFrame`` appears only inside
    ``helpers.local_frame`` and at emb_pca_full's pandas input (already
    Arrow), and no ``count()`` feeds a ``<=`` gate whose branch collects
    — size gates fetch through ``helpers.fetch_if_small``. One owner of
    cache lifetime: ``persist()``/``cache()`` appear only inside
    ``helpers.persist``, and no module calls ``clearCache``."""
    import ast
    import pathlib

    import sanctions_data_pipeline_spark as pkg

    def calls(node, attr):
        return [c for c in ast.walk(node) if isinstance(c, ast.Call)
                and isinstance(c.func, ast.Attribute) and c.func.attr == attr]

    def is_count(node, counted=()):
        return (node in calls(node, "count") and not node.args
                or isinstance(node, ast.Name) and node.id in counted)

    root = pathlib.Path(pkg.__file__).parent
    sites, persists, clears, gates = set(), set(), [], []
    for path in sorted(root.rglob("*.py")):
        mod = str(path.relative_to(root))
        src = path.read_text()
        tree = ast.parse(src, mod)
        fns = [f for f in tree.body if isinstance(f, ast.FunctionDef)]

        def site(c):
            return (mod, next((f.name for f in fns
                               if f.lineno <= c.lineno <= f.end_lineno), None))
        sites |= {site(c) for c in calls(tree, "createDataFrame")}
        persists |= {site(c) for a in ("persist", "cache")
                     for c in calls(tree, a)}
        if "clearCache(" in src:
            clears.append(mod)
        # a branch collects directly or through a module function that does
        collecting = {f.name for f in fns if calls(f, "collect")}
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            counted = {t.id for a in ast.walk(fn) if isinstance(a, ast.Assign)
                       and is_count(a.value)
                       for t in a.targets if isinstance(t, ast.Name)}
            for node in ast.walk(fn):
                t = getattr(node, "test", None)
                if not (isinstance(node, (ast.If, ast.IfExp))
                        and isinstance(t, ast.Compare)
                        and any(isinstance(op, ast.LtE) for op in t.ops)
                        and is_count(t.left, counted)):
                    continue
                body = node.body if isinstance(node, ast.If) else [node.body]
                if any(calls(b, "collect") or any(
                        isinstance(c, ast.Call)
                        and getattr(c.func, "id", None) in collecting
                        for c in ast.walk(b)) for b in body):
                    gates.append(f"{mod}:{node.lineno}")
    assert sites == {("plans/helpers.py", "local_frame"),
                     ("plans/training_data.py", "emb_pca_full")}, sites
    assert gates == [], gates
    assert persists == {("plans/helpers.py", "persist")}, persists
    assert clears == [], clears
