"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints TWO JSON lines:
  1. detail:  {"detail": "per_query", "queries": {...min...},
               "queries_cold": {...run-1...}, "queries_median": {...}}
  2. summary: {"metric": ..., "value": total_sec, "unit": "sec",
               "queries": {...min...}, "sf": ..., "n_queries": N,
               "runs_per_query": N, "legacy20_subtotal": sec,
               "likeforlike45_subtotal": sec, "cold_total": sec,
               "legacy20_cold_subtotal": sec}

The SUMMARY is the LAST line and stays under 2000 chars: the driver
records only the tail of stdout, and round 7's single combined line
outgrew that window (BENCH_r07.json "parsed": null — VERDICT r07
"what's wrong" item 1). Round 12 restored the per-query mins INTO the
summary (the driver's per-query/scaling comparison reads the one
parsed JSON line — PERF_r11 per_query was empty without them); at the
current 51-query set that line is ~1.7k chars, and if the headline set
ever grows past the window the summary drops the per-query dict rather
than overflow (the detail line and bench_detail.json keep it). The
gate subtotals (legacy-20 <= 21.5 s on an idle box, 45-query
like-for-like vs BENCH_r05) are computed here so the official record
carries them directly.

Warm-min inflation guard (VERDICT r11 "what's wrong" item 1): run 1 of
each query pays the full compute INSIDE the timed region (the
builders' persists are created there), while runs 2-4 can scan cache
entries aliased by canonicalized plan. The record now carries BOTH
numbers: "queries" stays the min over all runs (the historical gate
metric, unchanged semantics) and "queries_cold"/"cold_total"/
"legacy20_cold_subtotal" carry the run-1 cost — the number that
survives at 100 TB where nobody re-runs a warm cache. Each query's reps
in a pass run inside one ``helpers.query_scope``: rep 2 reuses rep 1's
cache entries, and the scope releases them before the next query, so
every pass's rep 1 recomputes its persists. The detail line records
``cache_entries_left`` after the run (0 expected).

The full per-query detail (min/cold/median + noise metadata) is also
written to bench_detail.json next to this file — the judge-readable
artifact that never depends on the stdout tail window. A subset run
(``python bench.py q1 ...``) writes bench_detail.subset.json instead,
so it never overwrites the full run's record.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sanctions_data_pipeline_spark.plans import registry
from sanctions_data_pipeline_spark.plans.helpers import query_scope
from sanctions_data_pipeline_spark.session import get_spark

# The BENCH_r01 query set (frozen r01 total 28.83 s): the regression
# gate is best-of-N subtotal <= 21.5 s on an idle box (BENCH_BASELINE.md
# "Legacy-20 regression gate", enforced from round 7).
LEGACY_20 = frozenset({
    "dd_cluster", "dd_exact", "dd_minhash_lsh", "dd_ngram_jaccard",
    "dd_simhash", "dd_span_dedup", "mm_decode", "q1_pricing_summary",
    "q3_shipping_priority", "q5_local_supplier", "q6_forecast_revenue",
    "q_asof_join", "q_events_bucketed", "q_range_join", "q_sessionize",
    "q_skew_salted", "sim_ann_lsh", "sim_topk_bruteforce", "st_session",
    "tx_langid",
})

# The BENCH_r05 45-query headline set: the like-for-like series used to
# compare rounds after the headline set grew (r05 single-shot 54.69 s;
# r07 best-of-3 45.54 s).
LIKE_FOR_LIKE_45 = frozenset({
    "dd_cluster", "dd_exact", "dd_line_dedup", "dd_minhash_lsh",
    "dd_minhash_lsh_portable", "dd_ngram_jaccard", "dd_simhash",
    "dd_span_dedup", "dd_winnow", "dp_span_mask", "dq_drift_fdr",
    "emb_centroid_classify", "mm_decode", "mm_phash", "pr_user_recs",
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q_asof_join", "q_attribution",
    "q_bollinger_bands", "q_events_bucketed", "q_hhi_concentration",
    "q_kaplan_meier", "q_linear_interpolate", "q_lorenz_deciles",
    "q_range_join", "q_recursive_walk", "q_sessionize", "q_skew_salted",
    "q_winsorize", "sim_ann_ivfpq", "sim_ann_lsh", "sim_maxsim",
    "sim_rrf_fusion", "sim_topk_bruteforce", "st_session",
    "tok_bpe_merges", "tok_unigram_lm", "tx_bigram_pmi", "tx_bm25",
    "tx_keyness", "tx_langid", "tx_perplexity",
})


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "?"
    spark = get_spark("bench")
    timings: dict[str, float] = {}
    # warm the JVM/session so q-to-q timings measure the query, not
    # session startup: a scan, a codegen'd shuffle agg, and a broadcast
    # join exercise the scan/exchange/codegen paths the queries use.
    # THREE iterations (not one): the first queries of a run were
    # measurably penalized by host-level CPU ramp-up / cold page cache
    # on an otherwise idle box, which best-of-2 cannot wash out when
    # both runs of query #1 land inside the ramp window.
    from pyspark.sql import functions as F
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    # touch the two big fact tables so the page cache is hot before
    # the first timed query (documents-heavy queries lead the run)
    for t in ("documents", "lineitem"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).write.format("noop") \
                .mode("overwrite").save()
    for _ in range(3):
        warm = (spark.range(1_000_000)
                .groupBy((F.col("id") % 64).alias("k"))
                .agg(F.sum((F.col("id") * 2).cast("decimal(18,4)")).alias("s"),
                     F.count(F.lit(1)).alias("c")))
        warm.join(F.broadcast(spark.range(64).withColumnRenamed("id", "k")),
                  "k").write.format("noop").mode("overwrite").save()
    # warm the calibration plan too (untimed): its first execution pays
    # codegen/JIT like any other, which otherwise inflates pass 0's
    # calibration and biases the noise index upward on EVERY run
    _calibration_run(spark)
    # best-of-N per query (N >= 3): the measurement host shows large
    # invisible noise phases (BENCH_BASELINE.md round-6: 59.5-85.1 s
    # total across 10 identical-code runs, a DIFFERENT slow set each
    # run). A single-shot record cannot distinguish a code regression
    # from a host phase; per-query min over N runs + the median beside
    # it make the JSON itself the evidence (VERDICT r06 "what's wrong"
    # item 1). total = sum of per-query mins (the best-composite).
    n_runs = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "4")))
    medians: dict[str, float] = {}
    # optional positional args: bench only the named queries (any
    # registry entry, headline or not) — the per-op tier spot-check
    # workflow (BENCH_BASELINE ×10/×30 tables) without ad-hoc scripts.
    # A subset run is TAGGED in the summary (different metric name +
    # the selected list) so a gate parser can never mistake a tiny
    # spot-check subtotal for a passing full-gate run.
    selected = sys.argv[1:]
    if selected:
        registry.queries()  # force plan-module load before REGISTRY access
        unknown = [n for n in selected if n not in registry.REGISTRY]
        if unknown:
            import difflib
            hints = {n: difflib.get_close_matches(
                n, registry.REGISTRY.keys(), n=3) for n in unknown}
            raise SystemExit(
                "unknown query name(s): "
                + "; ".join(f"{n} (did you mean {', '.join(h) or '?'}?)"
                            for n, h in hints.items()))
        todo = {n: registry.REGISTRY[n] for n in selected}
    else:
        todo = registry.headline_queries()
    # HYBRID pass structure: rotated passes x consecutive reps. Two
    # competing noise sources shape this. (1) A sustained host phase
    # penalizes every run of whichever queries it straddles — multiple
    # full passes with a rotated start spread a phase across DIFFERENT
    # queries so the per-query min washes it out (VERDICT r08
    # "what's wrong" item 3). (2) The per-query min the gate was
    # calibrated on is the WARM-REPEAT number: consecutive invocations
    # of the same plan share cache entries (one query_scope spans a
    # query's reps; see its docstring) and hot page/code
    # caches — a fully interleaved schedule destroys that warmth and
    # inflated the legacy-20 subtotal ~15% (measured round 9). So:
    # passes of the whole set, each running a query `reps` times
    # consecutively; min over all runs keeps warm-repeat semantics
    # while a phase can poison at most one pass.
    load_avgs = [round(v, 2) for v in os.getloadavg()]
    order = list(todo)
    reps = 2 if n_runs >= 4 else 1
    passes = max(1, n_runs // reps)
    # the run count the record reports is what was actually taken:
    # reps*passes (an odd SPARK_GRAFT_BENCH_RUNS=5 used to silently
    # run 4 while the JSON claimed 5 — ADVICE round 9)
    actual_runs = reps * passes
    all_runs: dict[str, list[float]] = {name: [] for name in order}
    cal_per_pass: list[float] = []
    for p in range(passes):
        # fixed CPU-bound calibration job at the head of every pass:
        # identical work each time, so its dispersion across passes IS
        # the host-noise index the record carries (VERDICT r09 "next
        # round" item 5 — the driver box shows sustained invisible load
        # phases; a poisoned pass now identifies itself in the JSON).
        cal_per_pass.append(round(_calibration_run(spark), 3))
        shift = (p * len(order)) // passes
        for name in order[shift:] + order[:shift]:
            with query_scope():
                for _ in range(reps):
                    t0 = time.time()
                    df = todo[name].build(spark, sf_dir)
                    # noop sink materializes every column (count() would
                    # let Catalyst prune the aggregates away)
                    df.write.format("noop").mode("overwrite").save()
                    all_runs[name].append(time.time() - t0)
    cache_left = (spark._jsparkSession.sharedState().cacheManager()
                  .numCachedEntries())
    load_avgs_after = [round(v, 2) for v in os.getloadavg()]
    colds: dict[str, float] = {}
    for name, runs in all_runs.items():
        timings[name] = round(min(runs), 3)
        # run 1 (cold within this JVM): pays every persist's compute.
        # Later runs of the same plan can alias those cache entries, so
        # the min alone conflates "compute the shared subtree once"
        # (real at 100 TB) with "read it from RAM on repeat" (bench-only)
        colds[name] = round(runs[0], 3)
        srt = sorted(runs)
        mid = len(srt) // 2
        med = srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2
        medians[name] = round(med, 3)
    try:
        sf_out: float | str = float(sf)
    except ValueError:  # scaled tiers like "0.1x3" (tools/scale_up.py)
        sf_out = sf
    lines = emit_lines(timings, medians, actual_runs, sf_out,
                       subset=sorted(selected) if selected else None,
                       load_avg=(load_avgs, load_avgs_after),
                       cal_per_pass=cal_per_pass, colds=colds,
                       cache_left=cache_left)
    # judge-readable artifact independent of the stdout tail window
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "bench_detail.subset.json" if selected else "bench_detail.json")
    try:
        with open(detail_path, "w") as f:
            f.write(lines[0] + "\n")
    except OSError:
        pass  # read-only checkout: stdout still carries both lines
    for line in lines:
        print(line)


def _calibration_run(spark) -> float:
    """One fixed CPU-bound job (hash + shuffle agg over a generated
    range — no data dependence, no cache reuse across passes beyond
    codegen). ~0.3-0.6 s on an idle local[32]; its pass-to-pass
    dispersion measures the HOST, not the queries."""
    from pyspark.sql import functions as F
    t0 = time.time()
    (spark.range(20_000_000)
     .select(F.xxhash64((F.col("id") * 2654435761) % 1000003).alias("h"))
     .groupBy((F.col("h") % 256).alias("k"))
     # shiftright before the sum: raw 64-bit hashes overflow a long
     # sum under ANSI; the top 32 bits keep the work identical
     .agg(F.sum(F.shiftright("h", 32)).alias("s"),
          F.count(F.lit(1)).alias("c"))
     .write.format("noop").mode("overwrite").save())
    return time.time() - t0


SUMMARY_MAX_CHARS = 1950  # driver stdout-tail window is 2000 chars


def emit_lines(timings: dict[str, float], medians: dict[str, float],
               n_runs: int, sf_out, subset: list[str] | None = None,
               load_avg: tuple[list[float], list[float]] | None = None,
               cal_per_pass: list[float] | None = None,
               colds: dict[str, float] | None = None,
               cache_left: int | None = None) -> list[str]:
    """Detail line first (can be arbitrarily long), compact summary
    LAST so the driver's bounded stdout tail always parses it. The
    summary CARRIES the per-query mins when they fit the tail window
    (they do at the 51-query set — the driver's per-query and scaling
    comparison parses only the one summary line, PERF_r11 per_query
    was empty without them) and drops them past SUMMARY_MAX_CHARS
    rather than overflow (the detail line / bench_detail.json always
    keep the full dicts). Subset runs carry metric
    "selected_query_total_runtime" and the name list so the
    official-record metric name can ONLY come from a full run.
    ``n_runs`` must be the count of runs actually taken per query."""
    total = round(sum(timings.values()), 3)
    detail_obj = {
        "detail": "per_query",
        "queries": timings,            # per-query min over runs_per_query
        "queries_median": medians,     # per-query median (noise context)
    }
    if colds:
        # per-query run-1 (cold-within-JVM) time: the anti-warm-min
        # evidence column (VERDICT r11 item 1)
        detail_obj["queries_cold"] = colds
    if cache_left is not None:
        # entries no query_scope released (0 expected)
        detail_obj["cache_entries_left"] = cache_left
    if load_avg is not None:
        # 1/5/15-min load before and after: the evidence line for "was
        # the box busy" when a driver record disagrees with the
        # builder's settled close (VERDICT r08 what's-wrong item 3)
        detail_obj["loadavg_before"], detail_obj["loadavg_after"] = load_avg
    summary_obj = {
        "metric": ("selected_query_total_runtime" if subset
                   else "headline_query_total_runtime"),
        "value": total,
        "unit": "sec",
        "sf": sf_out,
        "n_queries": len(timings),
        "runs_per_query": n_runs,
        "legacy20_subtotal": round(
            sum(v for k, v in timings.items() if k in LEGACY_20), 3),
        "likeforlike45_subtotal": round(
            sum(v for k, v in timings.items() if k in LIKE_FOR_LIKE_45), 3),
    }
    if colds:
        summary_obj["cold_total"] = round(sum(colds.values()), 3)
        summary_obj["legacy20_cold_subtotal"] = round(
            sum(v for k, v in colds.items() if k in LEGACY_20), 3)
    if cal_per_pass:
        # self-describing noise record: identical calibration work ran
        # at the head of each pass; noise_pct = spread over the best
        # pass; noisy_passes = 0-based passes >20% above the best (any
        # entry here means a host phase straddled that pass and the
        # per-query MEDIANS cannot be trusted for round-over-round
        # comparison — the mins still can, one clean pass suffices)
        best = min(cal_per_pass)
        summary_obj["cal_per_pass"] = cal_per_pass
        summary_obj["cal_noise_pct"] = round(
            (max(cal_per_pass) / best - 1.0) * 100, 1) if best > 0 else None
        noisy = [i for i, v in enumerate(cal_per_pass)
                 if best > 0 and v > 1.2 * best]
        if noisy:
            summary_obj["noisy_passes"] = noisy
    if subset:
        summary_obj["subset"] = subset
    # per-query mins ride the summary when they fit the driver's tail
    # window; a headline set large enough to overflow falls back to the
    # pre-round-12 compact shape (never a truncated / unparseable line)
    with_queries = dict(summary_obj)
    with_queries["queries"] = timings
    if len(json.dumps(with_queries)) <= SUMMARY_MAX_CHARS:
        summary_obj = with_queries
    return [json.dumps(detail_obj), json.dumps(summary_obj)]


if __name__ == "__main__":
    main()
