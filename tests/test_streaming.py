"""Structured Streaming: complete-mode equivalence with batch, and
append-mode watermark semantics (late-window suppression) that no batch
oracle can express."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sanctions_data_pipeline_spark.streaming.ops import (
    read_events_stream, run_available_now, session_agg, tumbling_agg,
)
from sanctions_data_pipeline_spark.catalog import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, sf_dir):
    got = run_available_now(
        tumbling_agg(read_events_stream(spark, sf_dir), "1 hour"))
    want = tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour")
    assert _rows(got) == _rows(want)


def test_session_stream_matches_batch(spark, sf_dir):
    got = run_available_now(
        session_agg(read_events_stream(spark, sf_dir), "30 minutes"))
    want = session_agg(load_table(spark, sf_dir, "events"), "30 minutes")
    assert _rows(got) == _rows(want)


def test_session_window_gap_boundary(spark, tmp_path):
    """Spark merges INCLUSIVELY at the gap boundary: an event exactly
    `gap` after the last one extends the session; only a strictly
    larger gap opens a new one — pins the `>` in the DuckDB oracle."""
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0),
         (1, "2024-01-01 00:30:00", 1.0),   # exactly 30m -> merges
         (1, "2024-01-01 01:00:01", 1.0),   # 30m01s after -> NEW
         (2, "2024-01-01 00:00:00", 1.0)],
        "user_id long, ts_s string, value double",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value",
             F.lit(0).alias("event_id"))
    out = session_agg(ev, "30 minutes")
    per_user = {r["user_id"]: r for r in
                out.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert per_user[1]["n"] == 2 and per_user[2]["n"] == 1


def test_append_watermark_suppresses_open_windows(spark, tmp_path):
    """Two file-batches; append mode emits only windows closed by the
    watermark learned from batch 1, never the still-open tail."""
    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    base = "2024-01-01 {:02d}:30:00"
    mk = lambda hours: spark.createDataFrame(
        [(h, base.format(h)) for h in hours], "event_id long, ts_s string"
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"),
             F.lit("t").alias("event_type"), F.lit(1.0).alias("value"))
    # batch 1: hours 0..5 -> watermark after it = 05:30 - 1h = 04:30
    mk(range(6)).coalesce(1).write.parquet(os.path.join(d, "b1"))
    mk(range(6, 8)).coalesce(1).write.parquet(os.path.join(d, "b2"))

    schema = spark.read.parquet(d + "/b1").schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1")
           .parquet(d + "/*/"))
    agg = (sdf.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count("*").alias("n"))
           .select(F.date_format("w.start", "HH").alias("h"), "n"))
    got = run_available_now(agg, output_mode="append")
    hours = sorted(r["h"] for r in got.collect())
    # every emitted window closed before some observed watermark; the
    # final (hour 7, and hour 6 if files arrive in one listing) stays open
    assert "07" not in hours
    assert set(hours) <= {f"{h:02d}" for h in range(7)}
    # windows 0..3 certainly closed by the batch-1 watermark (04:30)
    assert {f"{h:02d}" for h in range(4)} <= set(hours)


def test_registered_streaming_queries_have_oracles():
    from sanctions_data_pipeline_spark.plans import registry

    oracles = registry.oracle_sql()
    assert "st_tumbling" in oracles and "st_session" in oracles


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    from sanctions_data_pipeline_spark.streaming.ops import dedup_hourly

    got = run_available_now(
        dedup_hourly(read_events_stream(spark, sf_dir)), output_mode="append")
    want = dedup_hourly(load_table(spark, sf_dir, "events"))
    assert _rows(got) == _rows(want)


def test_user_state_incremental_across_batches(spark, tmp_path):
    """applyInPandasWithState carries state between micro-batches: the
    second batch's emission includes the first batch's counts."""
    from sanctions_data_pipeline_spark.streaming.ops import user_running_stats

    d = str(tmp_path / "state_in")
    os.makedirs(d)
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, value double"
    ).select("user_id", "value",
             F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"))
    mk([(1, 5.0), (1, 1.0), (2, 9.0)]).coalesce(1).write.parquet(d + "/b1")
    mk([(1, 7.0)]).coalesce(1).write.parquet(d + "/b2")

    schema = spark.read.parquet(d + "/b1").schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(d + "/*/"))
    out = run_available_now(user_running_stats(sdf), output_mode="append")
    by_user = {}
    for r in out.collect():  # later emission supersedes: keep the max n
        cur = by_user.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            by_user[r["user_id"]] = r
    assert by_user[1]["n_events"] == 3 and by_user[1]["max_value"] == 7.0
    assert by_user[2]["n_events"] == 1 and by_user[2]["max_value"] == 9.0


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from sanctions_data_pipeline_spark.streaming.ops import click_purchase_join

    ev1 = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    ev2 = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    got = run_available_now(click_purchase_join(ev1, ev2),
                            output_mode="append")
    bev = load_table(spark, sf_dir, "events")
    want = click_purchase_join(bev.filter(F.col("event_type") == "click"),
                               bev.filter(F.col("event_type") == "purchase"))
    assert _rows(got) == _rows(want)
    for r in got.collect():
        assert 0 <= r.delay_us <= 30 * 60 * 1_000_000


def test_sliding_stream_matches_batch(spark, sf_dir):
    from sanctions_data_pipeline_spark.streaming.ops import sliding_agg

    got = run_available_now(
        sliding_agg(read_events_stream(spark, sf_dir), "2 hours", "1 hour"))
    want = sliding_agg(load_table(spark, sf_dir, "events"), "2 hours", "1 hour")
    assert _rows(got) == _rows(want)


def test_foreach_upsert_multi_batch_equals_single_batch(spark, sf_dir, tmp_path):
    """Splitting the source into many micro-batches must not change the
    final upserted state (merge is associative + idempotent per key)."""
    import os
    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.streaming.ops import foreach_upsert_latest

    # multi-file copy of events so maxFilesPerTrigger=1 forces >1 batch
    src = load_table(spark, sf_dir, "events")
    multi = str(tmp_path / "events.parquet")
    src.repartition(4).write.mode("overwrite").parquet(multi)
    n_files = sum(1 for f in os.listdir(multi) if f.endswith(".parquet"))
    assert n_files >= 4

    batched = {r.user_id: (r.last_ts_us, r.last_event_id, r.last_value)
               for r in foreach_upsert_latest(
                   spark, str(tmp_path), max_files_per_trigger=1).collect()}
    single = {r.user_id: (r.last_ts_us, r.last_event_id, r.last_value)
              for r in foreach_upsert_latest(spark, sf_dir).collect()}
    assert batched == single


def test_foreach_upsert_kill_resume_and_replay_idempotent(spark, sf_dir, tmp_path):
    """Chaos-test the foreachBatch MERGE sink's checkpoint recovery
    end-to-end: stop the query mid-stream after the first committed
    batch, DELETE that batch's commit marker so the restart must replay
    a batch whose side effects already landed in the state table, then
    resume to completion. The (ts, event_id)-comparator merge makes the
    replay idempotent, so the final state must be bit-identical to an
    uninterrupted run."""
    import os
    import time

    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.streaming.ops import (
        foreach_upsert_latest, read_events_stream, start_upsert_latest_sink)

    src = load_table(spark, sf_dir, "events")
    multi = str(tmp_path / "events.parquet")
    src.repartition(4).write.mode("overwrite").parquet(multi)

    root = str(tmp_path / "sink")
    os.makedirs(root)
    commits = os.path.join(root, "ckpt", "commits")

    def committed() -> list[str]:
        if not os.path.isdir(commits):
            return []
        return sorted(f for f in os.listdir(commits) if not f.startswith("."))

    # run 1: one file per trigger; kill once the first batch has committed
    ev = read_events_stream(spark, str(tmp_path), max_files_per_trigger=1)
    q = start_upsert_latest_sink(ev, root)
    deadline = time.time() + 120
    while not committed() and time.time() < deadline:
        time.sleep(0.2)
    assert committed(), "no batch committed before the kill"
    q.stop()
    q.awaitTermination()
    # stop() tears the query down asynchronously in parts; starting the
    # resume while it still holds the checkpoint dir trips Spark's
    # concurrent-checkpoint guard — wait for full deregistration
    while any(aq.id == q.id for aq in spark.streams.active):
        time.sleep(0.2)
    # Under heavy load the 0.2s poll can lag past the last batch and the
    # stream finishes before the kill. That interleaving still proves the
    # claim: deleting the final commit below forces a replay of a batch
    # whose merge already landed, which is exactly the idempotence the
    # state-equality assert checks — so proceed either way.
    n_done = len(committed())

    # forced replay: drop the newest commit marker — on restart Spark
    # re-runs that batch even though its merge already hit the state dir.
    # Also drop Hadoop's .N.crc checksum sidecar: a crash-before-commit
    # leaves neither file, and a stale sidecar makes the replay's
    # rename-into-place fail with FileAlreadyExists.
    last = committed()[-1]
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    # run 2: resume from the same checkpoint to completion
    ev2 = read_events_stream(spark, str(tmp_path), max_files_per_trigger=1)
    q2 = start_upsert_latest_sink(ev2, root)
    q2.awaitTermination()
    # Both the marker COUNT and the final marker INDEX are interleaving-
    # dependent: under suite load the kill can land after the offset log
    # already covers several (or all) remaining source files in one
    # batch, so the resumed stream may legitimately finish at any marker
    # index. What the test actually proves is (a) every source file was
    # consumed — read from the file source's own log, which is
    # deterministic — and (b) the replayed batch's merge was idempotent,
    # which the state-equality assert below checks.
    assert committed(), "resume committed nothing"
    import glob as _glob
    import json as _json
    src_files = {os.path.realpath(p)
                 for p in _glob.glob(os.path.join(multi, "*.parquet"))}
    logged: set[str] = set()
    for entry in _glob.glob(os.path.join(root, "ckpt", "sources", "0", "*")):
        if os.path.basename(entry).startswith("."):
            continue
        with open(entry) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                path = _json.loads(line).get("path", "")
                if path.startswith("file:"):
                    path = path[len("file:"):]
                logged.add(os.path.realpath(path))
    assert src_files <= logged, (
        f"source files never consumed: {sorted(src_files - logged)}")

    resumed = {r.user_id: (r.last_ts_us, r.last_event_id, r.last_value)
               for r in spark.read.parquet(os.path.join(root, "state")).collect()}
    clean = {r.user_id: (r.last_ts_us, r.last_event_id, r.last_value)
             for r in foreach_upsert_latest(spark, sf_dir).collect()}
    assert resumed == clean


def test_chained_windows_match_batch_rollup_prefix(spark, sf_dir):
    from pyspark.sql import functions as F
    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.plans import registry
    from sanctions_data_pipeline_spark.streaming.ops import chained_window_agg

    got = registry.queries()["st_chained_windows"](spark, sf_dir).collect()
    assert got, "chained streaming agg emitted nothing"
    # batch twin of the same two-level rollup
    batch = {(r.window_start, r.event_type): (r.n_events, r.total_value)
             for r in chained_window_agg(
                 load_table(spark, sf_dir, "events")).collect()}
    emitted_starts = sorted({r.window_start for r in got})
    for r in got:
        assert batch[(r.window_start, r.event_type)] == (r.n_events, r.total_value)
    # emission is a clean event-time prefix: every batch window strictly
    # before the last emitted start was emitted too
    all_starts = sorted({ws for ws, _ in batch})
    cutoff = emitted_starts[-1]
    assert [ws for ws in all_starts if ws <= cutoff] == emitted_starts


def test_file_sink_checkpoint_recovery_is_exactly_once(spark, sf_dir, tmp_path):
    """Incremental processing across restarts: a parquet-sink stream
    drains file 1, stops, a new input file lands, and a SECOND query
    restarted from the same checkpoint processes ONLY the new file —
    no duplicates, no loss (the file-source + checkpoint contract that
    makes production streaming restartable)."""
    import os
    from pyspark.sql import functions as F
    from sanctions_data_pipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    half = ev.count() // 2
    indir = tmp_path / "in"; indir.mkdir()
    outdir = str(tmp_path / "out"); ck = str(tmp_path / "ck")
    ev.filter(F.col("event_id") < half).coalesce(1).write.parquet(
        str(indir / "f1.parquet"))

    schema = spark.read.parquet(str(indir / "f1.parquet")).schema

    def drain():
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1)
             .parquet(str(indir) + "/*")
             .writeStream.format("parquet")
             .option("path", outdir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(outdir).count()
    assert n1 == half
    ev.filter(F.col("event_id") >= half).coalesce(1).write.parquet(
        str(indir / "f2.parquet"))
    drain()  # restart from the same checkpoint
    out = spark.read.parquet(outdir)
    assert out.count() == ev.count()                      # no loss
    assert out.select("event_id").distinct().count() == ev.count()  # no dupes


def test_watermark_drops_rows_later_than_the_horizon(spark, sf_dir, tmp_path):
    """Concrete late-data proof: batch 1 establishes the watermark at
    max(ts) - 10 minutes; batch 2 delivers an event OLDER than that
    horizon plus a fresh one. The stale event must be DROPPED from the
    windowed aggregation (state for its window was finalized), the
    fresh one counted — the bounded-state bargain watermarks buy."""
    import datetime as dt
    from pyspark.sql import functions as F

    indir = tmp_path / "in"; indir.mkdir()
    outdir = str(tmp_path / "out"); ck = str(tmp_path / "ck")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows1 = [(1, base + dt.timedelta(minutes=m)) for m in (0, 30)]
    spark.createDataFrame(rows1, "user_id long, ts timestamp") \
        .coalesce(1).write.parquet(str(indir / "f1.parquet"))
    schema = spark.read.parquet(str(indir / "f1.parquet")).schema

    def drain():
        agg = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(str(indir) + "/*")
               .withWatermark("ts", "10 minutes")
               .groupBy(F.window("ts", "10 minutes").alias("w"))
               .agg(F.count(F.lit(1)).alias("n"))
               .select(F.date_format("w.start", "HH:mm").alias("ws"), "n"))
        q = (agg.writeStream.format("parquet")
             .option("path", outdir)
             .outputMode("append")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        out = {}
        for r in spark.read.parquet(outdir).collect():
            out[r.ws] = out.get(r.ws, 0) + r.n
        return out

    drain()
    # batch 2: one event far BEFORE the watermark (12:00 window, stale)
    # and one after the stream's frontier (13:00, fresh)
    rows2 = [(2, base + dt.timedelta(minutes=1)),
             (3, base + dt.timedelta(minutes=60))]
    spark.createDataFrame(rows2, "user_id long, ts timestamp") \
        .coalesce(1).write.parquet(str(indir / "f2.parquet"))
    out = drain()
    # the 12:00 window closed with ONLY the batch-1 event; the stale
    # batch-2 event for that window never re-opened it
    assert out.get("12:00") == 1, out
    # nothing double-counted: total finalized events <= 3 (the stale
    # one is gone for good)
    assert sum(out.values()) <= 3


def test_rate_micro_batch_source_produces_deterministic_batches(spark):
    """The rate-micro-batch source is the load-generator for streaming
    rehearsals: fixed rowsPerBatch, deterministic (value, timestamp)
    rows — one triggered batch must yield exactly that many rows."""
    import uuid
    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("rate-micro-batch")
         .option("rowsPerBatch", 10).load()
         .writeStream.format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.table(name).collect()
    assert len(rows) == 10
    assert sorted(r.value for r in rows) == list(range(10))


def test_st_watchlist_screen_hits_and_decoys(spark, sf_dir):
    """Every latin fixture alias must self-match its entity through the
    stream; customer decoys must produce no hits."""
    from sanctions_data_pipeline_spark.plans import registry

    rows = registry.queries()["st_watchlist_screen"](spark, sf_dir).collect()
    assert rows
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, set()).add(r.entity_id)
    assert all(not p.startswith("cust:") for p in by_probe)  # decoys clean
    for p, ents in by_probe.items():
        _, eid, _ = p.split(":")
        assert int(eid) in ents  # alias finds its own entity


def test_left_outer_stream_join_withholds_only_the_unprovable_tail(spark, sf_dir):
    """The outer join's distinct semantics: matched rows equal the
    batch join exactly; null-padded rows appear only for clicks whose
    no-match verdict is final at the terminal watermark (click_ts +
    horizon < min(max click ts, max purchase ts) - delay), and every
    unmatched click on the final side of that cutoff IS emitted."""
    import datetime

    from sanctions_data_pipeline_spark.streaming.ops import (
        click_purchase_join, click_purchase_left_join)

    ev1 = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    ev2 = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    got = run_available_now(click_purchase_left_join(ev1, ev2),
                            output_mode="append")
    matched = {tuple(r) for r in
               got.filter(F.col("purchase_id").isNotNull()).collect()}
    nulls = {r.click_id for r in
             got.filter(F.col("purchase_id").isNull()).collect()}

    bev = load_table(spark, sf_dir, "events")
    want_matched = {tuple(r) for r in click_purchase_join(
        bev.filter(F.col("event_type") == "click"),
        bev.filter(F.col("event_type") == "purchase")).collect()}
    assert matched == want_matched  # inner rows never withheld

    clicks = bev.filter(F.col("event_type") == "click") \
        .select("event_id", "ts", "user_id").collect()
    purchases = bev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "ts", "user_id").collect()
    def floor_ms(t):
        return t - datetime.timedelta(microseconds=t.microsecond % 1000)

    def ceil_ms(t):
        f = floor_ms(t)
        return f if f == t else f + datetime.timedelta(milliseconds=1)

    # Spark tracks watermarks in MILLISECONDS: terminal wm floors the
    # stream maxes, and the click-side eviction bound ceils the click
    # (pinned by test_left_outer_join_millisecond_boundaries)
    wm = (floor_ms(min(max(r.ts for r in clicks),
                       max(r.ts for r in purchases)))
          - datetime.timedelta(hours=2))
    horizon = datetime.timedelta(minutes=30)
    matched_click_ids = {m[1] for m in want_matched}
    want_nulls = {r.event_id for r in clicks
                  if r.event_id not in matched_click_ids
                  and ceil_ms(r.ts) + horizon < wm}
    withheld = {r.event_id for r in clicks
                if r.event_id not in matched_click_ids
                and ceil_ms(r.ts) + horizon >= wm}
    assert nulls == want_nulls
    assert nulls.isdisjoint(withheld)


def test_left_outer_join_millisecond_boundaries(spark, tmp_path):
    """Pins the exact eviction boundary of the outer stream-stream
    join: Spark tracks watermarks in MILLISECONDS, so a null row is
    emitted iff ceil_ms(click_ts) + horizon < floor_ms(min stream max)
    - delay. Four clicks straddle the boundary: +30m equal to the
    watermark (withheld), 1us inside but sub-ms on the click
    (ceil rounds it out -> withheld), exactly 1ms inside (emitted),
    and the sub-ms-max case that a us-exact rule would wrongly emit."""
    import datetime as dt

    us = lambda h, m, s, micro: dt.datetime(2024, 1, 1, h, m, s, micro)
    rows = [
        (1, us(7, 30, 0, 0), 2, "click", 0.0, None),        # +30m == wm
        (2, us(7, 29, 59, 999999), 3, "click", 0.0, None),  # ceil -> == wm
        (3, us(7, 29, 59, 999000), 6, "click", 0.0, None),  # wm - 1ms
        (4, us(7, 30, 0, 500), 7, "click", 0.0, None),      # sub-ms late
        (5, us(10, 0, 0, 999), 4, "click", 0.0, None),      # max (sub-ms)
        (6, us(10, 0, 0, 999), 5, "purchase", 1.0, None),   # max (sub-ms)
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    from sanctions_data_pipeline_spark.plans import registry
    out = registry.queries()["st_left_outer_join"](
        spark, str(tmp_path)).collect()
    emitted = {r.click_id for r in out if r.purchase_id is None}
    assert emitted == {3}  # only the click a full ms inside the cutoff


def test_stale_mem_ckpt_reaper_removes_only_dead_pid_dirs(tmp_path, monkeypatch):
    """Orphaned tmpfs checkpoints from hard-killed processes are reaped
    on the next drain; live-pid and own-pid dirs are untouched (ADVICE
    r11 — tmpfs orphans hold RAM until reboot otherwise). A dead-looking
    pid under another PID namespace's token is someone else's live
    owner and survives, and nothing is reaped when our own namespace
    cannot be read (ADVICE r12)."""
    import sanctions_data_pipeline_spark.streaming.ops as sops

    ns = sops._pid_ns()
    assert ns is not None
    root = tmp_path / "spark_graft_io" / "mem_ckpt"
    root.mkdir(parents=True)
    # a pid beyond pid_max cannot exist -> dead
    dead = root / f"st_abc_deadbeef_ns{ns}_pid99999999"
    foreign = root / f"st_abc_deadbeef_ns{ns + 1}_pid99999999"
    mine = root / f"st_def_cafebabe_ns{ns}_pid{os.getpid()}"
    nopid = root / "not_a_checkpoint"
    for d in (dead, foreign, mine, nopid):
        d.mkdir()
    with monkeypatch.context() as m:
        m.setattr(sops, "_pid_ns", lambda: None)
        sops._reap_stale_mem_ckpt(str(tmp_path))
    assert dead.exists()
    sops._reap_stale_mem_ckpt(str(tmp_path))
    assert not dead.exists()
    assert foreign.exists() and mine.exists() and nopid.exists()
    assert f"_ns{ns}_pid{os.getpid()}" in sops._mem_ckpt_path("s", "st_x")


def test_mem_ckpt_paths_are_unique_per_call_even_with_table_name():
    """Two concurrent same-pid drains of the same named table must not
    share a checkpoint (the first finisher's cleanup would delete the
    live query's checkpoint mid-run — ADVICE r11), and the pid stays
    LAST so the reaper's _pid<digits>$ pattern still matches."""
    import re
    import sanctions_data_pipeline_spark.streaming.ops as sops

    paths = {sops._mem_ckpt_path("scratch", "st_fixed_name")
             for _ in range(2)}
    assert len(paths) == 2
    for p in paths:
        assert re.search(r"_pid\d+$", p)


def test_shm_usable_respects_free_space_floor():
    """_shm_usable is False when the tmpfs lacks headroom (64 MB Docker
    default /dev/shm would ENOSPC a stateful drain — ADVICE r11)."""
    import sanctions_data_pipeline_spark.streaming.ops as sops

    assert isinstance(sops._shm_usable(), bool)
    # an absurd floor can never be satisfied -> disk fallback
    assert sops._shm_usable(min_free_bytes=1 << 60) is False
