"""Structured Streaming operators: watermarked tumbling and session
window aggregations over the ``events`` stream.

Scale notes
-----------
- The aggregations are plain ``groupBy(window/session_window)`` —
  Spark's stateful streaming agg with partial (map-side) combine; state
  is partitioned by the grouping key across executors, so they scale
  the same way the batch equivalents do.
- Watermarks bound state: late rows beyond the delay are dropped and
  closed windows are evicted, so state size is O(active windows), not
  O(stream length).
- The **memory sink** used by :func:`run_available_now` collects to the
  driver and exists only for the test/driver harness; a deployment
  writes ``format("parquet"|"kafka")`` with checkpointing. The
  transformation DataFrames returned by :func:`tumbling_agg` /
  :func:`session_agg` are sink-agnostic.

The same builders run in batch mode (pass a batch DataFrame): Spark's
``window``/``session_window`` functions are batch-executable, which is
what the DuckDB oracles compare against.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from sanctions_data_pipeline_spark.plans.helpers import (
    _as_exact_double, dsum, dval, lcount, local_frame,
)


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """``readStream`` over the events parquet directory.

    The file source needs an explicit schema; we take it from a batch
    read (with ``nanosAsLong`` the TIMESTAMP(NANOS) column arrives as
    bigint) and restore a micros timestamp exactly like the batch
    catalog does.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # untagged parquet timestamps must read as session-tz TIMESTAMP (not
    # NTZ): unix_micros/watermark math downstream requires it, and the
    # batch catalog reads the same way (see catalog.load_table)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # testdata ships events.parquet as a single FILE; FileStreamSource
        # only streams directories (it pins basePath to the source path).
        # Expose the file through a tempdir symlink — no copy, read-only.
        d = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(path, os.path.join(d, "part-00000.parquet"))
        path = d
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(path)
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return ev


def tumbling_agg(events: DataFrame, window_len: str = "1 hour",
                 watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window count/sum per event_type (streaming or batch).

    Output: (window_start, window_end: string, event_type, n_events,
    total_value) — window bounds formatted so oracle-hash compares are
    timezone-stable. (Exact COUNT DISTINCT is a batch-only agg — see
    q_events_bucketed — streaming would need approx_count_distinct.)
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    win = F.window("ts", window_len)
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            lcount("n_events"),
            dsum(dval("value"), "total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "event_type", "n_events", "total_value",
        )
    )


def session_agg(events: DataFrame, gap: str = "30 minutes",
                watermark: str = "2 hours") -> DataFrame:
    """Session-window aggregation per user (streaming or batch).

    ``session_window(ts, gap)`` merges events whose gaps are <= ``gap``
    (inclusive at the boundary); the window end is last-event + gap
    (both mirrored exactly in the DuckDB oracle).
    Output: (user_id, session_start_us, session_end_us, n_events,
    total_value).
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    sess = F.session_window("ts", gap)
    return (
        events.groupBy(sess.alias("s"), "user_id")
        .agg(lcount("n_events"), dsum(dval("value"), "total_value"))
        .select(
            "user_id",
            F.unix_micros("s.start").alias("session_start_us"),
            F.unix_micros("s.end").alias("session_end_us"),
            "n_events", "total_value",
        )
    )


def dedup_hourly(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on (user_id, event_type, hour-bucket).

    The streaming path uses ``dropDuplicatesWithinWatermark`` so the
    dedup state is BOUNDED: a key is held only until the watermark
    passes its event time, after which it is evicted — O(keys in the
    watermark horizon) state, not O(stream length). Batch inputs take
    the plain ``dropDuplicates`` path (same output set).
    """
    keyed = events.select(
        "user_id", "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "ts",
    )
    if keyed.isStreaming:
        keyed = (keyed.withWatermark("ts", watermark)
                 .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour"]))
    else:
        keyed = keyed.dropDuplicates(["user_id", "event_type", "hour"])
    return keyed.select("user_id", "event_type", "hour")


def user_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, max_value), emitted once per micro-batch that
    touches the user.

    This is the escape hatch for stateful logic ``groupBy().agg()``
    cannot express (the aggregate here could, but the harness pins the
    plumbing: Arrow-batched state access, typed state schema, per-group
    iterator). State is partitioned by user across executors and is two
    fixed-width fields per user — O(users) regardless of stream length.

    Output: (user_id, n_events, max_value) — count and max only, both
    bit-exact across engines (no order-dependent double sums).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, max_value double"
    state_schema = "n bigint, mx double"

    def update(key, pdfs, state):
        n, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                m = float(pdf["value"].max())
                mx = m if mx is None else max(mx, m)
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [int(key[0])], "n_events": [n], "max_value": [mx]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(update, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )


def _shm_usable(min_free_bytes: int = 256 << 20) -> bool:
    """True when /dev/shm exists with headroom for a drain checkpoint.

    Containers often cap /dev/shm at 64 MB (Docker default) — a
    stateful drain that worked on the disk tmpdir would die there with
    ENOSPC mid-micro-batch, so fall back to disk unless the tmpfs has
    real headroom (checkpoint offsets/commits are tiny; state-store
    snapshots are not). (ADVICE r11)
    """
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return False
    return st.f_bavail * st.f_frsize >= min_free_bytes


def _pid_ns() -> int | None:
    """Inode of this process's PID namespace, or None if unreadable."""
    try:
        return os.stat("/proc/self/ns/pid").st_ino
    except OSError:
        return None


def _reap_stale_mem_ckpt(scratch_root: str) -> None:
    """Delete mem_ckpt dirs owned by DEAD pids of our PID namespace.

    A hard-killed process never reaches the finally-rmtree, and when
    scratch_root is tmpfs the orphan holds RAM until reboot — reap on
    the next drain, mirroring helpers.reap_stale_scratch (which scans
    only the disk tmpdir root). Safe by construction: a checkpoint
    whose owning pid is gone can never be resumed (fresh bounded
    drains, never restarted). A pid means nothing outside its PID
    namespace (a live owner in another container looks dead to
    ``os.kill``), so only dirs carrying our own namespace token are
    judged, and nothing is reaped when the namespace cannot be read.
    """
    import re

    ns = _pid_ns()
    if ns is None:
        return
    root = os.path.join(scratch_root, "spark_graft_io", "mem_ckpt")
    try:
        entries = list(os.scandir(root))
    except OSError:
        return
    me = os.getpid()
    pat = re.compile(rf"_ns{ns}_pid(\d+)$")
    for d in entries:
        m = pat.search(d.name)
        if not (d.is_dir() and m):
            continue
        pid = int(m.group(1))
        if pid == me:
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(d.path, ignore_errors=True)
        except PermissionError:
            pass  # pid exists, owned by someone else — live
        # else: live pid — leave its checkpoint alone


def _mem_ckpt_path(scratch_root: str, name: str) -> str:
    """Fresh checkpoint dir for one drain: uuid even when a table_name
    was supplied — two concurrent same-pid drains of the same table
    must not share a checkpoint (the first finisher's rmtree would
    delete the live query's checkpoint mid-run); the PID-namespace
    token precedes _pid, which stays LAST so the stale-dir reaper's
    _ns<inode>_pid<digits>$ pattern matches. (ADVICE r11)
    """
    return os.path.join(
        scratch_root, "spark_graft_io", "mem_ckpt",
        f"{name}_{uuid.uuid4().hex[:8]}_ns{_pid_ns() or 0}_pid{os.getpid()}")


def run_available_now(sdf: DataFrame, output_mode: str = "complete",
                      table_name: str | None = None) -> DataFrame:
    """Drain a bounded stream and return the result as a DataFrame
    (harness-only; see module docstring).

    Two drains, selected by ``SPARK_GRAFT_STREAM_DRAIN``:

    - ``memory`` (default): Spark's memory sink — rows live in the
      driver, which is fine at oracle/test scale and lets the driver
      hash-compare directly.
    - ``file``: a foreachBatch parquet drain (the production sink
      shape) — complete-mode batches overwrite, append/update batches
      accumulate, and the returned DataFrame is a distributed parquet
      read, so the driver never holds the result. This is the
      scaled-bench path: at the ×100 tier st_session's session rows
      OOMed an 8 GiB driver through the memory sink even though the
      streaming plan itself is fine (VERDICT r08 what's-wrong item 4).
      Scratch is pid-scoped under the reap_stale_scratch root.
    """
    name = table_name or f"st_{uuid.uuid4().hex[:12]}"
    spark = sdf.sparkSession
    if os.environ.get("SPARK_GRAFT_STREAM_DRAIN", "memory") == "file":
        return _run_available_now_file_drain(sdf, output_mode, name)
    # Stateful streaming pins one state store per shuffle partition for
    # the life of the checkpoint. These are FRESH bounded drains (new
    # checkpoint every call), so scope the partition count down: 8
    # state stores instead of 32 cuts per-micro-batch fixed cost with
    # identical results (aggs are exact and partition-order-free). A
    # deployment sizes this to its key cardinality before first start.
    # no fallback arg: conf.get without one returns the session's
    # EFFECTIVE value (e.g. the 200 default on an untuned session), so
    # the finally-restore below never rewrites the session config
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    scoped = min(int(prev), 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(scoped))
    # The checkpoint of a FRESH bounded memory-sink drain is pure
    # scratch (never resumed — the result lives in the memory table),
    # but Spark's default temp checkpoint lands on the disk-backed
    # java tmpdir and every micro-batch fsyncs offsets/commits/state
    # there. Point it at a RAM-backed dir when one exists (ext4 /tmp
    # vs tmpfs /dev/shm on the bench box) and delete it after the
    # drain. SPARK_GRAFT_STREAM_SCRATCH overrides; the file drain (the
    # x100 path, whose state can be large) keeps the disk tmpdir.
    scratch_root = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH") or (
        "/dev/shm" if _shm_usable() else tempfile.gettempdir())
    _reap_stale_mem_ckpt(scratch_root)
    ckpt = _mem_ckpt_path(scratch_root, name)
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def _run_available_now_file_drain(sdf: DataFrame, output_mode: str,
                                  name: str) -> DataFrame:
    """foreachBatch parquet drain for :func:`run_available_now` —
    complete-mode batches carry the full result (overwrite keeps the
    last), append/update batches carry deltas (append accumulates)."""
    from sanctions_data_pipeline_spark.plans.helpers import reap_stale_scratch

    spark = sdf.sparkSession
    reap_stale_scratch(spark)
    root = os.path.join(tempfile.gettempdir(), "spark_graft_io", "streams",
                        f"{name}_pid{os.getpid()}")
    out, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(out)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(min(int(prev), 8)))
    try:
        q = (sdf.writeStream.foreachBatch(sink)
             .outputMode(output_mode)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    if not os.path.isdir(out):  # zero batches ran (empty source)
        return local_frame([], sdf.schema)
    return spark.read.parquet(out)


def stream_static_enrich(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join + streaming agg: enrich the event stream with
    a static dimension (customer segment) and aggregate per segment.

    The static side is broadcast, so each micro-batch joins map-side
    with NO stream-side shuffle before the aggregation; the only
    stateful shuffle is the per-segment agg (a handful of keys, with
    map-side partial combine). The static table is re-resolvable per
    batch — on a cluster it may be refreshed between triggers.
    """
    dim = customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    joined = events.join(F.broadcast(dim), "user_id", "left")
    return (
        joined.groupBy("c_mktsegment")
        .agg(lcount("n_events"), dsum(dval("value"), "total_value"))
    )


def sliding_agg(events: DataFrame, window_len: str = "2 hours",
                slide: str = "1 hour",
                watermark: str = "2 hours") -> DataFrame:
    """Sliding-window count/sum per event_type (streaming or batch).

    ``window(ts, len, slide)`` fans each event into len/slide
    overlapping windows map-side (no extra shuffle vs tumbling); state
    per key is len/slide times the tumbling equivalent, still bounded
    by the watermark. Output mirrors :func:`tumbling_agg`.
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    win = F.window("ts", window_len, slide)
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(lcount("n_events"), dsum(dval("value"), "total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "event_type", "n_events", "total_value",
        )
    )


def click_purchase_join(clicks: DataFrame, purchases: DataFrame,
                        horizon: str = "30 minutes",
                        watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: each click matches same-user
    purchases within ``horizon`` after it.

    Both sides carry watermarks and the join condition bounds event
    time on BOTH sides, so Spark can evict join state past the horizon
    — O(events in watermark window) state per side, the canonical
    funnel/attribution join. Inner matches are emitted as soon as both
    rows arrive (the watermark only gates state cleanup).
    """
    c = clicks.select(F.col("user_id"),
                      F.col("ts").alias("click_ts"),
                      F.col("event_id").alias("click_id"))
    p = purchases.select(F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("event_id").alias("purchase_id"))
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"interval {horizon}")),
    )
    return joined.select(
        "user_id", "click_id", "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
        .alias("delay_us"))


def click_purchase_left_join(clicks: DataFrame, purchases: DataFrame,
                             horizon: str = "30 minutes",
                             watermark: str = "2 hours") -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click emits — with
    its first-horizon purchases when they arrive, or with NULLs once
    the watermark proves no match can still come.

    The outer semantics are the distinct capability over
    :func:`click_purchase_join`: a null-padded row is emittable only
    when the click's state is evictable (event-time watermark past
    click_ts + horizon), so the stream result equals the batch left
    join RESTRICTED to clicks whose no-match verdict is final at the
    terminal watermark = min(max click_ts, max purchase_ts) - delay.
    The oracle encodes exactly that cutoff; tests pin the withheld
    tail. State stays O(events inside the watermark window) per side.
    """
    c = clicks.select(F.col("user_id"),
                      F.col("ts").alias("click_ts"),
                      F.col("event_id").alias("click_id"))
    p = purchases.select(F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("event_id").alias("purchase_id"))
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"interval {horizon}")),
        "leftOuter",
    )
    return joined.select(
        "user_id", "click_id", "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
        .alias("delay_us"))


def start_upsert_latest_sink(ev: DataFrame, root: str):
    """Start the foreachBatch MERGE sink over an events stream and
    return the running StreamingQuery. State lives at ``root/state``,
    the checkpoint at ``root/ckpt`` — restarting with the same ``root``
    resumes from the checkpoint (and replays any batch whose commit
    marker is missing, which the merge makes idempotent).

    Each batch is first reduced per key (one shuffle over batch data
    only), then merged against the CURRENT state with the same
    deterministic (ts, event_id) comparator — so replaying a batch is
    idempotent and batch boundaries never change the result. The state
    swap is write-new-then-rename, the poor man's atomic commit; on a
    real deployment the sink would be a table format with transactional
    MERGE (the operator shape is identical).
    """
    import shutil

    state_path = os.path.join(root, "state")

    ord_key = F.struct(F.col("last_ts_us"), F.col("last_event_id"))
    payload = F.struct("last_ts_us", "last_event_id", "last_value")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        newest = (batch_df
                  .select("user_id",
                          F.unix_micros("ts").alias("last_ts_us"),
                          F.col("event_id").alias("last_event_id"),
                          F.col("value").alias("last_value"))
                  .groupBy("user_id")
                  .agg(F.max_by(payload, ord_key).alias("_p"))
                  .select("user_id", "_p.last_ts_us", "_p.last_event_id",
                          "_p.last_value"))
        if os.path.exists(state_path):
            cur = s.read.parquet(state_path)
            newest = (cur.unionByName(newest)
                      .groupBy("user_id")
                      .agg(F.max_by(payload, ord_key).alias("_p"))
                      .select("user_id", "_p.last_ts_us", "_p.last_event_id",
                              "_p.last_value"))
        staged = os.path.join(root, f"state_new_{batch_id}")
        newest.write.mode("overwrite").parquet(staged)
        if os.path.exists(state_path):
            shutil.rmtree(state_path)
        os.rename(staged, state_path)

    return (ev.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start())


def foreach_upsert_latest(spark: SparkSession, sf_dir: str,
                          max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming MERGE sink over the events stream (see
    :func:`start_upsert_latest_sink` for the merge/replay semantics);
    drains everything available and returns the final state table."""
    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)
    root = tempfile.mkdtemp(prefix="upsert_sink_")
    q = start_upsert_latest_sink(ev, root)
    q.awaitTermination()
    return spark.read.parquet(os.path.join(root, "state"))


def chained_window_agg(events: DataFrame, inner: str = "15 minutes",
                       outer: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """TWO chained stateful window aggregations in ONE streaming query
    (Spark >= 3.5 multi-stateful-operator support): a fine tumbling agg
    whose window column feeds a coarser re-aggregation — the streaming
    form of the continuous-aggregate rollup (q_rollup_reuse), running
    incrementally with bounded state.

    Append mode is mandatory for chained aggs; finalized coarse windows
    emit once the propagated watermark passes them (Spark holds each
    downstream operator back by the upstream window length, so the tail
    of the stream inside the horizon stays in state — tests pin the
    emitted set against the batch equivalent rather than hardcoding the
    propagation rule).

    Scale: the coarse agg's input is the fine agg's output (already
    |windows| x |types| rows, not |events|), so the second shuffle is
    negligible; state is bounded by windows inside the watermark.
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    lvl1 = (events.groupBy(F.window("ts", inner).alias("w1"), "event_type")
            .agg(lcount("n1"), F.sum(dval("value")).alias("v1")))
    return (lvl1.groupBy(F.window(F.col("w1"), outer).alias("w2"), "event_type")
            .agg(F.sum("n1").alias("n_events"),
                 _as_exact_double(F.sum("v1")).alias("total_value"))
            .select(F.date_format("w2.start", "yyyy-MM-dd HH:mm:ss")
                     .alias("window_start"),
                    "event_type", "n_events", "total_value"))


def zscore_window_agg(events: DataFrame, window_len: str = "1 hour",
                      watermark: str = "2 hours",
                      z: float = 2.0) -> DataFrame:
    """Tumbling-window anomaly stats per event_type (streaming or
    batch): n / mean / population-std from exact decimal sums (sum,
    sum-of-squares, max), plus ``has_outlier`` — whether the window's
    max value sits more than ``z`` standard deviations above its mean.
    The streaming shape of the classic z-score monitor: all three
    moments are map-side-combinable aggregates, so state per open
    window is O(1) regardless of event volume.

    Cross-engine float rule: every double derives from
    ``_as_exact_double`` decimal sums through one identical operator
    tree (division, multiply, sqrt), so the oracle hash-compares
    bit-identically; mean/std round 6dp at the edge only.
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    win = F.window("ts", window_len)
    v = dval("value")
    agg = (events.groupBy(win.alias("w"), "event_type")
           .agg(lcount("n_events"),
                F.sum(v).alias("__s"),
                F.sum(v * v).alias("__sq"),
                F.max(v).alias("__mx")))
    n = F.col("n_events")
    s = _as_exact_double(F.col("__s"))
    sq = _as_exact_double(F.col("__sq"))
    mx = _as_exact_double(F.col("__mx"))
    mean = s / n
    var = F.greatest(sq / n - mean * mean, F.lit(0.0))
    return agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type", "n_events",
        F.round(mean, 6).alias("mean_value"),
        F.round(F.sqrt(var), 6).alias("std_value"),
        F.round(mx, 6).alias("max_value"),
        ((mx - mean) > F.lit(z) * F.sqrt(var)).alias("has_outlier"))
