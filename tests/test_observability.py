"""Operational-observability surfaces: query-level observe() metrics
and the Spark 4 state-store data source (reading a streaming
checkpoint's operator state back as a DataFrame)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from sanctions_data_pipeline_spark.catalog import load_table


def test_observe_metrics_match_recomputation(spark, sf_dir):
    """observe() rides the existing scan — data-quality counters come
    out of the SAME job as the query result, no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    out = (li.observe(
               obs,
               F.count(F.lit(1)).alias("n_rows"),
               F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
               F.min("l_shipdate").cast("string").alias("min_ship"))
           .groupBy("l_returnflag").count())
    got = {r.l_returnflag: r["count"] for r in out.collect()}
    m = obs.get
    assert m["n_rows"] == sum(got.values()) == li.count()
    assert m["null_qty"] == 0
    assert m["min_ship"] == str(li.agg(F.min("l_shipdate")).collect()[0][0])


def test_statestore_reader_exposes_streaming_state(spark, sf_dir):
    """After a bounded drain with an explicit checkpoint, the
    'statestore' data source reads the aggregation state back — per-key
    state must equal the emitted result (the ops story for inspecting /
    repairing a 100 TB streaming job's state offline)."""
    from sanctions_data_pipeline_spark.streaming.ops import read_events_stream

    ck = tempfile.mkdtemp(prefix="st_ck_")
    ev = read_events_stream(spark, sf_dir)
    agg = (ev.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    q = (agg.writeStream.format("memory").queryName("st_state_probe")
         .outputMode("complete")
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    emitted = {r.event_type: r.n
               for r in spark.table("st_state_probe").collect()}

    state = spark.read.format("statestore").load(ck)
    from_state = {r.key.event_type: r.value["count"]
                  for r in state.collect()}
    assert from_state == emitted
    # state rows carry their shuffle partition — the physical layout a
    # repair job would repartition by
    assert state.select("partition_id").distinct().count() >= 1


def test_final_plan_explains_the_executed_plan(spark):
    """tools/dump_plans.final_plan runs the DataFrame's own
    QueryExecution before explaining it, so the printed adaptive plan
    is the final one — what a noop write or ``df.count()`` (each another
    Dataset) never gives."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from dump_plans import final_plan

    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    plan = final_plan(df)
    assert "isFinalPlan=true" in plan
    assert "== Final Plan ==" in plan
