"""Sink coverage: partitioned parquet round-trip and bucketed tables
whose co-bucketed join runs WITHOUT a shuffle exchange."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from sanctions_data_pipeline_spark.catalog import load_table
from tests.test_plans import plan_of
from sanctions_data_pipeline_spark.sources.sinks import write_bucketed, write_output


def test_partitioned_parquet_roundtrip_prunes(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    out = tempfile.mkdtemp(prefix="sink_part_")
    try:
        write_output(cust, out, partition_by=["c_mktsegment"])
        back = spark.read.parquet(out)
        assert back.count() == cust.count()
        # partition pruning: reading one segment must scan only its dir
        one = back.filter(F.col("c_mktsegment") == "BUILDING")
        plan = plan_of(one)
        assert one.count() == cust.filter(F.col("c_mktsegment") == "BUILDING").count()
        assert "PartitionFilters: [isnotnull(c_mktsegment" in plan
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_bucketed_join_no_shuffle(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    try:
        write_bucketed(orders.select("o_orderkey", "o_orderdate"),
                       "t_orders_b", ["o_orderkey"], n_buckets=8)
        write_bucketed(li.select("l_orderkey", "l_quantity"),
                       "t_lineitem_b", ["l_orderkey"], n_buckets=8)
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        # disable broadcast so the test exercises the sort-merge path
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = plan_of(joined)
            assert "Exchange" not in plan, plan
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_compact_parquet_reduces_files(spark, sf_dir):
    import os

    from sanctions_data_pipeline_spark.sources.sinks import compact_parquet

    cust = load_table(spark, sf_dir, "customer")
    src = tempfile.mkdtemp(prefix="sink_small_")
    dst = tempfile.mkdtemp(prefix="sink_compact_")
    try:
        cust.repartition(24).write.mode("overwrite").parquet(src)
        n_small = len([f for f in os.listdir(src) if f.endswith(".parquet")])
        assert n_small == 24
        n = compact_parquet(spark, src, dst, target_bytes=1 << 30)
        n_out = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
        assert n == 1 and n_out == 1
        assert spark.read.parquet(dst).count() == cust.count()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)


def test_xlsx_sink_gated(spark, sf_dir):
    import pytest

    from sanctions_data_pipeline_spark.sources.sinks import write_output

    cust = load_table(spark, sf_dir, "customer").limit(5)
    try:
        import openpyxl  # noqa: F401
        has_openpyxl = True
    except ImportError:
        has_openpyxl = False
    if has_openpyxl:
        out = tempfile.mktemp(suffix=".xlsx")
        write_output(cust, out, fmt="xlsx")
        assert os.path.exists(out)
        os.remove(out)
    else:
        with pytest.raises(NotImplementedError):
            write_output(cust, "/tmp/never.xlsx", fmt="xlsx")


def test_xlsx_quality_sink_colors_cells(spark):
    """Reference-parity Excel sink (main.py:538-539, 962-1028): yellow
    on empty_unique REM2 / UNKNOWN names, red on conflict, none on
    filled. Runs the real color assertion when openpyxl exists; pins
    the loud gate otherwise."""
    import pytest

    from sanctions_data_pipeline_spark.sources.sinks import write_xlsx_quality

    df = spark.createDataFrame(
        [("Ana Diaz", "P", "Number: EU.1", "filled"),
         ("Bob Ray", "P", "", "empty_unique"),
         ("Bob Ray2", "P", "", "conflict"),
         ("UNKNOWN", "UNKNOWN", "", "empty_unique")],
        "FULL_NAME string, CATEGORY string, REM2 string, REM2_STATE string")
    try:
        import openpyxl
    except ImportError:
        with pytest.raises(NotImplementedError):
            write_xlsx_quality(df, "/tmp/never_q.xlsx")
        return
    out = tempfile.mktemp(suffix=".xlsx")
    try:
        write_xlsx_quality(df, out)
        ws = openpyxl.load_workbook(out).active
        # header + REM2 col is C; states: row2 filled, row3 yellow,
        # row4 red, row5 yellow (and A5/B5 yellow for UNKNOWN)
        assert ws["C2"].fill.start_color.rgb[-6:] != "FFFF00"
        assert ws["C3"].fill.start_color.rgb[-6:] == "FFFF00"
        assert ws["C4"].fill.start_color.rgb[-6:] == "FF0000"
        assert ws["C5"].fill.start_color.rgb[-6:] == "FFFF00"
        assert ws["A5"].fill.start_color.rgb[-6:] == "FFFF00"
        assert ws["B5"].fill.start_color.rgb[-6:] == "FFFF00"
    finally:
        if os.path.exists(out):
            os.remove(out)


def test_orc_sink_round_trip(spark, sf_dir, tmp_path):
    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.sources.sinks import write_output

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_orc")
    write_output(docs, out, fmt="orc")
    back = spark.read.orc(out)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)


def test_partitioned_write_prunes_partitions_at_read(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout + a partition-column filter must
    show up as PartitionFilters on the scan (whole directories skipped),
    not as a post-scan filter — THE mechanism that turns a 100 TB table
    into a per-partition read."""
    from sanctions_data_pipeline_spark.catalog import load_table
    from sanctions_data_pipeline_spark.sources.sinks import write_output

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_output(docs, out, partition_by=["lang"])
    back = spark.read.parquet(out).filter("lang = 'en'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(lang" in plan or "(lang" in plan.split(
        "PartitionFilters")[1][:120]
    n_en = docs.filter("lang = 'en'").count()
    assert back.count() == n_en


def test_dynamic_partition_overwrite_replaces_only_touched_partitions(
        spark, sf_dir, tmp_path):
    """The incremental-reload contract: overwriting with partition
    overwrite mode DYNAMIC replaces only the partitions present in the
    written frame and leaves every sibling partition intact — the
    difference between re-publishing one day and truncating the lake."""
    from pyspark.sql import functions as F
    from sanctions_data_pipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    out = str(tmp_path / "part_docs")
    docs.write.partitionBy("lang").parquet(out)
    before = {r.lang: r.cnt for r in spark.read.parquet(out)
              .groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert len(before) > 1

    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        patch = (docs.filter(F.col("lang") == "en")
                 .limit(3).withColumn("n_chars", F.lit(-1)))
        patch.write.mode("overwrite").partitionBy("lang").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)

    after = spark.read.parquet(out)
    counts = {r.lang: r.cnt for r in after.groupBy("lang")
              .agg(F.count("*").alias("cnt")).collect()}
    assert counts["en"] == 3                      # touched: replaced
    for lang, cnt in before.items():
        if lang != "en":
            assert counts[lang] == cnt            # untouched: intact
    assert after.filter("n_chars = -1").count() == 3
