"""JSON-lines document source — the de-facto interchange format for
web-scale text corpora (one JSON object per line, splittable, usually
gzip/zstd-compressed per shard).

Spark-first: ``spark.read.json`` with an EXPLICIT schema (schema
inference scans the whole dataset — never acceptable at 100 TB),
``PERMISSIVE`` mode, and a ``_corrupt_record`` column so malformed
lines are quarantined instead of killing the job. The reader is
line-splittable, so a 100 TB corpus parallelizes to one task per
input split with no coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from sanctions_data_pipeline_spark.plans.helpers import persist

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    T.StructField("_corrupt_record", T.StringType()),
])


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read a JSONL document corpus with quarantine semantics.

    Returns the typed frame; malformed lines land with every typed
    column null and the raw line in ``_corrupt_record``. Use
    :func:`split_corrupt` to separate them.
    """
    return (spark.read
            .schema(DOC_SCHEMA)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path))


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): quarantine carries only the raw lines.

    PERMISSIVE-mode caveat: Spark refuses to run a query that touches
    ``_corrupt_record`` on the raw source
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the parsed result must be
    materialized first. We persist here, which is right for a
    one-pass split; an ingest pipeline at 100 TB lands the parsed frame
    to parquet once and splits from there instead of caching.
    """
    df = persist(df)
    clean = (df.filter(F.col("_corrupt_record").isNull())
             .drop("_corrupt_record"))
    bad = (df.filter(F.col("_corrupt_record").isNotNull())
           .select(F.col("_corrupt_record").alias("raw_line")))
    return clean, bad


def write_documents_jsonl(df: DataFrame, path: str,
                          compression: str = "gzip",
                          mode: str = "overwrite") -> None:
    """Write a corpus back out as compressed JSONL shards (one file per
    partition — pair with ``compact_parquet``-style repartitioning to
    control shard sizes)."""
    df.write.mode(mode).option("compression", compression).json(path)
