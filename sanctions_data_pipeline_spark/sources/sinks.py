"""Output sinks (reference writes one Excel workbook, main.py:1048).

Parquet (partitionable, the at-scale default) and CSV are first-class;
Excel needs openpyxl which is gated behind an import-try (absent in
this environment) and only sensible for driver-sized results anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_output(df: DataFrame, path: str, fmt: str = "parquet",
                 mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    if fmt == "xlsx":
        try:
            import openpyxl  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "xlsx sink needs openpyxl; write parquet/csv instead") from exc
        df.toPandas().to_excel(path, index=False)
        return
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "csv":
        writer.option("header", "true").csv(path)
    else:
        raise ValueError(f"unknown sink format {fmt!r}")


def write_xlsx_quality(df: DataFrame, path: str,
                       state_col: str = "REM2_STATE",
                       value_col: str = "REM2") -> None:
    """Excel-parity sink with the reference's cell-level quality colors
    (main.py:538-539, 962-1028): the ``value_col`` cell is filled
    YELLOW (FFFF00) when ``state_col`` == 'empty_unique' (UNKNOWN name,
    or unique name with no candidate) and RED (FF0000) when 'conflict'
    (duplicate left empty after both fill passes); 'filled' cells get
    no fill. UNKNOWN FULL_NAME/CATEGORY cells are yellow too
    (main.py:582, 603). Driver-sized by design — Excel output is
    bounded by the workbook format itself, so toPandas is the honest
    plan, not a scale bug. Requires openpyxl."""
    try:
        from openpyxl import Workbook
        from openpyxl.styles import PatternFill
    except ImportError as exc:
        raise NotImplementedError(
            "xlsx quality sink needs openpyxl; write parquet/csv with the "
            f"{state_col} column instead") from exc

    yellow = PatternFill(start_color="FFFF00", end_color="FFFF00",
                         fill_type="solid")
    red = PatternFill(start_color="FF0000", end_color="FF0000",
                      fill_type="solid")
    pdf = df.toPandas()
    cols = [c for c in pdf.columns if c != state_col]
    wb = Workbook()
    ws = wb.active
    for j, c in enumerate(cols, start=1):
        ws.cell(row=1, column=j, value=c)
    vcol = cols.index(value_col) + 1 if value_col in cols else None
    for i, (_, row) in enumerate(pdf.iterrows(), start=2):
        for j, c in enumerate(cols, start=1):
            cell = ws.cell(row=i, column=j, value=row[c])
            if c in ("FULL_NAME", "CATEGORY") and row[c] == "UNKNOWN":
                cell.fill = yellow
        if vcol is not None and state_col in pdf.columns:
            state = row[state_col]
            if state == "empty_unique":
                ws.cell(row=i, column=vcol).fill = yellow
            elif state == "conflict":
                ws.cell(row=i, column=vcol).fill = red
    wb.save(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 8, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Persist a table bucketed (and optionally sorted) by its join key.

    Two tables bucketed by the same key into the same bucket count
    join WITHOUT a shuffle: each task zips bucket i with bucket i.
    At 100 TB this is the difference between re-shuffling the fact
    table on every join and paying the partitioning cost once at
    write time — the standard layout for fact tables that are
    repeatedly joined on the same key.
    """
    writer = (df.write.mode(mode).format("parquet")
              .bucketBy(n_buckets, *bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_parquet(spark, in_path: str, out_path: str,
                    target_bytes: int = 128 * 1024 * 1024,
                    mode: str = "overwrite") -> int:
    """Rewrite a parquet dataset into ~target_bytes files; returns the
    output file count.

    Small-file compaction is mandatory maintenance for ingest-heavy
    training pipelines: streaming/micro-batch writers leave thousands
    of KB-sized files whose per-file open/footer cost dominates scans.
    File count is computed from the dataset's actual on-disk bytes, and
    the rewrite is one round-robin repartition (an all-to-all exchange
    of the data being compacted — unavoidable — but nothing else), so a
    daily compaction of a 100 TB table touches each byte exactly once.
    """
    import math
    import os

    df = spark.read.parquet(in_path)
    total = sum(os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(in_path)
                for f in files if f.endswith(".parquet"))
    n = max(1, math.ceil(total / target_bytes))
    df.repartition(n).write.mode(mode).parquet(out_path)
    return n
