"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet tables, then compares row count, sorted column names,
and order-insensitive values (exact for ints/strings, bit-exact for
doubles — mirroring a value-hash).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sanctions_data_pipeline_spark.catalog import TABLES  # noqa: E402
from sanctions_data_pipeline_spark.plans import helpers, registry  # noqa: E402
from sanctions_data_pipeline_spark.session import get_spark  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):  # Spark-written dataset dir (scale tiers)
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(pd.notnull(df), None)
    rows = sorted(df.values.tolist(), key=lambda r: tuple(repr(x) for x in r))
    return rows


def _same(x, y) -> bool:
    """Dtype-STRICT value equality, mirroring the driver's value-hash.

    The driver hashes a canonical rendering of each value, so an int 73
    on one side and a float 73.0 on the other MISMATCH even though
    ``73 == 73.0`` — that asymmetry is exactly how the round-2
    q_rollup_reuse failure (DuckDB HUGEINT -> pandas float64) slipped
    past the old ``==``-based comparator. Types must match before
    values are compared; floats are bit-exact with NaN==NaN.
    """
    if x is None and y is None:
        return True
    if x is None or y is None:
        return False
    if type(x) is not type(y):
        return False
    if isinstance(x, float):
        return (x != x and y != y) or x == y  # NaN-equal or bit-exact
    return bool(x == y)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    srows, drows = canon(spark_pdf), canon(duck_pdf)
    n_bad = 0
    first = None
    for a, b in zip(srows, drows):
        for x, y in zip(a, b):
            if not _same(x, y):
                n_bad += 1
                if first is None:
                    first = (a, b)
                break
    if n_bad:
        problems.append(f"{n_bad}/{len(srows)} rows differ; first: spark={first[0]} duck={first[1]}")
    return problems


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        args = args[1:]
    spark = get_spark("check_oracle")
    con = duck_con(sf_dir)
    qs = registry.queries()
    oracles = registry.oracle_sql()
    names = args or list(qs)
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            with helpers.query_scope():
                spark_pdf = qs[name](spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_pdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
        else:
            print(f"OK    {name}: {len(spark_pdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
