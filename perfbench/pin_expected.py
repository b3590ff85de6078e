"""Recompute the expected results of the corpus_curation queries.

For each query: run it on Spark, run its DuckDB oracle (if it has one)
on the same tables, require that check_oracle.compare finds them equal,
and print the (row count, order-insensitive value hash) pair that
``workloads.EXPECTED`` pins. Queries in ``workloads.SPARK_PINNED``
print Spark's pair without running an oracle.

Usage (from the repository root):

    python3 perfbench/pin_expected.py [sf_dir [query ...]]
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from sanctions_data_pipeline_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from sanctions_data_pipeline_spark.plans import registry  # noqa: E402
from sanctions_data_pipeline_spark.session import get_spark  # noqa: E402
from tools.check_oracle import canon, compare, duck_con  # noqa: E402
from workloads import CORPUS_QUERIES, SPARK_PINNED, rows_hash  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    spark = get_spark("pin_expected", cpus=os.cpu_count())
    registry.queries()
    con = duck_con(sf_dir)
    bad = 0
    for q in sys.argv[2:] or CORPUS_QUERIES:
        got = registry.REGISTRY[q].build(spark, sf_dir).toPandas()
        key = (len(got), rows_hash(canon(got)))
        oracle = registry.REGISTRY[q].oracle
        if oracle is not None and q not in SPARK_PINNED:
            want = con.execute(oracle).fetchdf()
            problems = compare(q, got, want)
            if problems or (len(want), rows_hash(canon(want))) != key:
                print(f"# {q}: Spark and oracle disagree: {problems}")
                bad += 1
                continue
        print(f'    "{q}": ({key[0]}, "{key[1]}"),')
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
