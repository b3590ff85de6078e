"""Run any registered query from the command line.

Usage:
  python tools/run_query.py --list    # name, check kind, last green round
  python tools/run_query.py q1_pricing_summary
  python tools/run_query.py q5_local_supplier --sf /root/testdata/sf0.01 \
      --explain --limit 10
  python tools/run_query.py dd_exact --save /tmp/out.parquet
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump_plans import final_plan  # noqa: E402
from sanctions_data_pipeline_spark.plans import helpers, registry  # noqa: E402
from sanctions_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("query", nargs="?", help="registry query name")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        help="scale-factor directory of parquet tables")
    ap.add_argument("--list", action="store_true",
                    help="list registered queries and exit")
    ap.add_argument("--explain", action="store_true",
                    help="after the run, print the AQE-final formatted "
                         "physical plan")
    ap.add_argument("--limit", type=int, default=20,
                    help="rows to show (default 20)")
    ap.add_argument("--save", metavar="PATH",
                    help="write the full result as parquet instead of showing")
    args = ap.parse_args()

    names = sorted(registry.queries())
    if args.list or not args.query:
        oracles = registry.oracle_sql()
        green = registry.last_green() or {}
        for n in names:
            kind = "SQL-oracled" if n in oracles else "rows-only"
            last = f"r{green[n]:02d}" if n in green else "never"
            print(f"{n:28s} {kind:12s} {last}")
        print(f"\n{len(names)} queries ({len(oracles)} SQL-oracled); last "
              f"column: last green driver round (CORRECTNESS_r*.json)")
        return
    if args.query not in names:
        import difflib
        near = difflib.get_close_matches(args.query, names, n=3)
        ap.error(f"unknown query {args.query!r}"
                 + (f"; did you mean {', '.join(near)}?" if near else ""))

    spark = get_spark("run_query")
    with helpers.query_scope():
        df = registry.queries()[args.query](spark, args.sf)
        t0 = time.time()
        if args.save:
            df.write.mode("overwrite").parquet(args.save)
            print(f"wrote {spark.read.parquet(args.save).count()} rows "
                  f"to {args.save} in {time.time() - t0:.2f}s")
        else:
            df.show(args.limit, truncate=False)
            print(f"[{args.query} @ {args.sf}: {time.time() - t0:.2f}s]")
        if args.explain:
            print(final_plan(df))


if __name__ == "__main__":
    main()
