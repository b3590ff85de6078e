"""Dump .explain("formatted") for named queries into plans/<round>/.

Usage: python tools/dump_plans.py <round_dir> <suffix> <query> [query ...]

Writes plans/<round_dir>/<query>_<suffix>.txt with the AQE-final
formatted physical plan: :func:`final_plan` runs the query's own
QueryExecution, then explains it (explain_audit and run_query --explain
use the same function).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sanctions_data_pipeline_spark.plans import helpers, registry  # noqa: E402
from sanctions_data_pipeline_spark.session import get_spark  # noqa: E402


def final_plan(df, mode: str = "formatted") -> str:
    """Execute ``df``'s own QueryExecution, then explain it.

    Only an executed AdaptiveSparkPlan prints its final plan
    (``isFinalPlan=true``). Running the query through another Dataset
    (a noop write, ``df.count()``) executes that Dataset's plan and
    leaves ``df``'s at the initial plan, whose joins may never run."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return df._sc._jvm.PythonSQLUtils.explainString(qe, mode)


def main() -> None:
    round_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    registry.queries()
    for name in names:
        qd = registry.REGISTRY[name]
        spark.sparkContext.setJobDescription(f"dump_plans:{name}")
        with helpers.query_scope():
            formatted = final_plan(qd.build(spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} ({suffix}) — explain('formatted'), "
                    f"AQE-final, {sf_dir}\n\n")
            f.write(formatted)
        print(f"wrote {path}")
    spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
