from __future__ import annotations

import pytest

from sanctions_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus="8")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_problems(spark):
    """``oracle_problems(sf_dir, name)`` -> (problems, spark_pdf): one
    registry entry run on Spark and its oracle SQL on DuckDB over the
    tables in ``sf_dir``, compared with tools/check_oracle.py's
    dtype-strict, order-insensitive ``compare`` (empty problem list =
    same rows)."""
    import importlib.util
    import os

    from sanctions_data_pipeline_spark.plans import registry
    from sanctions_data_pipeline_spark.plans.helpers import query_scope

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)

    def run(sf_dir: str, name: str):
        with query_scope():
            got = registry.queries()[name](spark, sf_dir).toPandas()
        want = co.duck_con(sf_dir).execute(
            registry.oracle_sql()[name]).fetchdf()
        return co.compare(name, got, want), got

    return run
