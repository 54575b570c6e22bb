from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from etl_cascalog_spark.session import get_spark

    s = get_spark("etl_cascalog_spark_tests")
    yield s
    s.stop()


def final_audit(spark, name: str, sf_dir: str = SF_SMOKE) -> dict:
    """Operator counts (``bench.audit_plan``) of a catalog query's executed,
    AQE-final plan. Every block and SQL-cache entry is released after the
    run, as the bench's audit pass does."""
    from bench import audit_plan
    from etl_cascalog_spark.catalog import QUERIES
    from etl_cascalog_spark.session import release_all_blocks

    df = QUERIES[name].build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    a = audit_plan(df._jdf.queryExecution().executedPlan().toString())
    release_all_blocks(spark)
    return a
