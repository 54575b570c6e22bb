"""The main correctness gate, run locally: every catalog query vs its DuckDB
oracle at sf0.001 (fast) — mirrors the driver's t2 check at sf0.01."""

from __future__ import annotations

import pytest

from etl_cascalog_spark.catalog import QUERIES
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare, duckdb_con


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SF_SMOKE)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, con, name):
    from etl_cascalog_spark.session import persistent_rdd_ids, scoped_storage

    spec = QUERIES[name]
    # scope-bound storage + leak gate: whatever the query caches or
    # localCheckpoints must be gone when its results are consumed
    before = persistent_rdd_ids(spark)
    with scoped_storage(spark):
        df = spec.build(spark, SF_SMOKE)
        if spec.oracle is None:
            assert df.count() >= 0
        else:
            compare(df, con, spec.oracle)
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, f"{name} leaked storage blocks: rdd ids {leaked}"


def test_catalog_md_matches_registry():
    """CATALOG.md is generated from the registrations
    (``python tools/catalog_doc.py > CATALOG.md``) and must not drift
    from them."""
    import runpy

    from tests.conftest import REPO

    render = runpy.run_path(str(REPO / "tools" / "catalog_doc.py"))["render"]
    assert render() == (REPO / "CATALOG.md").read_text(), (
        "CATALOG.md is stale: regenerate it with tools/catalog_doc.py"
    )
