"""Session factory defaults: the driver heap fits the host, PySpark's
per-call call-site capture is off, and the generated-class cache holds
the catalog's working set."""

from __future__ import annotations

from etl_cascalog_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
    default_driver_memory,
)


def _mb(spec: str) -> int:
    return int(spec[:-1]) * (1024 if spec.endswith("g") else 1)


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_default_driver_memory_never_exceeds_physical_ram():
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    assert 0 < _mb(default_driver_memory()) <= total_kb // 1024 // 2


def test_default_driver_memory_is_half_of_ram_capped_at_16g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16479424)) == "8046m"
    assert default_driver_memory(_meminfo(tmp_path, 2 * 1024 * 1024)) == "1024m"
    assert default_driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "16384m"
    assert default_driver_memory(str(tmp_path / "missing")) == "4g"


def test_get_spark_turns_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_get_spark_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_warm_catalog_pass_compiles_no_class(spark):
    """perfbench's five ``catalog`` queries, driven as it drives them
    (build and noop write inside ``scoped_storage``), twice in a row: the
    second pass finds every generated class in the cache. At Spark's
    default of 100 entries the first pass's ~200 classes overflow the
    per-segment bound and the second pass recompiles most of them."""
    from etl_cascalog_spark.catalog import QUERIES
    from etl_cascalog_spark.session import scoped_storage
    from tests.conftest import SF_SMOKE

    names = (
        "period_compare",
        "sessionization",
        "report_pipeline",
        "trgx_report_period",
        "neardup_clusters",
    )

    def one_pass() -> int:
        before = codegen_compiles(spark)
        for name in names:
            with scoped_storage(spark):
                QUERIES[name].build(spark, SF_SMOKE).write.format("noop").mode(
                    "overwrite"
                ).save()
        return codegen_compiles(spark) - before

    # the counter moves: a literal no other test uses is a new class
    before = codegen_compiles(spark)
    spark.range(3).selectExpr("id * 424242424242 AS x").collect()
    assert codegen_compiles(spark) > before
    one_pass()
    assert one_pass() == 0
