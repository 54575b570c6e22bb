"""Session factory defaults: the driver heap fits the host, and PySpark's
per-call call-site capture is off."""

from __future__ import annotations

from etl_cascalog_spark.session import default_driver_memory


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
