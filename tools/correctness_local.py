"""All-catalog oracle sweep in the DRIVER's artifact format.

The per-round driver gate (CORRECTNESS_r{N}.json) checks a fixed 50-query
subset; this runner applies the identical comparison — sort columns by
name, sort rows, value-compare — to EVERY catalog query at sf0.01 and
writes ``CORRECTNESS_local_sf0.01.json`` beside the driver artifacts, so
the 68 driver-unchecked queries carry the same hard evidence.

Usage:
    python tools/correctness_local.py [--sf /root/testdata/sf0.01] [--out PATH]

Exit code 0 iff every query matches on all three axes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_cascalog_spark.session import get_spark, scoped_storage  # noqa: E402
from etl_cascalog_spark.catalog import QUERIES  # noqa: E402
from tests.oracle_utils import compare_frames, duckdb_con, normalize  # noqa: E402
from tests.test_plan_lint import (  # noqa: E402
    GLOBAL_WINDOW_OK,
    RUNTIME_GLOBAL_WINDOW_OK,
)

#: the Spark executor's log text when a Window runs with an empty
#: partitionSpec — the runtime twin of the static lint's R2, able to see
#: through cache boundaries the static scan cannot
_GLOBAL_WINDOW_WARN = "No Partition Defined for Window operation"
_MARKER = "===QUERY "


def _capture_stderr_to(path: str):
    """Redirect OS-level fd 2 into ``path`` (so the driver JVM, launched
    later, inherits it) and return a line-buffered writer on the ORIGINAL
    stderr for progress output. Must run before the SparkSession exists."""
    orig_fd = os.dup(2)
    log_fd = os.open(path, os.O_CREAT | os.O_WRONLY | os.O_TRUNC)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    return os.fdopen(orig_fd, "w", buffering=1)


def _mark_query(name: str) -> None:
    """Interleave a query marker into the shared JVM/Python stderr stream
    (raw fd write — Python and JVM both write fd 2, so ordering holds)."""
    os.write(2, f"\n{_MARKER}{name}===\n".encode())


def _window_warnings_per_query(path: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    cur = None
    with open(path, errors="replace") as fh:
        for line in fh:
            s = line.strip()
            if s.startswith(_MARKER) and s.endswith("==="):
                cur = s[len(_MARKER):-3]
            elif _GLOBAL_WINDOW_WARN in line and cur is not None:
                counts[cur] = counts.get(cur, 0) + 1
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--master",
        default=None,
        help="Spark master override, e.g. local-cluster[4,8,8192] to run "
        "the sweep across real executor JVM boundaries (serialization, "
        "broadcast transport, Python-worker env) that local[*] never "
        "exercises. Default: the session factory's local[$SPARK_GRAFT_CPUS]",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query subset (for big-SF sweeps where some "
        "DuckDB oracles — e.g. iterative connected-components CTEs — cost "
        "hours; the subset IS the artifact, named in its filename)",
    )
    args = ap.parse_args()
    names = sorted(QUERIES)
    if args.only:
        if not args.out:
            ap.error(
                "--only requires --out: the default path is the committed "
                "full-catalog artifact and a subset must not overwrite it"
            )
        names = [n for n in args.only.split(",") if n]
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            ap.error(f"unknown queries: {unknown}")
    out_path = Path(
        args.out
        or Path(__file__).resolve().parent.parent
        / f"CORRECTNESS_local_sf{args.sf.rstrip('/').split('sf')[-1]}.json"
    )

    # Runtime global-window warning budget (VERDICT r6 #5): the driver JVM
    # inherits fd 2, so every WindowExec warning lands in this log between
    # our per-query markers — runtime evidence the static lint cannot get
    # through cache boundaries. Progress lines keep going to the real
    # stderr via the saved dup.
    warn_log = f"/tmp/etl_gw_warn_{os.getpid()}.log"
    progress = _capture_stderr_to(warn_log)

    extra_conf = None
    if args.master and args.master.startswith("local-cluster"):
        # real executor JVMs: size each executor to the worker's memory and
        # pin the Python interpreter so executor-side Python workers import
        # the same environment as the driver
        mem_mb = int(args.master.rstrip("]").split(",")[-1])
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
        repo_root = str(Path(__file__).resolve().parent.parent)
        extra_conf = {
            "spark.executor.memory": f"{mem_mb}m",
            # executor-side Python workers must import etl_cascalog_spark:
            # cloudpickle serializes module-level functions BY REFERENCE,
            # so any pandas_udf/mapInPandas body defined in the package
            # needs the repo importable in the worker interpreter
            "spark.executorEnv.PYTHONPATH": repo_root,
        }
    spark = get_spark("correctness_local", master=args.master, extra_conf=extra_conf)
    con = duckdb_con(args.sf)
    results: dict[str, dict] = {}
    good_names: set[str] = set()
    n_fail = 0
    t_start = time.perf_counter()
    for name in names:
        _mark_query(name)
        spec = QUERIES[name]
        row = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            with scoped_storage(spark):
                got = normalize(spec.build(spark, args.sf).toPandas())
            row["spark_rows"] = int(len(got))
            if spec.oracle is None:
                # rows-only check, mirroring the driver's weaker gate
                row["rows_match"] = len(got) >= 0
                row["schema_match"] = None
                row["hash_match"] = None
            else:
                want = normalize(con.execute(spec.oracle).df())
                row["oracle_rows"] = int(len(want))
                row["rows_match"] = len(got) == len(want)
                row["schema_match"] = list(got.columns) == list(want.columns)
                try:
                    compare_frames(got, want)
                    row["hash_match"] = True
                except AssertionError as e:
                    row["err"] = str(e)[:500]
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            row["err"] = f"{type(e).__name__}: {e}"[:500]
        good = row["rows_match"] and row["schema_match"] in (True, None) and row[
            "hash_match"
        ] in (True, None) and row["err"] is None
        if good:
            good_names.add(name)
        n_fail += 0 if good else 1
        print(
            f"# {'PASS' if good else 'FAIL'} {name} "
            f"({row['spark_rows']} rows)",
            file=progress,
        )
        results[name] = row

    # flush the JVM's console appender before parsing, then enforce the
    # budget: a runtime global-window warning is a FAILURE unless the
    # query carries a boundedness argument in GLOBAL_WINDOW_OK (single
    # source of truth: tests/test_plan_lint.py)
    spark.stop()
    warn_counts = _window_warnings_per_query(warn_log)
    budget_bad: list[str] = []
    for name in names:
        n_warn = warn_counts.get(name, 0)
        results[name]["global_window_warnings"] = n_warn
        if n_warn and name not in GLOBAL_WINDOW_OK and name not in RUNTIME_GLOBAL_WINDOW_OK:
            budget_bad.append(name)
            if results[name]["err"] is None:
                results[name]["err"] = (
                    f"runtime global-window budget: {n_warn} WindowExec "
                    "warning(s) and not allowlisted (GLOBAL_WINDOW_OK / "
                    "RUNTIME_GLOBAL_WINDOW_OK)"
                )
            # count each query at most once in n_fail: a query that already
            # failed its oracle was counted in the per-query loop
            if name in good_names:
                n_fail += 1

    out_path.write_text(json.dumps(results, indent=1) + "\n")
    total = time.perf_counter() - t_start
    print(
        json.dumps(
            {
                "checked": len(results),
                "failed": n_fail,
                "sf": args.sf,
                "wall_sec": round(total, 1),
                "global_window_warnings": sum(
                    warn_counts.get(n, 0) for n in names
                ),
                "global_window_budget_violations": budget_bad,
                "artifact": str(out_path),
            }
        )
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
