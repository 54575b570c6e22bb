"""Record ``expected.json``: the row count and digest of every benchmark
query at every fixture scale, each taken from a result that first passed the
repository's DuckDB oracle comparison (``tests/oracle_utils.compare``).

    python3 perfbench/record_expected.py

Run it after a change to a workload's operations or fixtures; a query whose
oracle comparison fails is not recorded and the script exits non-zero.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import run
import workloads as wl
from spans import Tracer

BASES = (wl.BASE, "sf0.001")


def main() -> int:
    sys.path.insert(0, str(run.ROOT / "tests"))
    from oracle_utils import compare, duckdb_con

    from etl_cascalog_spark.catalog import QUERIES
    from etl_cascalog_spark.session import scoped_storage

    cores = len(os.sched_getaffinity(0))
    work = run.ROOT / ".perfbench_work" / "record"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = run._start_spark(work, cores, traced=False)
    out: dict[str, dict[str, list[int]]] = {}
    bad = []
    try:
        for base in BASES:
            sf_dir = str(wl.DATA / base)
            ctx = run.Context(spark, Tracer(), False, sf_dir, work)
            con = duckdb_con(sf_dir)
            for w in wl.WORKLOADS.values():
                for q in w.ops:
                    try:
                        with scoped_storage(spark):
                            compare(QUERIES[q].build(spark, sf_dir), con, QUERIES[q].oracle)
                    except AssertionError as e:
                        bad.append(f"{base} {q}: {e}")
                        continue
                    out.setdefault(base, {})[q] = list(wl.run_query(ctx, q))
                    print(f"{base} {q}: {out[base][q]}", file=sys.stderr)
    finally:
        run._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    (run.BENCH / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    for b in bad:
        print(f"oracle mismatch: {b}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
