"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The event-log test runs in well under a second. The smoke test starts one
JVM per workload at the sf0.001 fixture and takes a few minutes.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import eventlog  # noqa: E402

FIXTURE = BENCH / "tests" / "fixtures" / "eventlog_small.jsonl"


def test_eventlog_sums_match_hand_count():
    log = eventlog.parse(FIXTURE)
    # span 3: job 0 (1000 -> 1900 ms), stages 0 and 1, tasks 0-2, timed as
    # an 800-2000 ms window. The 200 ms before the job's submission are
    # pre-job. Task intervals 1100-1400, 1200-1500, 1600-1800 cover
    # 400 + 200 ms of the remaining 1000-2000 ms, so 400 ms of it is idle.
    # Scheduler delay per task: 300-250-10-5 = 35, 300-280-5-5 = 10,
    # 200-150-10-(1800-1780) = 20 ms.
    got = eventlog.exec_totals(log, [("3", 0.8, 2.0)], cores=4)
    want = {
        "wall_s": 1.2,
        "jobs": 1,
        "job_s": 0.9,
        "stages": 2,
        "tasks": 3,
        "prejob_s": 0.2,
        "idle_s": 0.4,
        "task_run_s": 0.68,
        "task_cpu_s": 0.55,
        "gc_s": 0.025,
        "sched_delay_s": 0.065,
        "core_util": 0.68 / (1.2 * 4),
        "input_bytes": 3000,
        "input_rows": 30,
        "shuffle_write_bytes": 500,
        "shuffle_read_bytes": 500,
        "spill_bytes": 4096,
        "failed_tasks": 0,
    }
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert got[k] == pytest.approx(v), k

    # span 5: one job (2000 -> 2500 ms) whose stage ran a failed task and
    # its successful retry back to back, 2100-2400 ms of a 2000-2500 window
    five = eventlog.exec_totals(log, [("5", 2.0, 2.5)], cores=4)
    assert (five["jobs"], five["stages"], five["tasks"]) == (1, 1, 2)
    assert five["failed_tasks"] == 1
    assert five["prejob_s"] == 0
    assert five["idle_s"] == pytest.approx(0.2)
    assert five["task_run_s"] == pytest.approx(0.2)

    # each window splits at its own span's first job; a span that ran no
    # job (9) is pre-job for its whole window
    three = eventlog.exec_totals(
        log, [("3", 0.8, 2.0), ("5", 2.0, 2.5), ("9", 3.1, 3.3)], cores=4
    )
    assert three["wall_s"] == pytest.approx(1.9)
    assert three["prejob_s"] == pytest.approx(0.4)
    assert three["idle_s"] == pytest.approx(0.6)
    assert three["jobs"] == 2

    # both spans together; job 2 carries no span and is never counted
    both = eventlog.job_totals(log, {"3", "5"})
    assert both == {"jobs": 2, "job_s": pytest.approx(1.4)}
    assert eventlog.job_totals(log, {None})["jobs"] == 1


@pytest.fixture(scope="module")
def run_module():
    import run

    return run


@pytest.mark.parametrize("workload", ["catalog", "etl_write"])
def test_smoke_every_end_to_end_metric(run_module, workload):
    result, record = run_module.run(
        workload, seed=7, seconds=0, traced=False, base="sf0.001", passes=2,
        t_start=time.perf_counter(),
    )
    assert result["failed"] == 0, record["failures"]
    assert result["correct"] is True
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run_module.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert [p["kind"] for p in record["passes"]] == ["cold", "warm"]


@pytest.mark.parametrize("workload", ["catalog", "etl_write"])
def test_smoke_traced_per_layer(run_module, workload):
    result, record = run_module.run(
        workload, seed=7, seconds=0, traced=True, base="sf0.001", passes=2,
        t_start=time.perf_counter(),
    )
    assert result["failed"] == 0, record["failures"]
    m = result["metrics"]
    assert {k: v["unit"] for k, v in m.items()} == run_module.PER_LAYER
    io = [k for k in m if k.startswith(("io.", "incremental.")) or k == "sink_bytes"]
    for kind in ("cold", "warm"):
        assert m[f"exec.jobs.{kind}"]["value"] > 0
        assert m[f"exec.prejob_s.{kind}"]["value"] > 0
        if workload == "catalog":
            for phase in ("analysis_s", "optimization_s", "planning_s",
                          "plan_nodes", "exchanges"):
                assert m[f"catalyst.{phase}.{kind}"]["value"] > 0, phase
            # neardup_clusters runs connected components as eager jobs
            assert m[f"catalog.build_jobs.{kind}"]["value"] > 0
        else:
            assert m[f"io.publish_s.{kind}"]["value"] > 0
            assert m[f"incremental.batches.{kind}"]["value"] == 3
            assert m[f"incremental.reloads.{kind}"]["value"] == 1
            assert m[f"catalog.build_jobs.{kind}"]["value"] == 0
    if workload == "catalog":
        assert all(m[k]["value"] == 0 for k in io)
    else:
        assert m["sink_bytes"]["value"] > 0
    kinds = {s["kind"] for s in record["spans"]}
    assert kinds == {"run", "pass", "op", "phase"}
