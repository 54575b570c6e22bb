"""The catalog harness (bench.py): the --compare agreement gate, the R5
build-job decision, and one partial run end to end."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

from bench import build_job_verdict
from tests.conftest import REPO, SF_SMOKE

GOLDEN = REPO / "tests" / "golden"


def _bench(*args: str, env: dict | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(REPO / "bench.py"), *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
    )


def test_compare_matches_recorded_gate_output():
    """--compare on the recorded round-12/13 artifacts prints exactly what
    the standalone agreement tool printed on them, in both orders, and
    fails the same way: 38 of 42 gated queries moved beyond 10%."""
    for a, b in (("r12", "r13"), ("r13", "r12")):
        r = _bench("--compare", f"BENCH_{a}.json", f"BENCH_{b}.json")
        assert r.stdout == (GOLDEN / f"compare_{a}_{b}.txt").read_text()
        assert r.returncode == 1
    assert r.stdout.startswith("shared=56 gated(>= 1.0s)=42 geomean(B/A)=")


def _run_file(tmp_path, name: str, queries: dict[str, float]) -> str:
    p = tmp_path / name
    p.write_text(json.dumps({"queries": queries}) + "\n")
    return str(p)


def test_compare_gates_only_queries_over_the_floor(tmp_path):
    a = _run_file(tmp_path, "a.json", {"slow": 2.0, "fast": 0.2, "only_a": 1.0})
    agree = _run_file(tmp_path, "b.json", {"slow": 2.1, "fast": 0.5})
    r = _bench("--compare", a, agree)
    assert r.returncode == 0, r.stdout
    assert "OK: all 1 gated queries within 10%" in r.stdout
    assert "only_a" in r.stderr  # reported, not gated

    disagree = _run_file(tmp_path, "c.json", {"slow": 2.5, "fast": 0.2})
    r = _bench("--compare", a, disagree)
    assert r.returncode == 1
    assert "FAIL: 1 gated queries beyond 10%" in r.stdout


def test_build_job_verdict():
    budgets = {"cc": 47, "blas": 6, "gone_lazy": 4}
    jobs = {"plain": 0, "eager": 2, "cc": 27, "blas": 7, "gone_lazy": 0}
    violations, over, lazy = build_job_verdict(jobs, budgets, full=True)
    assert violations == {"eager": 2}
    assert over == {"blas": (7, 6)}
    assert lazy == ["gone_lazy"]
    # a named-query run says nothing about entries it did not build
    assert build_job_verdict({"cc": 27}, budgets, full=False) == ({}, {}, [])
    assert build_job_verdict({"cc": 48}, budgets, full=False)[1] == {"cc": (48, 47)}


def test_named_run_is_comparable_and_leaves_bench_local_alone(tmp_path):
    """A partial run prints one JSON line that --compare reads, carries the
    audit pass's facts per query, and never writes BENCH_local.json."""
    artifact = REPO / "BENCH_local.json"
    before = hashlib.sha256(artifact.read_bytes()).hexdigest()
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_SAMPLES="1",
        SPARK_GRAFT_DRIVER_MEM="1g",  # a second JVM next to the suite's
    )
    names = ["static_report", "pricing_summary"]
    r = _bench("--only", ",".join(names), "--sf", SF_SMOKE, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    assert hashlib.sha256(artifact.read_bytes()).hexdigest() == before

    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert list(out["queries"]) == names
    for q in names:
        meta = out["query_meta"][q]
        assert meta["build_jobs"] == 0 and meta["n_samples"] == 1
        assert len(meta["codegen_compiles"]) == 1
        assert {"smj", "bhj", "bnlj", "cart", "exch", "push"} <= set(meta)
    assert out["query_meta"]["pricing_summary"]["push"] == "yes"

    run = tmp_path / "run.json"
    run.write_text(r.stdout)
    r = _bench("--compare", str(run), str(run))
    assert r.returncode == 0
    assert r.stdout.splitlines()[2].startswith("shared=2 ")
