"""Closed-loop benchmark of the etl_cascalog_spark engine on local[N].

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 8 --trace 0

One client runs one operation at a time, as the reference's serial nightly
batch does: a set-up (fresh JVM, schema-cache warm-up; made ``SETUPS``
times, the median reported), then a cold pass over the workload's
operations, then warm passes, started until ``--seconds`` have elapsed after
the cold pass (at least ``MIN_WARM``). Every query's row count and digest
ride on its own ``noop`` job through an ``Observation`` and are compared
with ``expected.json``; a mismatch or an exception counts as a failed
operation.

The last line of stdout is the result: end-to-end metrics with ``--trace 0``;
with ``--trace 1`` the same loop runs with Spark's event log on, a Catalyst
probe per query and every job tagged with its span, and the line carries the
per-layer metrics instead. The line before it, prefixed ``perfbench-record``,
is the full run record: provenance, pass and operation walls, failures and,
traced, the spans.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT))

import eventlog  # noqa: E402
import workloads as wl  # noqa: E402
from spans import Tracer  # noqa: E402

#: driver heap, pinned so runs compare; the engine's 16g default does not
#: fit a 16 GB host
DRIVER_HEAP = "3g"

#: an untraced run sets up this many times (fresh JVM and warm-up each) and
#: reports the median; the last set-up's session runs the passes. Each
#: set-up costs 8-10 s on a 4-core host; more do not fit the time budget.
SETUPS = 2

#: warm passes a run makes at least, however short ``--seconds``; with two,
#: the warm operation percentiles of ``catalog`` spread up to the bound
MIN_WARM = 3

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}

_PASS_LAYER = {
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "catalog.build_job_s": "s",
    "catalog.build_py_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.plan_nodes": "count",
    "catalyst.exchanges": "count",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.prejob_s": "s",
    "exec.idle_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.sched_delay_s": "s",
    "exec.core_util": "ratio",
    "exec.input_bytes": "B",
    "exec.input_rows": "count",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.failed_tasks": "count",
    "io.publish_s": "s",
    "io.partition_write_s": "s",
    "io.metrics_write_s": "s",
    "io.jdbc_append_s": "s",
    "io.output_bytes": "B",
    "io.output_files": "count",
    "incremental.watermark_s": "s",
    "incremental.batches": "count",
    "incremental.reloads": "count",
    "trace.pass_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    **{f"{k}.{p}": u for p in ("cold", "warm") for k, u in _PASS_LAYER.items()},
    "sink_bytes": "B",
    "driver_rss_peak_mb": "MB",
}

_IO_PHASES = {
    "publish": "io.publish_s",
    "partition_write": "io.partition_write_s",
    "metrics_write": "io.metrics_write_s",
    "jdbc_append": "io.jdbc_append_s",
    "watermark": "incremental.watermark_s",
}


class Context:
    """What an operation needs: the session, its inputs and the tracer."""

    def __init__(self, spark, tracer, traced, sf_dir, work):
        self.spark = spark
        self.tracer = tracer
        self.traced = traced
        self.sf_dir = sf_dir
        self.work = work
        self.jdbc_url = f"jdbc:derby:memory:perfbench_{os.getpid()};create=true"
        self.etl_source = None


# ---------------------------------------------------------------------------
# provenance
# ---------------------------------------------------------------------------


def _loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    vals = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return vals[7], sum(vals[:8])


def _git(*args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), *args],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_sha256() -> str:
    """Hash of the code a run executes: the engine package and the
    benchmark's own code and expected digests. It tells runs of different
    code apart also where there is no git, or the tree is not committed."""
    files = sorted(
        [*(ROOT / "etl_cascalog_spark").rglob("*.py"), *BENCH.glob("*.py"),
         BENCH / "expected.json"]
    )
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def _cpu_model() -> str | None:
    for line in Path("/proc/cpuinfo").read_text().splitlines():
        if line.startswith("model name"):
            return line.split(":", 1)[1].strip()
    return None


def _vm_hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------------------
# session lifetime
# ---------------------------------------------------------------------------


def _start_spark(work: Path, cores: int, traced: bool):
    from etl_cascalog_spark.session import get_spark

    # set before the JVM starts; the engine's get_spark reads the first two
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.stream.error.file={work / 'derby.log'}"
        ),
    }
    if traced:
        (work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited, so
    the next run in this process starts a fresh one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _warm_up(ctx: Context, w: wl.Workload) -> None:
    """The first jobs of the JVM: the parquet schema cache, one footer job
    per table the workload reads, so no timed operation pays one."""
    from etl_cascalog_spark.io import read_table

    for t in w.tables:
        read_table(ctx.spark, ctx.sf_dir, t)
    if not w.ops:
        ctx.etl_source = wl.etl_source(ctx.spark, ctx.sf_dir)


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


def _query_pass(ctx, w, rng, expected, failures) -> int:
    order = list(w.ops)
    rng.shuffle(order)
    for name in order:
        with ctx.tracer.span("op", name):
            try:
                got = wl.run_query(ctx, name)
            except Exception:  # noqa: BLE001 - a failed operation is counted
                failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                continue
        if list(got) != expected.get(name):
            failures.append(f"{name}: got {list(got)}, expected {expected.get(name)}")
    return len(order)


def _etl_pass(ctx, index, calendar, failures, pass_rec) -> wl.EtlPass:
    p = wl.EtlPass(ctx, index)
    for month, reload in calendar:
        with ctx.tracer.span("op", "batch", month=month, reload=reload):
            try:
                p.batch(month, reload)
            except Exception:  # noqa: BLE001 - a failed operation is counted
                failures.append(f"batch {month}: {traceback.format_exc(limit=3)}")
    pass_rec["batches"] = len(calendar)
    pass_rec["reloads"] = sum(r for _, r in calendar)
    return p


def _finish_etl_pass(p, failures, pass_rec) -> int:
    """Untimed: sink size, then the checks against a one-shot recompute.
    Returns the number of checks attempted."""
    pass_rec["output_bytes"], pass_rec["output_files"] = wl.dir_usage(p.root)
    try:
        errors = p.verify()
    except Exception:  # noqa: BLE001 - a failed check is counted
        errors = [traceback.format_exc(limit=3)]
    failures.extend(f"etl pass check: {e}" for e in errors)
    return wl.EtlPass.CHECKS


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _end_to_end(setup_s, passes, tracer) -> dict[str, float]:
    warm = passes[1:]
    warm_ops = [
        s["wall_s"]
        for p in warm
        for s in tracer.spans
        if s["kind"] == "op" and s["parent"] == p["id"]
    ]
    return {
        "setup_s": setup_s,
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "op_p50_s": statistics.median(warm_ops),
        "op_p90_s": _p90(warm_ops),
    }


def _pass_layers(tracer, log, pass_rec, cores) -> dict[str, float]:
    phases = tracer.descendants(pass_rec["id"], "phase")

    def ids(names):
        return {s["id"] for s in phases if s["name"] in names}

    def wall(names):
        return sum(s["wall_s"] for s in phases if s["name"] in names)

    build = eventlog.job_totals(log, ids({"build"}))
    plans = [s for s in phases if s["name"] == "plan"]
    exec_names = {"exec", *_IO_PHASES}
    ex = eventlog.exec_totals(
        log,
        [(s["id"], s["start"], s["end"]) for s in phases if s["name"] in exec_names],
        cores,
    )
    out = {
        "catalog.build_s": wall({"build"}),
        "catalog.build_jobs": build["jobs"],
        "catalog.build_job_s": build["job_s"],
        "catalog.build_py_s": max(0.0, wall({"build"}) - build["job_s"]),
        "catalyst.analysis_s": sum(s["analysis"] for s in plans),
        "catalyst.optimization_s": sum(s["optimization"] for s in plans),
        "catalyst.planning_s": sum(s["planning"] for s in plans),
        "catalyst.plan_nodes": sum(s["plan_nodes"] for s in plans),
        "catalyst.exchanges": sum(s["exchanges"] for s in plans),
        **{f"exec.{k}": v for k, v in ex.items() if k != "job_s"},
        **{metric: wall({name}) for name, metric in _IO_PHASES.items()},
        "io.output_bytes": pass_rec.get("output_bytes", 0),
        "io.output_files": pass_rec.get("output_files", 0),
        "incremental.batches": pass_rec.get("batches", 0),
        "incremental.reloads": pass_rec.get("reloads", 0),
        "trace.pass_s": pass_rec["wall_s"],
    }
    return out


def _metrics_line(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def run(
    workload: str,
    seed: int,
    seconds: float,
    traced: bool,
    base: str | None = None,
    passes: int | None = None,
    t_start: float | None = None,
) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, full record).

    ``base`` swaps the fixture directory and ``passes`` fixes the pass count
    instead of the time window; both exist for the smoke test.
    """
    t_start = _T0 if t_start is None else t_start
    w = wl.WORKLOADS[workload]
    base = base or wl.BASE
    expected = json.loads((BENCH / "expected.json").read_text()).get(base, {})
    cores = len(os.sched_getaffinity(0))
    load_start, steal_start = _loadavg(), _cpu_ticks()
    work = ROOT / ".perfbench_work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        sf_dir = str(wl.DATA / base)
        # imported once per process, so every set-up below is the same
        from etl_cascalog_spark import catalog, incremental, io  # noqa: F401

        imports_s = time.perf_counter() - t_start
        starts, warmups = [], []
        for _ in range(1 if traced else SETUPS):
            if spark is not None:
                _stop_spark(spark)
                spark = None
            io.clear_schema_cache()  # as empty as in a fresh process
            t = time.perf_counter()
            spark = _start_spark(work, cores, traced)
            starts.append(time.perf_counter() - t)
            tracer = Tracer(spark.sparkContext if traced else None)
            ctx = Context(spark, tracer, traced, sf_dir, work)
            t = time.perf_counter()
            _warm_up(ctx, w)
            warmups.append(time.perf_counter() - t)
        start_s, warmup_s = statistics.median(starts), statistics.median(warmups)
        # a fresh process to its first operation: imports, once, plus the
        # median set-up
        setup_s = imports_s + statistics.median(map(sum, zip(starts, warmups)))

        rng = random.Random(seed)
        calendar = wl.etl_calendar(seed)
        failures: list[str] = []
        attempted = 0
        pass_recs: list[dict] = []
        prev_etl = None
        deadline = None
        with tracer.span("run", workload):
            while True:
                index = len(pass_recs)
                kind = "cold" if index == 0 else "warm"
                with tracer.span("pass", kind, index=index) as rec:
                    if w.ops:
                        attempted += _query_pass(ctx, w, rng, expected, failures)
                    else:
                        etl = _etl_pass(ctx, index, calendar, failures, rec)
                        attempted += len(calendar)
                pass_recs.append(rec)
                if not w.ops:
                    attempted += _finish_etl_pass(etl, failures, rec)
                    if prev_etl is not None:
                        prev_etl.drop()
                    prev_etl = etl
                if deadline is None:
                    deadline = time.perf_counter() + seconds
                if passes is not None:
                    if len(pass_recs) >= passes:
                        break
                elif len(pass_recs) > MIN_WARM and time.perf_counter() >= deadline:
                    break
        sink_bytes = wl.dir_usage(prev_etl.root)[0] if prev_etl else 0
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss_mb = _vm_hwm_mb(jvm_pid)
        java = str(spark._jvm.java.lang.System.getProperty("java.version"))
        _stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            _stop_spark(spark)

    steal_end = _cpu_ticks()
    d_total = steal_end[1] - steal_start[1]
    import pyspark

    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(traced),
        "base": base,
        "cores": cores,
        "driver_heap": DRIVER_HEAP,
        "driver_pid": jvm_pid,
        "git_commit": _git("rev-parse", "HEAD") or None,
        # None without git; else whether tracked files differ from the commit
        "git_dirty": (
            None if (st := _git("status", "--porcelain", "--untracked-files=no")) is None
            else bool(st)
        ),
        "source_sha256": _source_sha256(),
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "cpu_model": _cpu_model(),
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
        "cpu_steal_frac": (steal_end[0] - steal_start[0]) / d_total if d_total else 0.0,
        "attempted": attempted,
        "failures": failures,
        "setup": {
            "imports_s": imports_s,
            "session.start_s": starts,
            "session.warmup_s": warmups,
            "setup_s": setup_s,
        },
        "passes": [
            {
                "kind": p["name"],
                "wall_s": p["wall_s"],
                "ops": [
                    [s["name"], s["wall_s"]]
                    for s in tracer.spans
                    if s["kind"] == "op" and s["parent"] == p["id"]
                ],
            }
            for p in pass_recs
        ],
    }
    if traced:
        if len(pass_recs) < 2:
            raise RuntimeError("a traced run needs a cold and a warm pass")
        logs = list((work / "eventlog").iterdir())
        log = eventlog.parse(logs[0])
        record["eventlog_bytes"] = sum(p.stat().st_size for p in logs)
        values = {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "sink_bytes": sink_bytes,
            "driver_rss_peak_mb": rss_mb,
        }
        for rec, kind in ((pass_recs[0], "cold"), (pass_recs[1], "warm")):
            for k, v in _pass_layers(tracer, log, rec, cores).items():
                values[f"{k}.{kind}"] = v
        metrics = _metrics_line(values, PER_LAYER)
        record["spans"] = tracer.spans
    else:
        metrics = _metrics_line(
            _end_to_end(setup_s, pass_recs, tracer), END_TO_END
        )
    record["metrics"] = metrics
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }
    return result, record


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result, record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for f in record["failures"]:
        print(f"# failed: {f}", file=sys.stderr)
    print("perfbench-record " + json.dumps(record))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
