"""Catalog benchmark and plan audit: runs the catalog queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock over all queries. Each query is driven
through the ``noop`` sink (full evaluation of every output column — a bare
``count()`` would let Catalyst prune unreferenced projection expressions and
understate projection-only queries); row counts come from an ``Observation``
on the same job, so nothing runs twice.

After the timed sweep one UNTIMED audit pass builds each query again
under ``plans.lint.count_build_jobs`` (the R5 zero-eager-jobs gate), runs
it, and counts operators in the executed (AQE-final) plan. The counts land
in ``query_meta[q]`` and as a markdown row on stderr; the run exits 1 on an
R5 or ``EAGER_BUILD_OK`` budget violation.

Usage:

    python bench.py                          # full sweep -> BENCH_local.json
    python bench.py --only q1,q2             # named queries, N samples each
    python bench.py --sf DIR --sf DIR2       # per-sf map + growth ratios
    python bench.py --repo OLD --only q > a  # import the engine from OLD
    python bench.py --compare a b            # agreement gate, no JVM

A partial run (``--only``, ``--repo`` or several ``--sf``) prints the full
JSON line and never writes ``BENCH_local.json``. The sample count is
``SPARK_GRAFT_BENCH_SAMPLES`` (default 3).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent

#: ``--compare`` gate: every query >= FLOOR_S in either run must agree
#: within TOL (sub-second queries carry absolute noise bigger than their
#: signal, so they are reported but not gated)
TOL = 0.10
FLOOR_S = 1.0

_PLAN_PREFIX = re.compile(r"^[\s:+*()\-\d]*")


def loadavg() -> float | None:
    """1-minute host load — stamped per query so driver-vs-builder swings
    on this co-tenant box are attributable mechanically (same code, same
    day measured 0.8 s vs 1.6 s on tpch_q8; the load stamp is the
    instrument that says which run was squeezed).

    Returns None (JSON null) on non-Linux: ``float("nan")`` would make
    json.dumps emit the literal ``NaN``, which is not strict JSON and
    breaks jq / non-Python parsers (ADVICE r7)."""
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:  # non-Linux fallback: absent, not fabricated
        return None


def audit_plan(plan: str) -> dict[str, int | str]:
    """Operator counts of a physical plan string. Caches and broadcast
    reuse make naive substring counts lie: a plan string reprints an
    InMemoryRelation's cached subtree at every scan site, so the same
    Exchange can appear N times. Counting UNIQUE plan lines (stripped of
    tree-drawing prefixes) dedupes reprints — identical node → identical
    line (same expr ids) — while genuinely distinct nodes differ.
    ReusedExchange prints as its own node name, so reuse is never
    double-counted as a shuffle."""
    uniq = {_PLAN_PREFIX.sub("", ln).strip() for ln in plan.splitlines()}
    uniq = {ln for ln in uniq if ln}

    def n(pat: str) -> int:
        rx = re.compile(pat)
        return sum(1 for ln in uniq if rx.match(ln))

    return {
        "smj": n(r"SortMergeJoin"),
        "bhj": n(r"BroadcastHashJoin"),
        "bnlj": n(r"BroadcastNestedLoopJoin"),
        "cart": n(r"CartesianProduct"),
        "exch": n(r"Exchange (hash|range)partitioning|Exchange SinglePartition"),
        "push": "yes"
        if any(re.search(r"PushedFilters: \[[^\]]", ln) for ln in uniq)
        else "-",
    }


def build_job_verdict(
    build_jobs: dict[str, int], budgets: dict[str, int], full: bool
) -> tuple[dict[str, int], dict[str, tuple[int, int]], list[str]]:
    """The R5 decision over one run's build-job counts.

    Returns ``(violations, over_budget, lazy_now)``: queries that submitted
    jobs at build time without an ``EAGER_BUILD_OK`` entry, whitelisted
    queries over their ``max_jobs`` budget as ``(actual, budget)``, and —
    on a full sweep only — whitelisted names that now build lazily (a
    whitelist that rots into a loophole; flagged, not failed: a faster
    build is not a defect)."""
    violations = {q: n for q, n in build_jobs.items() if n and q not in budgets}
    over_budget = {
        q: (n, budgets[q])
        for q, n in build_jobs.items()
        if q in budgets and n > budgets[q]
    }
    lazy_now = sorted(q for q in budgets if not build_jobs.get(q)) if full else []
    return violations, over_budget, lazy_now


def compare(path_a: str, path_b: str) -> int:
    """Run-to-run agreement of two bench outputs (a BENCH_local.json, a
    partial run's stdout line, or a recorded ``BENCH_rN.json``). Prints the
    worst ratios either way; returns 1 if any gated query disagrees
    beyond TOL."""
    da = json.loads(Path(path_a).read_text())
    db = json.loads(Path(path_b).read_text())
    # recorded artifacts (BENCH_rN.json) wrap the bench.py line under
    # "parsed" — unwrap so local-vs-recorded adjudication (VERDICT r10 #4)
    # is one command
    da = da.get("parsed", da)
    db = db.get("parsed", db)
    qa, qb = da["queries"], db["queries"]
    ma, mb = da.get("query_meta", {}), db.get("query_meta", {})

    def load_of(meta: dict, name: str) -> str:
        q = meta.get(name)
        return f"{q['loadavg']:.1f}" if q and q.get("loadavg") == q.get(
            "loadavg"
        ) else "-"

    for tag, d in (("A", da), ("B", db)):
        if "loadavg_start" in d:
            print(
                f"run {tag}: loadavg {d['loadavg_start']:.1f} -> "
                f"{d.get('loadavg_end', float('nan')):.1f}"
            )
    shared = sorted(set(qa) & set(qb))
    missing = sorted(set(qa) ^ set(qb))
    if missing:
        print(f"WARNING: {len(missing)} queries only in one run: {missing}", file=sys.stderr)

    rows = []
    for name in shared:
        a, b = qa[name], qb[name]
        ratio = max(a, b) / max(min(a, b), 1e-9)
        rows.append((ratio, name, a, b, max(a, b) >= FLOOR_S))
    rows.sort(reverse=True)

    fails = [(r, n, a, b) for r, n, a, b, g in rows if g and r > 1 + TOL]
    gated_n = sum(1 for *_, g in rows if g)
    logs = [math.log(qb[n] / qa[n]) for n in shared if min(qa[n], qb[n]) > 0]
    geomean = math.exp(sum(logs) / len(logs)) if logs else float("nan")

    print(f"shared={len(shared)} gated(>= {FLOOR_S}s)={gated_n} "
          f"geomean(B/A)={geomean:.3f} tol={TOL:.0%}")
    print("worst 12 ratios (ratio, query, A, B, loadA, loadB, gated):")
    for r, n, a, b, g in rows[:12]:
        print(
            f"  {r:5.2f}  {n:<35s} {a:6.2f} {b:6.2f} "
            f"{load_of(ma, n):>5s} {load_of(mb, n):>5s} {'GATED' if g else ''}"
        )
    if fails:
        print(f"FAIL: {len(fails)} gated queries beyond {TOL:.0%}:")
        for r, n, a, b in fails:
            print(
                f"  {r:5.2f}  {n:<35s} {a:6.2f} {b:6.2f} "
                f"{load_of(ma, n):>5s} {load_of(mb, n):>5s}"
            )
        return 1
    print(f"OK: all {gated_n} gated queries within {TOL:.0%}")
    return 0


def print_scaling(scaling: dict[str, dict[str, float]], labels: list[str]) -> None:
    """Per-query wall at each sf plus the growth ratio between adjacent
    sfs, on stderr. A shuffle-clean operator scales ~linearly in rows (10x
    data -> ~10x work, well under 10x wall while cores are idle); a
    quadratic or driver-bound one shows super-linear growth here long
    before it kills a 100 TB run."""
    hdr = "".join(f"{lb:>12s}" for lb in labels) + "".join(
        f"{'x(' + labels[i + 1] + '/' + labels[i] + ')':>22s}"
        for i in range(len(labels) - 1)
    )
    print(f"{'query':32s}{hdr}", file=sys.stderr)
    for name, t in scaling.items():
        vals = "".join(f"{t[lb]:12.2f}" for lb in labels)
        ratios = "".join(
            f"{t[labels[i + 1]] / max(t[labels[i]], 1e-9):22.2f}"
            for i in range(len(labels) - 1)
        )
        print(f"{name:32s}{vals}{ratios}", file=sys.stderr)


def compact_line(base: dict, timings: dict[str, float]) -> str:
    """The caller keeps only the LAST 2000 chars of stdout and parses a JSON
    line out of that tail; the full catalog line is ~4000 chars (rounds 4
    and 5 recorded ``parsed: null``). So: the total + as many per-query
    timings as fit, slowest-first, with compact separators and 2-dp values
    (the full-precision map is in BENCH_local.json; a 10 ms quantum is far
    below the >=0.3 s noise band). Entries are only ever ADDED relative to
    the r12 window."""
    tail_budget = 1800  # the caller keeps 2000; leave headroom for framing
    sep = (",", ":")
    compact: dict[str, float] = {}
    for name, wall in sorted(timings.items(), key=lambda kv: -kv[1]):
        trial = dict(base, queries=dict(compact, **{name: round(wall, 2)}))
        if len(json.dumps(trial, separators=sep)) > tail_budget:
            break
        compact[name] = round(wall, 2)
    return json.dumps(dict(base, queries=compact), separators=sep)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--only", help="comma-separated query names")
    ap.add_argument("--sf", action="append", help="sf dir; repeat to scale")
    ap.add_argument("--repo", help="source tree to import the engine from")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)

    # --repo must reach sys.path before any engine import: an older tree
    # is the BEFORE leg of an A/B
    sys.path.insert(0, args.repo or str(ROOT))
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_cascalog_spark.catalog import QUERIES
    from etl_cascalog_spark.io import TABLES, read_table
    from etl_cascalog_spark.plans.lint import EAGER_BUILD_OK, count_build_jobs
    from etl_cascalog_spark.session import (
        codegen_compiles,
        get_spark,
        release_all_blocks,
        scoped_storage,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dirs = args.sf or [sf_dir]
    labels = [p.rstrip("/").rsplit("/", 1)[-1] for p in sf_dirs]
    sfs = [float(p.rstrip("/").split("sf")[-1]) for p in sf_dirs]
    if args.only:
        names = list(dict.fromkeys(n for n in args.only.split(",") if n))
        unknown = sorted(set(names) - set(QUERIES))
        if unknown:
            # fail LOUD (review r12): silently dropping a typo would
            # record a clean run for a query that was never measured
            sys.exit(f"bench: unknown queries in --only: {unknown}")
    else:
        names = sorted(QUERIES)
    partial = bool(args.only or args.repo or len(sf_dirs) > 1)

    spark = get_spark("etl_cascalog_spark_bench")
    # untimed warm-up: JVM/JIT + parquet footer caches, not query work
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    read_table(spark, sf_dirs[0], "lineitem").limit(1).collect()
    # warm the per-path schema cache of every table at every sf, so the
    # one-time parquet footer job is not charged to any query's build (a
    # production catalog carries the schema; the footer job is a
    # local-mode artifact that would read as a false R5 violation)
    for sf_dir in sf_dirs:
        for t in TABLES:
            read_table(spark, sf_dir, t)
    # one tiny catalog query untimed, so the JVM's JIT of the common
    # operator stack is not billed to whichever query sorts first; its
    # generated classes stay compiled only because the session's codegen
    # cache holds the sweep's working set (session.CODEGEN_CACHE_ENTRIES)
    with scoped_storage(spark):
        QUERIES["static_report"].build(spark, sf_dirs[0]).write.format(
            "noop"
        ).mode("overwrite").save()

    run_seq = [0]
    compiles: list[int] = []  # classes compiled by each sample of a query

    def run_once(name: str, sf_dir: str) -> float:
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        # queries are independent jobs (the reference ran each report in its
        # own JVM): every cache / localCheckpoint block a query creates dies
        # at scope exit — the round-2 lesson (leaked blocks -> deterministic
        # major-GC stall mid-sweep) made structural instead of conventional.
        with scoped_storage(spark):
            df = QUERIES[name].build(spark, sf_dir)
            run_seq[0] += 1
            obs = Observation(f"rows_{name}_{run_seq[0]}")
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
            n = obs.get["n"]
        wall = round(time.perf_counter() - t0, 3)
        compiles.append(codegen_compiles(spark) - c0)
        print(f"# {name}: {wall:.3f}s ({n} rows)", file=sys.stderr)
        return wall

    # Min-of-N with a pre-query GC (see SCALE.md "Bench methodology"):
    # single samples on this co-tenant host swing 2-4x either way, and
    # MEDIAN-of-3 still failed (31 of 59 >1s queries outside 10%) because
    # the noise is temporally correlated — a GC-debt or noisy-neighbor
    # window covers all back-to-back samples. The noise is strictly
    # additive (CPU steal, GC pause, page-cache miss only ever ADD wall),
    # so the MIN of N samples is the consistent estimator of the query's
    # true work — timeit's repeat()+min reasoning. The untimed System.gc()
    # stops the previous query's garbage from being billed to this one.
    # On the full sweep sub-floor queries keep their single sample (their
    # absolute noise cannot move a >1s round-over-round ratio); named
    # queries (--only) are an A/B and take N samples whatever their wall.
    # Min-of-N values sit below the single-sample artifacts of rounds
    # <= 4; compare like with like. SPARK_GRAFT_BENCH_SAMPLES=1 turns off
    # re-sampling AND the GC (smoke mode: at sf0.001 the ~0.5 s fixed
    # per-query overhead pushes nearly every query over the 0.6 s floor).
    min_floor_s = 0.0 if args.only else 0.6
    n_samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "3"))
    jvm_system = spark._jvm.java.lang.System  # noqa: SLF001

    timings: dict[str, float] = {}
    query_meta: dict[str, dict] = {}
    scaling: dict[str, dict[str, float]] = {}
    cells = [
        (name, sf_dir, label, name if len(sf_dirs) == 1 else f"{name}@{label}")
        for name in names
        for sf_dir, label in zip(sf_dirs, labels)
    ]
    load_start = loadavg()
    for name, sf_dir, label, key in cells:
        if n_samples > 1:
            jvm_system.gc()
        load_q = loadavg()
        compiles.clear()
        samples = [run_once(name, sf_dir)]
        if n_samples > 1 and samples[0] >= min_floor_s:
            # honor the requested N exactly (N=5 takes 5 base samples,
            # N=2 takes 2) — the knob is a sample count, not an on/off bit
            samples += [run_once(name, sf_dir) for _ in range(n_samples - 1)]
            # adaptive escalation: a wide spread means a noise window
            # covered part of the samples — two more give min() a shot
            # at a quiet slot (bounded: only volatile queries pay,
            # typically <20% of the catalog)
            if max(samples) / max(min(samples), 1e-9) > 1.25:
                samples += [run_once(name, sf_dir), run_once(name, sf_dir)]
            print(
                f"# {name}: min {min(samples):.3f}s of {samples}, "
                f"codegen compiles {compiles}",
                file=sys.stderr,
            )
        timings[key] = min(samples)
        scaling.setdefault(name, {})[label] = timings[key]
        query_meta[key] = {
            "n_samples": len(samples),
            "samples": samples,
            "codegen_compiles": list(compiles),
            "loadavg": load_q,
        }
    load_end = loadavg()

    # The audit runs after the whole timed sweep, each build on an empty
    # SQL cache (a build that finds its frames already cached submits
    # fewer eager jobs than a cold one). Clearing the cache between timed
    # queries instead would change what the sweep measures: a query's
    # first sample reuses the cache entries earlier queries left behind.
    build_jobs: dict[str, int] = {}
    print(
        "| query | SMJ | BHJ | BNLJ | Cart | Exch | Push | BuildJobs |\n"
        "|---|---|---|---|---|---|---|---|",
        file=sys.stderr,
    )
    for name, sf_dir, _, key in cells:
        release_all_blocks(spark)
        df, n_jobs = count_build_jobs(
            spark, lambda: QUERIES[name].build(spark, sf_dir), name
        )
        df.write.format("noop").mode("overwrite").save()
        a = audit_plan(df._jdf.queryExecution().executedPlan().toString())
        query_meta[key].update(a, build_jobs=n_jobs)
        build_jobs[name] = max(build_jobs.get(name, 0), n_jobs)
        jobs_cell = str(n_jobs)
        if n_jobs and name in EAGER_BUILD_OK:
            jobs_cell += f"/{EAGER_BUILD_OK[name][0]}"
        print(
            f"| {key} | {a['smj']} | {a['bhj']} | {a['bnlj']} | {a['cart']} "
            f"| {a['exch']} | {a['push']} | {jobs_cell} |",
            file=sys.stderr,
        )
    release_all_blocks(spark)  # sweep epilogue: also clears SQL-cache metadata
    spark.stop()
    total = round(sum(timings.values()), 3)
    full = {
        "metric": "catalog_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sfs[0] if len(sfs) == 1 else sfs,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "query_meta": query_meta,
    }
    if partial:
        if len(sf_dirs) > 1:
            print_scaling(scaling, labels)
            full["scaling"] = scaling
        line = json.dumps(full)
    else:
        # full per-query map -> committed artifact (survives any pipe handling)
        ROOT.joinpath("BENCH_local.json").write_text(json.dumps(full) + "\n")
        base = {k: full[k] for k in ("metric", "value", "unit", "sf")}
        line = compact_line(
            dict(base, queries_total=len(timings), full="BENCH_local.json"),
            timings,
        )
    sys.stdout.write(line + "\n")
    sys.stdout.flush()

    budgets = {q: v[0] for q, v in EAGER_BUILD_OK.items()}
    violations, over_budget, lazy_now = build_job_verdict(
        build_jobs, budgets, full=not args.only
    )
    if violations:
        print(
            f"\nR5 VIOLATION — eager jobs at plan-build time: {violations} "
            "(see plans/lint.py EAGER_BUILD_OK for the contract)",
            file=sys.stderr,
        )
    if over_budget:
        print(
            "\nR5 BUDGET VIOLATION — whitelisted builds exceeded their "
            f"max_jobs contract (actual, budget): {over_budget} "
            "(see plans/lint.py EAGER_BUILD_OK)",
            file=sys.stderr,
        )
    if lazy_now:
        print(
            f"\nnote: EAGER_BUILD_OK entries now lazy (prune them): {lazy_now}",
            file=sys.stderr,
        )
    return 1 if violations or over_budget else 0


if __name__ == "__main__":
    sys.exit(main())
