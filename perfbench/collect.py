"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/collect.py --out perfbench/baseline/local4.json \\
        --sets 2 --seeds 10 --traced 1

Each run is a fresh ``run.py`` process, as in a full check. Every
workload in ``BENCHMARK.json`` runs, one after another, with seeds counted
from 1 across the whole collection. For every workload the summary gives,
per set of ``--seeds`` untraced runs, each end-to-end metric's median and
its quartile spread (IQR over median) next to the metric's bound from
``BENCHMARK.json``; with ``--traced`` it adds traced runs, their per-layer
medians and the tracing overhead (traced pass wall minus untraced pass
wall, cold and warm).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: rc={proc.returncode}\n{proc.stderr[-3000:]}")
    record = json.loads(lines[-2][len("perfbench-record "):])
    record.pop("spans", None)
    record["result"] = json.loads(lines[-1])
    record["process_wall_s"] = time.perf_counter() - t
    return record


def spread(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "iqr_over_median": (q3 - q1) / med if med else 0.0}


def summarise(sets: list[list[dict]], traced: list[dict], spec: dict) -> dict:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out: dict = {"sets": []}
    for runs in sets:
        out["sets"].append(
            {
                name: {
                    **spread([r["result"]["metrics"][name]["value"] for r in runs]),
                    "bound": bound,
                }
                for name, bound in bounds.items()
            }
        )
        out["sets"][-1]["failed"] = sum(r["result"]["failed"] for r in runs)
        out["sets"][-1]["process_wall_s"] = sum(r["process_wall_s"] for r in runs)
    if len(sets) >= 2:
        a, b = out["sets"][0], out["sets"][1]
        out["second_vs_first"] = {
            name: b[name]["median"] / a[name]["median"] - 1 for name in bounds
        }
    if traced:
        layer = {
            name: statistics.median(r["result"]["metrics"][name]["value"] for r in traced)
            for name in traced[0]["result"]["metrics"]
        }
        out["traced_median"] = layer
        untraced = [r for runs in sets for r in runs]
        for kind in ("cold", "warm"):
            base = statistics.median(
                r["result"]["metrics"][f"{kind}_pass_s"]["value"] for r in untraced
            )
            out[f"trace_overhead_{kind}_s"] = layer[f"trace.pass_s.{kind}"] - base
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    report: dict = {"benchmark": spec, "workloads": {}}
    seed = 1
    for name in (w["name"] for w in spec["workloads"]):
        sets, traced = [], []
        for _ in range(args.sets):
            runs = []
            for _ in range(args.seeds):
                runs.append(one_run(name, seed, spec["run_seconds"], 0))
                seed += 1
                print(f"{name} seed {seed - 1}: "
                      + json.dumps({k: round(v["value"], 3) for k, v in runs[-1]["result"]["metrics"].items()}),
                      file=sys.stderr, flush=True)
            sets.append(runs)
        for _ in range(args.traced):
            traced.append(one_run(name, seed, spec["run_seconds"], 1))
            seed += 1
        report["workloads"][name] = {
            "summary": summarise(sets, traced, spec),
            "runs": [r for runs in sets for r in runs] + traced,
        }
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
        print(json.dumps({name: report["workloads"][name]["summary"]}, indent=1), file=sys.stderr)


if __name__ == "__main__":
    main()
