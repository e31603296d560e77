"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload crawl_fleet --workload parse_curate --seeds 1-10

For every workload and metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``), the sample count and the
quartile distance as a share of the median, next to the metric's
regression bound from BENCHMARK.json. With ``--trace 1`` it reports the
per-layer metrics and, per end-to-end metric, the tracing overhead
(median traced value ÷ median untraced value of the same seeds, when
untraced runs of those seeds are recorded). One JSON line per run is
appended to ``--out`` so two sets of runs can be compared later.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def run_one(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict | None, float]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        return None, wall
    context = next((json.loads(x.split(": ", 1)[1]) for x in lines if x.startswith("perfbench context: ")), {})
    return {"result": json.loads(lines[-1]), "context": context}, wall


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path, default=None, help="append one JSON line per run here")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for workload in args.workload:
        per_metric: dict[str, list[float]] = {}
        e2e: dict[str, list[float]] = {}
        overhead: dict[str, list[float]] = {}
        walls, failures = [], 0
        for seed in parse_seeds(args.seeds):
            run, wall = run_one(workload, seed, bench["run_seconds"], args.trace)
            walls.append(wall)
            if run is None or not run["result"]["correct"]:
                failures += 1
                print(f"{workload} seed {seed}: FAILED ({wall:.0f} s)", flush=True)
                continue
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": workload, "seed": seed, "trace": args.trace,
                                        "wall_s": wall, **run}) + "\n")
            for name, m in run["result"]["metrics"].items():
                per_metric.setdefault(name, []).append(m["value"])
            for name, v in run["context"].get("end_to_end", {}).items():
                e2e.setdefault(name, []).append(v)
            for name, o in run["context"].get("trace_overhead", {}).items():
                overhead.setdefault(name, []).append(o["ratio"])
            print(f"{workload} seed {seed}: ok ({wall:.0f} s) "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in run["result"]["metrics"].items()
                             if k in bounds), flush=True)
        print(f"== {workload}: {len(walls) - failures}/{len(walls)} runs ok, "
              f"run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for name, values in per_metric.items():
            st = spread(values)
            bound = bounds.get(name)
            flag = "" if bound is None else f"  bound {bound}  {'OK' if st['iqr_share'] < bound / 3 else 'WIDE'}"
            print(f"  {name:32s} median {st['median']:.6g}  q1 {st['q1']:.6g}  q3 {st['q3']:.6g}  "
                  f"n {st['n']}  iqr/median {st['iqr_share']:.3f}{flag}")
        for name, ratios in overhead.items():
            print(f"  tracing overhead {name:15s} traced/untraced median {statistics.median(ratios):.3f} "
                  f"(n {len(ratios)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
