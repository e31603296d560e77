"""Seeded crawl-engine benchmark: one workload, one seed, one run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl_fleet --seed 1 --seconds 15 --trace 0

The run starts ``local[nproc]``, generates the workload's inputs from
``--seed``, times passes until ``--seconds`` of pass time have elapsed
(at least one pass), checks every pass's outputs (untimed), and prints
as its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports BENCHMARK.json's
``end_to_end`` metrics; ``--trace 1`` turns Spark's event log and the
span recorder on and reports its ``per_layer`` metrics instead. Metric
names and units come from BENCHMARK.json.

Load is a closed loop with one client: one driver thread submits one
job at a time; only Spark's ``local[nproc]`` pool and the engine's own
write pool run beside it.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import harness  # noqa: E402

#: a quarter of bench.py's default spin count: about 0.2-0.4 s here
PROBE_SPINS = 5_000_000

WORKLOADS = ("crawl_fleet", "parse_curate")


def _workload_class(name: str):
    if name == "crawl_fleet":
        from perfbench.crawl import CrawlFleet

        return CrawlFleet
    from perfbench.curate import ParseCurate

    return ParseCurate


def _metric_specs(trace: bool) -> list[dict]:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def _results_dir(name: str) -> Path:
    return harness.WORK / "results" / name


def _trace_overhead(name: str, traced: dict) -> dict:
    """Traced ÷ untraced for each end-to-end metric, against the median
    of this workload's recorded untraced runs (empty when none ran)."""
    untraced: dict[str, list[float]] = {}
    for path in sorted(_results_dir(name).glob("seed*-trace0.json")):
        for metric, m in json.loads(path.read_text())["metrics"].items():
            untraced.setdefault(metric, []).append(m["value"])
    return {
        metric: {"ratio": value / statistics.median(untraced[metric]), "untraced_runs": len(untraced[metric])}
        for metric, value in traced.items()
        if untraced.get(metric)
    }


def measure(name: str, seed: int, seconds: float, trace: bool, tiny: bool = False) -> dict:
    """One run; returns the result object (``correct``, ``attempted``,
    ``failed``, ``metrics``) plus a ``context`` entry for the log."""
    from bench import _loadavg, cpu_drift_probe  # the repo's own box-state probes

    specs = _metric_specs(trace)
    settings = harness.configure_environment()
    context = {
        "workload": name,
        "seed": seed,
        "trace": int(trace),
        "settings": settings,
        "loadavg_pre": _loadavg(),
        "cpu_probe_pre_s": cpu_drift_probe(PROBE_SPINS),
    }
    event_dir = harness.WORK / "eventlog" / f"{name}-{seed}" if trace else None
    if event_dir is not None:
        shutil.rmtree(event_dir, ignore_errors=True)

    spark, start_s = harness.start_session(event_dir)
    tracer = harness.Tracer(spark, trace)
    values: dict[str, float] = {"session.start_s": start_s}
    outs, windows, walls, steps, items = [], [], [], [], []
    attempted = failed = 0
    try:
        values["session.warm_s"] = harness.warm_session(spark)
        wl = _workload_class(name)(spark, seed, tracer, tiny)
        t0 = time.perf_counter()
        values.update(wl.setup())
        setup_s = start_s + values["session.warm_s"] + (time.perf_counter() - t0)
        tracer.spans.clear()  # per-layer figures cover timed passes only
        timed = 0.0
        while attempted == 0 or timed < seconds:
            attempted += 1
            t_pass = time.perf_counter()
            try:
                start = time.time()
                n_items, wall, pass_steps, out = wl.run_pass(attempted)
                window = (start, time.time())
                errors = wl.check(out)
            except Exception:  # a pass that raises counts as failed; keep measuring
                traceback.print_exc()
                failed += 1
                timed += time.perf_counter() - t_pass
                continue
            timed += wall
            if errors:
                print(f"perfbench: pass {attempted} failed its output check: {errors}", file=sys.stderr)
                failed += 1
                continue
            outs.append(out)
            windows.append(window)
            walls.append(wall)
            items.append(n_items / wall)
            steps.extend(pass_steps)
        if trace and outs:
            values.update(wl.layer_metrics(outs))
        peak_mb = harness.descendants_hwm_mb()
        app_id = spark.sparkContext.applicationId
        wl.close()
    finally:
        harness.stop_session(spark)
    if trace and outs:
        log = harness.EventLog(event_dir / app_id)
        values.update(wl.event_metrics(log, outs, windows))
        values.update(log.resources(windows))
        tracer.write(harness.WORK / "traces" / f"{name}-{seed}.json")

    end_to_end = {}
    if outs:
        end_to_end = {
            "setup_s": setup_s,
            "throughput": statistics.median(items),
            "step_s_p50": statistics.median(steps),
            "peak_rss_mb": peak_mb,
        }
        values.update(end_to_end)
    context.update(
        loadavg_post=_loadavg(),
        cpu_probe_post_s=cpu_drift_probe(PROBE_SPINS),
        pass_walls_s=walls,
        pass_s=harness.summary(walls),
        step_s=harness.summary(steps),
        throughput=harness.summary(items),
    )
    missing = [s["name"] for s in specs if s["name"] not in values]
    if trace:
        # a layer this workload does not exercise did no work: report 0
        context["not_exercised"] = missing
        for m in missing:
            values[m] = 0
        missing = []
        context["end_to_end"] = end_to_end
        context["trace_overhead"] = _trace_overhead(name, end_to_end)
    metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs if s["name"] in values}
    return {
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "context": context,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the self-test")
    args = ap.parse_args(argv)
    try:
        import bench  # noqa: F401
        import spider_spark  # noqa: F401
        import tests.golden_model  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine sources are not next to the benchmark: {exc}", file=sys.stderr)
        return 2
    result = measure(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    print("perfbench context: " + json.dumps(result["context"]))
    if not result["metrics"]:
        print("perfbench: no pass succeeded; no metrics to report", file=sys.stderr)
        return 1
    if not args.tiny:
        out = _results_dir(args.workload) / f"seed{args.seed}-trace{args.trace}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(result))
    del result["context"]
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
