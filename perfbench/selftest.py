"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

1. Every workload runs through the command (``run.py --tiny``), untraced
   and traced; each run's last stdout line is a correct result naming
   every metric BENCHMARK.json lists for that mode, with its unit.
2. A deliberately corrupted output fails each workload's output check:
   one dropped document (crawl_fleet), one dropped span
   (parse_curate). The uncorrupted output of the same pass passes.
3. In a directory holding only BENCHMARK.json and the benchmark, the
   command exits non-zero without printing a result.

Exits 0 when everything holds; prints one line per check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import harness  # noqa: E402
from perfbench.run import WORKLOADS, _workload_class  # noqa: E402

SEED = 3
failures: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def command(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=300,
    )


def check_command_output() -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = command(
                ["--workload", workload, "--seed", str(SEED), "--seconds", "1",
                 "--trace", str(trace), "--tiny"],
                ROOT,
            )
            what = f"{workload} --trace {trace}"
            try:
                result = json.loads(proc.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                expect(False, f"{what}: exit {proc.returncode}, no result line\n{proc.stderr[-2000:]}")
                continue
            expect(proc.returncode == 0 and result["correct"] and result["failed"] == 0,
                   f"{what}: exit 0, correct, no failed pass")
            expect(set(result) == {"correct", "attempted", "failed", "metrics"},
                   f"{what}: result has exactly correct/attempted/failed/metrics")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {name: m["unit"] for name, m in result["metrics"].items()}
            expect(got == want, f"{what}: prints every {key} metric with its unit")
            if trace == 0:
                expect(all(m["value"] > 0 for m in result["metrics"].values()),
                       f"{what}: every end-to-end metric is non-zero")


def check_corrupted_outputs() -> None:
    harness.configure_environment()
    spark, _ = harness.start_session(None)
    tracer = harness.Tracer(spark, False)
    try:
        for workload in WORKLOADS:
            wl = _workload_class(workload)(spark, SEED, tracer, True)
            wl.setup()
            out = wl.run_pass(1)[3]
            if workload == "crawl_fleet":
                docs, seen = wl.collect(out)
                expect(wl.verify(docs, seen) == [], f"{workload}: clean output passes")
                docs.pop(next(iter(docs)))
                expect(wl.verify(docs, seen) != [], f"{workload}: one dropped document fails")
                out.engine.close()
            else:
                got, main_text = wl.collect(out)
                expect(wl.verify(got, main_text) == [], f"{workload}: clean output passes")
                url = next(iter(got))
                links, spans = got[url]
                got[url] = (links, spans[:-1])
                expect(wl.verify(got, main_text) != [], f"{workload}: one dropped span fails")
            wl.close()
    finally:
        harness.stop_session(spark)


def check_bare_directory() -> None:
    bare = harness.WORK / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = command(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    last = (proc.stdout.strip().splitlines() or [""])[-1]
    expect(proc.returncode != 0 and not last.startswith("{"),
           "bare directory: exits non-zero without a result")
    shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    check_bare_directory()
    check_command_output()
    check_corrupted_outputs()
    print("self-test " + ("FAILED: " + "; ".join(failures) if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
