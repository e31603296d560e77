"""Session sizing, tracing and measurement shared by every workload.

Layers are measured only from outside the engine: the benchmark times
its own calls into each module's public functions (``Tracer.span``),
and Spark's event log, read after the session stops, names the jobs,
stages, tasks and resources behind each span. Nothing here imports an
engine internal.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
#: everything a run writes lives here (listed in the root .gitignore)
WORK = ROOT / ".perfbench_work"


def box_settings() -> dict[str, str]:
    """The session's own environment settings, sized for this box: all
    CPUs the process may use, a driver heap of a sixteenth of physical RAM
    capped at 1 GiB (small enough that the heap fills and peak RSS is
    repeatable), and shuffle/spill files inside the checkout."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(1024, ram_mb // 16)}m",
        "SPARK_GRAFT_LOCAL_DIR": str(WORK / "local"),
    }


def configure_environment() -> dict[str, str]:
    """Apply :func:`box_settings` and point every temp dir into WORK, so
    a run reads and writes only inside its checkout."""
    settings = box_settings()
    os.makedirs(settings["SPARK_GRAFT_LOCAL_DIR"], exist_ok=True)
    tmp = WORK / "tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(settings)
    os.environ["TMPDIR"] = str(tmp)
    # spark-submit's launcher JVM: no hsperfdata file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None  # re-read TMPDIR on next use
    return settings


def start_session(event_dir: Path | None):
    """Start ``local[$SPARK_GRAFT_CPUS]``; with ``event_dir`` Spark's
    event log is written there as one plain uncompressed file."""
    from spider_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (its Python workers
    exit with it), so a run leaves no process behind. The JVM exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def warm_session(spark) -> float:
    """Generic warm-up: one shuffle job and one Arrow round trip, so the
    first timed job does not pay JVM class loading or the Python-worker
    fork."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    spark.range(1_000).toPandas()
    return time.perf_counter() - t0


class Tracer:
    """In-memory spans: name, id, parent, start, end (epoch seconds, the
    clock Spark's event log uses) and attributes. Disabled, it records
    nothing and sets no job group, so untraced runs pay nothing.

    ``span(..., group=...)`` also sets Spark's thread-local job group
    for the calls inside it, which attributes event-log jobs to the
    span."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> int:
        with self._lock:
            sid = next(self._ids)
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "start": start, "end": end, **attrs}
            )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.add(name, start, end, group=group, **attrs)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def write(self, path: Path) -> None:
        os.makedirs(path.parent, exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


class EventLog:
    """Jobs, completed stages and finished tasks of one application,
    read from its plain-file event log (times in epoch seconds)."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_done: set[int] = set()
        self.tasks: list[dict] = []
        with open(path) as f:
            for raw in f:
                ev = json.loads(raw)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000,
                        "end": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        self.stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    self.stages_done.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    self.tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "finish": info.get("Finish Time", 0) / 1000,
                            "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000,
                            "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                            "rows_in": (tm.get("Shuffle Read Metrics") or {}).get(
                                "Total Records Read", 0
                            )
                            + (tm.get("Input Metrics") or {}).get("Records Read", 0),
                        }
                    )

    def jobs_between(self, start: float, end: float) -> list[int]:
        return [j for j, job in self.jobs.items() if start <= job["start"] < end]

    def stages_of(self, jobs: list[int]) -> list[int]:
        js = set(jobs)
        return [s for s, j in self.stage_job.items() if j in js and s in self.stages_done]

    def tasks_of(self, jobs: list[int]) -> list[dict]:
        stages = set(self.stages_of(jobs))
        return [t for t in self.tasks if t["stage"] in stages]

    def busy_s(self, start: float, end: float) -> float:
        """Seconds of [start, end) during which at least one job ran."""
        busy, reach = 0.0, start
        spans = sorted(
            (max(j["start"], start), min(j["end"] or end, end)) for j in self.jobs.values()
        )
        for s, e in spans:
            s = max(s, reach)
            if e > s:
                busy += e - s
                reach = e
        return busy

    def resources(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """Spark resource totals of the tasks that finished inside the
        given (start, end) windows."""
        tasks = [t for t in self.tasks if any(a <= t["finish"] < b for a, b in windows)]
        return {
            "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "spark.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
            "spark.spill_bytes": sum(t["spill_bytes"] for t in tasks),
            "spark.gc_s": sum(t["gc_s"] for t in tasks),
        }


# ---------------------------------------------------------------------------
# process memory, statistics
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; ppid follows ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants_hwm_mb() -> float:
    """Sum of VmHWM (peak resident set) over every descendant of this
    process: the driver JVM and its Python workers."""
    kids = _children()
    todo, total_kb = list(kids.get(os.getpid(), [])), 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def summary(xs: list[float]) -> dict:
    """Median, quartiles and sample count."""
    out = {"n": len(xs), "median": statistics.median(xs) if xs else None}
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out.update(q1=q1, q3=q3)
    return out
