"""crawl_fleet: ``CrawlEngine.run`` to fixpoint on a breadth-shaped web.

The web has 80 thin hosts (one listing page of a dozen details each)
plus one hot host with twice the pages, crawled with the default exact
seen-set. Every wave's fixed cost in ``plans.engine`` and
``storage.catalog`` dominates; admission and UDF work per wave is small.

The shape is seed-stable: every seed reaches fixpoint in the same number
of waves, so docs/s across seeds measures the engine, not the web.
Scaled down from the 500-host bench crawl loop: each wave costs seconds
of fixed Spark job overhead on a 4-CPU box, and a run must fit in the
benchmark's time budget.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from spider_spark.plans.engine import CrawlConfig, CrawlEngine
from spider_spark.storage.catalog import SnapshotStore
from spider_spark.synth import WebSpec, host_policy_df, seeds_df, web_df
from tests.golden_model import GoldenCrawl

from .harness import WORK, EventLog, Tracer

#: no split items and one retry (not the default three): the retry arm
#: stays live, and every seed reaches fixpoint in four dispatch waves
WEB = {
    "full": dict(n_hosts=80, pages_per_host=1, details_per_page=12, hot_host_factor=2, split_item_rate=0.0),
    "tiny": dict(n_hosts=3, pages_per_host=1, details_per_page=3, hot_host_factor=2, split_item_rate=0.0),
}
CONFIG = dict(crawl_id="fleet", n_buckets=64, wave_seconds=8.0, max_waves=64, retry_times=1)
WRITE_TABLES = ("documents", "frontier", "url_seen", "metrics")


class RecordingStore(SnapshotStore):
    """SnapshotStore that records each call the engine makes on it.

    Commit timestamps are always kept (they delimit waves). With an
    enabled tracer every call also becomes a span, and each
    ``write_wave`` runs under its own thread-local job group so the
    event log attributes jobs, stages and tasks to the write that ran
    them."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self.commits: list[tuple[int, float]] = []

    def write_wave(self, table, wave, df):
        with self.tracer.span(f"store.write.{table}", group=f"store.write.{table}.{wave}"):
            super().write_wave(table, wave, df)

    def commit_wave(self, wave, extra=None):
        with self.tracer.span("store.commit"):
            super().commit_wave(wave, extra)
        self.commits.append((wave, time.time()))

    def read_table(self, table, mode, schema=None):
        if not self.tracer.enabled:
            return super().read_table(table, mode, schema)
        n_dirs = len(self._read_dirs(table, mode))
        with self.tracer.span(f"store.read.{table}", read_dirs=min(n_dirs, 1) if mode == "latest" else n_dirs):
            return super().read_table(table, mode, schema)


class CountingGolden(GoldenCrawl):
    """The golden model, also counting the candidates offered to
    admission (the base of the dedup drop ratio)."""

    candidates = 0

    def _admit(self, candidates):
        self.candidates += sum(1 for c in candidates if not c["dont_filter"])
        return super()._admit(candidates)


def span_digest(spans) -> str:
    """Hash of one document's span sequence (kind, text, media_ref, offset)."""
    flat = "\x1e".join(
        f"{s['kind']}\x1f{s['text']}\x1f{s['media_ref']}\x1f{s['offset']}" for s in spans
    )
    return hashlib.sha1(flat.encode()).hexdigest()


@dataclass
class CrawlOutput:
    engine: CrawlEngine
    store: RecordingStore
    totals: dict
    end: float


class CrawlFleet:
    name = "crawl_fleet"

    def __init__(self, spark, seed: int, tracer: Tracer, tiny: bool):
        self.spark = spark
        self.tracer = tracer
        self.spec = WebSpec(seed=seed, **WEB["tiny" if tiny else "full"])
        self.roots: list[str] = []

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.web = web_df(self.spark, self.spec).persist()
        rows = self.web.count()
        self.policy = host_policy_df(self.spark, self.spec).persist()
        self.policy.count()
        self.seeds = seeds_df(self.spark, self.spec).persist()
        self.seeds.count()
        gen_s = time.perf_counter() - t0
        golden = CountingGolden(
            self.spec,
            wave_seconds=CONFIG["wave_seconds"],
            max_waves=CONFIG["max_waves"],
            retry_times=CONFIG["retry_times"],
        )
        golden.run()
        self.golden_docs = {d: span_digest(s) for d, s in golden.documents.items()}
        self.golden_seen = golden.seen
        self.golden_candidates = golden.candidates
        # one untimed crawl of the same web: the JVM's first run of every
        # wave's plans is up to twice as slow and varies run to run
        self.run_pass(0)[3].engine.close()
        return {"synth.gen_s": gen_s, "synth.rows": rows}

    def run_pass(self, i: int):
        root = str(WORK / "stores" / f"{self.name}-{self.spec.seed}-{i}")
        shutil.rmtree(root, ignore_errors=True)
        self.roots.append(root)
        store = RecordingStore(self.spark, root, self.tracer)
        engine = CrawlEngine(self.spark, self.web, self.policy, store, CrawlConfig(**CONFIG))
        t0 = time.perf_counter()
        totals = engine.run(self.seeds)
        wall = time.perf_counter() - t0
        ts = [t for _, t in store.commits]
        waves = [b - a for a, b in zip(ts, ts[1:])]
        out = CrawlOutput(engine, store, totals, time.time())
        return totals["docs"], wall, waves, out

    # -- output check (untimed) ----------------------------------------------
    def collect(self, out: CrawlOutput):
        docs = {
            r["doc_id"]: span_digest(r["spans"])
            for r in out.engine.documents().select("doc_id", "spans").collect()
        }
        seen = [r["fingerprint"] for r in out.engine.url_seen().select("fingerprint").collect()]
        return docs, seen

    def verify(self, docs: dict, seen: list) -> list[str]:
        errors = []
        missing = self.golden_docs.keys() - docs.keys()
        extra = docs.keys() - self.golden_docs.keys()
        if missing or extra:
            errors.append(f"document ids differ: {len(missing)} missing, {len(extra)} extra")
        wrong = [d for d in docs.keys() & self.golden_docs.keys() if docs[d] != self.golden_docs[d]]
        if wrong:
            errors.append(f"{len(wrong)} documents' span sequences differ, e.g. {wrong[0]}")
        if len(seen) != len(set(seen)) or set(seen) != self.golden_seen:
            errors.append(
                f"url_seen differs: {len(seen)} rows vs {len(self.golden_seen)} golden fingerprints"
            )
        return errors

    def check(self, out: CrawlOutput) -> list[str]:
        errors = self.verify(*self.collect(out))
        out.engine.close()
        return errors

    # -- per-layer metrics (traced runs) --------------------------------------
    def layer_metrics(self, outs: list[CrawlOutput]) -> dict:
        out = outs[-1]
        m = out.engine.metrics().agg(
            F.sum("fetched").alias("fetched"), F.sum("retried").alias("retried")
        ).first()
        seen_rows = out.engine.url_seen().count()
        files = bytes_ = 0
        for dirpath, _, names in os.walk(out.store.root):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    bytes_ += os.path.getsize(os.path.join(dirpath, n))
        waves = max(out.totals["waves"], 1)
        windows = self._wave_windows(out)
        # store calls of the dispatch waves (wave 0 only admits the seeds)
        first = windows[0][0] if windows else out.end
        store_spans = [
            s for s in self.tracer.spans if s["name"].startswith("store.") and first <= s["start"] < out.end
        ]
        writes = [s for s in store_spans if s["name"].startswith("store.write.")]
        phase_s = 0.0
        for a, b in windows:
            inside = [s for s in writes if a <= s["start"] < b]
            if inside:
                phase_s += max(s["end"] for s in inside) - min(s["start"] for s in inside)
        write_total = sum(s["end"] - s["start"] for s in writes)
        commits = [s for s in store_spans if s["name"] == "store.commit"]
        metrics = {
            "engine.waves": out.totals["waves"],
            "crawl.fetched": m["fetched"],
            "crawl.retried": m["retried"],
            "crawl.useful_fetch_ratio": out.totals["docs"] / max(m["fetched"], 1),
            "crawl.dedup_drop_ratio": 1 - seen_rows / max(self.golden_candidates, 1),
            "store.write_phase_s": phase_s / waves,
            "store.write_overlap": write_total / phase_s if phase_s else 0.0,
            "store.commit_s": sum(s["end"] - s["start"] for s in commits) / max(len(commits), 1),
            "store.files_written": files,
            "store.bytes_written": bytes_,
            "store.read_dirs": sum(s.get("read_dirs", 0) for s in store_spans),
        }
        for table in WRITE_TABLES:
            spent = sum(s["end"] - s["start"] for s in writes if s["name"] == f"store.write.{table}")
            metrics[f"store.write_s.{table}"] = spent / waves
        # one span per wave (commit to commit); store calls are its children
        for w, (a, b) in enumerate(windows, start=1):
            sid = self.tracer.add("engine.wave", a, b, wave=w)
            for s in store_spans:
                if a <= s["start"] < b:
                    s["parent"] = sid
        return metrics

    def event_metrics(self, log: EventLog, outs: list[CrawlOutput], windows) -> dict:
        windows = self._wave_windows(outs[-1])
        jobs = stages = tasks = 0
        gap = 0.0
        for a, b in windows:
            js = log.jobs_between(a, b)
            jobs += len(js)
            stages += len(log.stages_of(js))
            tasks += len(log.tasks_of(js))
            gap += (b - a) - log.busy_s(a, b)
        n = max(len(windows), 1)
        return {
            "engine.jobs_per_wave": jobs / n,
            "engine.stages_per_wave": stages / n,
            "engine.tasks_per_wave": tasks / n,
            "engine.driver_gap_s": gap / n,
        }

    @staticmethod
    def _wave_windows(out: CrawlOutput) -> list[tuple[float, float]]:
        ts = [t for _, t in out.store.commits]
        return list(zip(ts, ts[1:]))

    def close(self) -> None:
        for root in self.roots:
            shutil.rmtree(root, ignore_errors=True)
