"""Benchmark harness (driver contract).

Default mode: runs the headline operators at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric follows BASELINE.json: frontier throughput — URLs
admitted (canonicalize -> fingerprint -> intra-batch dedup -> politeness
top-k schedule) per second over a synthetic frontier generated entirely
from column expressions (spider_spark.synth.gen_frontier_df — the same
expression tree that would materialize 10^10 rows on a cluster).

``--frontier-only --cpus N --n M`` runs just the frontier pipeline at a
given parallelism and prints the same JSON shape; tools/scale_bench.py
uses it to measure N-vs-4N-core scaling efficiency in separate JVMs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from spider_spark.functions import text as TX  # noqa: E402
from spider_spark.functions.urls import with_url_identity  # noqa: E402
from spider_spark.operators import ann as ANN  # noqa: E402
from spider_spark.operators import anchortext as AX  # noqa: E402
from spider_spark.operators import lmquality as LM  # noqa: E402
from spider_spark.operators import dedup as D  # noqa: E402
from spider_spark.operators import politeness as P  # noqa: E402
from spider_spark.operators import textdedup as TD  # noqa: E402
from spider_spark.session import get_spark  # noqa: E402
from spider_spark.synth import gen_frontier_df  # noqa: E402

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_FRONTIER = int(os.environ.get("SPARK_GRAFT_BENCH_URLS", 2_000_000))
N_HOSTS = 2_000


def frontier_pipeline(spark, n_urls: int):
    """The north-rule hot path: admit + schedule one wave of a raw
    frontier. Returns (dispatch_count, candidate_count).

    The admitted frontier is persisted before scheduling — matching the
    engine, where each wave's pending set is a materialized table
    (store.write_wave/read_table). Without it the scheduler's
    rank-then-join-back shape would re-run the canonicalize UDF.
    """
    raw = gen_frontier_df(spark, n_urls, n_hosts=N_HOSTS)
    cand = with_url_identity(raw.withColumn("crawl_id", F.lit("bench")), 1024)
    admitted = D.dedup_intra_batch(cand).persist()
    admitted.count()
    policy = spark.range(N_HOSTS).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example")).alias("host"),
        F.when(F.col("id") % 7 == 0, 1.0).otherwise(0.125).alias("crawl_delay_s"),
        F.lit(16).alias("max_concurrency"),
        F.array().cast("array<string>").alias("robots_disallow"),
    )
    dispatch = P.schedule_wave(admitted, policy, wave_seconds=2.0, n_salts=16)
    n = dispatch.count()
    admitted.unpersist()
    return n, n_urls


def bench_seen_set(spark, n_urls: int = 1_000_000):
    """Cross-wave Bloom seen-set at bench scale: wave 1 admits all and
    folds fingerprints into per-bucket filters; wave 2 re-checks the
    same candidates against the updated filters (expect ~0 admitted —
    Bloom FPs only). Exercises the applyInPandas cogroup hot path."""
    raw = gen_frontier_df(spark, n_urls, n_hosts=N_HOSTS).withColumn(
        "crawl_id", F.lit("bench")
    )
    cand = D.dedup_intra_batch(with_url_identity(raw, 256)).persist()
    cand.count()
    spec = D.BloomSpec(capacity=max(n_urls // 256 * 4, 1 << 16), fpr=1e-6)
    empty = spark.createDataFrame(
        [], "crawl_id string, host_bucket int, wave int, filter_bytes binary"
    )
    t0 = time.monotonic()
    admitted = D.dedup_filter(cand, empty, spec).persist()
    n1 = admitted.count()
    filters = D.updated_filters(admitted, empty, spec, 1).persist()
    filters.count()
    t1 = time.monotonic()
    n2 = D.dedup_filter(cand, filters, spec).count()
    t2 = time.monotonic()
    cand.unpersist(), admitted.unpersist(), filters.unpersist()
    return {
        "bloom_insert": round(t1 - t0, 3),
        "bloom_recheck": round(t2 - t1, 3),
        "_admitted_wave1": n1,
        "_admitted_wave2": n2,
    }


def bench_crawl_loop(spark, reps: int | None = None):
    """Full engine loop (admit -> schedule -> fetch -> parse -> commit)
    on a ~26k-page synthetic web, shallow pagination so BSP fixed costs
    amortize into real per-wave work. Reports docs/sec.

    Runs ``reps`` times (default 3, env SPARK_GRAFT_CRAWL_REPS) and
    reports the MEDIAN with the min/max spread — crawl_loop was the one
    n=1 stage in r1/r2, which made its numbers indistinguishable from
    box noise (VERDICT r2 item 2)."""
    import shutil
    import tempfile

    from spider_spark.plans.engine import CrawlConfig, CrawlEngine
    from spider_spark.storage.catalog import SnapshotStore
    from spider_spark.synth import WebSpec, host_policy_df, seeds_df, web_df

    reps = reps or int(os.environ.get("SPARK_GRAFT_CRAWL_REPS", 3))
    # breadth-shaped fleet crawl (many hosts, shallow pagination): the
    # politeness budget (16/host/wave) then bounds the wave count, not
    # the host count — the axis that actually grows at fleet scale
    spec = WebSpec(
        seed=42, n_hosts=500, pages_per_host=1, details_per_page=50, hot_host_factor=4
    )
    web = web_df(spark, spec).persist()
    policy = host_policy_df(spark, spec)
    times, totals = [], {}
    for _ in range(reps):
        root = tempfile.mkdtemp(
            prefix="bench_crawl_",
            dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        )
        eng = CrawlEngine(
            spark,
            web,
            policy,
            SnapshotStore(spark, root),
            CrawlConfig(crawl_id="bench", n_buckets=64, wave_seconds=8.0, max_waves=12),
        )
        t0 = time.monotonic()
        totals = eng.run(seeds_df(spark, spec))
        times.append(time.monotonic() - t0)
        eng.close()  # drop the per-engine canonical-web cache between reps
        shutil.rmtree(root, ignore_errors=True)
    web.unpersist()
    times.sort()
    med = times[len(times) // 2]
    return med, {
        "docs": totals["docs"],
        "waves": totals["waves"],
        "docs_per_sec": round(totals["docs"] / med),
        "per_wave_s": round(med / max(totals["waves"], 1), 2),
        "runs_s": [round(t, 2) for t in times],
    }


def bench_frontier(spark, reps: int = 2):
    best, dispatched = None, 0
    for _ in range(reps):
        t0 = time.monotonic()
        dispatched, n = frontier_pipeline(spark, N_FRONTIER)
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    return best, {
        "dispatched": dispatched,
        "urls": N_FRONTIER,
        "urls_per_sec": round(N_FRONTIER / best),
    }


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def bench_queries(spark, sf_dir: str):
    """Headline per-operator timings at the bench scale factor.

    The sf parquet files are single small files (one partition); a real
    deployment reads many splits, so repartition+cache to measure the
    operators, not a single-task scan.
    """
    par = spark.sparkContext.defaultParallelism * 2
    docs = _docs(spark, sf_dir).repartition(par).persist()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(par).persist()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(par).persist()
    docs.count(), emb.count(), ev.count()  # materialize before timing

    def q_text_scan():
        return docs.select(
            "doc_id",
            TX.token_count(F.col("text")).alias("nt"),
            TX.lang_id(F.col("text")).alias("lg"),
            TX.quality_score(F.col("text")).alias("q"),
            TX.doc_fingerprint(F.col("text")).alias("fp"),
        ).count()

    def q_exact_dedup():
        return TD.exact_dedup(docs).count()

    def q_minhash_lsh():
        return TD.minhash_lsh_pairs(docs, n_hashes=8, bands=4, shingle_n=5).count()

    def q_substring_dedup():
        # ExactSubstr at k-gram granularity (the heaviest dedup
        # operator: per-window hashing HOF -> corpus-wide window
        # groupBy -> span merge -> token filter); benched so skew on
        # hot boilerplate grams is measured, not asserted (r4 ask #6)
        return TD.substring_dedup(docs, k=8).count()

    def q_simhash():
        return TD.simhash_bits(docs, n_bits=32).count()

    def q_ann_topk():
        queries = emb.filter(F.col("vec_id") % 200 == 0)
        return ANN.brute_force_topk(emb, queries, k=5).count()

    def q_ann_lsh():
        queries = emb.filter(F.col("vec_id") % 200 == 0)
        return ANN.lsh_bucketed_topk(emb, queries, dim=64, k=5).count()

    def q_ann_ivf():
        queries = emb.filter(F.col("vec_id") % 200 == 0)
        return ANN.ivf_topk(
            emb, queries, dim=64, k=5, n_centroids=32, n_probe=6
        ).count()

    def q_events_hourly():
        return (
            ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
            .agg(F.count("*"), F.sum("value"))
            .count()
        )

    def q_lm_quality():
        # fit + score in one stage: one token shuffle for the model,
        # broadcast join + doc_id re-agg for the scoring
        model = LM.fit_unigram(docs, min_count=2, vocab_cap=4096)
        return LM.score_unigram(docs, model).count()

    def q_anchor_topk():
        # anchor aggregation over a synthesized edge set at corpus
        # scale (the HTML-parse Arrow crossing is benched via the
        # crawl loop; this stage times the aggregate + salted top-k)
        e = docs.select(
            F.concat(F.lit("http://h"), (F.col("doc_id") % 97)).alias("src"),
            F.concat(F.lit("http://t"), (F.col("doc_id") % 11)).alias("dst"),
            F.substring("text", 1, 16).alias("anchor"),
        )
        return AX.anchor_profiles(e, k=10).count()

    out = {}
    for name, fn in [
        ("text_scan", q_text_scan),
        ("exact_dedup", q_exact_dedup),
        ("minhash_lsh", q_minhash_lsh),
        ("substring_dedup", q_substring_dedup),
        ("simhash", q_simhash),
        ("ann_topk", q_ann_topk),
        ("ann_lsh", q_ann_lsh),
        ("ann_ivf", q_ann_ivf),
        ("events_hourly", q_events_hourly),
        ("lm_quality", q_lm_quality),
        ("anchor_topk", q_anchor_topk),
    ]:
        # best of 2: single-run numbers are noisy on a shared box
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            fn()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    return out


def cpu_drift_probe(spins: int = 20_000_000) -> float:
    """Single-process fixed busy-spin wall time. Run before and after the
    bench: if the two numbers differ materially (>15%), the box slowed or
    sped up mid-run and the per-query deltas vs earlier rounds are noise,
    not code. Recorded in the output JSON so the artifact carries its own
    noise evidence (rounds 1->2 were compared blind to box drift)."""
    i = 0
    t0 = time.monotonic()
    while i < spins:
        i += 1
    return round(time.monotonic() - t0, 3)


def _loadavg() -> list[float]:
    """1/5/15-min system loadavg (0s where unreadable)."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return [0.0, 0.0, 0.0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--frontier-only", action="store_true")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--n", type=int, default=None)
    args = ap.parse_args()

    if args.n:
        global N_FRONTIER
        N_FRONTIER = args.n

    # benches opt into tmpfs local dirs (shared-disk spill serializes
    # multi-core scaling on this box); ordinary sessions stay on disk
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm")
    probe_pre = cpu_drift_probe()
    loadavg_pre = _loadavg()
    spark = get_spark("spider_spark_bench", cpus=args.cpus)
    cpus = spark.sparkContext.defaultParallelism
    sf_dir = DEFAULT_SF_DIR
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # warm the JVM + Python-worker pool (pandas UDF workers fork+import
    # on first use; whole-stage codegen JIT-compiles on early runs) so
    # timings measure the operators — the warm-up frontier is sized to
    # give every worker several Arrow batches
    spark.range(1_000_000).select(F.sum("id")).collect()
    frontier_pipeline(spark, 1_000_000)

    frontier_s, fstats = bench_frontier(spark)
    queries = {"frontier_wave": round(frontier_s, 3)}
    crawl_stats = {}
    if not args.frontier_only:
        seen = bench_seen_set(spark)
        queries.update({k: v for k, v in seen.items() if not k.startswith("_")})
        loop_s, crawl_stats = bench_crawl_loop(spark)
        queries["crawl_loop"] = round(loop_s, 3)
        queries.update(bench_queries(spark, sf_dir))

    result = {
        "metric": "headline wall time (frontier wave + corpus operators)",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "frontier_urls": fstats["urls"],
        "frontier_dispatched": fstats["dispatched"],
        "frontier_urls_per_sec": fstats["urls_per_sec"],
        "crawl_loop": crawl_stats,
        "cpus": cpus,
        "cpu_probe_s": {"pre": probe_pre, "post": cpu_drift_probe()},
        # tenant forensics: start/end CPU probes miss a co-tenant that is
        # only active MID-run (observed 2026-08-19: clean probes, 10x
        # inflated shuffle stages); the 1/5/15-min loadavg triple at both
        # ends dates such interference
        "loadavg": {"pre": loadavg_pre, "post": _loadavg()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
