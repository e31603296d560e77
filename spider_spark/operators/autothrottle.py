"""AutoThrottle: adaptive per-host crawl delay from observed latency.

Reference behavior (Scrapy AutoThrottle, enabled at
``python_spiders/settings.py:74-78``): per-slot target concurrency
``AUTOTHROTTLE_TARGET_CONCURRENCY=1.0`` with delay adapted toward
``latency / target``, clamped to [START_DELAY=0.1 s, MAX_DELAY=2 s],
and never decreased after a non-200 (the throttling engine only backs
off on errors).

Wave-structured equivalent: after each wave, fold the wave's per-host
latency aggregate into the policy table via EMA —

    delay' = clamp(0.5 * (delay + latency_ema / target), 0.1, 2.0)
    (only allowed to DECREASE when the wave had no errors for the host)

which is Scrapy's ``_adjust_delay`` re-expressed as a join + column
expressions. The policy table is a per-host dim (thousands of rows):
the update is a broadcast-size job regardless of frontier scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import DEFAULT_CRAWL_DELAY_S, MAX_CRAWL_DELAY_S

TARGET_CONCURRENCY = 1.0  # AUTOTHROTTLE_TARGET_CONCURRENCY (settings.py:77)


def wave_latency_stats(fetched: DataFrame) -> DataFrame:
    """Per-host latency/error aggregate for one wave.

    ``fetched`` needs columns host, status, latency_ms (the synthetic
    fetch backend derives a deterministic latency; the HTTP backend
    measures it).
    """
    return fetched.groupBy("host").agg(
        F.avg("latency_ms").alias("latency_ms_avg"),
        F.sum((F.col("status") != 200).cast("long")).alias("n_errors"),
        F.count("*").alias("n_fetched"),
    )


def updated_policy(
    host_policy: DataFrame,
    latency: DataFrame,
    start_delay_s: float = DEFAULT_CRAWL_DELAY_S,
    max_delay_s: float = MAX_CRAWL_DELAY_S,
) -> DataFrame:
    """Fold one wave's latency stats into the policy's crawl_delay_s.

    Hosts without traffic this wave keep their delay. The output has the
    host_policy schema, ready for the next wave's scheduler broadcast.
    """
    cur = F.coalesce(F.col("crawl_delay_s"), F.lit(start_delay_s))
    target = (F.col("latency_ms_avg") / 1000.0) / F.lit(TARGET_CONCURRENCY)
    new = (cur + target) / 2.0
    had_errors = F.coalesce(F.col("n_errors"), F.lit(0)) > 0
    # Scrapy rule: don't decrease the delay after an error wave
    proposed = F.when(had_errors & (new < cur), cur).otherwise(new)
    clamped = F.least(F.greatest(proposed, F.lit(start_delay_s)), F.lit(max_delay_s))
    return (
        host_policy.join(latency, on="host", how="left")
        .withColumn(
            "crawl_delay_s",
            F.when(F.col("latency_ms_avg").isNull(), cur).otherwise(clamped),
        )
        .select("host", "crawl_delay_s", "max_concurrency", "robots_disallow")
    )


def host_fetch_rates(fetch_log: DataFrame, window: str = "1 minute") -> DataFrame:
    """Per-host fetch rate + error ratio over tumbling windows of a
    fetch log (ts, host, status, latency_ms) — the time-windowed view of
    the per-wave metrics table that feeds AutoThrottle."""
    ts = F.col("ts").cast("timestamp")
    return fetch_log.groupBy(F.window(ts, window).alias("win"), F.col("host")).agg(
        F.count("*").alias("fetched"),
        F.avg(F.col("latency_ms")).alias("avg_latency_ms"),
        F.sum((F.col("status") != 200).cast("long")).alias("errors"),
    ).select(
        F.col("win.start").alias("window_start"),
        "host",
        "fetched",
        F.round("avg_latency_ms", 2).alias("avg_latency_ms"),
        "errors",
    )


def with_latency(fetched: DataFrame, seed: int = 42) -> DataFrame:
    """The latency frame the policy fold should adapt to: pass the
    fetch backend's MEASURED ``latency_ms`` through untouched when
    present (fetch_http measures one); only the synthetic join backend
    — which has no latency — gets the deterministic stand-in. Keeps
    the policy from adapting to hash noise when real measurements
    exist (round-1 advice finding)."""
    if "latency_ms" in fetched.columns:
        return fetched
    return synthetic_latency(fetched, seed)


def synthetic_latency(fetched: DataFrame, seed: int = 42) -> DataFrame:
    """Deterministic per-fetch latency for the synthetic backend:
    100-1500 ms derived from xxhash64(canonical_url) — stable across
    runs so AutoThrottle tests are reproducible."""
    return fetched.withColumn(
        "latency_ms",
        (F.pmod(F.xxhash64(F.col("canonical_url"), F.lit(seed)), F.lit(1400)) + 100).cast(
            "double"
        ),
    )
