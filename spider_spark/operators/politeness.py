"""Host-level politeness scheduler — a salted-key priority queue over DataFrames.

Reference semantics being reproduced (observable contract, SURVEY.md §2.2):

* per-host dispatch budget per wave:
  ``budget(host) = min(max_concurrency, floor(wave_seconds / crawl_delay))``
  with defaults from ``python_spiders/settings.py:24,31,76-78``
  (CONCURRENT_REQUESTS_PER_DOMAIN=16, AutoThrottle delay 0.1–2 s); a
  per-spider DOWNLOAD_DELAY override (``95bis_com.py:28``) is expressed
  by the caller as its hosts' ``crawl_delay_s`` in the policy dim;
* within a host, dispatch order is (priority DESC, discovered_seq ASC) —
  Scrapy pops highest priority first; our deterministic discovery
  sequence is the tie-break (the reference's in-process LIFO is not
  reproducible across a cluster, so discovery order is the documented
  contract, cf. SURVEY.md §4 "deterministic ordering reproduction");
* robots.txt prefix rules (engine feature; the reference disables it via
  ``ROBOTSTXT_OBEY=False``, ``settings.py:21`` — so the engine's
  ``obey_robots`` defaults False and the rules table is empty unless
  enabled). :func:`robots_filter` applies them to the frontier before
  :func:`schedule_wave` ranks it.

Scale design — the two-phase salted top-k:

A single hot host (crawler honeypots, link farms) puts its entire
pending queue in one window partition. Phase 1 ranks within
``(host, salt)`` where ``salt = pmod(xxhash64(fingerprint), n_salts)``
and keeps only ``k`` rows per salt bucket — any row in the true per-host
top-k must be in its salt bucket's top-k, so this is lossless. Phase 2
ranks the surviving ``<= n_salts * k`` rows per host exactly. The heavy
shuffle is on the salted key (uniform by construction); the exact pass
touches a bounded set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import (
    DEFAULT_CRAWL_DELAY_S,
    DEFAULT_MAX_CONCURRENCY,
)


#: Ordering contract within a host: priority DESC, discovery ASC (SQL
#: ORDER BY text; the ranking windows are SQL, parsed in one JVM call)
DISPATCH_ORDER = "priority DESC, discovered_seq ASC"


def host_budget_sql(wave_seconds: float) -> str:
    """SQL expression: per-host dispatch budget for one wave (columns
    from host_policy)."""
    return (
        f"greatest(1, least(coalesce(max_concurrency, {DEFAULT_MAX_CONCURRENCY}), CAST(floor("
        f"{float(wave_seconds)!r}D / coalesce(crawl_delay_s, {DEFAULT_CRAWL_DELAY_S!r}D)) AS INT)))"
    )


def topk_per_key_salted(
    df: DataFrame,
    key: str,
    k_col: str,
    n_salts: int = 16,
    order: str = DISPATCH_ORDER,
    salt_source: str = "fingerprint",
) -> DataFrame:
    """Exact per-key top-k with bounded skew.

    ``k_col`` is a per-row column holding that key's k (the politeness
    budget), constant within a key; ``order`` is SQL ORDER BY text.
    Lossless two-phase reduction as described in the module docstring.
    Emits ``dispatch_rank`` (1-based dispatch order within the key).
    """
    salted = df.withColumn(
        "_salt", F.expr(f"CAST(pmod(xxhash64({salt_source}), {n_salts}) AS INT)")
    )
    pre = (
        salted.selectExpr(
            "*", f"row_number() OVER (PARTITION BY {key}, _salt ORDER BY {order}) AS _rn1"
        )
        .filter(f"_rn1 <= {k_col}")
        .drop("_rn1", "_salt")
    )
    return pre.selectExpr(
        "*", f"row_number() OVER (PARTITION BY {key} ORDER BY {order}) AS dispatch_rank"
    ).filter(f"dispatch_rank <= {k_col}")


def robots_filter(frontier: DataFrame, host_policy: DataFrame, obey: bool) -> DataFrame:
    """Drop rows whose canonical path starts with a disallowed prefix.

    Broadcast-joins the (small) policy dim and checks prefixes with
    ``exists(robots_disallow, p -> startswith(path, p))`` — JVM-side
    higher-order function, no UDF. With ``obey=False`` (the reference's
    configuration) this is the identity.
    """
    if not obey:
        return frontier
    rules = host_policy.select("host", "robots_disallow")
    joined = frontier.join(F.broadcast(rules), on="host", how="left")
    # Empty path (http://host) means '/' per RFC 9309, so 'Disallow: /'
    # must block the root URL too (round-4 fix, mirrors robots_check).
    raw_path = F.regexp_extract(
        F.col("canonical_url"), r"^[a-z0-9+.-]+://[^/]*(/.*)$", 1
    )
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    blocked = F.exists(
        F.coalesce(F.col("robots_disallow"), F.array().cast("array<string>")),
        lambda p: path.startswith(p),
    )
    return joined.filter(~blocked).drop("robots_disallow")


#: columns that uniquely identify a frontier row (discovered_seq alone
#: is unique, the rest make the join key self-documenting)
ROW_KEY = ["crawl_id", "fingerprint", "dont_filter", "discovered_seq"]


def deferred_rows(pending: DataFrame, dispatched: DataFrame) -> DataFrame:
    """``pending`` without the rows of ``dispatched``: a left-anti join
    on ``ROW_KEY`` with the dispatched keys broadcast. A wave's
    dispatch set is bounded by the sum of its host budgets, and only
    the key columns cross, so the broadcast side stays small whatever
    the frontier's size (SIGMOD'21 *To Partition, or Not to
    Partition*)."""
    return pending.join(
        F.broadcast(dispatched.selectExpr(*ROW_KEY)), on=ROW_KEY, how="left_anti"
    )


def schedule_wave(
    pending: DataFrame,
    host_policy: DataFrame,
    wave_seconds: float = 1.0,
    n_salts: int = 16,
    global_cap: int | None = None,
) -> DataFrame:
    """Select this wave's dispatch set from the pending frontier.

    Returns the dispatch rows. ``host_policy`` is broadcast (a per-host
    dim — thousands of rows, not billions). The full rows are ranked
    directly: one pass over ``pending``, with the salted window bounding
    any single partition. The rows that wait for a later wave are
    :func:`deferred_rows` of ``pending`` and the dispatch rows; a caller
    that materializes the dispatch rows (the crawl engine's fetched
    cache) passes those, so the ranking runs once per wave. Apply
    :func:`robots_filter` to ``pending`` first: a blocked row is
    neither dispatched nor deferred.

    ``global_cap`` applies the reference's fleet-wide in-flight bound
    (CONCURRENT_REQUESTS=320, ``settings.py:24``) AFTER per-host
    budgets, ordered by (priority DESC, discovered_seq ASC); the
    sort+limit plans as TakeOrderedAndProject (per-partition top-k +
    merge — no global sort).
    """
    policy = host_policy.selectExpr("host", "crawl_delay_s", "max_concurrency")
    enriched = pending.join(F.broadcast(policy), on="host", how="left").withColumn(
        "_budget", F.expr(host_budget_sql(wave_seconds))
    )
    winners = topk_per_key_salted(enriched, key="host", k_col="_budget", n_salts=n_salts)
    winners = winners.drop("crawl_delay_s", "max_concurrency", "_budget")
    if global_cap is not None:
        winners = winners.sparkSession.sql(
            f"SELECT * FROM {{w}} ORDER BY {DISPATCH_ORDER} LIMIT {int(global_cap)}",
            w=winners,
        )
    return winners
