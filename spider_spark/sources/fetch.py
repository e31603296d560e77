"""Fetch stage: dispatch set -> fetch results.

Two backends behind one contract (columns added: ``status``,
``out_links``, ``spans``, ``is_listing_page``, ``user_agent``):

* :func:`fetch_synthetic` — equi-join against a ``web_pages`` table on
  ``canonical_url``. This is the test/bench backend (FIXTURES.md): the
  join IS the "network". URLs absent from the web resolve to 404,
  matching a dead link. The web table is usually much larger than a
  wave's dispatch set, so the dispatch side is the build side; Catalyst/
  AQE picks broadcast when the dispatch set is small.
* :func:`fetch_http` — a ``mapInPandas`` stage that would perform real
  HTTP in production (one connection pool per partition; politeness is
  already enforced upstream by the scheduler so a partition can fetch
  its batch freely). The sandbox has no network: the body is a clearly
  marked stub that raises unless a fetcher callable is injected.

User-agent rotation: the reference picks ``random.choice`` from a
63-entry UA pool per request (``python_spiders/middlewares.py:13-17``,
``user_agents.py:74-75``). Randomness is not reproducible across a
cluster, so we derive the UA deterministically from the fingerprint —
same distribution, stable across retries/resumes (documented
divergence, SURVEY.md §7c).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_USER_AGENTS = 63  # pool size, reference user_agents.py:3-69


def with_user_agent(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "user_agent",
        F.expr(f"concat('ua-', CAST(pmod(xxhash64(fingerprint), {N_USER_AGENTS}) AS STRING))"),
    )


#: members per country pool (the reference rotates inside a vendor's
#: country-keyed pool, middlewares.py:129-151)
N_PROXIES_PER_POOL = 16


def with_proxy(dispatch: DataFrame, spiders_dim: DataFrame) -> DataFrame:
    """Country-keyed proxy routing (middlewares.py:114-168; 273 spiders
    enable PROXY_ON via custom_settings): requests whose site config
    carries a ``proxy_country`` get a deterministic member of that
    country's pool — ``random.choice`` in the reference, fingerprint
    hash here (same distribution, reproducible across retries/resumes,
    same divergence note as UA rotation). Sites without proxy config
    get NULL. The sandbox never dials a proxy; the column is the
    routing decision the production HTTP backend consumes per request.
    """
    dim = spiders_dim.select("source", "proxy_country")
    out = dispatch.join(F.broadcast(dim), "source", "left")
    return out.withColumn(
        "proxy",
        F.when(
            F.col("proxy_country").isNotNull(),
            F.concat(
                F.lit("proxy-"),
                F.col("proxy_country"),
                F.lit("-"),
                F.pmod(F.xxhash64("fingerprint"), F.lit(N_PROXIES_PER_POOL)).cast(
                    "string"
                ),
            ),
        ),
    ).drop("proxy_country")


def canonical_web(web_pages: DataFrame) -> DataFrame:
    """Key the synthetic web by canonical URL (cache this — reused every wave).

    A web without a ``location`` column has no redirects and gets a NULL
    one, so the fetched rows always carry the column the candidate scan
    names."""
    from ..functions.urls import canonicalize_udf

    if "location" not in web_pages.columns:
        web_pages = web_pages.withColumn("location", F.lit(None).cast("string"))
    return web_pages.withColumn("canonical_url", canonicalize_udf(F.col("url"))).drop("url", "host")


def fetch_synthetic(dispatch: DataFrame, web_canonical: DataFrame) -> DataFrame:
    """Left join the dispatch set to the web; missing page => 404.

    Conditional GET: a request whose ``meta['if_none_match']`` equals
    the page's current content validator (``spans.PAGE_ETAG`` — the
    server computes the same expression) gets **304 Not Modified** with
    no body: spans nulled, no out_links. Only successful (200) pages
    evaluate the conditional, like a real origin server."""
    fetched = with_user_agent(dispatch).join(
        web_canonical, on="canonical_url", how="left"
    )
    no_links = "CAST(array() AS array<string>)"
    cols = {
        "status": "coalesce(status, 404)",
        "out_links": f"coalesce(out_links, {no_links})",
        "is_listing_page": "coalesce(is_listing_page, false)",
    }
    if "meta" in dispatch.columns:
        from ..operators.spans import PAGE_ETAG

        inm = "element_at(coalesce(meta, map()), 'if_none_match')"
        not_modified = f"({inm} IS NOT NULL AND status = 200 AND {inm} = {PAGE_ETAG})"
        # one projection: every expression reads the joined row, so
        # ``not_modified`` sees the page's own status
        cols = {
            "status": f"CASE WHEN {not_modified} THEN 304 ELSE {cols['status']} END",
            "spans": f"CASE WHEN NOT {not_modified} THEN spans END",
            "out_links": f"CASE WHEN {not_modified} THEN {no_links} ELSE {cols['out_links']} END",
            "is_listing_page": cols["is_listing_page"],
        }
    return fetched.withColumns({c: F.expr(sql) for c, sql in cols.items()})


def fetch_http(
    dispatch: DataFrame,
    result_schema: str,
    fetcher: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
) -> DataFrame:
    """Production fetch backend over ``mapInPandas``.

    ``fetcher`` receives a pandas batch of requests and returns the batch
    with ``status``/``body`` columns filled (it owns connection pooling,
    timeouts, redirects). The sandbox has no egress so the default
    raises — the Spark-side plumbing (partitioning by host so one task
    owns a host's connections, Arrow batching) is the tested part.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fetcher is None:
                raise NotImplementedError(
                    "live HTTP fetch is stubbed in the sandbox; inject `fetcher`"
                )
            yield fetcher(pdf)

    return dispatch.repartition("host").mapInPandas(run, schema=result_schema)
