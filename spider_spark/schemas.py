"""Engine table schemas (FIXTURES.md / BASELINE.json input_hint).

The shapes re-express the reference's abstractions as tables:

* ``Request``  (scrapy.Request: url/method/body/meta/priority/dont_filter,
  e.g. reference ``python_spiders/spiders/100case_it.py:72-76``)
  -> one FRONTIER row, plus engine columns (fingerprint, host bucket,
  attempt, deterministic ordering seqs).
* ``ListingItem`` (reference ``python_spiders/items.py:8-56``) -> one
  DOCUMENTS row whose ``spans`` array interleaves text (description/title
  segments) and media (image URLs) in page order, per the input_hint:
  ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
* ``RFPDupeFilter`` seen set -> URL_SEEN rows + Bloom sidecar.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # 'text' | 'media'
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

#: documents + crawl lineage columns we carry alongside the core shape
DOCUMENTS_FULL = T.StructType(
    list(DOCUMENTS.fields)
    + [
        T.StructField("source", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("wave", T.IntegerType(), True),
        T.StructField("position", T.LongType(), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType()), True),
        # the page emitted continuation links (multi-page item, the
        # 15walmer.py:112 meta-carried-item shape) — marks this row as a
        # FRAGMENT head so the documents() merge only shuffles fragments
        T.StructField("has_continuation", T.BooleanType(), True),
    ]
)

SEEDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

FRONTIER = T.StructType(
    [
        T.StructField("crawl_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("canonical_url", T.StringType(), True),
        T.StructField("fingerprint", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("host_bucket", T.IntegerType(), True),
        T.StructField("method", T.StringType(), False),
        T.StructField("body", T.StringType(), True),
        T.StructField("source", T.StringType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("dont_filter", T.BooleanType(), False),
        T.StructField("parent_seq", T.LongType(), False),
        T.StructField("discovered_seq", T.LongType(), False),
        T.StructField("wave", T.IntegerType(), False),
    ]
)

WEB_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("out_links", T.ArrayType(T.StringType()), True),
        T.StructField("spans", T.ArrayType(SPAN), True),
        T.StructField("is_listing_page", T.BooleanType(), False),
        # Location header of a 3xx response (possibly relative), NULL
        # for non-redirect pages
        T.StructField("location", T.StringType(), True),
    ]
)

HOST_POLICY = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("crawl_delay_s", T.DoubleType(), False),
        T.StructField("max_concurrency", T.IntegerType(), False),
        T.StructField("robots_disallow", T.ArrayType(T.StringType()), True),
    ]
)

URL_SEEN = T.StructType(
    [
        T.StructField("crawl_id", T.StringType(), False),
        T.StructField("fingerprint", T.StringType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("wave", T.IntegerType(), False),
    ]
)

#: one row per 304-revalidated fetch (conditional GET): the page was
#: confirmed UNCHANGED without re-parsing or re-storing it. Unioned
#: into fetch_history so the change-rate estimator sees the unchanged
#: observation (otherwise 304s would starve it).
REVALIDATIONS = T.StructType(
    [
        T.StructField("crawl_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("content_digest", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

URL_SEEN_FILTERS = T.StructType(
    [
        T.StructField("crawl_id", T.StringType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("filter_bytes", T.BinaryType(), False),
    ]
)

#: Per-(wave, host_bucket) lineage/metrics rows: only counts that sum
#: over buckets. A wave's crawl-wide counters (candidates, documents,
#: fetched and pending rows, wall time) are one record per wave in the
#: manifest (:meth:`~spider_spark.plans.engine.CrawlEngine._commit`).
METRICS = T.StructType(
    [
        T.StructField("crawl_id", T.StringType(), False),
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("retried", T.LongType(), False),
    ]
)

#: Reference politeness envelope (python_spiders/settings.py:24,31,76-78,98-99)
DEFAULT_MAX_CONCURRENCY = 16  # CONCURRENT_REQUESTS_PER_DOMAIN
DEFAULT_CRAWL_DELAY_S = 0.1  # AUTOTHROTTLE_START_DELAY
MAX_CRAWL_DELAY_S = 2.0  # AUTOTHROTTLE_MAX_DELAY
RETRY_TIMES = 3  # RETRY_TIMES
RETRY_HTTP_CODES = [500, 503, 504, 400, 401, 403, 404, 405, 407, 408, 416, 456, 502, 429]
#: RedirectMiddleware envelope (Scrapy 2.3 defaults, implicit in every
#: reference spider; aryes_be.py:80 opts OUT per-request via
#: meta={'dont_redirect': True})
REDIRECT_HTTP_CODES = [301, 302, 303, 307, 308]
REDIRECT_MAX_TIMES = 20  # REDIRECT_MAX_TIMES
REDIRECT_PRIORITY_ADJUST = 2  # REDIRECT_PRIORITY_ADJUST
