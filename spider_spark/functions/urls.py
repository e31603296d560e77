"""URL canonicalization, fingerprinting and host partitioning.

Reproduces the *observable* dedup semantics of Scrapy 2.3's
``RFPDupeFilter`` (the reference never overrides ``DUPEFILTER_CLASS``;
``python_spiders/settings.py`` has no scheduler overrides): a request's
fingerprint is a SHA1 over (method, canonicalized URL, body), where
canonicalization lowercases scheme/host, strips the fragment, removes
default ports, normalizes the path, and sorts query parameters
(w3lib ``canonicalize_url`` behavior).

Design notes (scale):

* ``canonicalize_urls`` is a **pandas UDF** — one Arrow batch in, one
  out; the per-batch work is pyarrow.compute kernels plus a Python
  loop only over the distinct query strings. No row-at-a-time Spark UDFs.
* ``fingerprint_sql`` is **pure JVM** (``sha1(concat_ws(...))``) so the
  hot dedup path stays inside whole-stage codegen.
* ``host_bucket_sql`` = ``pmod(xxhash64(host), n_buckets)`` — the crawl
  state (seen-set, Bloom sidecars, politeness windows) is partitioned by
  this bucket; at 10^10 URLs each bucket holds ~10^10/n_buckets
  fingerprints and buckets are the unit of shuffle + checkpoint lineage.
"""

from __future__ import annotations

from urllib.parse import urljoin

import pandas as pd
import pyarrow as pa_lib
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}

#: URL split (RE2, for pyarrow's extract_regex); matches any string
_SPLIT_RE_NAMED = (
    r"^(?:(?P<scheme>[a-zA-Z][a-zA-Z0-9+.-]*):)?(?://(?P<netloc>[^/?#]*))?"
    r"(?P<path>[^?#]*)(?:\?(?P<query>[^#]*))?(?:#.*)?$"
)


def _canon_query(q: str) -> str:
    """Sort query params by (key, value), keep blank values (w3lib rule)."""
    if not q:
        return ""
    parts = [p for p in q.split("&") if p]
    keyed = []
    for p in parts:
        k, sep, v = p.partition("=")
        keyed.append((k, v))
    keyed.sort()
    return "&".join(f"{k}={v}" for k, v in keyed)


_ARROW_POOL_PINNED = False


def _pin_arrow_pool() -> None:
    """Pin pyarrow's internal CPU pool to 1 thread inside UDF workers.

    Spark already runs one Python worker per core; letting every worker
    spin up an arrow pool of #cores threads oversubscribes the box
    quadratically (measured: 3x slowdown of the admit stage at
    local[32] vs local[8]). Executor-side parallelism belongs to Spark,
    not to the kernel library. Only called from the UDF path — pinning
    is process-wide, so driver-side callers must not trip it."""
    global _ARROW_POOL_PINNED
    if not _ARROW_POOL_PINNED:
        try:
            pa_lib.set_cpu_count(1)
        except Exception:
            pass
        _ARROW_POOL_PINNED = True


def canonicalize_series(urls: pd.Series, pin: bool = False) -> pd.Series:
    """Vectorized canonicalization of absolute URLs.

    Runs on pyarrow.compute (RE2 + C++ kernels — ~20x the pandas-str
    throughput, which matters because this UDF is the single biggest
    cost of a frontier wave); only the canonicalization of DISTINCT
    query strings runs in Python, which amortizes because frontiers
    repeat the same query shapes (pagination params) heavily.

    ``pin=True`` (set by the UDF wrapper, i.e. inside Spark Python
    workers only) caps pyarrow's process-wide thread pool at 1; driver-
    side callers keep their default pool.
    """
    if pin:
        _pin_arrow_pool()
    arr = pa_lib.array(urls.fillna("").astype(str), type=pa_lib.string())
    parts = pc.extract_regex(arr, _SPLIT_RE_NAMED)
    # non-matching rows (cannot happen: the regex matches any string) -> ""
    scheme = pc.utf8_lower(pc.coalesce(pc.struct_field(parts, "scheme"), ""))
    scheme = pc.if_else(pc.equal(scheme, ""), "http", scheme)
    netloc = pc.utf8_lower(pc.coalesce(pc.struct_field(parts, "netloc"), ""))
    path = pc.coalesce(pc.struct_field(parts, "path"), "")
    query = pc.coalesce(pc.struct_field(parts, "query"), "")

    for sch, port in DEFAULT_PORTS.items():
        stripped = pc.replace_substring_regex(netloc, f":{port}$", "")
        netloc = pc.if_else(pc.equal(scheme, sch), stripped, netloc)

    path = pc.if_else(pc.equal(path, ""), "/", path)
    path = pc.replace_substring_regex(path, "/{2,}", "/")

    qs = query.to_pandas()
    has_q = qs != ""
    if has_q.any():
        uniq = {q: _canon_query(q) for q in qs[has_q].unique()}
        qs = qs.where(~has_q, qs[has_q].map(uniq))
    tail = pa_lib.array(("?" + qs).where(has_q, ""), type=pa_lib.string())
    out = pc.binary_join_element_wise(scheme, "://", netloc, path, tail, "")
    return out.to_pandas()


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return canonicalize_series(urls, pin=True)


#: leading LOWERCASE scheme ("http://", "ftp://", ...) — urljoin
#: lowercases the scheme while joining, so an uppercase-scheme base or
#: href must take the fallback to match it byte-for-byte
_ABS_RE = r"^[a-z][a-z0-9+.-]*://"
#: dot-segment anywhere ("./x", "../x", "a/./b", trailing "/..", bare ".",
#: and dot segments that END at the query/fragment like "a/.?k=v")
_DOTSEG_RE = r"(?:^|/)\.{1,2}(?:[/?#]|$)"


def resolve_series(base: pd.Series, href: pd.Series) -> pd.Series:
    """urljoin(base, href) per batch — relative->absolute resolution.

    Mirrors ``response.urljoin`` used by 2,553 reference spiders
    (e.g. ``python_spiders/spiders/der_immo_tip.py:33``).

    The three link shapes that dominate real crawls — absolute,
    root-relative (``/path``), plain relative (``page2.html``) — are
    resolved with vectorized pandas str kernels; only the residue
    (dot-segments, protocol-relative ``//host``, ``?``/``#``-leading,
    scheme-relative, non-URL bases) falls back to per-row ``urljoin``.
    Property-tested against urljoin on arbitrary href shapes
    (tests/test_properties.py).
    """
    base = base.fillna("").astype(str)
    href = href.fillna("").astype(str)

    # urljoin (WHATWG behavior since bpo-43882) strips leading/trailing
    # whitespace and removes tab/newline ANYWHERE in either argument —
    # the vectorized paths below don't, so any row carrying a control
    # char or space takes the fallback (multi-line href attributes are
    # common in real HTML; resolution must stay byte-identical)
    clean = ~href.str.contains(r"[\x00-\x20]", regex=True) & ~base.str.contains(
        r"[\x00-\x20]", regex=True
    )

    # base must be absolute with a netloc, and its PATH free of dot
    # segments (urljoin normalizes those during a relative join)
    origin = base.str.extract(r"^([a-z][a-z0-9+.-]*://[^/?#]*)", expand=False)
    base_path = base.str.split("#").str[0].str.split("?").str[0]
    # NaN rows (no scheme match) are masked by origin.notna(); the
    # length comparison enforces a non-empty netloc
    scheme_len = base.str.extract(r"^([a-z][a-z0-9+.-]*://)", expand=False).str.len()
    base_ok = (
        origin.notna()
        & (origin.str.len() > scheme_len)
        & ~base_path.str.contains(_DOTSEG_RE, regex=True)
    )

    # urljoin collapses empty path segments while merging a plain
    # relative href, so a base path containing '//' takes the fallback
    base_tail = base_path.str.replace(
        r"^[a-z][a-z0-9+.-]*://[^/?#]*", "", regex=True
    )
    base_dir_ok = base_ok & ~base_tail.str.contains("//", regex=False)

    href_dotty = href.str.contains(_DOTSEG_RE, regex=True)
    is_abs = href.str.match(_ABS_RE) & ~href_dotty & clean
    is_root = href.str.match(r"^/(?!/)") & base_ok & ~href_dotty & clean
    # urljoin also collapses '//' inside a PLAIN-relative href during
    # the segment merge (root-relative hrefs keep theirs) — fallback
    is_plain = (
        href.str.match(r"^[^/:?#]")
        & ~href.str.contains(":", regex=False)
        & ~href.str.contains("//", regex=False)
        & base_dir_ok
        & ~href_dotty
        & clean
    )

    # base directory: path cut after its last '/', or origin + '/' when
    # the base has no path ('http://h' -> 'http://h/')
    dirpath = base_path.str.replace(r"[^/]*$", "", regex=True)
    no_path = dirpath.str.len() <= origin.fillna("").str.len()
    dirpath = dirpath.where(~no_path, origin.fillna("") + "/")

    out = pd.Series(pd.NA, index=href.index, dtype="object")
    out[is_abs] = href[is_abs]
    out[is_root & ~is_abs] = origin[is_root & ~is_abs] + href[is_root & ~is_abs]
    out[is_plain & ~is_abs] = dirpath[is_plain & ~is_abs] + href[is_plain & ~is_abs]
    residue = out.isna()
    if residue.any():
        out[residue] = [
            urljoin(b, h) for b, h in zip(base[residue], href[residue])
        ]
    return out.astype("object")


@F.pandas_udf(T.StringType())
def resolve_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    return resolve_series(base, href)


def host_sql(canonical_url: str) -> str:
    """SQL expression: host (netloc without userinfo/port) of a
    canonical URL — JVM regex."""
    return f"regexp_extract({canonical_url}, '^[a-z0-9+.-]+://(?:[^/@]*@)?([^/:?#]*)', 1)"


def fingerprint_sql(method: str, canonical_url: str, body: str) -> str:
    """SQL expression: sha1(method + canonical_url + body) — the
    RFPDupeFilter analog.

    Stays JVM-side (codegen'd) so deduping 10^10 rows never crosses the
    Python boundary. NUL separators prevent ambiguity between fields.
    """
    return (
        f"sha1(concat_ws(char(0), upper(coalesce({method}, 'GET')), "
        f"coalesce({canonical_url}, ''), coalesce({body}, '')))"
    )


def host_bucket_sql(host: str, n_buckets: int) -> str:
    """SQL expression: stable bucket id for crawl-state partitioning."""
    return f"CAST(pmod(xxhash64({host}), {n_buckets}) AS INT)"


def with_url_identity(df, n_buckets: int, url_col: str = "url"):
    """Attach canonical_url, host, host_bucket, fingerprint columns.

    Two projections: the canonicalize UDF, then every column derived
    from its output as SQL text (the host expression appears twice and
    is evaluated once by subexpression elimination)."""
    cols = df.columns
    method = "method" if "method" in cols else "'GET'"
    body = "body" if "body" in cols else "CAST(NULL AS STRING)"
    host = host_sql("canonical_url")
    derived = {
        "host": host,
        "host_bucket": host_bucket_sql(host, n_buckets),
        "fingerprint": fingerprint_sql(method, "canonical_url", body),
    }
    df = df.withColumn("canonical_url", canonicalize_udf(url_col))
    return df.withColumns({c: F.expr(sql) for c, sql in derived.items()})

# ---------------------------------------------------------------------------
# Crawler-trap fence (round 4; beyond the reference — SURVEY.md §8).
#
# Infinite URL spaces (calendars, session-id mazes, self-linking CGI
# scripts) are the classic crawler failure mode: Heydon & Najork's
# Mercator (WWW'99) bounds path depth, Lee et al.'s IRLbot (WWW'08)
# budgets URL shapes, and Heritrix ships PathologicalPathDecideRule /
# TooManyPathSegmentsDecideRule with exactly these signals. The
# reference fleet never needs a fence (each Scrapy spider enumerates a
# finite listing site), but a 10^10-URL frontier must drop trap-shaped
# links BEFORE they cost dedup/politeness state — every fenced URL
# saves a Bloom probe, a seen-set row, and a politeness-window slot.
#
# All signals are pure JVM regex/HOF column expressions over the
# canonical URL (whole-stage codegen; no Python, no shuffle), so a
# caller can fence its candidates for free. The engine applies no
# fence (the reference's finite listing sites need none); the
# ``url_canonicalize`` contract query reports the signals.
# ---------------------------------------------------------------------------

#: Fence thresholds (Heritrix-shaped defaults): TooManyPathSegments
#: default caps segments, PathologicalPath fires on a segment repeating
#: 3+ times, IE's historical 2083-char limit is the conventional URL
#: length cap, and >12 query params is the session-id/calendar shape.
TRAP_MAX_PATH_DEPTH = 16
TRAP_MAX_SEG_REPEAT = 3
TRAP_MAX_QUERY_PARAMS = 12
TRAP_MAX_URL_LEN = 2048


def url_path_col(url: Column) -> Column:
    """Path component (query/fragment stripped); empty path is ``/``
    per RFC 9309 (same coalesce as ``operators/robots.robots_check``)."""
    raw = F.regexp_extract(url, r"^[a-z0-9+.-]+://[^/]*(/[^?#]*)", 1)
    return F.when(raw == "", F.lit("/")).otherwise(raw)


def path_segments_col(url: Column) -> Column:
    """Non-empty ``/``-separated path segments."""
    return F.filter(F.split(url_path_col(url), "/"), lambda s: s != "")


def path_depth_col(url: Column) -> Column:
    """Number of path segments (Mercator/Heritrix depth signal)."""
    return F.size(path_segments_col(url)).cast("int")


def max_segment_repeat_col(url: Column) -> Column:
    """Occurrence count of the most-repeated path segment — the
    pathological-path signal (``/foo/bar/foo/bar/...`` and
    ``/x/x/x/...`` both score here). O(k^2) over a per-row array of a
    few dozen segments: stays a JVM HOF, never a shuffle."""
    segs = path_segments_col(url)
    return F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(segs),
                lambda d: F.size(F.filter(segs, lambda s: s == d)),
            )
        ),
        F.lit(0),
    ).cast("int")


def query_param_count_col(url: Column) -> Column:
    """Number of ``&``-separated query parameters."""
    q = F.regexp_extract(url, r"\?([^#]*)", 1)
    return F.when(q == "", F.lit(0)).otherwise(
        F.size(F.filter(F.split(q, "&"), lambda p: p != ""))
    ).cast("int")


def is_trap_col(url: Column) -> Column:
    """True when any fence signal crosses its ``TRAP_MAX_*`` threshold."""
    return (
        (path_depth_col(url) > F.lit(TRAP_MAX_PATH_DEPTH))
        | (max_segment_repeat_col(url) >= F.lit(TRAP_MAX_SEG_REPEAT))
        | (query_param_count_col(url) > F.lit(TRAP_MAX_QUERY_PARAMS))
        | (F.length(url) > F.lit(TRAP_MAX_URL_LEN))
    )
