"""Parse stage: fetched pages -> (new frontier candidates, span documents).

Reproduces the reference's 3-level callback chain observably
(``der_immo_tip.py``: parse extracts detail links + next page;
``populate_item`` builds the item): listing pages yield links, detail
pages yield one document of interleaved text+media spans.

Span assembly rules (documents table, BASELINE.json input_hint):

* page order preserved (the reference preserves it via ItemLoader
  accumulation order, ``loaders.py:14-47``);
* media deduped keeping FIRST occurrence — the reference dedups images
  via ``set()`` (``pipelines.py:127-131``) whose order is
  nondeterministic; keep-first is our documented deterministic choice;
* implemented with JVM higher-order array functions (``filter`` with
  index + ``exists`` over a ``slice``) — O(n_spans^2) per row with
  n_spans <= dozens, zero shuffle, zero Python.

Link emission keeps deterministic ordering: ``posexplode`` gives the
on-page link offset; the child's ordering key is
(parent discovered_seq, link offset) — SURVEY.md §4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..functions.urls import resolve_udf


def dedup_media_spans(spans: str) -> str:
    """SQL expression: the spans array ``spans`` without the media
    spans whose media_ref already appeared earlier in the array."""
    return (
        f"filter({spans}, (s, i) -> s.kind != 'media' OR NOT exists("
        f"slice({spans}, 1, i), t -> t.kind = 'media' AND t.media_ref = s.media_ref))"
    )


#: Effective document id: a meta-carried ``doc_id`` (fragment of a
#: multi-page item — the parent threaded it, ``15walmer.py:112``) wins
#: over the page's own canonical-url-derived id.
DOC_KEY = (
    "coalesce(element_at(coalesce(meta, map()), 'doc_id'), "
    "regexp_replace(canonical_url, '^[a-z0-9+.-]+://', ''))"
)

#: Deterministic content validator (the ETag analog): sha1 of the RAW
#: page spans' JSON. The synthetic fetch computes the same expression
#: server-side, so ``If-None-Match == PAGE_ETAG`` is the conditional-GET
#: revalidation check; a span change implies a new etag by construction.
PAGE_ETAG = "sha1(to_json(struct(spans)))"

# The wave-invariant projections below are SQL text: the JVM parses
# each string in one call, where the equivalent ``F.*`` Column tree
# costs a py4j round trip per node on every wave.
_HAS_LINKS = "size(coalesce(out_links, array())) > 0"

_DOCUMENT_COLS = [
    f"{DOC_KEY} AS doc_id",
    f"{dedup_media_spans('spans')} AS spans",
    "source",
    "host",
    "wave",
    "discovered_seq AS position",
    "map_concat(map_filter(coalesce(meta, map()), "
    "(k, v) -> k NOT IN ('__etag', 'if_none_match')), "
    f"map('__etag', {PAGE_ETAG})) AS attrs",
    f"{_HAS_LINKS} AS has_continuation",
]

# child requests never inherit the parent's conditional-GET validator
# (If-None-Match is per-resource); children of a detail page thread the
# parent's doc key (multi-page assembly)
_LINK_META = "map_filter(coalesce(meta, map()), (k, v) -> k != 'if_none_match')"
_CHILD_META = (
    f"CASE WHEN is_listing_page THEN {_LINK_META} ELSE map_concat("
    f"map_filter({_LINK_META}, (k, v) -> k != 'doc_id'), map('doc_id', {DOC_KEY})) END"
)

#: the pre-resolution candidate row after the explode, up to ``link_pos``
_RAW_LINK_COLS = [
    "crawl_id",
    "base_url",
    "href",
    "method",
    "body",
    "source",
    "meta",
    "priority",
    "0 AS attempt",
    "dont_filter",
    "parent_seq",
]


def extract_documents(fetched_ok: DataFrame) -> DataFrame:
    """Detail pages -> documents rows (doc_id, spans, lineage cols).

    Emits one row per FETCHED PAGE; a multi-page item contributes one
    fragment row per page (same effective doc_id), merged downstream by
    :func:`merge_document_fragments`. ``has_continuation`` marks pages
    that emitted follow-up links, so the merge can cheaply isolate the
    fragment subset. ``attrs['__etag']`` stores the page's content
    validator so a later incremental recrawl can send it back as
    If-None-Match (engine.recrawl_candidates(conditional=True)).
    """
    return fetched_ok.filter(
        "NOT is_listing_page AND size(coalesce(spans, array())) > 0"
    ).selectExpr(*_DOCUMENT_COLS)


def renumber_spans(spans_col: F.Column) -> F.Column:
    """Re-assign offsets 0..n-1 in array order (after media dedup /
    fragment merge the original page offsets have gaps)."""
    return F.transform(
        spans_col,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def merge_document_fragments(raw: DataFrame) -> DataFrame:
    """Assemble multi-page items: fragments sharing a doc_id collapse
    into ONE document (the reference threads a partially built item
    across requests via meta — ``15walmer.py:112``; SURVEY.md §2.2).

    Scale shape: only rows flagged as fragments (meta-carried doc_id or
    ``has_continuation``) enter the groupBy — the overwhelming
    single-page majority takes a shuffle-free per-row projection.
    Fragments order by fetch ``position`` (the request's
    discovered_seq), media dedup re-runs ACROSS fragments keeping first
    occurrence, and offsets renumber 0..n-1.
    """
    is_frag = F.col("has_continuation") | F.element_at(
        F.coalesce(F.col("attrs"), F.create_map()), "doc_id"
    ).isNotNull()
    out_cols = ["doc_id", "spans", "source", "host", "wave", "position", "attrs"]

    plain = raw.filter(~F.coalesce(is_frag, F.lit(False))).select(
        "doc_id",
        renumber_spans(F.col("spans")).alias("spans"),
        "source", "host", "wave", "position", "attrs",
    )
    frags = raw.filter(F.coalesce(is_frag, F.lit(False)))
    merged = frags.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("position").alias("p"), F.col("spans").alias("s"))
                    )
                ),
                lambda fr: fr["s"],
            )
        ).alias("spans_raw"),
        F.min("position").alias("position"),
        F.min("wave").alias("wave"),
        F.min_by("source", "position").alias("source"),
        F.min_by("host", "position").alias("host"),
        F.min_by("attrs", "position").alias("attrs"),
    )
    merged = merged.select(
        "doc_id",
        renumber_spans(F.expr(dedup_media_spans("spans_raw"))).alias("spans"),
        "source", "host", "wave", "position", "attrs",
    )
    return plain.select(out_cols).unionByName(merged.select(out_cols))


def resolve_candidates(raw: DataFrame) -> DataFrame:
    """(base_url, href) candidate rows -> absolute-URL request rows.

    The ONE Arrow/Python crossing of the link path. Link extraction and
    redirect following both emit the raw (base, href) shape
    (:func:`extract_candidates_raw` emits both from one scan) BEFORE
    this resolve, so the redirect side costs JVM projections over the
    fetched cache instead of a second vectorized-UDF plan node — one
    extra UDF node here measurably
    added seconds of per-wave overhead at bench scale (each consumer
    evaluation of the candidate plan pays every UDF node's Python
    round trip for all partitions, even when the redirect side holds
    zero rows).

    Every other column passes through, ``discovered_seq`` included: the
    engine numbers the raw rows with :func:`assign_seq` first, so the
    range sort's sampling job never re-runs this UDF."""
    rest = [c for c in raw.columns if c not in ("crawl_id", "base_url", "href")]
    return raw.withColumn("url", resolve_udf("base_url", "href")).selectExpr(
        "crawl_id", "url", *rest
    )


def extract_candidates_raw(fetched: DataFrame, follow_redirects: bool = True) -> DataFrame:
    """Links AND redirect targets from ONE scan of the fetched wave —
    no union. The rows are PRE-RESOLUTION child requests (``base_url``/
    ``href`` instead of an absolute ``url`` — pure JVM, no UDF;
    :func:`resolve_candidates` applies the one vectorized resolve pass).

    A parse-ok page with out_links yields one row per link. Children
    inherit source/meta/priority from the parent (the reference threads
    these via ``meta=`` — ``aands_org_uk.py:30-49``); children of a
    DETAIL page also carry the parent's effective doc_id in meta, so
    their spans merge back into the parent's document (multi-page item
    assembly, ``15walmer.py:112``).

    With ``follow_redirects=False`` the redirect predicate is the
    literal ``false``: Catalyst folds every redirect ``CASE`` away and
    the plan reads no ``location``, so a web without redirects pays
    nothing for them. Otherwise the redirect side is the
    RedirectMiddleware analog (Scrapy 2.3 defaults
    — implicit in all 3,788 reference spiders; ``aryes_be.py:80`` opts
    out per-request with ``meta={'dont_redirect': True}``): 3xx
    responses with a Location become NEW frontier candidates in link
    shape, with these semantics:

    * 301/307/308 (and any HEAD request) keep method+body; 302/303
      downgrade to GET with no body (browser behavior, Scrapy
      ``_redirect_request_using_get``).
    * ``meta['dont_redirect']`` truthy, or a status admitted by the
      source's ``handle_httpstatus_list`` (``_parse_ok`` here),
      suppresses redirecting — the response goes to parse instead.
    * chain cap ``REDIRECT_MAX_TIMES`` (20) via ``meta['redirect_times']``;
      the hop trail accumulates in ``meta['redirect_urls']`` ('|'-joined).
    * priority rises by ``REDIRECT_PRIORITY_ADJUST`` (+2) per hop, so
      near-complete chains finish ahead of fresh discoveries.
    * ``dont_filter`` is inherited (Request.replace semantics); a
      redirect TARGET therefore still passes the RFPDupeFilter, which
      is also what kills redirect loops (a->b->a: the second 'a' is
      already seen).
    * ``link_pos = -1``, so redirect targets order deterministically
      BEFORE the page's extracted links under the (parent_seq,
      link_pos) sort — the engine also uses ``link_pos < 0`` as the
      redirect marker that bypasses LinkExtractor rules and the
      offsite filter per-row.

    The Location rides as ``href`` (PRE-RESOLUTION shape), and
    :func:`resolve_candidates` makes it absolute together with the
    extracted links. Structurally the whole thing is one linear plan:
    a 3xx row explodes ``array(location)`` where a parsed page explodes
    ``out_links``, and every redirect-specific transform (method/body
    downgrade, hop counter + trail meta, priority adjust, dont_filter
    inheritance, ``link_pos = -1``) is a per-row ``CASE``. Measured motivation
    (round 4): a union of the two branches made every AQE evaluation
    of the candidate plan materialize extra shuffle query stages —
    +10 jobs/+46 stages PER WAVE on the bench crawl, ~3.5 s/wave of
    pure scheduling overhead even with zero redirect rows. The fused
    scan restores the pre-redirect job count; redirect support now
    costs one CASE per column instead of a plan branch.
    """
    parse_ok = "_parse_ok" if "_parse_ok" in fetched.columns else "status = 200"
    base_meta = "coalesce(meta, map())"
    times = f"coalesce(CAST(element_at({base_meta}, 'redirect_times') AS INT), 0)"
    codes = ", ".join(map(str, schemas.REDIRECT_HTTP_CODES))
    is_redir = (
        f"(status IN ({codes}) AND location IS NOT NULL AND NOT ({parse_ok})"
        f" AND lower(coalesce(element_at({base_meta}, 'dont_redirect'), ''))"
        f" IN ('', '0', 'false') AND {times} < {schemas.REDIRECT_MAX_TIMES})"
        if follow_redirects
        else "false"
    )
    # redirect-side meta: hop counter + '|'-joined trail
    trail = f"element_at({base_meta}, 'redirect_urls')"
    redirect_meta = (
        f"map_concat(map_filter({base_meta}, "
        "(k, v) -> k NOT IN ('redirect_times', 'redirect_urls')), "
        f"map('redirect_times', CAST({times} + 1 AS STRING), 'redirect_urls', "
        f"CASE WHEN {trail} IS NULL THEN url ELSE concat({trail}, '|', url) END))"
    )
    keep_method = f"{is_redir} AND (status IN (301, 307, 308) OR upper(method) = 'HEAD')"
    return (
        fetched.filter(f"(({parse_ok}) AND {_HAS_LINKS}) OR {is_redir}")
        .selectExpr(
            "crawl_id",
            "url AS base_url",
            "source",
            f"CASE WHEN {is_redir} THEN {redirect_meta} ELSE {_CHILD_META} END AS meta",
            f"CASE WHEN {is_redir} THEN priority + {schemas.REDIRECT_PRIORITY_ADJUST} ELSE priority END"
            " AS priority",
            f"CASE WHEN {keep_method} THEN method ELSE 'GET' END AS method",
            f"CASE WHEN {keep_method} THEN body ELSE CAST(NULL AS STRING) END AS body",
            f"CASE WHEN {is_redir} THEN dont_filter ELSE false END AS dont_filter",
            f"{is_redir} AS _redir",
            "discovered_seq AS parent_seq",
            f"posexplode(CASE WHEN {is_redir} THEN array(location) ELSE out_links END)"
            " AS (pos, href)",
        )
        .selectExpr(*_RAW_LINK_COLS, "CASE WHEN _redir THEN -1 ELSE pos END AS link_pos")
    )


def site_filter(links: DataFrame, sites: DataFrame | None, bypass: str) -> DataFrame:
    """The per-site link filter: LinkExtractor ``allow``/``deny``
    (``a_venue_be.py:7``; 59 CrawlSpider spiders) and OffsiteMiddleware
    ``allowed_domains`` (1,249 reference spiders, e.g.
    ``allowed_domains = ['2a-immo.fr']``) over the resolved ABSOLUTE
    URL. ``sites`` is the spiders dim's narrow view
    ``(source, link_allow, link_deny, allowed_domains)``; ``None``
    filters nothing.

    * A NULL ``link_allow`` passes everything; a ``link_deny`` match
      drops the link.
    * The host (``lower(parse_url(url, 'HOST'))``) is on-site when it
      EQUALS a domain or is a SUBDOMAIN of one (``endswith('.' +
      domain)``; Scrapy ``url_is_from_any_domain``). An empty or NULL
      ``allowed_domains`` passes every host.
    * A ``dont_filter`` request bypasses the offsite check only.
    * A source without a row passes.
    * ``bypass`` (SQL text) passes a row past both checks; the engine
      passes its redirect targets (``link_pos < 0``), as Scrapy 2.3's
      downloader-level RedirectMiddleware does.

    Scale shape: the dim is tiny (one row per site) and broadcast, and
    the predicate is one JVM filter: ``regexp_like`` with a column
    pattern and one ``exists`` over a tiny array per row (no Python, no
    shuffle).
    """
    if sites is None:
        return links
    host = "lower(parse_url(url, 'HOST'))"
    keep = (
        f"({bypass}) OR ("
        "(link_allow IS NULL OR regexp_like(url, link_allow))"
        " AND (link_deny IS NULL OR NOT regexp_like(url, link_deny))"
        " AND (allowed_domains IS NULL OR size(allowed_domains) = 0"
        " OR coalesce(dont_filter, false)"
        f" OR exists(allowed_domains, d -> {host} = d OR endswith({host}, concat('.', d)))))"
    )
    return (
        links.join(F.broadcast(sites), "source", "left")
        .filter(keep)
        .drop("link_allow", "link_deny", "allowed_domains")
    )


def assign_seq(df: DataFrame, order_cols: list, base: int) -> DataFrame:
    """Attach a globally ordered ``discovered_seq`` > ``base``.

    Distributed total sort (range shuffle) + ``monotonically_increasing_id``:
    after ``orderBy`` the partitions are range-ordered and sorted within,
    so the id (partitionId << 33 | offset) is order-consistent with the
    sort. No single-partition window, no driver collect: holds at
    10^10 rows. ``base`` keeps later waves strictly after earlier ones.

    Seqs are sparse: partitions leave jumps, and the engine numbers a
    wave's links before its site and trap filters, so a
    link dropped after numbering leaves a gap. The scheduler and the
    golden checks need only the order, never dense ranks. The range
    shuffle samples its input with an extra job, so number rows before
    any Python UDF, which that job would otherwise run a second time.
    """
    ordered = df.orderBy(*order_cols)
    return ordered.withColumn(
        "discovered_seq", F.expr(f"{base} + monotonically_increasing_id() + 1")
    )
