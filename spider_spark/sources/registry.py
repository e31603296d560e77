"""Spider registry: the 3,788 per-site spider files as CONFIG ROWS.

In the reference every site is a class carrying (seed list, per-site
config: country/locale/external_source/thousand+scale separators,
politeness overrides, property-type mappings) plus parse callbacks
(``templates/spiders/reva.tmpl:12-16``, ``360pm_com_au.py:19-22``,
``95bis_com.py:28``). Here a site is:

* one row in the **spiders dimension table** (broadcast everywhere the
  per-site config is needed — separators for numeric parsing, currency
  resolution, link and offsite rules; a DOWNLOAD_DELAY override such as
  ``95bis_com.py:28`` is its hosts' ``crawl_delay_s`` in the host
  policy, not a spiders column), and
* a list of :class:`~spider_spark.functions.itemclear.FieldSpec`
  recipes — the declarative ``populate_item`` — compiled to one
  projection by ``apply_specs``.

The fleet then runs as ONE job over `frontier JOIN spiders_dim` instead
of 3,788 processes: per-site behavior is data, not code, which is what
makes the engine schedulable at 10^10 URLs (no per-site task setup, no
Python class dispatch in the hot path).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.itemclear import FieldSpec

SPIDERS_DIM = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("country", T.StringType(), True),
        T.StructField("locale", T.StringType(), True),
        T.StructField("thousand_separator", T.StringType(), False),
        T.StructField("scale_separator", T.StringType(), False),
        T.StructField("proxy_country", T.StringType(), True),  # PROXY_ON analog; no-op here
        # LinkExtractor(allow=..., deny=...) analog (CrawlSpider rules,
        # a_venue_be.py:7; 59 spiders): regexes applied to the ABSOLUTE
        # resolved child URL; NULL allow = allow everything
        T.StructField("link_allow", T.StringType(), True),
        T.StructField("link_deny", T.StringType(), True),
        # OffsiteMiddleware analog, lowercased: child links off these
        # domains are dropped; empty = no restriction
        T.StructField("allowed_domains", T.ArrayType(T.StringType()), True),
        # handle_httpstatus_list analog: non-200 statuses that still
        # reach parse and never retry; empty = 200 only
        T.StructField("handle_httpstatus", T.ArrayType(T.IntegerType()), True),
        T.StructField("seeds", T.ArrayType(T.StringType()), False),
    ]
)


@dataclass
class SiteSpec:
    source: str
    seeds: list[str]
    country: str | None = None
    locale: str | None = None
    thousand_separator: str = "."
    scale_separator: str = ","
    proxy_country: str | None = None
    #: LinkExtractor allow/deny regex (None = no constraint)
    link_allow: str | None = None
    link_deny: str | None = None
    #: OffsiteMiddleware analog (``allowed_domains`` on 1,249 reference
    #: spiders, e.g. ``2a-immo.fr``): child links whose host is not one
    #: of these domains (or a subdomain) are dropped before admission.
    #: Empty = no restriction (Scrapy: no allowed_domains -> no offsite
    #: filtering).
    allowed_domains: list[str] = field(default_factory=list)
    #: SitemapSpider analog (athimmo_be.py:18-26): sitemap URLs become
    #: seed rows, which the caller expands with
    #: sources.sitemap.expand_sitemap_seeds (they match *.xml) before
    #: CrawlEngine.run
    sitemap_urls: list[str] = field(default_factory=list)
    #: ``handle_httpstatus_list`` analog (17 reference spiders declare
    #: non-200 statuses whose responses still reach parse —
    #: ``alexandergreens_co_uk.py:31`` ``[401]``,
    #: ``allagents_co_uk.py:18`` ``[500, 400]``). Statuses listed here
    #: pass the engine's parse gate AND are excluded from retry (Scrapy
    #: semantics: an allowed status is a terminal response, not an
    #: error).
    handle_httpstatus_list: list[int] = field(default_factory=list)
    fields: list[FieldSpec] = field(default_factory=list)


#: example registry entries modeling the reference's canonical shapes
#: (an IT site with dot-thousands, a UK site with comma-thousands and
#: sq-ft areas, a DE site with word-numbers) — real deployments append
#: one SiteSpec per site.
REGISTRY: dict[str, SiteSpec] = {}


def register(spec: SiteSpec) -> SiteSpec:
    REGISTRY[spec.source] = spec
    return spec


register(
    SiteSpec(
        source="example_it",
        seeds=["http://example-it.example/list?page=1"],
        country="it",
        locale="it",
        thousand_separator=".",
        scale_separator=",",
        fields=[
            FieldSpec("rent", "rent_raw", get_num=True),
            FieldSpec("square_meters", "area_raw", get_num=True),
            FieldSpec("balcony", "desc_raw", strip_html=True, true_words=["balcone"]),
        ],
    )
)

register(
    SiteSpec(
        source="example_uk",
        seeds=["http://example-uk.example/search"],
        country="uk",
        locale="en",
        thousand_separator=",",
        scale_separator=".",
        fields=[
            FieldSpec(
                "rent", "rent_raw", get_num=True,
                thousand_separator=",", scale_separator=".", per_week=True,
            ),
            FieldSpec(
                "square_meters", "area_raw", get_num=True,
                thousand_separator=",", scale_separator=".", sq_ft=True,
            ),
            FieldSpec("pets_allowed", "desc_raw", true_words=["pets"], false_words=["no pets"]),
        ],
    )
)

register(
    SiteSpec(
        source="example_de",
        seeds=["http://example-de.example/wohnungen"],
        country="de",
        locale="de",
        fields=[
            FieldSpec("rent", "rent_raw", get_num=True),
            FieldSpec("room_count", "rooms_raw", split=(" ", 1), word_num=True, get_num=True),
            FieldSpec("elevator", "desc_raw", true_words=["aufzug", "fahrstuhl"]),
        ],
    )
)


def spiders_dim_df(spark: SparkSession, registry: dict[str, SiteSpec] | None = None) -> DataFrame:
    """The spiders dim, one row per site: the engine's ``spiders``
    input (``CrawlEngine(spiders=...)``)."""
    reg = registry if registry is not None else REGISTRY
    rows = [
        (
            s.source, s.country, s.locale, s.thousand_separator, s.scale_separator,
            s.proxy_country, s.link_allow, s.link_deny,
            [d.lower() for d in s.allowed_domains], list(s.handle_httpstatus_list), s.seeds,
        )
        for s in reg.values()
    ]
    return spark.createDataFrame(rows, SPIDERS_DIM)


def seeds_from_registry(spark: SparkSession, registry: dict[str, SiteSpec] | None = None) -> DataFrame:
    """Seed DataFrame in the engine's SEEDS shape (one row per seed URL,
    meta carries country/locale the way the reference threads
    property_type through meta, readme.md:33-55)."""
    reg = registry if registry is not None else REGISTRY
    rows = []
    for s in reg.values():
        for url in list(s.seeds) + list(s.sitemap_urls):
            rows.append(
                (url, s.source, {"country": s.country or "", "locale": s.locale or ""}, 0)
            )
    from ..schemas import SEEDS

    return spark.createDataFrame(rows, SEEDS)


def extract_for_site(df: DataFrame, source: str, keep: list[str] | None = None) -> DataFrame:
    """Apply one site's field recipes to its raw-extraction rows."""
    from ..functions.itemclear import apply_specs

    return apply_specs(df, REGISTRY[source].fields, keep=keep)
