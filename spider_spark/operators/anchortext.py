"""Anchor-text aggregation (round 4; beyond the reference — SURVEY.md §8).

The text ON links pointing AT a page describes that page better than
the page describes itself — the inlink-description signal introduced by
Brin & Page (WWW'98 §2.2, "anchor propagation") and validated for site
finding by Craswell, Hawking & Robertson (SIGIR'01). A crawl corpus
that records per-target anchor profiles feeds retrieval indexing,
query-independent ranking, and training-data labeling.

Pipeline (all stages DataFrame-native):

* :func:`extract_anchors` — ``(href, text)`` pairs from each page's
  ``htmlparse.tokens`` in ONE Arrow crossing (``htmlparse.map_pages``,
  the batch loop of ``htmlparse.parse_html_pages``);
* :func:`anchor_edges` — hrefs resolve against the source URL with the
  vectorized ``functions.urls.resolve_udf`` (absolute/relative/protocol
  forms), producing ``(src, dst, anchor)`` edge rows;
* :func:`anchor_profiles` — per-target top-k anchors by count through
  the SAME lossless two-phase salted top-k as the politeness scheduler
  (``operators/politeness.topk_per_key_salted``): a 10^6-inlink
  homepage's anchors never pool into one window partition, exactly the
  hot-host property the scheduler guarantees.

Reference tie-in: the Scrapy fleet extracts link text per site (e.g.
``LinkExtractor`` callbacks reading ``a::text``) but never aggregates
across pages; this is the corpus-level aggregate a web-scale crawl
needs (cited shapes: python_spiders/*.py LinkExtractor usage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urls import canonicalize_udf, resolve_udf
from .htmlparse import START, TEXT, map_pages, tokens
from .politeness import topk_per_key_salted


def parse_anchors(html: str) -> list[tuple[str, str]]:
    """``(href, anchor_text)`` of every ``<a href=...>``.

    Nested anchors (invalid but common in the wild) are handled with a
    stack: text lands in the innermost open anchor; an unclosed anchor
    is finalized at EOF. Whitespace is collapsed the same way the span
    parser collapses it."""
    stack: list[tuple] = []  # open anchors: (href, [text chunks])
    done: list[tuple] = []
    for kind, tag, val in tokens(html):
        if kind == TEXT:
            if stack:
                stack[-1][1].append(val)
        elif tag == "a" and kind == START:
            stack.append((val.get("href"), []))
        elif tag == "a" and stack:
            done.append(stack.pop())
    done += reversed(stack)
    return [(href, " ".join(" ".join(chunks).split())) for href, chunks in done if href]


def extract_anchors(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, html) -> one row per ``<a href>``: (src, href, anchor)."""
    return map_pages(
        pages,
        lambda url, html: [(url, href, anchor) for href, anchor in parse_anchors(html)],
        "src string, href string, anchor string",
        html_col,
        url_col,
    )


def anchor_edges(
    anchors: DataFrame, drop_self: bool = True, drop_empty: bool = True
) -> DataFrame:
    """Resolve hrefs into canonical targets: (src, dst, anchor).

    ``drop_self`` removes same-page links (TOC/fragment navigation —
    pure noise for the inlink-description signal); ``drop_empty`` drops
    image-only/empty anchors. Both resolutions are vectorized Arrow
    UDFs — no per-row Python."""
    out = anchors.select(
        canonicalize_udf(F.col("src")).alias("src"),
        canonicalize_udf(resolve_udf(F.col("src"), F.col("href"))).alias("dst"),
        "anchor",
    )
    if drop_self:
        out = out.filter(F.col("src") != F.col("dst"))
    if drop_empty:
        out = out.filter(F.col("anchor") != "")
    return out


def anchor_profiles(edges: DataFrame, k: int = 10, n_salts: int = 16) -> DataFrame:
    """Per-target top-k anchor profile: (dst, anchor, n_links, rank).

    One map-side-combinable ``groupBy(dst, anchor).count`` collapses the
    edge volume to the distinct-anchor dim, then the politeness
    scheduler's lossless salted top-k picks each target's k most common
    anchors (ties: anchor ASC) without ever building a single-partition
    window over a hot target's inlinks."""
    counts = edges.groupBy("dst", "anchor").agg(F.count("*").alias("n_links"))
    top = topk_per_key_salted(
        counts.withColumn("_k", F.lit(k)),
        key="dst",
        k_col="_k",
        n_salts=n_salts,
        order="n_links DESC, anchor ASC",
        salt_source="anchor",
    )
    return top.select(
        "dst", "anchor", "n_links", F.col("dispatch_rank").alias("rank")
    )
