"""Anchor-text aggregation (round 4; beyond the reference — SURVEY.md §8).

The text ON links pointing AT a page describes that page better than
the page describes itself — the inlink-description signal introduced by
Brin & Page (WWW'98 §2.2, "anchor propagation") and validated for site
finding by Craswell, Hawking & Robertson (SIGIR'01). A crawl corpus
that records per-target anchor profiles feeds retrieval indexing,
query-independent ranking, and training-data labeling.

Pipeline (all stages DataFrame-native):

* :func:`extract_anchors` — stdlib ``HTMLParser`` pulls ``(href, text)``
  pairs from each page in ONE Arrow crossing (``mapInPandas``, the same
  batch shape as ``htmlparse.parse_html_pages``);
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

from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urls import canonicalize_udf, resolve_udf
from .politeness import topk_per_key_salted


class _AnchorParser(HTMLParser):
    """Collect ``(href, anchor_text)`` for every ``<a href=...>``.

    Nested anchors (invalid but common in the wild) are handled with a
    stack: text lands in the innermost open anchor; an unclosed anchor
    is finalized at EOF. Whitespace is collapsed the same way the span
    parser collapses it."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self._stack: list[list] = []  # [href, [text chunks]]
        self.anchors: list[tuple[str, str]] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            href = next((v for k, v in attrs if k == "href" and v), None)
            self._stack.append([href, []])

    def handle_endtag(self, tag):
        if tag == "a" and self._stack:
            href, chunks = self._stack.pop()
            if href:
                self.anchors.append((href, " ".join(" ".join(chunks).split())))

    def handle_data(self, data):
        if self._stack:
            self._stack[-1][1].append(data)

    def close(self):
        super().close()
        while self._stack:
            self.handle_endtag("a")


def parse_anchors(html: str) -> list[tuple[str, str]]:
    p = _AnchorParser()
    p.feed(html or "")
    p.close()
    return p.anchors


_ANCHOR_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("href", T.StringType()),
        T.StructField("anchor", T.StringType()),
    ]
)


def extract_anchors(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, html) -> one row per ``<a href>``: (src, href, anchor)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                for href, anchor in parse_anchors(html):
                    rows.append((url, href, anchor))
            yield pd.DataFrame(rows, columns=["src", "href", "anchor"])

    return pages.mapInPandas(run, _ANCHOR_SCHEMA)


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
