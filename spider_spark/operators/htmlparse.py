"""HTML parse stage: raw page bytes -> (links, interleaved spans).

The reference extracts with lxml xpath/css (3,035 / 896 spiders —
``der_immo_tip.py:32-47``). This container has no lxml, so the parser
is stdlib ``html.parser`` driven inside ``mapInPandas`` — one Arrow
batch of pages per call, one Python pass per page (the page bytes are
the irreducible per-row work; what matters at scale is that batches
cross the Python boundary once and partitions are independent).

Produces exactly the reference's observable outputs:

* out_links: href of every <a>, in document order (``response.xpath
  ('//a/@href')`` analog);
* spans: interleaved text/media in document order — text nodes under
  content tags become ``kind='text'`` spans, <img src> becomes
  ``kind='media'`` (ListingItem description + images, with page order
  preserved the way ItemLoader accumulation preserves it,
  ``loaders.py:14-47``).
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame

PARSED_SCHEMA = (
    "url string, out_links array<string>, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

_SKIP_TEXT_IN = {"script", "style", "head", "title"}


class _PageParser(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.links: list[str] = []
        self.spans: list[tuple] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TEXT_IN:
            self._skip_depth += 1
        a = dict(attrs)
        if tag == "a" and a.get("href"):
            self.links.append(a["href"])
        elif tag == "img" and a.get("src"):
            self.spans.append(("media", None, a["src"], len(self.spans)))

    def handle_endtag(self, tag):
        if tag in _SKIP_TEXT_IN and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data):
        if self._skip_depth:
            return
        text = " ".join(data.split())
        if text:
            self.spans.append(("text", text, None, len(self.spans)))


def parse_page(html: str) -> tuple[list[str], list[tuple]]:
    p = _PageParser()
    p.feed(html or "")
    p.close()
    # dedup media keep-first (reference set() at pipelines.py:127-131,
    # made deterministic), renumber offsets to stay dense
    seen: set[str] = set()
    spans = []
    for kind, text, ref, _ in p.spans:
        if kind == "media":
            if ref in seen:
                continue
            seen.add(ref)
        spans.append((kind, text, ref, len(spans)))
    return p.links, spans


def parse_html_pages(pages: DataFrame, html_col: str = "html", url_col: str = "url") -> DataFrame:
    """(url, html) -> (url, out_links, spans) via mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                links, spans = parse_page(html)
                rows.append((url, links, spans))
            yield pd.DataFrame(rows, columns=["url", "out_links", "spans"])

    return pages.mapInPandas(run, PARSED_SCHEMA)


# ---------------------------------------------------------------------------
# Main-content extraction (boilerplate removal)
# ---------------------------------------------------------------------------

#: Block elements that may BE the main content (body itself is excluded:
#: it always contains the boilerplate too, so scoring it would drown the
#: signal — the same reason Readability scores candidate containers, not
#: the page root).
_CANDIDATE_TAGS = {"div", "article", "section", "main", "td"}


class _MainContentParser(HTMLParser):
    """Single-pass streaming density scorer (Readability-family rule,
    Arc90 readability / trafilatura lineage — public heuristics): every
    open candidate block accumulates the length of descendant text,
    split into plain chars vs anchor chars; at close, score =
    plain_len - link_len. Best score wins; ties go to the EARLIEST
    opened block (deterministic). No DOM is built — one stack walk per
    page, so the per-row cost is a strict subset of the span parse.
    """

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self._skip = 0
        self._a_depth = 0
        # open candidate blocks: [plain_len, link_len, texts, open_order]
        self._open: list[list] = []
        self._order = 0
        self.best: tuple | None = None  # (score, order, text)

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TEXT_IN:
            self._skip += 1
        if tag == "a":
            self._a_depth += 1
        if tag in _CANDIDATE_TAGS:
            self._open.append([0, 0, [], self._order])
            self._order += 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TEXT_IN and self._skip > 0:
            self._skip -= 1
        if tag == "a" and self._a_depth > 0:
            self._a_depth -= 1
        if tag in _CANDIDATE_TAGS and self._open:
            self._finalize(self._open.pop())

    def handle_data(self, data):
        if self._skip or not self._open:
            return
        text = " ".join(data.split())
        if not text:
            return
        for entry in self._open:
            if self._a_depth:
                entry[1] += len(text)
            else:
                entry[0] += len(text)
                entry[2].append(text)

    def _finalize(self, entry) -> None:
        plain, link, texts, order = entry
        cand = (plain - link, order, " ".join(texts))
        if (
            self.best is None
            or cand[0] > self.best[0]
            or (cand[0] == self.best[0] and order < self.best[1])
        ):
            self.best = cand

    def result(self) -> str:
        # unclosed candidates (malformed HTML) still count
        while self._open:
            self._finalize(self._open.pop())
        return self.best[2] if self.best is not None else ""


def extract_main_text(html: str) -> str:
    """Main content of one page: text of the best-scoring candidate
    block, anchor text excluded, whitespace normalized; '' when the
    page has no candidate blocks."""
    p = _MainContentParser()
    p.feed(html or "")
    p.close()
    return p.result()


def main_content_pages(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, html) -> (url, main_text) via mapInPandas — the boilerplate
    -removal stage of a training-data pipeline (nav/footer/link farms
    dropped, article body kept). Same batch shape as parse_html_pages:
    one Arrow crossing, partitions independent."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf[url_col],
                    "main_text": [extract_main_text(h) for h in pdf[html_col]],
                }
            )

    return pages.mapInPandas(run, "url string, main_text string")


# ---------------------------------------------------------------------------
# FormRequest.from_response analog
# ---------------------------------------------------------------------------

#: input types that only submit when clicked — from_response(clickdata=
#: None) submits NO button, matching both reference call sites
#: (immobiliarefaro_it.py:36, immobiliaretafy_com.py:40 pass only
#: formdata)
_CLICKABLE_TYPES = {"submit", "image", "button", "reset"}


class _FormParser(HTMLParser):
    """Collect (action, method, fields) of the form_index-th <form>.

    Field semantics follow Scrapy's ``FormRequest.from_response`` /
    lxml ``form_values()`` (public behavior): named <input> except
    clickable types, checkboxes/radios only when ``checked`` (value
    defaulting to 'on'), <textarea> text, <select> selected option
    (first option when none is marked selected — the browser default
    Scrapy inherits from lxml)."""

    def __init__(self, form_index: int = 0):
        super().__init__(convert_charrefs=True)
        self.form_index = form_index
        self._form_no = -1
        self._in_target = False
        self.action: str | None = None
        self.method: str | None = None
        self.fields: list[tuple[str, str]] = []
        self._select_name: str | None = None
        self._select_options: list[tuple[str, bool]] = []  # (value, selected)
        self._textarea_name: str | None = None
        self._textarea_chunks: list[str] | None = None

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "form":
            self._form_no += 1
            if self._form_no == self.form_index:
                self._in_target = True
                self.action = a.get("action") or ""
                self.method = (a.get("method") or "GET").upper()
            return
        if not self._in_target:
            return
        if tag == "input":
            name = a.get("name")
            if not name:
                return
            itype = (a.get("type") or "text").lower()
            if itype in _CLICKABLE_TYPES:
                return
            if itype in ("checkbox", "radio") and "checked" not in a:
                return
            default = "on" if itype in ("checkbox", "radio") else ""
            self.fields.append((name, a.get("value") or default))
        elif tag == "select":
            self._select_name = a.get("name")
            self._select_options = []
        elif tag == "option" and self._select_name is not None:
            self._select_options.append(
                (a.get("value") if a.get("value") is not None else "", "selected" in a)
            )
        elif tag == "textarea":
            self._textarea_name = a.get("name")
            self._textarea_chunks = []

    def handle_data(self, data):
        if self._textarea_chunks is not None:
            self._textarea_chunks.append(data)

    def handle_endtag(self, tag):
        if tag == "form" and self._in_target:
            self._in_target = False
        elif tag == "select" and self._in_target and self._select_name:
            chosen = next((v for v, sel in self._select_options if sel), None)
            if chosen is None and self._select_options:
                chosen = self._select_options[0][0]
            if chosen is not None:
                self.fields.append((self._select_name, chosen))
            self._select_name = None
        elif tag == "textarea" and self._in_target and self._textarea_name:
            self.fields.append(
                (self._textarea_name, "".join(self._textarea_chunks or []))
            )
            self._textarea_name = None
            self._textarea_chunks = None


def form_request(
    html: str,
    page_url: str,
    overrides: dict[str, str] | None = None,
    form_index: int = 0,
) -> tuple[str, str, str] | None:
    """One page -> (action_url, method, urlencoded_body) of its
    ``form_index``-th form with ``overrides`` applied — the
    ``FormRequest.from_response(response, formdata=...)`` analog
    (2 reference spiders: immobiliarefaro_it.py:36,
    immobiliaretafy_com.py:40 — next-page POST with
    ``{'num_page': n}``). None when the page has no such form.

    Override semantics match Scrapy: an override REPLACES every
    collected field of that name in place (keeping document order);
    unseen keys are appended in overrides order. The action resolves
    against the page URL (empty action = the page URL itself)."""
    from urllib.parse import urlencode, urljoin

    p = _FormParser(form_index)
    p.feed(html or "")
    p.close()
    if p.action is None:
        return None
    ov = dict(overrides or {})
    out: list[tuple[str, str]] = []
    replaced: set[str] = set()
    for name, value in p.fields:
        if name in ov:
            if name in replaced:
                continue  # collapse duplicates of an overridden field
            out.append((name, ov[name]))
            replaced.add(name)
        else:
            out.append((name, value))
    for name, value in ov.items():
        if name not in replaced:
            out.append((name, str(value)))
    action = urljoin(page_url or "", p.action) if p.action else (page_url or "")
    return action, p.method or "GET", urlencode(out)


def form_requests(
    pages: DataFrame,
    overrides: dict[str, str] | str | None = None,
    html_col: str = "html",
    url_col: str = "url",
    form_index: int = 0,
) -> DataFrame:
    """(url, html) -> (url, action, method, body) via mapInPandas —
    one Arrow crossing, rows without a form dropped. ``overrides`` is
    either a static dict (same formdata for every page) or the NAME of
    a map<string,string> column carrying per-row formdata (the
    reference's incrementing ``num_page`` shape). The output maps
    straight onto frontier columns: action->url, method->method,
    body->body (the frontier fingerprint already covers method+body,
    functions/urls.py)."""

    per_row = isinstance(overrides, str)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            ovs = pdf[overrides] if per_row else None
            for i, (url, html) in enumerate(zip(pdf[url_col], pdf[html_col])):
                ov = dict(ovs.iloc[i] or {}) if per_row else overrides
                got = form_request(html, url, ov, form_index)
                if got is not None:
                    rows.append((url, got[0], got[1], got[2]))
            yield pd.DataFrame(
                rows, columns=["url", "action", "method", "body"]
            )

    return pages.mapInPandas(
        run, "url string, action string, method string, body string"
    )


# ---------------------------------------------------------------------------
# Robots-Exclusion link directives: rel="nofollow" + <meta name="robots">
# ---------------------------------------------------------------------------

#: meta-robots directive tokens (public REP companion semantics — the
#: Google/Bing robots <meta> tag contract, honored by Heritrix's
#: honor-robots decide rules): comma-separated, case-insensitive;
#: ``none`` == ``noindex, nofollow``.
_META_NOINDEX = {"noindex", "none"}
_META_NOFOLLOW = {"nofollow", "none"}


class _DirectivesParser(HTMLParser):
    """One streaming pass collecting (href, rel-nofollow) anchor pairs
    and the page-level meta-robots flags. rel is a space-separated
    token list (``rel="nofollow ugc sponsored"`` is still nofollow)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, bool]] = []
        self.noindex = False
        self.nofollow = False

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "a" and a.get("href"):
            rel = (a.get("rel") or "").lower().split()
            self.links.append((a["href"], "nofollow" in rel))
        elif tag == "meta" and (a.get("name") or "").lower() == "robots":
            toks = {
                t.strip().lower()
                for t in (a.get("content") or "").split(",")
            }
            self.noindex = self.noindex or bool(toks & _META_NOINDEX)
            self.nofollow = self.nofollow or bool(toks & _META_NOFOLLOW)


def parse_link_directives(html: str) -> tuple[list[tuple[str, bool]], bool, bool]:
    """(links [(href, rel_nofollow)], page_noindex, page_nofollow)."""
    p = _DirectivesParser()
    p.feed(html or "")
    p.close()
    return p.links, p.noindex, p.nofollow


def link_directives_pages(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, html) -> (url, out_links, follow_links, noindex, nofollow).

    ``out_links`` is every anchor href in document order (discovery
    surface — what a link-graph/anchor-text job sees); ``follow_links``
    applies the REP link directives a polite crawler honors before
    frontier admission: empty when the page is meta-nofollow, otherwise
    out_links minus rel="nofollow" anchors. ``noindex`` is the page's
    document-sink gate (drop from the corpus, still crawl through).
    Same batch shape as parse_html_pages: one Arrow crossing.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                links, noindex, nofollow = parse_link_directives(html)
                out = [h for h, _ in links]
                follow = [] if nofollow else [h for h, nf in links if not nf]
                rows.append((url, out, follow, noindex, nofollow))
            yield pd.DataFrame(
                rows,
                columns=["url", "out_links", "follow_links", "noindex", "nofollow"],
            )

    return pages.mapInPandas(
        run,
        "url string, out_links array<string>, follow_links array<string>, "
        "noindex boolean, nofollow boolean",
    )
