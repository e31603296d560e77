"""HTML parse stage: raw page bytes -> links, spans, main text, forms
and link directives.

The reference parses a response once into the lxml tree its selectors
read (``der_immo_tip.py:32-47``). This container has no lxml, so
:func:`tokens` is the package's one HTML tokenizer (stdlib
``html.parser``; a duplicated attribute keeps its first value, as in
HTML5 and libxml2). Every extractor here, ``anchortext.parse_anchors``
and ``selectors.parse_tree`` are loops over its tokens, and
:func:`map_pages` runs one over a DataFrame of pages: one Arrow batch
per ``mapInPandas`` call, one Python pass per page.

:func:`parse_page` produces the reference's observable outputs:

* out_links: href of every <a>, in document order (``response.xpath
  ('//a/@href')`` analog);
* spans: interleaved text/media in document order — text nodes under
  content tags become ``kind='text'`` spans, <img src> becomes
  ``kind='media'`` (ListingItem description + images, with page order
  preserved the way ItemLoader accumulation preserves it,
  ``loaders.py:14-47``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

PARSED_SCHEMA = (
    "url string, out_links array<string>, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

#: token kinds of :func:`tokens`
START, END, TEXT = 0, 1, 2

_SKIP_TEXT_IN = {"script", "style", "head", "title"}


class _Tokenizer(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.out: list[tuple] = []

    def handle_starttag(self, tag, attrs):
        # the first of duplicated attributes wins
        self.out.append((START, tag, dict(reversed(attrs))))

    def handle_endtag(self, tag):
        self.out.append((END, tag, None))

    def handle_data(self, data):
        self.out.append((TEXT, None, data))


def tokens(html: str) -> list[tuple]:
    """One page as ``(kind, tag, value)`` tuples in document order:
    ``(START, tag, attrs dict)``, ``(END, tag, None)`` and ``(TEXT,
    None, text)``. A self-closing tag is a START then an END; text
    still buffered at the end of the page is flushed (the parser is
    closed); character references are decoded."""
    p = _Tokenizer()
    p.feed(html or "")
    p.close()
    return p.out


def map_pages(
    pages: DataFrame,
    per_page: Callable[..., Iterable[tuple]],
    schema: str,
    html_col: str = "html",
    url_col: str = "url",
    extra_col: str | None = None,
) -> DataFrame:
    """Apply ``per_page(url, html[, extra])`` to every page in one
    ``mapInPandas`` pass. ``per_page`` returns the page's output rows
    (any number of tuples in ``schema`` order); ``extra_col`` names an
    optional third input column passed as ``extra``."""
    names = T.StructType.fromDDL(schema).names
    in_cols = [url_col, html_col] + ([extra_col] if extra_col else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [row for args in zip(*(pdf[c] for c in in_cols)) for row in per_page(*args)]
            yield pd.DataFrame(rows, columns=names)

    return pages.mapInPandas(run, schema)


def parse_page(html: str) -> tuple[list[str], list[tuple]]:
    links: list[str] = []
    spans: list[tuple] = []
    # dedup media keep-first (reference set() at pipelines.py:127-131,
    # made deterministic); offsets stay dense
    seen: set[str] = set()
    skip = 0
    for kind, tag, val in tokens(html):
        if kind == TEXT:
            text = "" if skip else " ".join(val.split())
            if text:
                spans.append(("text", text, None, len(spans)))
        elif kind == START:
            if tag in _SKIP_TEXT_IN:
                skip += 1
            if tag == "a" and val.get("href"):
                links.append(val["href"])
            elif tag == "img" and val.get("src") and val["src"] not in seen:
                seen.add(val["src"])
                spans.append(("media", None, val["src"], len(spans)))
        elif tag in _SKIP_TEXT_IN and skip:
            skip -= 1
    return links, spans


def parse_html_pages(pages: DataFrame, html_col: str = "html", url_col: str = "url") -> DataFrame:
    """(url, html) -> (url, out_links, spans) via mapInPandas."""
    return map_pages(
        pages, lambda url, html: [(url, *parse_page(html))], PARSED_SCHEMA, html_col, url_col
    )


# ---------------------------------------------------------------------------
# Main-content extraction (boilerplate removal)
# ---------------------------------------------------------------------------

#: Block elements that may BE the main content (body itself is excluded:
#: it always contains the boilerplate too, so scoring it would drown the
#: signal — the same reason Readability scores candidate containers, not
#: the page root).
_CANDIDATE_TAGS = {"div", "article", "section", "main", "td"}


def extract_main_text(html: str) -> str:
    """Main content of one page: text of the best-scoring candidate
    block, anchor text excluded, whitespace normalized; '' when the
    page has no candidate blocks.

    Single-pass streaming density scorer (Readability-family rule,
    Arc90 readability / trafilatura lineage — public heuristics): every
    open candidate block accumulates the length of descendant text,
    split into plain chars vs anchor chars; at close, score =
    plain_len - link_len. Best score wins; ties go to the EARLIEST
    opened block (deterministic). No DOM is built — one stack walk per
    page.
    """
    skip = a_depth = 0
    # open candidate blocks: [plain_len, link_len, texts, open_order]
    open_: list[list] = []
    closed: list[tuple] = []  # (score, -open_order, texts)
    n_opened = 0
    for kind, tag, val in tokens(html):
        if kind == TEXT:
            text = " ".join(val.split()) if open_ and not skip else ""
            if not text:
                continue
            for entry in open_:
                if a_depth:
                    entry[1] += len(text)
                else:
                    entry[0] += len(text)
                    entry[2].append(text)
        elif kind == START:
            if tag in _SKIP_TEXT_IN:
                skip += 1
            if tag == "a":
                a_depth += 1
            if tag in _CANDIDATE_TAGS:
                open_.append([0, 0, [], n_opened])
                n_opened += 1
        else:
            if tag in _SKIP_TEXT_IN and skip:
                skip -= 1
            if tag == "a" and a_depth:
                a_depth -= 1
            if tag in _CANDIDATE_TAGS and open_:
                plain, link, texts, order = open_.pop()
                closed.append((plain - link, -order, texts))
    # unclosed candidates (malformed HTML) still count
    closed += [(plain - link, -order, texts) for plain, link, texts, order in open_]
    if not closed:
        return ""
    return " ".join(max(closed, key=lambda c: c[:2])[2])


def main_content_pages(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, html) -> (url, main_text) via mapInPandas — the boilerplate
    -removal stage of a training-data pipeline (nav/footer/link farms
    dropped, article body kept)."""
    return map_pages(
        pages,
        lambda url, html: [(url, extract_main_text(html))],
        "url string, main_text string",
        html_col,
        url_col,
    )


# ---------------------------------------------------------------------------
# FormRequest.from_response analog
# ---------------------------------------------------------------------------

#: input types that only submit when clicked — from_response(clickdata=
#: None) submits NO button, matching both reference call sites
#: (immobiliarefaro_it.py:36, immobiliaretafy_com.py:40 pass only
#: formdata)
_CLICKABLE_TYPES = {"submit", "image", "button", "reset"}


def _form_fields(html: str, form_index: int) -> tuple[str | None, str | None, list]:
    """(action, method, fields) of the ``form_index``-th <form>; action
    is None when the page has no such form.

    Field semantics follow Scrapy's ``FormRequest.from_response`` /
    lxml ``form_values()`` (public behavior): named <input> except
    clickable types, checkboxes/radios only when ``checked`` (value
    defaulting to 'on'), <textarea> text, <select> selected option
    (first option when none is marked selected — the browser default
    Scrapy inherits from lxml)."""
    form_no = -1
    in_target = False
    action = method = None
    fields: list[tuple[str, str]] = []
    select_name = None
    select_options: list[tuple[str, bool]] = []  # (value, selected)
    textarea_name = None
    textarea_chunks: list[str] | None = None
    for kind, tag, a in tokens(html):
        if kind == TEXT:
            if textarea_chunks is not None:
                textarea_chunks.append(a)
        elif kind == START:
            if tag == "form":
                form_no += 1
                if form_no == form_index:
                    in_target = True
                    action = a.get("action") or ""
                    method = (a.get("method") or "GET").upper()
            elif not in_target:
                continue
            elif tag == "input":
                name, itype = a.get("name"), (a.get("type") or "text").lower()
                box = itype in ("checkbox", "radio")
                if name and itype not in _CLICKABLE_TYPES and (not box or "checked" in a):
                    fields.append((name, a.get("value") or ("on" if box else "")))
            elif tag == "select":
                select_name = a.get("name")
                select_options = []
            elif tag == "option" and select_name is not None:
                value = a.get("value")
                select_options.append(("" if value is None else value, "selected" in a))
            elif tag == "textarea":
                textarea_name = a.get("name")
                textarea_chunks = []
        elif tag == "form" and in_target:
            in_target = False
        elif tag == "select" and in_target and select_name:
            chosen = next((v for v, sel in select_options if sel), None)
            if chosen is None and select_options:
                chosen = select_options[0][0]
            if chosen is not None:
                fields.append((select_name, chosen))
            select_name = None
        elif tag == "textarea" and in_target and textarea_name:
            fields.append((textarea_name, "".join(textarea_chunks or [])))
            textarea_name = None
            textarea_chunks = None
    return action, method, fields


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

    action, method, fields = _form_fields(html, form_index)
    if action is None:
        return None
    ov = dict(overrides or {})
    out: list[tuple[str, str]] = []
    replaced: set[str] = set()
    for name, value in fields:
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
    action = urljoin(page_url or "", action) if action else (page_url or "")
    return action, method, urlencode(out)


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

    def per_page(url, html, ov=overrides):  # per row: ov is the column's value
        got = form_request(html, url, ov, form_index)
        return [] if got is None else [(url, *got)]

    return map_pages(
        pages,
        per_page,
        "url string, action string, method string, body string",
        html_col,
        url_col,
        overrides if per_row else None,
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


def parse_link_directives(html: str) -> tuple[list[tuple[str, bool]], bool, bool]:
    """(links [(href, rel_nofollow)], page_noindex, page_nofollow).

    rel is a space-separated token list (``rel="nofollow ugc
    sponsored"`` is still nofollow)."""
    links: list[tuple[str, bool]] = []
    noindex = nofollow = False
    for kind, tag, a in tokens(html):
        if kind != START:
            continue
        if tag == "a" and a.get("href"):
            links.append((a["href"], "nofollow" in (a.get("rel") or "").lower().split()))
        elif tag == "meta" and (a.get("name") or "").lower() == "robots":
            toks = {t.strip().lower() for t in (a.get("content") or "").split(",")}
            noindex = noindex or bool(toks & _META_NOINDEX)
            nofollow = nofollow or bool(toks & _META_NOFOLLOW)
    return links, noindex, nofollow


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
    """

    def per_page(url, html):
        links, noindex, nofollow = parse_link_directives(html)
        follow = [] if nofollow else [h for h, nf in links if not nf]
        return [(url, [h for h, _ in links], follow, noindex, nofollow)]

    return map_pages(
        pages,
        per_page,
        "url string, out_links array<string>, follow_links array<string>, "
        "noindex boolean, nofollow boolean",
        html_col,
        url_col,
    )
