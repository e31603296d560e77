"""Guard against orphaned public names (pure ``ast`` and ``tokenize``,
no Spark).

A top-level public ``def`` or ``class`` in ``spider_spark/`` must be
named in CODE somewhere in the repo's non-test Python (the package, the
contract in ``__spark_entry__.py``, ``bench.py``, ``tools/``,
``perfbench/``) outside its own definition. Comments and triple-quoted
strings (docstrings) do not count: a name that only prose mentions has
no caller. Ordinary string literals do count, because SQL text names
functions. Code that only its own tests call is deleted, not kept; the
exceptions are listed in ``KEPT`` with the reason each one stays.

Knobs are held to the same rule: a ``CrawlConfig`` field or an optional
``CrawlEngine`` parameter that no non-test caller sets is deleted, or
listed in ``KEPT_KNOBS`` with its reason.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

KEPT = {
    "spiders_dim_df": "Spider = config row: the spiders dimension (PAPER §1.1)",
    "seeds_from_registry": "Spider = config row: start_urls from the registry (PAPER §1.1)",
    "extract_for_site": "Spider = config row: per-site field extraction (PAPER §1.1)",
    "with_proxy": "proxy routing, the middlewares.py proxy assignment (PAPER §1.1)",
    "description_cleaner": "helper.py function (SURVEY §2.4)",
    "extract_coordinates": "helper.py function (SURVEY §2.4)",
    "sitemap_urls_from_robots": "robots.txt Sitemap: lines (RFC 9309) for sitemap seeding",
    "parse_warc_records": "test oracle: reads back what storage/warc.write_warc writes",
    "select_html": "selector engine entry point for one HTML string",
    "xpath_re": "the .re() analog of the xpath selector column",
    "sitemaps_df": "synthetic sitemap input of a sitemap-seeded crawl",
    "sitemap_seeds_df": "synthetic seeds matching sitemaps_df",
    "expand_sitemap_seeds": "sitemap seed expansion the caller runs before CrawlEngine.run",
    "expand_feed_seeds": "RSS/Atom seed expansion the caller runs before CrawlEngine.run",
    "fetch_http": "the production HTTP fetch backend beside fetch_synthetic",
    "write_warc": "WARC/1.1 archive export of fetched responses",
    "cdx_index": "CDX index over write_warc's shards (byte-exact seeks)",
}

KEPT_KNOBS = {
    "spiders": "Spider = config row: the engine's per-site rules dim (PAPER §1.1)",
    "conditional_get": "gates the per-wave revalidations write of a conditional recrawl; "
    "nothing the engine already observes can gate it without an extra Spark job",
}


def _sources() -> dict[Path, str]:
    return {
        p: p.read_text()
        for p in sorted(ROOT.rglob("*.py"))
        if not any(part == "tests" or part.startswith(".")
                   for part in p.relative_to(ROOT).parts)
    }


def _public_defs(sources: dict[Path, str]):
    for p, src in sources.items():
        if p.relative_to(ROOT).parts[0] != "spider_spark":
            continue
        for node in ast.parse(src).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                    and not node.name.startswith("_")):
                yield p, node


def _code_words(src: str):
    """``(line, word)`` for every word of ``src`` outside comments and
    triple-quoted strings."""
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT or (
            tok.type == tokenize.STRING
            and tok.string.lstrip("bBfFrRuU").startswith(('"""', "'''"))
        ):
            continue
        for word in re.findall(r"\w+", tok.string):
            yield tok.start[0], word


def test_every_public_name_has_a_caller():
    sources = _sources()
    words = {p: list(_code_words(src)) for p, src in sources.items()}
    total = Counter(w for ws in words.values() for _, w in ws)
    defs = list(_public_defs(sources))
    orphans = []
    for p, node in defs:
        start = min([node.lineno] + [d.lineno for d in node.decorator_list])
        own = sum(w == node.name and start <= line <= node.end_lineno for line, w in words[p])
        if total[node.name] == own:
            orphans.append(f"{p.relative_to(ROOT)}:{node.lineno} {node.name}")
    unexplained = [o for o in orphans if o.split()[-1] not in KEPT]
    assert not unexplained, "no caller outside tests:\n" + "\n".join(unexplained)
    assert set(KEPT) <= {node.name for _, node in defs}, "stale KEPT entry"


def test_one_html_tokenizer():
    """``htmlparse.tokens`` is the package's one HTML tokenizer: one
    ``HTMLParser`` subclass, and only ``operators/htmlparse.py`` imports
    ``html.parser``. Every other extractor loops over its tokens."""
    subclasses, importers = [], set()
    for p, src in _sources().items():
        rel = p.relative_to(ROOT)
        if rel.parts[0] != "spider_spark":
            continue
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ClassDef) and any(
                getattr(b, "id", getattr(b, "attr", None)) == "HTMLParser" for b in node.bases
            ):
                subclasses.append(f"{rel}:{node.name}")
            elif (isinstance(node, ast.ImportFrom) and node.module == "html.parser") or (
                isinstance(node, ast.Import) and any(a.name == "html.parser" for a in node.names)
            ):
                importers.add(rel.as_posix())
    assert len(subclasses) == 1, subclasses
    assert importers == {"spider_spark/operators/htmlparse.py"}, importers


def test_every_knob_has_a_caller():
    """Every ``CrawlConfig`` field and every optional
    ``CrawlEngine.__init__`` parameter is passed by keyword somewhere in
    non-test code outside ``plans/engine.py``, or is in ``KEPT_KNOBS``."""
    engine = ROOT / "spider_spark" / "plans" / "engine.py"
    sources = _sources()
    knobs = set()
    for node in ast.parse(sources[engine]).body:
        if isinstance(node, ast.ClassDef) and node.name == "CrawlConfig":
            knobs |= {f.target.id for f in node.body if isinstance(f, ast.AnnAssign)}
        elif isinstance(node, ast.ClassDef) and node.name == "CrawlEngine":
            init = next(f for f in node.body if getattr(f, "name", None) == "__init__")
            args = init.args
            knobs |= {a.arg for a in args.args[len(args.args) - len(args.defaults):]}
            knobs |= {a.arg for a, d in zip(args.kwonlyargs, args.kw_defaults) if d}
    assert "crawl_id" in knobs and "spiders" in knobs, knobs
    set_by_callers = {
        node.arg
        for p, src in sources.items()
        if p != engine
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.keyword)
    }
    unset = sorted(knobs - set_by_callers - set(KEPT_KNOBS))
    assert not unset, f"knobs no caller sets: {unset}"
    stale = sorted(k for k in KEPT_KNOBS if k not in knobs or k in set_by_callers)
    assert not stale, f"stale KEPT_KNOBS entries: {stale}"
