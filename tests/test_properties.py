"""Property-based tests (hypothesis) for the URL identity layer.

Canonicalization must be IDEMPOTENT (canon ∘ canon == canon) — the
frontier re-canonicalizes on every admission, so a non-idempotent rule
would change fingerprints across waves and break the seen-set. Also
pinned: golden-model agreement on arbitrary URL-ish strings, and
fingerprint determinism/sensitivity.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from spider_spark.functions.urls import canonicalize_series
from tests import golden_model as G

scheme = st.sampled_from(["http", "https", "HTTP", "Https"])
host = st.from_regex(r"[A-Za-z0-9][A-Za-z0-9.-]{0,20}", fullmatch=True)
port = st.sampled_from(["", ":80", ":443", ":8080"])
path = st.from_regex(r"(/[A-Za-z0-9._~%/-]{0,15}){0,3}", fullmatch=True)
query = st.sampled_from(
    ["", "?b=2&a=1", "?a=1&a=0", "?x=", "?k=v&k=v", "?z=9&y=8&x=7"]
)
frag = st.sampled_from(["", "#f", "#frag-with-stuff"])


@st.composite
def urls(draw):
    return (
        draw(scheme) + "://" + draw(host) + draw(port) + draw(path)
        + draw(query) + draw(frag)
    )


@given(st.lists(urls(), min_size=1, max_size=30))
@settings(max_examples=60, deadline=None)
def test_canonicalize_idempotent(batch):
    once = canonicalize_series(pd.Series(batch))
    twice = canonicalize_series(once)
    assert once.tolist() == twice.tolist()


@given(st.lists(urls(), min_size=1, max_size=30))
@settings(max_examples=60, deadline=None)
def test_canonicalize_matches_golden_model(batch):
    vec = canonicalize_series(pd.Series(batch)).tolist()
    ref = [G.canonicalize(u) for u in batch]
    assert vec == ref


@given(st.lists(urls(), min_size=2, max_size=20))
@settings(max_examples=40, deadline=None)
def test_fingerprint_deterministic_and_method_sensitive(batch):
    canon = canonicalize_series(pd.Series(batch)).tolist()
    get1 = [G.fingerprint("GET", u, None) for u in canon]
    get2 = [G.fingerprint("GET", u, None) for u in canon]
    post = [G.fingerprint("POST", u, "a=1") for u in canon]
    assert get1 == get2
    assert all(g != p for g, p in zip(get1, post))


def test_arrow_and_pandas_paths_agree():
    """The Arrow canonicalization against the golden model's independent
    one on the edge cases (the name predates the removal of the pandas
    fallback it was first compared with)."""
    cases = pd.Series(
        [
            "HTTP://Host.Example:80/a//b?z=1&a=2#frag",
            "https://h.example:443/",
            "h.example/no-scheme",
            "",
            "http://h.example/p?b=&a=1",
            "ftp://H.EXAMPLE:21/x",
            "http://h.example/p?a=1&a=0#x",
        ]
    )
    assert canonicalize_series(cases).tolist() == [G.canonicalize(u) for u in cases]


# ---------------------------------------------------------------------------
# resolve_series vs urljoin (vectorized fast paths + fallback residue)
# ---------------------------------------------------------------------------

href_abs = st.builds(
    lambda s, h, p: s.lower() + "://" + h + p, scheme, host, path
)
href_root = st.from_regex(r"/[A-Za-z0-9._~%/-]{0,15}", fullmatch=True)
href_plain = st.from_regex(r"[A-Za-z0-9._~%-][A-Za-z0-9._~%/-]{0,15}", fullmatch=True)
href_weird = st.sampled_from(
    ["", "../up", "./here", "a/../b", "//proto.rel/x", "?q=1", "#frag",
     "mailto:x@y.z", "..", ".", "a/./b", "/a/../b", "g:h", "x?y=../z"]
)
#: whitespace/control chars — urljoin strips leading/trailing spaces and
#: removes tab/newline anywhere (WHATWG, bpo-43882); these rows must
#: route to the fallback (ADVICE r2: the fast paths kept them verbatim)
href_whitespace = st.sampled_from(
    [" page.html", "page.html ", "pa\tge.html", "/x\ty", "a\nb.html",
     " /rooted", "\thttp://h.example/x", "http://h.example/a b",
     "page\r.html", "  "]
)
hrefs = st.one_of(href_abs, href_root, href_plain, href_weird, href_whitespace)


@given(st.lists(st.tuples(urls(), hrefs), min_size=1, max_size=30))
@settings(max_examples=120, deadline=None)
def test_resolve_matches_urljoin(pairs):
    """Vectorized resolve == urllib urljoin on every href shape —
    absolute / root-relative / plain-relative fast paths AND the
    fallback residue (dot segments, protocol-relative, query/fragment
    hrefs)."""
    from urllib.parse import urljoin

    from spider_spark.functions.urls import resolve_series

    base = pd.Series([b for b, _ in pairs])
    href = pd.Series([h for _, h in pairs])
    got = resolve_series(base, href).tolist()
    want = [urljoin(b, h) for b, h in pairs]
    assert got == want


def test_resolve_fast_path_covers_crawl_shapes():
    """The three synthetic-web link shapes must NOT hit the urljoin
    fallback (they are the hot path at 10^10 links)."""
    import spider_spark.functions.urls as U

    calls = []
    real = U.urljoin

    def spy(b, h):
        calls.append((b, h))
        return real(b, h)

    U.urljoin = spy
    try:
        base = pd.Series(["http://h0.example/list?page=1"] * 3)
        href = pd.Series(
            ["/detail/d1", "detail/d2", "http://h1.example:80/detail/d3#f"]
        )
        got = U.resolve_series(base, href).tolist()
    finally:
        U.urljoin = real
    assert calls == []
    assert got == [
        "http://h0.example/detail/d1",
        "http://h0.example/detail/d2",
        "http://h1.example:80/detail/d3#f",
    ]


# ---------------------------------------------------------------------------
# selector axes over random well-nested pages (pure Python, no Spark)
# ---------------------------------------------------------------------------

_tag = st.sampled_from(["div", "p", "span", "b", "li"])
_text = st.sampled_from(["", "a", "b c", "  "])
_element = st.recursive(
    st.tuples(_tag, st.just([])),
    lambda inner: st.tuples(_tag, st.lists(st.one_of(inner, _text), max_size=4)),
    max_leaves=20,
)


def _render(items, ancestors, out, model):
    """Append the HTML of ``items`` to ``out``; element ``k`` (in
    document order) gets ``id="k"`` and ``model[k]`` its ancestor ids."""
    for item in items:
        if isinstance(item, str):
            out.append(item)
            continue
        tag, kids = item
        k = len(model)
        model.append(ancestors)
        out.append(f'<{tag} id="{k}">')
        _render(kids, ancestors + [k], out, model)
        out.append(f"</{tag}>")


@given(st.lists(st.one_of(_element, _text), min_size=1, max_size=4))
@settings(max_examples=60, deadline=None)
def test_selector_axes_partition_the_tree(items):
    """XPath's axis-partition rule: for every element, following::,
    preceding::, descendant::, self and its ancestors hold every element
    exactly once; the closure axes return document order."""
    from spider_spark.operators.selectors import select_html

    out: list[str] = []
    ancestors: list[list[int]] = []
    _render(items, [], out, ancestors)
    html = "".join(out)
    everything = list(range(len(ancestors)))
    for k in everything:

        def ids(axis: str) -> list[int]:
            sel = f"//*[@id='{k}']/{axis}*/@id"
            return [int(i) for i in select_html(html, sel, lang="xpath")]

        following, preceding = ids("following::"), ids("preceding::")
        assert following == sorted(following)
        assert preceding == sorted(preceding)
        parts = following + preceding + ids("/") + [k] + ancestors[k]
        assert sorted(parts) == everything
