"""Tests: fetch-log windows, media plumbing, ItemClear specs,
AutoThrottle, HTML parse (SURVEY.md §2.3-2.7 extensions)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spider_spark.functions.itemclear import FieldSpec, apply_specs
from spider_spark.operators import autothrottle as AT
from spider_spark.operators import media as M
from spider_spark.operators.htmlparse import parse_html_pages, parse_page

# ---------------------------------------------------------------------------
# fetch-log windows
# ---------------------------------------------------------------------------


def test_streaming_fetch_rates(spark):
    """autothrottle.host_fetch_rates over a batch fetch log (the name
    predates the removal of the stream readers)."""
    log = spark.createDataFrame(
        [
            ("2024-01-01 10:00:10", "a.example", 200, 120.0),
            ("2024-01-01 10:00:20", "a.example", 503, 80.0),
            ("2024-01-01 10:01:10", "b.example", 200, 60.0),
        ],
        "ts string, host string, status int, latency_ms double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = {(r["host"], r["fetched"], r["errors"]) for r in AT.host_fetch_rates(log).collect()}
    assert ("a.example", 2, 1) in rows
    assert ("b.example", 1, 0) in rows


# ---------------------------------------------------------------------------
# media
# ---------------------------------------------------------------------------


@pytest.fixture()
def media_df(spark):
    rows = [
        ("img/1", b"aaaa", "image", {"host": "h1"}),
        ("img/2", b"bbbb", "image", {"host": "h1"}),
        ("vid/1", b"cccc", "video", {"host": "h2"}),
        ("img/3", None, "image", None),
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_decode_media_stub_deterministic(spark, media_df):
    out1 = {r["media_ref"]: (r["width"], r["height"], r["n_frames"], r["ok"])
            for r in M.decode_media(media_df).collect()}
    out2 = {r["media_ref"]: (r["width"], r["height"], r["n_frames"], r["ok"])
            for r in M.decode_media(media_df).collect()}
    assert out1 == out2
    assert out1["img/3"] == (None, None, None, False)
    assert out1["img/1"][3] and out1["img/1"][0] >= 64
    assert out1["vid/1"][2] >= 1


def test_media_features_and_frames(spark, media_df):
    dec = M.decode_media(media_df)
    frames = M.sample_frames(dec, every_n=24)
    vid = frames.filter(F.col("media_ref") == "vid/1")
    n_frames = dec.filter(F.col("media_ref") == "vid/1").collect()[0]["n_frames"]
    assert vid.count() == (n_frames - 1) // 24 + 1


def test_spans_media_refs(spark):
    docs = spark.createDataFrame(
        [
            ("d1", [("media", None, "m1", 0), ("text", "x", None, 1), ("media", None, "m2", 2)]),
            ("d2", [("media", None, "m1", 0)]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = {r["media_ref"]: (r["first_doc_id"], r["n_refs"]) for r in M.spans_media_refs(docs).collect()}
    assert out == {"m1": ("d1", 2), "m2": ("d1", 1)}


# ---------------------------------------------------------------------------
# ItemClear spec engine
# ---------------------------------------------------------------------------


def test_itemclear_specs(spark):
    df = spark.createDataFrame(
        [
            ("  1.250,50 € / Monat ", "<b>Schöne Wohnung</b> mit Balkon", "zwei Zimmer", "1.100 sq ft"),
        ],
        "rent_raw string, desc_raw string, rooms_raw string, area_raw string",
    )
    specs = [
        FieldSpec("rent", "rent_raw", get_num=True),
        FieldSpec("description", "desc_raw", strip_html=True),
        FieldSpec("balcony", "desc_raw", true_words=["balkon", "balcony"]),
        FieldSpec("room_count", "rooms_raw", split=(" ", 1), word_num=True, get_num=True),
        FieldSpec("square_meters", "area_raw", get_num=True, sq_ft=True),
    ]
    row = apply_specs(df, specs).collect()[0]
    assert row["rent"] == 1250.5
    assert row["description"] == "Schöne Wohnung mit Balkon"
    assert row["balcony"] is True
    assert row["room_count"] == 2.0
    # 1100 sq ft * 0.09290304 = 102.19 -> 102
    assert row["square_meters"] == 102


def test_itemclear_false_words_and_split_negative(spark):
    df = spark.createDataFrame(
        [("no pets allowed", "a|b|c")], "pets_raw string, parts_raw string"
    )
    specs = [
        FieldSpec("pets_allowed", "pets_raw", true_words=["pets"], false_words=["no pets"]),
        FieldSpec("last_part", "parts_raw", split=("|", -1)),
    ]
    row = apply_specs(df, specs).collect()[0]
    assert row["pets_allowed"] is False
    assert row["last_part"] == "c"


# ---------------------------------------------------------------------------
# AutoThrottle
# ---------------------------------------------------------------------------


def test_autothrottle_update(spark):
    policy = spark.createDataFrame(
        [
            ("fast.example", 0.1, 16, []),
            ("slow.example", 0.1, 16, []),
            ("idle.example", 0.5, 16, []),
            ("err.example", 1.5, 16, []),
        ],
        "host string, crawl_delay_s double, max_concurrency int, robots_disallow array<string>",
    )
    latency = spark.createDataFrame(
        [
            ("fast.example", 100.0, 0, 10),   # 0.1s latency -> stays at floor
            ("slow.example", 1900.0, 0, 10),  # 1.9s -> delay rises toward 1.0
            ("err.example", 200.0, 3, 10),    # errors: may not decrease
        ],
        "host string, latency_ms_avg double, n_errors long, n_fetched long",
    )
    out = {r["host"]: r["crawl_delay_s"] for r in AT.updated_policy(policy, latency).collect()}
    assert out["fast.example"] == pytest.approx(0.1)  # clamped to floor
    assert out["slow.example"] == pytest.approx((0.1 + 1.9) / 2)
    assert out["idle.example"] == pytest.approx(0.5)  # untouched (no traffic)
    assert out["err.example"] == pytest.approx(1.5)  # error wave: no decrease


def test_autothrottle_clamps_to_max(spark):
    policy = spark.createDataFrame(
        [("h.example", 1.8, 16, [])],
        "host string, crawl_delay_s double, max_concurrency int, robots_disallow array<string>",
    )
    latency = spark.createDataFrame(
        [("h.example", 5000.0, 0, 5)],
        "host string, latency_ms_avg double, n_errors long, n_fetched long",
    )
    out = AT.updated_policy(policy, latency).collect()[0]
    assert out["crawl_delay_s"] == pytest.approx(2.0)  # MAX_CRAWL_DELAY_S


def test_synthetic_latency_deterministic(spark):
    df = spark.createDataFrame([("http://a/1",), ("http://a/2",)], "canonical_url string")
    a = [r["latency_ms"] for r in AT.synthetic_latency(df).collect()]
    b = [r["latency_ms"] for r in AT.synthetic_latency(df).collect()]
    assert a == b
    assert all(100 <= v < 1500 for v in a)


# ---------------------------------------------------------------------------
# HTML parse
# ---------------------------------------------------------------------------

HTML = """
<html><head><title>skip me</title><script>var x=1;</script></head>
<body>
  <h1>Nice flat</h1>
  <a href="/detail/1">one</a>
  <img src="/img/a.jpg"/>
  <p>Sunny two-room with balcony</p>
  <img src="/img/b.jpg"/>
  <img src="/img/a.jpg"/>
  <a href="/detail/2">two</a>
</body></html>
"""


def test_parse_page_pure():
    links, spans = parse_page(HTML)
    assert links == ["/detail/1", "/detail/2"]
    kinds = [(s[0], s[1] or s[2]) for s in spans]
    # document order preserved; dup img/a.jpg removed keep-first
    assert ("media", "/img/a.jpg") in kinds and ("media", "/img/b.jpg") in kinds
    assert kinds.count(("media", "/img/a.jpg")) == 1
    text_all = " ".join(s[1] for s in spans if s[0] == "text")
    assert "Nice flat" in text_all and "balcony" in text_all
    assert "skip me" not in text_all and "var x" not in text_all
    assert [s[3] for s in spans] == list(range(len(spans)))


def test_duplicate_attribute_first_wins():
    """Every extractor reads the first of a duplicated attribute: the
    HTML5 tokenizer drops the later one as a parse error, and so does
    libxml2, the parser under lxml and parsel."""
    from spider_spark.operators.anchortext import parse_anchors
    from spider_spark.operators.htmlparse import form_request, parse_link_directives
    from spider_spark.operators.selectors import select_html

    page = '<a href="/first" href="/second">x</a><img src="/a.jpg" src="/b.jpg">'
    assert parse_page(page) == (["/first"], [("text", "x", None, 0), ("media", None, "/a.jpg", 1)])
    assert parse_link_directives(page) == ([("/first", False)], False, False)
    assert parse_anchors(page) == [("/first", "x")]
    assert select_html(page, "a::attr(href)") == ["/first"]
    assert select_html(page, "img::attr(src)") == ["/a.jpg"]
    form = '<form action="/f"><input name="q" value="1" value="2"></form>'
    assert form_request(form, "http://h/") == ("http://h/f", "GET", "q=1")


def test_parse_html_pages_df(spark):
    df = spark.createDataFrame([("http://h/p1", HTML), ("http://h/p2", "")], "url string, html string")
    out = {r["url"]: r for r in parse_html_pages(df).collect()}
    assert out["http://h/p1"]["out_links"] == ["/detail/1", "/detail/2"]
    assert len(out["http://h/p1"]["spans"]) >= 5
    assert out["http://h/p2"]["out_links"] == []


def test_engine_autothrottle_adapts(spark, tmp_path):
    """With autothrottle on, the crawl still reaches the same final doc
    set (politeness only delays dispatch) and host delays move."""
    from spider_spark.plans.engine import CrawlConfig, CrawlEngine
    from spider_spark.storage.catalog import SnapshotStore
    from spider_spark.synth import WebSpec, host_policy_df, seeds_df, web_df

    spec = WebSpec(seed=5, n_hosts=3, pages_per_host=2, details_per_page=3)
    base_policy = host_policy_df(spark, spec)

    def run(flag, sub):
        store = SnapshotStore(spark, str(tmp_path / sub))
        eng = CrawlEngine(
            spark, web_df(spark, spec), base_policy, store,
            CrawlConfig(crawl_id="t", n_buckets=8, max_waves=40, autothrottle=flag),
        )
        eng.run(seeds_df(spark, spec))
        return eng

    e_on = run(True, "on")
    e_off = run(False, "off")
    docs_on = {r["doc_id"] for r in e_on.documents().collect()}
    docs_off = {r["doc_id"] for r in e_off.documents().collect()}
    assert docs_on == docs_off and len(docs_on) > 5
    # delays adapted away from the static policy for at least one host
    adapted = {r["host"]: r["crawl_delay_s"] for r in e_on.policy.collect()}
    static = {r["host"]: r["crawl_delay_s"] for r in base_policy.collect()}
    assert any(abs(adapted[h] - static[h]) > 1e-9 for h in adapted)


# ---------------------------------------------------------------------------
# spider registry
# ---------------------------------------------------------------------------


def test_registry_dim_and_seeds(spark):
    from spider_spark.sources.registry import (
        REGISTRY, SiteSpec, seeds_from_registry, spiders_dim_df,
    )

    dim = spiders_dim_df(spark)
    assert dim.count() == len(REGISTRY) >= 3
    uk = dim.filter(F.col("source") == "example_uk").collect()[0]
    assert uk["thousand_separator"] == ","
    # the per-site rules the engine reads from the one dim
    assert {
        "link_allow", "link_deny", "allowed_domains", "handle_httpstatus"
    } <= set(dim.columns)
    assert uk["allowed_domains"] == [] and uk["handle_httpstatus"] == []
    site = SiteSpec(source="sx", seeds=[], allowed_domains=["MiXeD.Example"],
                    handle_httpstatus_list=[401, 500])
    row = spiders_dim_df(spark, {"sx": site}).collect()[0]
    assert row["allowed_domains"] == ["mixed.example"]
    assert row["handle_httpstatus"] == [401, 500]
    seeds = seeds_from_registry(spark)
    assert seeds.count() >= 3
    row = seeds.filter(F.col("source") == "example_de").collect()[0]
    assert row["meta"]["locale"] == "de"


def test_registry_extraction_per_site(spark):
    from spider_spark.sources.registry import extract_for_site

    raw_uk = spark.createDataFrame(
        [("£1,200.50 pw", "1,100 sq ft", "sorry no pets")],
        "rent_raw string, area_raw string, desc_raw string",
    )
    row = extract_for_site(raw_uk, "example_uk").collect()[0]
    assert row["rent"] == 1200.5 * 4  # per_week -> monthly
    assert row["square_meters"] == 102  # 1100 ft2 -> m2
    assert row["pets_allowed"] is False

    raw_de = spark.createDataFrame(
        [("1.250,00 €", "drei Zimmer", "Aufzug vorhanden")],
        "rent_raw string, rooms_raw string, desc_raw string",
    )
    row = extract_for_site(raw_de, "example_de").collect()[0]
    assert row["rent"] == 1250.0
    assert row["room_count"] == 3.0
    assert row["elevator"] is True


def test_schedule_global_cap(spark):
    """Global concurrency cap (CONCURRENT_REQUESTS=320 analog) bounds
    the wave after per-host budgets, keeping highest-priority rows."""
    from spider_spark.operators import politeness as P

    rows = [
        ("t", f"fp{h}_{i}", False, h * 100 + i, f"h{h}.example", i % 3)
        for h in range(6) for i in range(10)
    ]
    pending = spark.createDataFrame(
        rows,
        "crawl_id string, fingerprint string, dont_filter boolean, "
        "discovered_seq long, host string, priority int",
    )
    policy = spark.createDataFrame(
        [(f"h{h}.example", 0.125, 16, []) for h in range(6)],
        "host string, crawl_delay_s double, max_concurrency int, robots_disallow array<string>",
    )
    d_uncapped = P.schedule_wave(pending, policy, wave_seconds=1.0)
    assert d_uncapped.count() == 6 * 8  # budget 8/host
    d_capped = P.schedule_wave(pending, policy, wave_seconds=1.0, global_cap=10)
    deferred = P.deferred_rows(pending, d_capped)
    got = d_capped.collect()
    assert len(got) == 10
    assert all(r["priority"] == 2 for r in got)  # highest priority first
    assert deferred.count() == 60 - 10


def test_fetch_http_with_injected_fetcher(spark):
    """mapInPandas fetch backend: injected fetcher sees host-grouped
    batches; politeness was applied upstream so it fetches freely."""
    from spider_spark.sources.fetch import fetch_http

    dispatch = spark.createDataFrame(
        [(f"http://h{i % 3}.example/p{i}", f"h{i % 3}.example") for i in range(30)],
        "canonical_url string, host string",
    )

    def fetcher(pdf):
        pdf = pdf.copy()
        pdf["status"] = 200
        pdf["body"] = "<html>" + pdf["canonical_url"] + "</html>"
        return pdf[["canonical_url", "host", "status", "body"]]

    out = fetch_http(
        dispatch, "canonical_url string, host string, status int, body string", fetcher
    )
    rows = out.collect()
    assert len(rows) == 30
    assert all(r["status"] == 200 and r["canonical_url"] in r["body"] for r in rows)


def test_fetch_http_stub_raises(spark):
    from spider_spark.sources.fetch import fetch_http
    dispatch = spark.createDataFrame([("http://h/x", "h")], "canonical_url string, host string")
    out = fetch_http(dispatch, "canonical_url string, host string")
    import pytest as _p
    with _p.raises(Exception):
        out.collect()


def render_html(spans, links):
    """Inverse of htmlparse for roundtrip testing: spans+links -> page."""
    parts = ["<html><body>"]
    for kind, text, ref, _off in spans:
        if kind == "text":
            parts.append(f"<p>{text}</p>")
        else:
            parts.append(f'<img src="{ref}"/>')
    for href in links:
        parts.append(f'<a href="{href}"></a>')  # empty anchor: no text span
    parts.append("</body></html>")
    return "".join(parts)


def test_html_render_parse_roundtrip(spark):
    """spans -> html -> parse_page recovers the exact interleaved span
    sequence (kind, text, media_ref, order) and link list — closing the
    loop between the span docs and the HTML parse stage."""
    from spider_spark.operators.htmlparse import parse_page
    from spider_spark.synth import WebSpec, make_spans

    spec = WebSpec(seed=3)
    for doc_id in ["h.example/detail/d1", "h.example/detail/d2", "x.example/detail/d9"]:
        spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in make_spans(spec, doc_id, doc_id.split("/")[0])
        ]
        # render_html drops dup-media spans' order info only if dups exist;
        # parse keeps FIRST occurrence, so feed the deduped expectation
        seen, expect = set(), []
        for kind, text, ref, _ in spans:
            if kind == "media":
                if ref in seen:
                    continue
                seen.add(ref)
            expect.append((kind, text, ref, len(expect)))
        links = [f"/detail/x{i}" for i in range(3)]
        got_links, got_spans = parse_page(render_html(spans, links))
        assert got_links == links
        assert got_spans == expect


def test_ann_lsh_recall_vs_brute_force(spark):
    """SRP-LSH approximate top-k must recover most true neighbors
    (recall >= 0.6). The synthetic embeddings are near-orthogonal
    (max pair cos ~0.5), so buckets must be coarse: 4 planes x 8 tables;
    clustered real-world embeddings support finer buckets (more planes)
    at the same recall."""
    from spider_spark.operators import ann as ANN

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in ANN.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ANN.lsh_bucketed_topk(emb, queries, dim=64, k=5, n_planes=4, n_tables=8).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.6, f"recall {recall:.2f}"


def test_embedding_neardup_bucketed_vs_brute(spark):
    """Bucketed near-dup (the production default) vs brute force:
    candidates are a subset by construction; sign-stable near-dups
    (clone scaled by 1.01 -> identical sign pattern, cos ~ 1.0) MUST
    all be found (recall 1.0 at threshold 0.95)."""
    from pyspark.sql import functions as F

    from spider_spark.operators import ann as ANN

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # clone every 5th vector, scaled (sign-preserving => same buckets)
    clones = (
        emb.filter(F.col("vec_id") % 5 == 0)
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * F.lit(1.01)).alias(
                "embedding"
            ),
        )
    )
    corpus = emb.select("vec_id", "embedding").unionByName(clones)

    bucketed = {
        (r["id_a"], r["id_b"])
        for r in ANN.embedding_neardup_pairs(
            corpus, threshold=0.95, mode="bucketed"
        ).collect()
    }
    brute = {
        (r["id_a"], r["id_b"])
        for r in ANN.embedding_neardup_pairs(
            corpus, threshold=0.95, mode="brute"
        ).collect()
    }
    assert len(brute) > 0
    assert bucketed <= brute          # LSH never invents pairs
    assert bucketed == brute          # sign-stable dups: recall 1.0
    # and at a LOOSE threshold the bucketed candidates still recover a
    # useful share of true pairs on near-orthogonal synthetic vectors
    loose_b = {
        (r["id_a"], r["id_b"])
        for r in ANN.embedding_neardup_pairs(corpus, 0.35, mode="bucketed").collect()
    }
    loose_t = {
        (r["id_a"], r["id_b"])
        for r in ANN.embedding_neardup_pairs(corpus, 0.35, mode="brute").collect()
    }
    assert loose_b <= loose_t
    assert len(loose_b) / max(len(loose_t), 1) >= 0.3


def test_simhash_fast_equals_relational(spark):
    """The relational SimHash (the oracle's formulation) vs an
    independent pure-Python model at several widths — same
    tokenization, same md5-bit decode, same tie rule, same zero-token
    omission."""
    import hashlib
    import re

    from spider_spark.operators import textdedup as TD

    def py_simhash(text, n_bits):
        toks = re.findall(r"[a-z0-9]+", (text or "").lower())
        if not toks:
            return None
        acc = [0] * n_bits
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            for p in range(n_bits):
                acc[p] += 1 if (int(h[p // 4], 16) >> (p % 4)) & 1 else -1
        return "".join("1" if a > 0 else "0" for a in acc)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = docs.select("doc_id", "text").collect()
    for n_bits in (16, 64):
        rel = {
            r["doc_id"]: r["simhash"]
            for r in TD.simhash_bits(docs, n_bits=n_bits).collect()
        }
        model = {r["doc_id"]: py_simhash(r["text"], n_bits) for r in texts}
        assert rel == {k: v for k, v in model.items() if v is not None}


def test_winnow_fingerprints_matches_python_model(spark):
    """Winnowing (Schleimer et al. SIGMOD'03) vs an independent pure-
    Python implementation on the real corpus slice."""
    import hashlib

    from spider_spark.operators import textdedup as TD

    def py_winnow(text, k=4, w=5):
        s = " ".join(text.lower().split())
        if len(s) < k + w - 1:
            return set()
        grams = [
            (hashlib.md5(s[i : i + k].encode()).hexdigest()[:8], i)
            for i in range(len(s) - k + 1)
        ]
        sel = set()
        for j in range(len(grams) - w + 1):
            sel.add(min(grams[j : j + w]))
        return {(p, h) for h, p in sel}

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    got = {}
    for r in TD.winnow_fingerprints(docs, k=4, w=5).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    want = {
        r["doc_id"]: py_winnow(r["text"])
        for r in docs.select("doc_id", "text").collect()
    }
    want = {k: v for k, v in want.items() if v}
    assert got == want
    # winnowing guarantee: every w-window of grams contains a selected pos
    any_doc = next(iter(got))
    positions = sorted(p for p, _ in got[any_doc])
    assert positions[0] < 5
    assert all(b - a <= 5 for a, b in zip(positions, positions[1:]))


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF coarse-quantizer ANN (Spark ML KMeans cells + n_probe
    search) recovers most exact neighbors; like the SRP test this is a
    recall bound, not equality — candidates are cell-limited."""
    from pyspark.sql import functions as F

    from spider_spark.operators import ann as ANN

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in ANN.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ANN.ivf_topk(
            emb, queries, dim=64, k=5, n_centroids=16, n_probe=6
        ).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.6, f"recall {recall:.2f}"
    # sampled quantizer fit (the 100 TB default — min_train_rows forces
    # the sample path on this small corpus) still recalls well
    sampled = {
        (r["query_id"], r["neighbor_id"])
        for r in ANN.ivf_topk(
            emb, queries, dim=64, k=5, n_centroids=16, n_probe=6,
            min_train_rows=64,
        ).collect()
    }
    recall_s = len(truth & sampled) / len(truth)
    assert recall_s >= 0.5, f"sampled-fit recall {recall_s:.2f}"


def test_selector_engine_unit():
    """CSS/XPath subset (operators/selectors.py) — the lxml-free
    response.css / response.xpath analog (der_immo_tip.py:32-47)."""
    from spider_spark.operators.selectors import select_html

    html = (
        '<html><head><title>skip</title></head><body>'
        '<div id="main" class="wrap">'
        '<div class="item featured"><a class="title" href="/d/1">First  One</a>'
        '<span class="price">€ 1.200</span><img src="/i/1.jpg"/></div>'
        '<div class="item"><a class="title" href="/d/2">Second</a>'
        '<span class="price">€ 900</span></div>'
        '<p>Nice <b>flat</b> here</p>'
        "</div></body></html>"
    )
    assert select_html(html, "div.item a.title::text") == ["First One", "Second"]
    assert select_html(html, "div.item > a.title::attr(href)") == ["/d/1", "/d/2"]
    assert select_html(html, ".price::text") == ["€ 1.200", "€ 900"]
    assert select_html(html, "#main p") == ["Nice flat here"]
    assert select_html(html, "img::attr(src)") == ["/i/1.jpg"]
    assert select_html(html, "[class=wrap] span::text") == ["€ 1.200", "€ 900"]
    assert select_html(
        html, '//div[@class="item featured"]//a/@href', lang="xpath"
    ) == ["/d/1"]
    assert select_html(html, "//span/text()", lang="xpath") == ["€ 1.200", "€ 900"]
    assert select_html(html, "//p//b/text()", lang="xpath") == ["flat"]
    # misnested / void tags tolerated; ::text yields one result per
    # TEXT NODE (parsel semantics — <br> splits them)
    assert select_html("<p>a<br>b</p>", "p::text") == ["a", "b"]
    # a truncated page keeps its trailing text, as in every extractor
    assert select_html("<div>a</div><div>b &am", "//div/text()", lang="xpath") == ["a", "b &am"]


def test_selector_predicates_and_axes():
    """Round-3 parity forms, each mirroring a real reference idiom:
    contains(@class,...) (1,787 spiders, e.g. the
    //div[contains(@class,'resultat-item')]/a/@href pattern),
    contains(text(),...) (454), contains(.,...) (the
    //script[contains(.,'LatLng')] coordinate idiom),
    following-sibling:: (1,531: //td[...]/following-sibling::td/text(),
    following-sibling::text()), preceding-sibling:: (61), positional
    [1]/[last()], CSS :nth-child(n) (259) and :contains()."""
    from spider_spark.operators.selectors import select_html

    html = (
        "<html><body>"
        '<div class="resultat-item extra"><a href="/d/1">one</a></div>'
        '<div class="resultat-item"><a href="/d/2">two</a></div>'
        "<script>var map = L.LatLng(48.85, 2.35);</script>"
        "<ul><li>Surface habitable <b>72</b> m2</li><li>Balcon : oui</li></ul>"
        "<table><tr><td>Zimmer</td><td>3</td></tr>"
        '<tr><td class="k">Miete</td> 450 <td>EUR</td></tr></table>'
        "<dl><dt>Floor</dt><dd>2nd</dd><dd>extra</dd></dl>"
        '<div class="row"><span>a</span><span>b</span><span>c</span></div>'
        '<a class="page-next btn">next1</a>'
        "</body></html>"
    )
    x = lambda sel: select_html(html, sel, lang="xpath")
    assert x("//div[contains(@class,'resultat-item')]/a/@href") == ["/d/1", "/d/2"]
    assert x("//script[contains(.,'LatLng')]/text()") == [
        "var map = L.LatLng(48.85, 2.35);"
    ]
    assert x("//li[contains(.,'Surface habitable')]/text()") == [
        "Surface habitable", "m2",
    ]
    assert x("//td[contains(text(),'Zimmer')]/following-sibling::td/text()") == ["3"]
    assert x("//td[contains(text(),'Miete')]/following-sibling::text()") == ["450"]
    assert x("//td[contains(text(),'Miete')]/following-sibling::text()[1]") == ["450"]
    assert x("//dt/following-sibling::dd[1]/text()") == ["2nd"]
    assert x("//dt/following-sibling::dd[last()]/text()") == ["extra"]
    assert x("//dd[1]/preceding-sibling::dt/text()") == ["Floor"]
    assert x("//div[@class='row']/span[2]/text()") == ["b"]
    # per-parent positional semantics: //span[last()] = last span of EACH parent
    assert x("//span[last()]/text()") == ["c"]
    assert x("//ul//text()") == ["Surface habitable", "72", "m2", "Balcon : oui"]
    # XPath positions start at 1: [0] selects nothing, as in lxml
    assert x("//li[0]/text()") == []
    assert x("//li/text()[0]") == []
    assert x("//dt/following-sibling::dd[0]/text()") == []
    assert select_html(
        "<ul><li>a</li><li>b</li><li>c</li></ul>", "//li[0]/text()", lang="xpath"
    ) == []
    # a terminal attribute's value predicate decides existence
    links = '<ul><li><a href="/x">a</a></li><li><a href="mailto:z">b</a></li></ul>'
    assert select_html(
        links, "//li[a/@href[contains(.,'mailto')]]/a/text()", lang="xpath"
    ) == ["b"]
    # a text node has no text() children; its string-value still compares
    assert select_html("<p>x</p>", "//p/text()[text()='x']", lang="xpath") == []
    assert select_html("<p>x</p>", "//p/text()[text()]", lang="xpath") == []
    assert select_html("<p>x</p>", "//p/text()[.='x']", lang="xpath") == ["x"]
    c = lambda sel: select_html(html, sel, lang="css")
    assert c("div.row span:nth-child(2)::text") == ["b"]
    assert c("li:contains('Balcon')::text") == ["Balcon : oui"]
    assert c("a.page-next::text") == ["next1"]
    assert c("*.btn::text") == ["next1"]


def test_selector_predicates_wave2():
    """Round-3 second-pass parity forms, by reference frequency:
    ``[.='v']`` string-value equality (833 spiders), boolean
    ``or``/``and`` (760/251), ``not()`` (500), ``parent::``/``..``
    (424/290), ``normalize-space()`` predicate + outer fn (446),
    ``|`` union (228), child-path existence predicates (~300),
    ``@attr[...]`` nested predicate (95), outer ``count()`` (69)."""
    from spider_spark.operators.selectors import select_html

    html = (
        "<html><body>"
        '<ul class="nav"><li class="active"><a href="/cur">Cur</a></li>'
        '<li><a href="/n1">N1</a></li><li><a href="/n2">N2</a></li></ul>'
        '<div class="det"><span> Price :   1 200 EUR </span></div>'
        "<table><tr><td>Kaution</td><td>900</td></tr>"
        "<tr><td> Etage </td><td>2</td></tr></table>"
        '<p class="a">x</p><p>y</p>'
        '<div id="w"><strong>Rooms</strong> 3 <br><strong>Bath</strong> 1</div>'
        '<a href="mailto:x@y.z">mail</a><a href="/plain">plain</a>'
        "</body></html>"
    )
    x = lambda sel: select_html(html, sel, lang="xpath")
    assert x("//li[not(@class)]/a/@href") == ["/n1", "/n2"]
    assert x("//li[not(contains(@class,'active'))]/a/text()") == ["N1", "N2"]
    assert x("//td[.='Kaution']/following-sibling::td/text()") == ["900"]
    # normalize-space() as predicate (whitespace-padded cell) and outer fn
    assert x("//td[normalize-space()='Etage']/following-sibling::td/text()") == ["2"]
    # normalize-space(text()) converts the node-set text() to its FIRST
    # direct text node (XPath 1.0, as lxml); normalize-space() reads all
    row = "<tr><td>Zimmer <b>x</b></td><td>3</td></tr>"
    sib = "/following-sibling::td/text()"
    assert select_html(row, "//td[normalize-space(text())='Zimmer']" + sib,
                       lang="xpath") == ["3"]
    assert select_html(row, "//td[normalize-space()='Zimmer x']" + sib,
                       lang="xpath") == ["3"]
    assert x("normalize-space(//div[@class='det']/span)") == ["Price : 1 200 EUR"]
    assert x("count(//li)") == ["3.0"]
    # boolean or / and
    assert x("//td[.='Kaution' or .='Etage']/following-sibling::td/text()") == [
        "900", "2",
    ]
    assert x("//li[@class and .//a]/a/@href") == ["/cur"]
    # union: per-branch document order, concatenated (documented divergence)
    assert x("//p[@class='a']/text() | //td[.='Kaution']/text()") == ["x", "Kaution"]
    # parent axis, both spellings
    assert x("//a[@href='/cur']/parent::li/@class") == ["active"]
    assert x("//ul/li/..//a/@href") == ["/cur", "/n1", "/n2"]
    # an element's parent is never a text node
    nested = "<div>pre<p>x</p><span>mid<b>y</b></span></div>"
    assert select_html(nested, "//b/parent::text()", lang="xpath") == []
    assert select_html(nested, "//b/parent::*/text()", lang="xpath") == ["mid"]
    # child-path existence predicate
    assert x("//li[./a[contains(@href,'n1')]]/a/text()") == ["N1"]
    # @attr[...] nested predicate
    assert x("//a[@href[contains(.,'mailto')]]/text()") == ["mail"]
    # @* is outside the subset: spider config gets a ValueError
    for sel in ("//a[@*='x']", "//a[contains(@*,'x')]"):
        with pytest.raises(ValueError):
            x(sel)
    # following-sibling::text() after strong key (key-value div idiom)
    assert x("//strong[.='Rooms']/following-sibling::text()[1]") == ["3"]


def test_selector_substring_outer_fns():
    """``substring-after``/``substring-before`` outer string functions
    (352 spiders), incl. the nested script-literal slice the reference
    leans on for coordinates (e.g. the
    substring-before(substring-after(//script/text(), 'lat: '), ',')
    shape) and chaining with normalize-space."""
    from spider_spark.operators.selectors import select_html

    html = (
        "<html><body>"
        "<script>var opts = { lat: 50.8503, lng: 4.3517, zoom: 12 };</script>"
        '<span class="rent"> 1 250 EUR / month </span>'
        "<div><dt>Ref</dt><dd>AB-1234-XY</dd></div>"
        "</body></html>"
    )
    x = lambda sel: select_html(html, sel, lang="xpath")
    assert x(
        "substring-before(substring-after(//script/text(), 'lat: '), ',')"
    ) == ["50.8503"]
    assert x(
        "substring-before(substring-after(//script[contains(.,'lng')]/text(),"
        " 'lng: '), ',')"
    ) == ["4.3517"]
    # string conversion takes the FIRST node's string-value (text nodes
    # are whitespace-normalized on extraction — engine-wide convention)
    assert x("substring-before(//span[@class='rent']/text(), ' EUR')") == ["1 250"]
    assert x(
        "normalize-space(substring-before(//span[@class='rent']/text(), ' EUR'))"
    ) == ["1 250"]
    assert x("substring-after(//dd/text(), 'AB-')") == ["1234-XY"]
    assert x("substring-before(substring-after(//dd/text(), '-'), '-')") == ["1234"]
    # needle absent / empty node-set -> '' (XPath semantics)
    assert x("substring-after(//dd/text(), 'ZZ')") == [""]
    assert x("substring-before(//em/text(), '-')") == [""]


def test_selector_css_wave5_combinators_pseudo_union():
    """CSS tail idioms from the reference fleet: comma union (58
    spiders), unspaced ``>`` (52 — ``ul.marB0>li:last-child>span``),
    ``+`` adjacent sibling (46 — ``i.fa-phone + a``), ``~`` general
    sibling (5), ``:nth-of-type(n)`` (8), ``:last-child`` (7),
    ``:first-child`` (5), ``:first/last-of-type`` (2), and parsel's
    space-before-``::text`` descendant-text form."""
    from spider_spark.operators.selectors import select_html

    html = (
        "<div><ul class='marB0'><li>a<span class='right width50pc'>A</span>"
        "</li><li>b<span class='right width50pc'>B</span></li></ul>"
        "<div class='c'><i class='fa-phone'></i><a>123</a>"
        "<i class='fa-envelope'></i><a>e@x</a></div>"
        "<h2>hd</h2><p>p1</p><table><tr><td>t1</td><td>t2</td></tr></table>"
        "<div class='ad'><b>skip</b><i>i1</i><i>i2</i><i>i3</i></div>"
        "<article><strong>first<b>deep</b></strong><strong>second</strong>"
        "</article></div>"
    )
    x = lambda s: select_html(html, s, lang="css")
    # unspaced > chain + :last-child (ul.marB0>li:last-child shape)
    assert x("ul.marB0>li:last-child>span.right.width50pc::text") == ["B"]
    assert x("ul li:first-child::text") == ["a"]
    # + adjacent sibling: the icon-label idiom
    assert x(".c i.fa-phone + a::text") == ["123"]
    assert x(".c i.fa-envelope + a::text") == ["e@x"]
    # + only matches the IMMEDIATE next element sibling
    assert x(".c i.fa-phone + i") == []
    # ~ general sibling reaches past intervening siblings
    assert x("h2 ~ table td:nth-of-type(2)::text") == ["t2"]
    # nth-of-type counts same-tag siblings only (the <b> doesn't shift it)
    assert x(".ad i:nth-of-type(2)::text") == ["i2"]
    assert x(".ad i:last-of-type::text") == ["i3"]
    assert x(".ad i:first-of-type::text") == ["i1"]
    # space before ::text = descendant text (parsel translation)
    assert x("article strong:first-child ::text") == ["first", "deep"]
    assert x("article strong:first-child::text") == ["first"]
    # comma union: branch results concatenated in source order
    assert x("p::text, h2::text") == ["p1", "hd"]
    assert x("ul li:first-child::text, .ad i:last-of-type::text") == ["a", "i3"]


def test_selector_wave4_axes_self_concat():
    """Round-3 tail idioms: ``following::``/``preceding::`` closure axes
    (24 spiders — the label/following::div key-value idiom), predicate
    ``self::tag[pred]`` + ``|`` node-set union as boolean or (23 — e.g.
    span[not(self::span[@class='bold'])]), top-level concat() (8)."""
    from spider_spark.operators.selectors import select_html

    html = (
        "<div><h4>Adresse</h4><div>Main St <b>5</b></div>"
        "<h4>Objektart</h4><div>Wohnung</div>"
        "<span>Kaution</span>"
        '<ul><li><span>x</span><span class="bold">Slaapkamers</span>'
        "<span>3</span></li></ul>"
        '<div class="t"><h1>Tit</h1><h2>Sub</h2><h3>skip</h3></div>'
        '<span class="a">Ville</span><span class="b">75001</span>'
        "<p>last</p></div>"
    )
    x = lambda sel: select_html(html, sel, lang="xpath")
    # following:: — everything after in document order (excl. descendants)
    assert x('//h4[contains(text(),"Adresse")]/following::div/text()') == [
        "Main St", "Wohnung"]
    assert x('//h4[contains(text(),"Objektart")]/following::div//text()') == [
        "Wohnung", "Tit", "Sub", "skip"]
    # positional is per-context along the axis (nearest first)
    assert x("//h4/following::div[1]//text()") == ["Main St", "5", "Wohnung"]
    assert x('//span[@class="bold"]/following::span/text()') == [
        "3", "Ville", "75001"]
    # preceding:: — reverse axis; results emitted back in document order
    assert x("//p/preceding::span/text()") == [
        "Kaution", "x", "Slaapkamers", "3", "Ville", "75001"]
    assert x("//h3/preceding::h1[1]/text()") == ["Tit"]
    # self:: with trailing predicate inside not() (15walmer-family shape)
    assert x("//li/span[not(self::span[@class='bold'])]/text()") == ["x", "3"]
    # | union inside a predicate == boolean or
    assert x("//div[@class='t']/*[self::h1 | self::h2]/text()") == ["Tit", "Sub"]
    assert x("//div[@class='t']/*[not(self::h3)]/text()") == ["Tit", "Sub"]
    # concat(): one string; each path arg contributes first-or-''
    assert x(
        "concat(//span[@class='a']/text(), ', ', //span[@class='b']/text())"
    ) == ["Ville, 75001"]
    assert x("concat(//em/text(), '-', //span[@class='a']/text())") == ["-Ville"]


def test_selector_deep_nesting_no_recursion():
    """Adversarially deep HTML (>sys.getrecursionlimit() nested tags)
    must degrade gracefully — the DOM walk is iterative (ADVICE r2)."""
    import sys

    from spider_spark.operators.selectors import select_html

    depth = sys.getrecursionlimit() + 500
    html = "<div>" * depth + "<span>deep</span>" + "</div>" * depth
    assert select_html(html, "//span/text()", lang="xpath") == ["deep"]
    assert select_html(html, "div span") == ["deep"]


def test_selector_re_composition(spark):
    """.re() / .re_first() (116 spiders, e.g. `.re_first(r"\\d+")`):
    regexp findall over extracted strings, flattened — JVM-side."""
    from pyspark.sql import functions as F

    from spider_spark.operators.selectors import css_re, re_first, xpath_re

    df = spark.createDataFrame(
        [(1, '<div><span class="rent">1.200,50 € warm</span>'
             "<p>Zimmer: 3, Bad: 1</p></div>")],
        "id long, html string",
    )
    row = df.select(
        css_re(F.col("html"), "span.rent::text", r"[0-9]+\.*[0-9]*").alias("nums"),
        re_first(F.col("html"), "p::text", r"Zimmer: (\d+)", "css").alias("rooms"),
        xpath_re(F.col("html"), "//p/text()", r"\d+").alias("all_nums"),
    ).collect()[0]
    assert row["nums"] == ["1.200", "50"]
    assert row["rooms"] == "3"  # capture group -> group value (parsel)
    assert row["all_nums"] == ["3", "1"]


def test_itemclear_with_selectors(spark):
    """FieldSpec css/xpath mode: the ItemClear input_value-xpath shape
    (helper.py:533-556) — raw values extracted straight from an html
    column, 'F' (first) and 'M' (many) semantics."""
    from pyspark.sql import functions as F

    from spider_spark.functions.itemclear import FieldSpec, apply_specs

    df = spark.createDataFrame(
        [
            (
                1,
                '<div class="l"><span class="rent">1.250,50 €</span>'
                '<img src="/i/a.jpg"/><img src="/i/b.jpg"/>'
                '<p class="d">mit grossem Balkon</p></div>',
            )
        ],
        "id long, html string",
    )
    specs = [
        FieldSpec("rent", css="span.rent::text", get_num=True),
        FieldSpec("images", css="img::attr(src)", multi=True),
        FieldSpec("balcony", xpath='//p[@class="d"]/text()', true_words=["balkon"]),
    ]
    row = apply_specs(df, specs, keep=["id"]).collect()[0]
    assert row["rent"] == 1250.5
    assert row["images"] == ["/i/a.jpg", "/i/b.jpg"]
    assert row["balcony"] is True


def test_autothrottle_latency_passthrough(spark):
    """with_latency: a measured latency_ms column passes through
    untouched (the HTTP backend measures one); the synthetic backend's
    frame (no column) gets the deterministic stand-in."""
    from pyspark.sql import functions as F

    from spider_spark.operators import autothrottle as AT

    measured = spark.createDataFrame(
        [("h.example", "http://h.example/", 200, 420.0)],
        "host string, canonical_url string, status int, latency_ms double",
    )
    out = AT.with_latency(measured).collect()
    assert out[0]["latency_ms"] == 420.0  # NOT overwritten by hash noise

    synthetic = measured.drop("latency_ms")
    out2 = AT.with_latency(synthetic).collect()
    assert 100 <= out2[0]["latency_ms"] <= 1500  # deterministic stand-in
    # and it is deterministic
    assert AT.with_latency(synthetic).collect()[0]["latency_ms"] == out2[0]["latency_ms"]


def test_proxy_routing(spark):
    """Country-keyed proxy assignment (middlewares.py:114-168):
    deterministic pool member for proxied sites, NULL otherwise."""
    from spider_spark.sources.fetch import N_PROXIES_PER_POOL, with_proxy
    from spider_spark.sources.registry import SPIDERS_DIM

    dim = spark.createDataFrame(
        [
            ("site_de", "de", "de", ".", ",", "de", None, None, [], [], ["http://x/"]),
            ("site_us", "us", "en", ",", ".", None, None, None, [], [], ["http://y/"]),
        ],
        SPIDERS_DIM,
    )
    disp = spark.createDataFrame(
        [("site_de", "aa" * 20), ("site_de", "bb" * 20), ("site_us", "cc" * 20)],
        "source string, fingerprint string",
    )
    rows = {
        (r["source"], r["fingerprint"]): r["proxy"]
        for r in with_proxy(disp, dim).collect()
    }
    p1 = rows[("site_de", "aa" * 20)]
    assert p1 is not None and p1.startswith("proxy-de-")
    assert int(p1.rsplit("-", 1)[1]) < N_PROXIES_PER_POOL
    assert rows[("site_us", "cc" * 20)] is None
    # deterministic: same fingerprint -> same pool member
    again = {
        (r["source"], r["fingerprint"]): r["proxy"]
        for r in with_proxy(disp, dim).collect()
    }
    assert again == rows


def test_gopher_repetition_signals(spark):
    """Gopher (Rae et al. 2021, App. A) repetition/quality signals in
    functions/text.py — hand-computed vectors on crafted docs."""
    from pyspark.sql import functions as F

    from spider_spark.functions import text as TX

    df = spark.createDataFrame(
        [
            ("rep", "aaa bbb aaa bbb aaa bbb ccc", ""),
            ("lin", "x", "- item one\n- item two\n- item one\nplain...\n…"),
            ("sym", "ok # fine ... done …", ""),
            (
                "ok",
                "the quick brown fox jumps over the lazy dog again today",
                "line one\nline two",
            ),
        ],
        "doc_id string, text string, lined string",
    )
    staged = df.select(
        "doc_id",
        "text",
        "lined",
        TX.tokens(F.col("text")).alias("toks"),
        TX.doc_lines(F.col("lined")).alias("lines"),
    ).select("*", TX.word_shingles_from(F.col("toks"), 2).alias("grams2"))
    mean_wl = TX.mean_word_length_from(F.col("toks"))
    sym = TX.symbol_word_ratio(F.col("text"), F.col("toks"))
    dup = TX.dup_line_fraction_from(F.col("lines"))
    bullet = TX.bullet_line_fraction_from(F.col("lines"))
    ell = TX.ellipsis_line_fraction_from(F.col("lines"))
    top2 = TX.top_ngram_fraction_from(F.col("toks"), F.col("grams2"), 2)
    out = {
        r["doc_id"]: r
        for r in staged.select(
            "doc_id",
            mean_wl.alias("mwl"),
            sym.alias("sym"),
            dup.alias("dup"),
            bullet.alias("bullet"),
            ell.alias("ell"),
            top2.alias("top2"),
            TX.gopher_pass(
                F.size(F.col("toks")), mean_wl, sym, dup, bullet, ell, top2
            ).alias("keep"),
        ).collect()
    }
    # 7 tokens, 'aaa bbb' appears 3x in 6 bigrams -> 2*3/7
    assert out["rep"]["top2"] == round(6 / 7, 4)
    assert out["rep"]["mwl"] == 3.0
    assert out["rep"]["keep"] is False  # too few tokens AND repetitive
    # 5 lines: one duplicate, 3 bullets, 2 ellipsis-terminated
    assert out["lin"]["dup"] == 0.2
    assert out["lin"]["bullet"] == 0.6
    assert out["lin"]["ell"] == 0.4
    # '#', '...', '…' = 3 symbols over 3 alnum tokens
    assert out["sym"]["sym"] == 1.0
    # clean 11-token doc passes every Gopher gate
    assert out["ok"]["keep"] is True
    assert out["ok"]["dup"] == 0.0 and out["ok"]["bullet"] == 0.0


def test_decontaminate_ngram_overlap(spark):
    """Benchmark decontamination (GPT-3 App. C shape): a doc sharing an
    n-gram with the benchmark flags; near-miss (n-1 shared words) and
    disjoint docs don't."""
    from spider_spark.operators import textdedup as TD

    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog tonight",)], "text string"
    )
    docs = spark.createDataFrame(
        [
            # shares two 5-grams: "the quick brown fox jumps" and
            # "quick brown fox jumps over"
            (1, "she saw the quick brown fox jumps over a fence"),
            # only a 4-gram overlap ("quick brown fox jumps") -> clean
            (2, "a quick brown fox jumps backwards"),
            (3, "completely unrelated text with different words entirely"),
            (4, "too short"),
            # case/punctuation-insensitive via tokens(): hits
            (5, "QUICK, brown FOX jumps over!! the lazy"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in TD.decontaminate(docs, bench, n=5).collect()}
    assert out[1] == (2, True)
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    assert out[4] == (0, False)
    assert out[5][1] is True and out[5][0] >= 2  # two overlapping 5-grams
    assert len(out) == 5  # every doc present, zero-filled


def test_pii_redaction_vectors(spark):
    """PII counts + typed-tag redaction golden vectors (functions/text)."""
    from spider_spark.functions import text as TX

    rows = [
        (1, "write to john.doe+spam@sub.mail.example today"),
        (2, "call +49 30 1234 567 or +1 212 555 0199 now"),
        (3, "server at 10.0.0.1 and 192.168.255.34."),
        (4, "no pii here, just a price 1.234,56 and v1.2.3"),
        (5, "mixed a@b.example +44 20 7946 0958 127.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            TX.pii_email_count(F.col("t")).alias("e"),
            TX.pii_phone_count(F.col("t")).alias("p"),
            TX.pii_ipv4_count(F.col("t")).alias("i"),
            TX.redact_pii(F.col("t")).alias("red"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["p"], out[1]["i"]) == (1, 0, 0)
    assert out[1]["red"] == "write to <EMAIL> today"
    assert (out[2]["e"], out[2]["p"], out[2]["i"]) == (0, 2, 0)
    assert out[2]["red"] == "call <PHONE> or <PHONE> now"
    assert (out[3]["e"], out[3]["p"], out[3]["i"]) == (0, 0, 2)
    assert out[3]["red"] == "server at <IP> and <IP>."
    # price with thousands separators / version strings stay untouched
    assert (out[4]["e"], out[4]["p"], out[4]["i"]) == (0, 0, 0)
    assert out[4]["red"] == rows[3][1]
    assert (out[5]["e"], out[5]["p"], out[5]["i"]) == (1, 1, 1)
    assert out[5]["red"] == "mixed <EMAIL> <PHONE> <IP>"


def test_connected_components_shapes(spark):
    """large-star/small-star CC (Kiveris SoCC'14): chain (worst case for
    naive propagation), star, clique, and multiple components all
    resolve to min-id labels; singleton docs label themselves."""
    from spider_spark.operators import textdedup as TD

    # chain 1-2-3-4-5-6-7-8, clique {20,21,22}, pair {30,31}, reversed
    # and duplicated edges mixed in
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8),
         (20, 21), (21, 22), (20, 22),
         (31, 30), (30, 31)],
        "id_a long, id_b long",
    )
    cc = {r["node"]: r["component"]
          for r in TD.connected_components(pairs).collect()}
    assert {cc[n] for n in range(1, 9)} == {1}
    assert cc[20] == cc[21] == cc[22] == 20
    assert cc[30] == cc[31] == 30
    assert len(cc) == 13

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 20, 21, 30, 31, 99]],
        "doc_id long, text string",
    )
    sub_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (20, 21), (30, 31)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: (r["cluster_id"], r["is_kept"])
           for r in TD.dedup_clusters(docs, pairs=sub_pairs).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[20] == (20, True) and out[21] == (20, False)
    assert out[30] == (30, True) and out[31] == (30, False)
    assert out[99] == (99, True)  # singleton: own cluster, kept
    # exactly one kept representative per cluster
    kept = [v for v in out.values() if v[1]]
    assert len(kept) == len({c for c, _ in out.values()})


def test_deterministic_sample_and_pack_shards(spark):
    """mixing operators: hash-gate sampling is reproducible, respects
    per-stratum rates, salt decorrelates; pack_shards' distributed
    prefix sum equals the naive global-window reference and respects
    the budget boundary rule."""
    from pyspark.sql.window import Window
    from spider_spark.operators import mixing as MX

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", 10 + i % 7) for i in range(1, 401)],
        "doc_id long, source string, w int",
    )
    kept = MX.deterministic_sample(df, {"a": 0.5, "b": 1.0})
    again = MX.deterministic_sample(df, {"a": 0.5, "b": 1.0})
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    assert ids1 == sorted(r["doc_id"] for r in again.collect())  # reproducible
    by_src = {r["source"]: r["n"] for r in kept.groupBy("source").count()
              .withColumnRenamed("count", "n").collect()}
    assert by_src["b"] == 200                  # rate 1.0 keeps all
    assert 60 <= by_src["a"] <= 140            # rate 0.5 ± hash noise
    # unknown stratum defaults to keep-all
    extra = spark.createDataFrame([(9999, "zzz", 1)], "doc_id long, source string, w int")
    assert MX.deterministic_sample(extra, {"a": 0.0}).count() == 1
    # salt decorrelates: two salted halves differ from each other
    s1 = {r["doc_id"] for r in MX.deterministic_sample(df, {"a": 0.5, "b": 0.5}, salt="x").collect()}
    s2 = {r["doc_id"] for r in MX.deterministic_sample(df, {"a": 0.5, "b": 0.5}, salt="y").collect()}
    assert s1 != s2

    packed = MX.pack_shards(df, "w", budget=100, order_col="doc_id", n_buckets=7)
    ref = df.withColumn(
        "cum_before",
        F.sum(F.col("w").cast("long")).over(Window.orderBy("doc_id")) - F.col("w"),
    ).withColumn("shard_id", F.floor(F.col("cum_before") / 100).cast("long"))
    got = {r["doc_id"]: (r["cum_before"], r["shard_id"]) for r in packed.collect()}
    want = {r["doc_id"]: (r["cum_before"], r["shard_id"]) for r in ref.collect()}
    assert got == want
    # shard ids are dense from 0 and each shard's first row starts at a
    # cum_before inside [shard*budget, (shard+1)*budget)
    shards = sorted({v[1] for v in got.values()})
    assert shards == list(range(len(shards)))
    # single-bucket degenerate + empty input
    assert MX.pack_shards(df.limit(3), "w", budget=10**9, order_col="doc_id").count() == 3
    empty = MX.pack_shards(df.filter("doc_id < 0"), "w", budget=10, order_col="doc_id")
    assert empty.count() == 0 and "shard_id" in empty.columns
    # non-numeric order key raises a CLEAR error up front (round 4),
    # not an opaque cast failure inside the bucketing arithmetic
    strdf = df.withColumn("sid", F.col("doc_id").cast("string"))
    with pytest.raises(TypeError, match="numeric"):
        MX.pack_shards(strdf, "w", budget=10, order_col="sid")


def test_pagerank_power_iteration(spark):
    """graphrank.pagerank equals a numpy power iteration (same damping,
    dangling redistribution, iteration count) on a small digraph with a
    hub, a dangling node, and a disconnected pair."""
    import numpy as np
    from spider_spark.operators import graphrank as GR

    #   0 -> 1, 0 -> 2, 1 -> 2, 2 -> 0 (cycle+hub), 3 dangling target
    #   (2 -> 3), 4 <-> 5 disconnected pair; duplicate edge 0->1 again
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (4, 5), (5, 4), (0, 1)],
        "src long, dst long",
    )
    got = {r["node"]: r["rank"] for r in GR.pagerank(edges, n_iter=12).collect()}

    # numpy reference
    n, d = 6, 0.85
    out = {0: [1, 2], 1: [2], 2: [0, 3], 4: [5], 5: [4]}
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        nxt = np.full(n, (1.0 - d) / n)
        dangling = sum(r[u] for u in range(n) if u not in out)
        for u, vs in out.items():
            for v in vs:
                nxt[v] += d * r[u] / len(vs)
        nxt += d * dangling / n
        r = nxt
    for node in range(n):
        assert abs(got[node] - r[node]) < 1e-9, (node, got[node], r[node])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # stochastic
    # tol path: continue the numpy iteration to 60 rounds and check the
    # tol-run lands on the same trajectory point (tol=1e-12 is never hit
    # in 60 rounds, so all 60 run — the loop must not stop early)
    for _ in range(48):
        nxt = np.full(n, (1.0 - d) / n)
        dangling = sum(r[u] for u in range(n) if u not in out)
        for u, vs in out.items():
            for v in vs:
                nxt[v] += d * r[u] / len(vs)
        nxt += d * dangling / n
        r = nxt
    conv = {r2["node"]: r2["rank"] for r2 in GR.pagerank(edges, n_iter=60, tol=1e-12).collect()}
    assert abs(conv[0] - r[0]) < 1e-9
    # and a loose tol stops early at the shared fixed point
    loose = {r3["node"]: r3["rank"] for r3 in GR.pagerank(edges, n_iter=500, tol=1e-4).collect()}
    assert abs(loose[0] - r[0]) < 1e-3


def test_opic_cash_history(spark):
    """graphrank.opic equals a numpy simulation of the synchronous
    cash/history rounds (Abiteboul et al. WWW'03): bank round-start
    cash, distribute over out-edges, dangling cash spread uniformly;
    importance = (hist + cash) / (t + 1). Same digraph as the pagerank
    test (hub, dangling node, disconnected pair, duplicate edge)."""
    import numpy as np
    from spider_spark.operators import graphrank as GR

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (4, 5), (5, 4), (0, 1)],
        "src long, dst long",
    )
    t = 12
    got = {r["node"]: r["rank"] for r in GR.opic(edges, n_iter=t).collect()}

    n = 6
    out = {0: [1, 2], 1: [2], 2: [0, 3], 4: [5], 5: [4]}
    cash = np.full(n, 1.0 / n)
    hist = np.zeros(n)
    for _ in range(t):
        hist = hist + cash
        nxt = np.zeros(n)
        dangling = sum(cash[u] for u in range(n) if u not in out)
        for u, vs in out.items():
            for v in vs:
                nxt[v] += cash[u] / len(vs)
        nxt += dangling / n
        cash = nxt
    imp = (hist + cash) / (t + 1)
    for node in range(n):
        assert abs(got[node] - imp[node]) < 1e-9, (node, got[node], imp[node])
    # importance is a distribution (sums to 1), like pagerank's ranks
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_change_rate_schedule_vectors(spark):
    """revisit.change_rate_schedule: hand-computed Cho/Garcia-Molina
    estimator, clamping, single-fetch default, due-set predicate."""
    import math
    from spider_spark.operators import revisit as RV

    day = 86400.0
    rows = []
    # u1: 5 fetches, 1 day apart, digests change every fetch (X=4, n=4)
    for i in range(5):
        rows.append(("u1", i * day, f"h{i}"))
    # u2: 5 fetches, never changes (X=0) -> lambda ~ ln((4.5)/(0.5)) wait, inverse
    for i in range(5):
        rows.append(("u2", i * day, "same"))
    # u3: fetched once -> no interval evidence -> min_interval
    rows.append(("u3", 0.0, "x"))
    # u4: 3 fetches 2 days apart, one change (n=2, X=1)
    rows.extend([("u4", 0.0, "a"), ("u4", 2 * day, "a"), ("u4", 4 * day, "b")])
    hist = spark.createDataFrame(rows, "url string, fetch_time double, content_digest string")
    out = {r["url"]: r.asDict() for r in RV.change_rate_schedule(hist).collect()}

    lam1 = -math.log((4 - 4 + 0.5) / (4 + 0.5)) / day
    # operator rounds lambda to 10 decimals -> up to 5e-11 quantization
    assert abs(out["u1"]["lambda_per_s"] - lam1) < 6e-11
    assert abs(out["u1"]["revisit_interval_s"] - 1.0 / lam1) < 1e-2
    # never-changed: lambda = -ln((n+0.5)/(n+0.5)) = 0 -> clamps to max (30 d)
    assert out["u2"]["lambda_per_s"] == 0.0
    assert out["u2"]["revisit_interval_s"] == 30 * day
    assert out["u3"]["lambda_per_s"] is None
    assert out["u3"]["revisit_interval_s"] == 3600.0
    lam4 = -math.log((2 - 1 + 0.5) / (2 + 0.5)) / (2 * day)
    assert abs(out["u4"]["lambda_per_s"] - lam4) < 6e-11
    assert out["u4"]["n_fetches"] == 3 and out["u4"]["n_changes"] == 1
    # due set at t=5 days: u1 (due day 4 + ~1.1d), u3 (due at 1 h) are due
    due = {r["url"] for r in RV.due_urls(RV.change_rate_schedule(hist), 5.2 * day).collect()}
    assert "u3" in due and "u2" not in due


def test_extract_main_text_vectors():
    """Main-content density rule, hand-computed: candidate-tag scoring
    (plain minus anchor chars), body excluded, earliest-open tie-break,
    nesting, script/style skip, unclosed blocks, no-candidate pages."""
    from spider_spark.operators.htmlparse import extract_main_text as m

    page = (
        "<html><head><title>skip me</title><style>.x{}</style></head><body>"
        '<div class="nav"> <a href="/1"> Home </a> <a href="/2"> About </a> </div>'
        '<div class="content"> <p> Real article text </p> <p> more body </p> </div>'
        '<div class="footer"> copyright <a href="/c"> contact </a> </div>'
        "</body></html>"
    )
    assert m(page) == "Real article text more body"
    # nav: 0 plain - 9 link = -9; footer: 9 - 7 = 2; content wins
    assert m("<p>no candidate blocks</p>") == ""
    assert m("") == "" and m(None) == ""
    # tie -> earliest opened block
    assert m("<div> aa </div><div> bb </div>") == "aa"
    # nested: outer accumulates inner text, opened earlier -> outer wins
    assert m("<td><div> inner text </div></td>") == "inner text"
    # anchor-dominated block loses to smaller plain block
    assert (
        m('<div><a href="/x"> looooooooong anchor text </a></div>'
          "<section> short plain </section>")
        == "short plain"
    )
    # unclosed candidate still scores; script content never counts
    assert m("<div><script>var boilerplate_var = 1;</script> seen ") == "seen"
    # whitespace normalization matches the span parser's
    assert m("<div>  a\n\t b  <p> c </p></div>") == "a b c"


def test_main_content_pages_batch(spark):
    from spider_spark.operators.htmlparse import main_content_pages

    pages = spark.createDataFrame(
        [
            ("u1", "<div> body text here </div><div><a href='/'> nav </a></div>"),
            ("u2", "<p>none</p>"),
        ],
        "url string, html string",
    )
    got = {r["url"]: r["main_text"] for r in main_content_pages(pages).collect()}
    assert got == {"u1": "body text here", "u2": ""}


def test_parse_robots_vectors():
    """RFC 9309-subset robots parser, hand vectors: group selection
    (exact beats *, multi-agent groups, group merge), comments, empty
    Disallow, Crawl-delay min + bad values, wildcard truncation,
    pre-group rules ignored, missing text = allow-all."""
    from spider_spark.operators.robots import parse_robots as P

    txt = (
        "# policy\n"
        "User-agent: Googlebot\nDisallow: /g-only\n\n"
        "User-agent: spiderbot\nUser-agent: otherbot\n"
        "Disallow: /private\nAllow: /private/ok\n"
        "Crawl-delay: 2.5\nCrawl-delay: 1.5\n\n"
        "User-agent: *\nDisallow: /all\nDisallow:\nCrawl-delay: 9\n"
    )
    assert P(txt, "SpiderBot") == {
        "disallow": ["/private"], "allow": ["/private/ok"], "crawl_delay": 1.5,
    }
    assert P(txt, "unknown") == {
        "disallow": ["/all"], "allow": [], "crawl_delay": 9.0,
    }
    assert P(None) == {"disallow": [], "allow": [], "crawl_delay": None}
    assert P("") == {"disallow": [], "allow": [], "crawl_delay": None}
    w = P("User-agent: *\nDisallow: /a*b\nAllow: /x$\nDisallow: *")
    assert w == {"disallow": ["/a"], "allow": ["/x"], "crawl_delay": None}
    # round 4: wildcarded ALLOW is dropped, not truncated — truncating
    # '/private/x*/y' to '/private/x' would BROADEN the allow (beat the
    # '/private' disallow on longest-match) and over-allow; dropping
    # can only make the decision stricter.
    wa = P("User-agent: *\nDisallow: /private\nAllow: /private/x*/y")
    assert wa == {"disallow": ["/private"], "allow": [], "crawl_delay": None}
    assert P("Disallow: /orphan\nUser-agent: *\nDisallow: /ok")["disallow"] == ["/ok"]
    assert P("User-agent: *\nCrawl-delay: fast")["crawl_delay"] is None
    # two groups naming the same agent MERGE (RFC 9309 2.2.1)
    m = P("User-agent: a\nDisallow: /1\n\nUser-agent: a\nDisallow: /2", "a")
    assert m["disallow"] == ["/1", "/2"]


def test_robots_check_longest_match(spark):
    """robots_check: longest prefix wins, allow wins ties, no match or
    no rules = allowed; merge_into_policy overlays delay + disallow."""
    from pyspark.sql import functions as F

    from spider_spark.operators.robots import (
        merge_into_policy,
        parse_robots_texts,
        robots_check,
    )

    robots = spark.createDataFrame(
        [
            ("h1", "User-agent: *\nDisallow: /private\nAllow: /private/ok\nCrawl-delay: 3"),
            ("h2", None),
        ],
        "host string, robots_txt string",
    )
    parsed = parse_robots_texts(robots)
    p = {r["host"]: r.asDict() for r in parsed.collect()}
    assert p["h1"]["robots_disallow"] == ["/private"]
    assert p["h1"]["crawl_delay_s"] == 3.0
    assert p["h2"]["robots_disallow"] == []

    urls = spark.createDataFrame(
        [
            ("h1", "http://h1/private/x"),       # blocked (disallow 8 > -1)
            ("h1", "http://h1/private/ok/page"), # allowed (allow 11 > 8)
            ("h1", "http://h1/public"),          # allowed (no match)
            ("h3", "http://h3/anything"),        # allowed (no rules row)
            ("h1", "http://h1"),                 # no path -> '/' (allowed here)
        ],
        "host string, canonical_url string",
    )
    got = {
        r["canonical_url"]: r["robots_allowed"]
        for r in robots_check(urls, parsed).collect()
    }
    assert got == {
        "http://h1/private/x": False,
        "http://h1/private/ok/page": True,
        "http://h1/public": True,
        "http://h3/anything": True,
        "http://h1": True,
    }

    # round 4 (RFC 9309 empty path = '/'): a path-less URL must match
    # 'Disallow: /' — previously the empty extract matched nothing and
    # the root URL was always allowed.
    root_rules = parse_robots_texts(
        spark.createDataFrame(
            [("hr", "User-agent: *\nDisallow: /")],
            "host string, robots_txt string",
        )
    )
    root_urls = spark.createDataFrame(
        [("hr", "http://hr"), ("hr", "http://hr/page")],
        "host string, canonical_url string",
    )
    got_root = {
        r["canonical_url"]: r["robots_allowed"]
        for r in robots_check(root_urls, root_rules).collect()
    }
    assert got_root == {"http://hr": False, "http://hr/page": False}

    # same fix in the engine-side politeness.robots_filter
    from spider_spark.operators.politeness import robots_filter

    pol = spark.createDataFrame(
        [("hr", ["/"], 0.1, 16)],
        "host string, robots_disallow array<string>, crawl_delay_s double, "
        "max_concurrency int",
    )
    assert robots_filter(root_urls, pol, obey=True).count() == 0

    policy = spark.createDataFrame(
        [("h1", 16, 0.1, []), ("h9", 16, 0.1, ["/keep"])],
        "host string, max_concurrency int, crawl_delay_s double, "
        "robots_disallow array<string>",
    )
    merged = {r["host"]: r.asDict() for r in merge_into_policy(policy, parsed).collect()}
    assert merged["h1"]["crawl_delay_s"] == 3.0
    assert merged["h1"]["robots_disallow"] == ["/private"]
    assert merged["h9"]["crawl_delay_s"] == 0.1
    assert merged["h9"]["robots_disallow"] == ["/keep"]
    assert list(merged["h1"].keys()) == list(merged["h9"].keys())


def test_form_request_from_response_vectors():
    """FormRequest.from_response analog (htmlparse.form_request):
    field collection + override semantics vs the two reference call
    sites' shape (immobiliarefaro_it.py:36 — POST form, formdata
    overrides an existing hidden field)."""
    from spider_spark.operators.htmlparse import form_request

    page = """
    <html><body>
      <form action="/ricerca.php" method="post">
        <input type="hidden" name="num_page" value="1"/>
        <input type="hidden" name="tipo" value="affitto"/>
        <input type="text" name="zona" value="centro"/>
        <input type="checkbox" name="arredato" checked/>
        <input type="checkbox" name="garage"/>
        <input type="radio" name="classe" value="a" checked/>
        <input type="radio" name="classe" value="b"/>
        <input type="submit" name="cerca" value="Cerca"/>
        <select name="locali"><option value="1">1</option>
          <option value="2" selected>2</option></select>
        <textarea name="note">n/a</textarea>
      </form>
      <form action="/second" method="get">
        <input name="q" value="x"/>
      </form>
    </body></html>
    """
    got = form_request(
        page, "https://www.immobiliarefaro.it/ricerca.php",
        overrides={"num_page": "2"},
    )
    assert got is not None
    action, method, body = got
    assert action == "https://www.immobiliarefaro.it/ricerca.php"
    assert method == "POST"
    # overridden in place, submit button excluded, unchecked skipped,
    # checked checkbox defaults to 'on', selected option wins
    assert body == (
        "num_page=2&tipo=affitto&zona=centro&arredato=on"
        "&classe=a&locali=2&note=n%2Fa"
    )
    # new key appended; second form reachable by index; missing form -> None
    _, _, b2 = form_request(page, "http://x/", overrides={"extra": "1"})
    assert b2.endswith("&extra=1")
    a3, m3, b3 = form_request(page, "http://x/base/page", form_index=1)
    assert (a3, m3, b3) == ("http://x/second", "GET", "q=x")
    assert form_request("<html><p>no form</p></html>", "http://x/") is None
    # select with no selected option falls back to the first option
    sel = '<form action="a"><select name="s"><option value="v1"/><option value="v2"/></select></form>'
    assert form_request(sel, "http://h/")[2] == "s=v1"


def test_form_requests_dataframe(spark):
    """DataFrame wrapper: per-row overrides via a map column (the
    incrementing num_page shape); pages without a form are dropped;
    output maps onto frontier url/method/body columns."""
    from spider_spark.operators.htmlparse import form_requests

    html = (
        '<form action="/go" method="post">'
        '<input type="hidden" name="num_page" value="1"/></form>'
    )
    pages = spark.createDataFrame(
        [
            ("http://a/p", html, {"num_page": "7"}),
            ("http://b/p", html, {"num_page": "3"}),
            ("http://c/p", "<p>formless</p>", {"num_page": "9"}),
        ],
        "url string, html string, formdata map<string,string>",
    )
    got = {
        r["url"]: (r["action"], r["method"], r["body"])
        for r in form_requests(pages, overrides="formdata").collect()
    }
    assert got == {
        "http://a/p": ("http://a/go", "POST", "num_page=7"),
        "http://b/p": ("http://b/go", "POST", "num_page=3"),
    }
    # static dict mode
    got2 = form_requests(pages, overrides={"num_page": "5"}).collect()
    assert {r["body"] for r in got2} == {"num_page=5"}


def test_unigram_lm_quality_vectors(spark):
    """lmquality.fit_unigram / score_unigram: hand-computed counts,
    log-probs, OOV add-half floor, min_count and vocab_cap bounds,
    empty-doc NULL score (CCNet/GPT-3 LM-scoring pipeline shape)."""
    import math

    from spider_spark.operators import lmquality as LM

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, ""), (4, "z z")],
        "doc_id long, text string",
    )
    m = LM.fit_unigram(docs, min_count=1, vocab_cap=100)
    # corpus tokens: a:2 b:2 c:1 z:2 -> N=7
    assert m.total_tokens == 7
    vocab = {r["token"]: (r["n"], r["logp"]) for r in m.vocab.collect()}
    assert vocab["a"][0] == 2 and vocab["c"][0] == 1
    assert abs(vocab["b"][1] - math.log(2 / 7)) < 1e-12
    assert abs(m.oov_logp - math.log(0.5 / 7)) < 1e-12

    got = {r["doc_id"]: r for r in LM.score_unigram(docs, m).collect()}
    exp_d1 = (2 * math.log(2 / 7) + math.log(2 / 7)) / 3  # a a b
    exp_d2 = (math.log(2 / 7) + math.log(1 / 7)) / 2      # b c
    assert abs(got[1]["avg_logp"] - exp_d1) < 1e-12
    assert abs(got[2]["avg_logp"] - exp_d2) < 1e-12
    assert got[1]["n_toks"] == 3 and got[2]["n_toks"] == 2
    assert abs(got[2]["perplexity"] - math.exp(-exp_d2)) < 1e-12
    # empty doc: present, NULL score
    assert got[3]["n_toks"] == 0 and got[3]["avg_logp"] is None

    # min_count=2 drops the singleton 'c' -> it scores at the OOV floor
    m2 = LM.fit_unigram(docs, min_count=2, vocab_cap=100)
    assert "c" not in {r["token"] for r in m2.vocab.collect()}
    got2 = {r["doc_id"]: r for r in LM.score_unigram(docs, m2).collect()}
    exp2_d2 = (math.log(2 / 7) + math.log(0.5 / 7)) / 2
    assert abs(got2[2]["avg_logp"] - exp2_d2) < 1e-12

    # vocab_cap=1 keeps only the (count DESC, token ASC) winner: 'a'
    m3 = LM.fit_unigram(docs, min_count=1, vocab_cap=1)
    assert [r["token"] for r in m3.vocab.collect()] == ["a"]
    got3 = {r["doc_id"]: r for r in LM.score_unigram(docs, m3).collect()}
    exp3_d1 = (2 * math.log(2 / 7) + math.log(0.5 / 7)) / 3
    assert abs(got3[1]["avg_logp"] - exp3_d1) < 1e-12

    # scoring a disjoint doc set against the fitted model: all OOV
    other = spark.createDataFrame([(9, "q r s")], "doc_id long, text string")
    g9 = LM.score_unigram(other, m).collect()[0]
    assert abs(g9["avg_logp"] - math.log(0.5 / 7)) < 1e-12


def test_anchor_text_vectors():
    """anchortext.parse_anchors: href+text pairs, whitespace collapse,
    nested/unclosed anchors, missing href skipped, charref decoding."""
    from spider_spark.operators.anchortext import parse_anchors

    html = (
        '<p><a href="/a">  Alpha   Site </a>'
        '<a name="x">no href</a>'
        '<a href="/b"><b>Bold</b> &amp; nested <a href="/c">inner</a> tail</a>'
        '<a href="/d"><img src="i.png"></a>'
        '<a href="/e">unclosed'
    )
    got = parse_anchors(html)
    assert ("/a", "Alpha Site") in got
    assert ("/c", "inner") in got
    # outer anchor kept its own text (inner text went to the inner one)
    assert any(h == "/b" and "Bold" in t and "nested" in t for h, t in got)
    assert ("/d", "") in got          # image-only anchor -> empty text
    assert ("/e", "unclosed") in got  # finalized at EOF
    assert not any(t == "no href" for _, t in got)


def test_anchor_profiles_end_to_end(spark):
    """extract_anchors -> anchor_edges -> anchor_profiles: resolution
    against the page URL, self/empty-link dropping, per-target counts,
    and the salted top-k keeping exactly k anchors per hot target."""
    from spider_spark.operators import anchortext as AX

    # 6 pages link to hub with 3 distinct anchor texts (one dominant),
    # plus a self-link, an empty anchor, and a relative link elsewhere.
    pages = [
        (f"http://h{i}.example/p",
         '<a href="http://hub.example/">Hub Portal</a>'
         + ('<a href="http://hub.example/">The Hub</a>' if i % 2 == 0 else "")
         + ('<a href="http://hub.example/">hub</a>' if i == 0 else "")
         + '<a href="#top">top</a>'            # self link (fragment)
         + '<a href="other.html">sib page</a>')  # relative resolve
        for i in range(6)
    ]
    df = spark.createDataFrame(pages, "url string, html string")
    edges = AX.anchor_edges(AX.extract_anchors(df))
    e = edges.collect()
    # fragment self-links dropped; relative links resolved per page
    assert not any(r["src"] == r["dst"] for r in e)
    assert sum(1 for r in e if r["dst"].endswith("/other.html")) == 6
    hub = AX.anchor_profiles(edges.filter(F.col("dst") == "http://hub.example/"), k=2)
    prof = [(r["anchor"], r["n_links"], r["rank"])
            for r in hub.orderBy("rank").collect()]
    # counts: 'Hub Portal' x6, 'The Hub' x3, 'hub' x1 -> top-2 kept
    assert prof == [("Hub Portal", 6, 1), ("The Hub", 3, 2)]


def test_substring_dedup_spans_and_removal(spark):
    """ExactSubstr analog (Lee et al. ACL'22) at k=4 token granularity:
    the corpus-first occurrence keeps its copy, later occurrences are
    marked, overlapping marked grams merge into one span, and removal
    drops exactly the covered tokens."""
    from spider_spark.operators import textdedup as TD

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),
            (1, "x y a b c d e z"),   # dup grams at starts 2,3 -> span [2,7)
            (2, "a b c d e f g h"),   # whole-doc dup of 0 -> span [0,8)
            (3, "q r s t"),           # unique, exactly k tokens
            (4, "short"),             # < k tokens: no grams
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["lo"], r["hi"])
        for r in TD.substring_dup_spans(docs, k=4).collect()
    }
    assert spans == {(1, 2, 7), (2, 0, 8)}

    stats = {r["doc_id"]: r for r in TD.substring_dup_stats(docs, k=4).collect()}
    assert (stats[0]["dup_spans"], stats[0]["dup_tokens"]) == (0, 0)  # keeper
    assert (stats[1]["dup_spans"], stats[1]["dup_tokens"]) == (1, 5)
    assert (stats[2]["dup_spans"], stats[2]["dup_tokens"]) == (1, 8)
    assert (stats[4]["n_tokens"], stats[4]["dup_tokens"]) == (1, 0)

    clean = {r["doc_id"]: r for r in TD.substring_dedup(docs, k=4).collect()}
    assert clean[0]["text_deduped"] == "a b c d e f g h"
    assert clean[1]["text_deduped"] == "x y z"
    assert clean[2]["text_deduped"] == ""
    assert clean[3]["text_deduped"] == "q r s t"
    assert clean[1]["dup_tokens"] == 5


def test_substring_dedup_adjacent_spans_merge(spark):
    """Two duplicated regions separated by a gap stay two spans; exactly
    adjacent coverage fuses into one (the contiguity rule both the Spark
    side and the DuckDB oracle implement)."""
    from spider_spark.operators import textdedup as TD

    docs = spark.createDataFrame(
        [
            (0, "p q r s GAP1 GAP2 t u v w"),  # source of both regions
            (1, "p q r s A B C D t u v w"),    # two disjoint dup spans
            (2, "p q r s t u v w"),            # no 4-gram matches doc 0's
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["lo"], r["hi"])
        for r in TD.substring_dup_spans(docs, k=4).collect()
    }
    # doc 1: "p q r s" at 0..4 and "t u v w" at 8..12 both dup doc 0's
    assert (1, 0, 4) in spans and (1, 8, 12) in spans
    # doc 2 ALSO dups both grams (from doc 0 and doc 1) but contiguously:
    # [0,4) and [4,8) are adjacent -> ONE fused span [0,8)
    assert (2, 0, 8) in spans
    assert not any(d == 2 and (lo, hi) != (0, 8) for d, lo, hi in spans)


def test_link_directives_rel_and_meta(spark):
    """REP link directives: rel='nofollow ugc' filters per-link,
    meta robots 'none' implies noindex+nofollow, tokens are
    case-insensitive and comma-separated; follow_links is emptied by a
    page-level nofollow while out_links keeps discovery order."""
    from spider_spark.operators.htmlparse import (
        link_directives_pages,
        parse_link_directives,
    )

    plain = (
        '<a href="/a">x</a><a rel="NoFollow ugc" href="/b">y</a>'
        '<a rel="sponsored" href="/c">z</a>'
    )
    links, ni, nf = parse_link_directives(plain)
    assert links == [("/a", False), ("/b", True), ("/c", False)]
    assert (ni, nf) == (False, False)

    meta_none = '<head><meta name="ROBOTS" content=" None "/></head>' + plain
    _, ni2, nf2 = parse_link_directives(meta_none)
    assert (ni2, nf2) == (True, True)

    meta_noindex = '<meta name="robots" content="noindex, follow"/>' + plain
    _, ni3, nf3 = parse_link_directives(meta_noindex)
    assert (ni3, nf3) == (True, False)

    df = spark.createDataFrame(
        [("u1", plain), ("u2", meta_none), ("u3", meta_noindex)],
        "url string, html string",
    )
    out = {r["url"]: r for r in link_directives_pages(df).collect()}
    assert out["u1"]["out_links"] == ["/a", "/b", "/c"]
    assert out["u1"]["follow_links"] == ["/a", "/c"]
    assert out["u2"]["follow_links"] == [] and out["u2"]["noindex"]
    assert out["u3"]["follow_links"] == ["/a", "/c"] and out["u3"]["noindex"]


def test_dust_mining_and_application(spark):
    """DUST (WWW'07): alias groups from content digests -> rules with
    min-support -> application to UNFETCHED frontier URLs. A URL hit by
    two rule families (www host + session param) collapses fully
    because host_alias applies before strip_param."""
    from spider_spark.operators import dust

    pages = spark.createDataFrame(
        [
            ("http://a.example/p1", "d1"), ("http://www.a.example/p1", "d1"),
            ("http://a.example/p2", "d2"), ("http://www.a.example/p2", "d2"),
            ("http://b.example/x?cat=1", "d3"),
            ("http://b.example/x?cat=1&sid=42", "d3"),
            ("http://b.example/y", "d4"), ("http://b.example/y?sid=9", "d4"),
            ("http://c.example/d/", "d5"), ("http://c.example/d/index.html", "d5"),
            ("http://c.example/e/", "d6"), ("http://c.example/e/index.html", "d6"),
            # support-1 noise: must NOT become a rule
            ("http://n.example/one", "d7"), ("http://n.example/one?once=1", "d7"),
            ("http://z.example/q", "d8"),
        ],
        "url string, digest string",
    )
    rules = dust.mine_rules(dust.alias_pairs(pages), min_support=2)
    got = {(r["kind"], r["scope"], r["arg"], r["support"]) for r in rules.collect()}
    assert got == {
        ("host_alias", "www.a.example", "a.example", 2),
        ("strip_param", "b.example", "sid", 2),
        ("strip_suffix", "c.example", "index.html", 2),
    }

    frontier = spark.createDataFrame(
        [
            ("http://www.a.example/new?z=1",),
            ("http://b.example/fresh?sid=777&cat=2",),
            ("http://b.example/all?sid=1",),      # query empties entirely
            ("http://c.example/new/index.html",),
            ("http://c.example/index.html",),     # collapses to the root
            ("http://untouched.example/ok",),
        ],
        "url string",
    )
    out = {r["url"]: r["dust_url"] for r in dust.apply_rules(frontier, rules).collect()}
    assert out["http://www.a.example/new?z=1"] == "http://a.example/new?z=1"
    assert out["http://b.example/fresh?sid=777&cat=2"] == "http://b.example/fresh?cat=2"
    assert out["http://b.example/all?sid=1"] == "http://b.example/all"
    assert out["http://c.example/new/index.html"] == "http://c.example/new/"
    # the mined suffix is 'index.html' (canonical paths end in '/'), so
    # the root page generalizes to '/' — consistent DUST substitution
    assert out["http://c.example/index.html"] == "http://c.example/"
    assert out["http://untouched.example/ok"] == "http://untouched.example/ok"


def test_dust_chained_rules_and_scope_dedup(spark):
    """A www-host URL carrying a session param needs BOTH rewrites in
    one pass; two competing suffix rules on one host fan out to a
    single applied rule (best support, then lexicographic min)."""
    from spider_spark.operators import dust

    rules = spark.createDataFrame(
        [
            ("host_alias", "www.a.example", "a.example", 5),
            ("strip_param", "a.example", "sid", 5),
            ("strip_suffix", "s.example", "/print", 2),
            ("strip_suffix", "s.example", "/amp", 7),
            ("strip_suffix", "t.example", "/page", 4),
        ],
        "kind string, scope string, arg string, support long",
    )
    frontier = spark.createDataFrame(
        [
            ("http://www.a.example/p?sid=3&k=v",),
            ("http://s.example/a/amp",),
            ("http://s.example/a/print",),  # loses to the /amp rule
            ("http://t.example/page",),     # path == suffix: kept whole
        ],
        "url string",
    )
    out = {r["url"]: r["dust_url"] for r in dust.apply_rules(frontier, rules).collect()}
    # host alias rewrote first, so the strip_param scope (a.example) matches
    assert out["http://www.a.example/p?sid=3&k=v"] == "http://a.example/p?k=v"
    assert out["http://s.example/a/amp"] == "http://s.example/a"
    # one row out per row in — no join fan-out from the competing rule
    assert dust.apply_rules(frontier, rules).count() == 4
    assert out["http://s.example/a/print"] == "http://s.example/a/print"
    # stripping would empty the path entirely -> rule does not apply
    assert out["http://t.example/page"] == "http://t.example/page"


def test_inverted_index_postings_and_top_terms(spark):
    """Posting lists carry 0-based ascending positions and per-doc tf;
    document frequencies count docs (not occurrences); top_terms ranks
    max-tf, then min-df (rarer wins), then lexicographic term."""
    from spider_spark.operators import index as IX

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana banana cherry"),
            (3, "cherry date"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    post = {
        (r["term"], r["doc_id"]): (r["tf"], r["positions"])
        for r in IX.postings(docs).collect()
    }
    assert post[("apple", 1)] == (2, [0, 2])
    assert post[("banana", 1)] == (1, [1])
    assert post[("banana", 2)] == (2, [0, 1])
    assert post[("cherry", 3)] == (1, [0])
    assert not any(d == 4 for _, d in post)  # empty doc: no postings

    dfs = {r["term"]: r["df"] for r in IX.doc_frequencies(IX.postings(docs)).collect()}
    assert dfs == {"apple": 1, "banana": 2, "cherry": 3, "date": 1}

    top = {r["doc_id"]: (r["top_term"], r["top_term_tf"], r["top_term_df"])
           for r in IX.top_terms(docs).collect()}
    # doc 1: apple tf=2 wins outright
    assert top[1] == ("apple", 2, 1)
    # doc 2: banana tf=2 wins
    assert top[2] == ("banana", 2, 2)
    # doc 3: tf tie (1,1) -> rarer df wins: date (df=1) beats cherry (df=3)
    assert top[3] == ("date", 1, 1)
    assert 4 not in top


def test_registered_domain_psl_algorithm(spark):
    """publicsuffix.org algorithm over the builtin PSL: normal and
    multi-label rules, the *.ck wildcard (needs its extra label), the
    !www.ck exception (beats the wildcard), unregistrable public-suffix
    hosts -> NULL, unmatched hosts -> implicit-* fallback, case folding."""
    from spider_spark.functions.domains import (
        psl_dim,
        registered_domains,
        with_registered_domain,
    )

    psl = psl_dim(spark)
    cases = {
        "shop.example.co.uk": "example.co.uk",
        "example.co.uk": "example.co.uk",
        "co.uk": None,           # is a public suffix
        "uk": None,
        "www.example.com": "example.com",
        "com": None,
        "a.b.co.jp": "b.co.jp",
        "foo.bar.ck": "foo.bar.ck",   # *.ck -> public suffix bar.ck
        "bar.ck": None,               # is itself a wildcard public suffix
        "ck": None,
        "www.ck": "www.ck",           # exception rule
        "sub.www.ck": "www.ck",
        "x.y.unknown": "y.unknown",   # implicit '*' fallback
        "unknown": None,
        "WWW.EXAMPLE.ORG.UK": "example.org.uk",  # case folds
    }
    hosts = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {r["host"]: r["reg_domain"] for r in registered_domains(hosts, psl).collect()}
    assert got == {h.lower(): v for h, v in cases.items()}

    # stream join-back: row count preserved, column attached
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(list(cases) + list(cases))],
        "id long, host string",
    )
    out = with_registered_domain(df, psl)
    assert out.count() == df.count()
    row = out.filter(F.col("host") == "shop.example.co.uk").first()
    assert row["reg_domain"] == "example.co.uk"


def test_temperature_mixing_rates_and_sample(spark):
    """Temperature-scaled mixture weights (mBERT/XLM-R exponentiated
    sampling): alpha=1 keeps natural proportions (all rates exactly
    1.0), alpha=0 targets uniform-over-strata with the smallest stratum
    binding at rate 1.0. (Also oracle-folded into data_mix since round
    4's fifth pass: the pow/sum-derived rate is floor-quantized to e6
    units on BOTH sides and the hash gate compares against the
    QUANTIZED rate, so the cross-engine surface reduces to the floor
    boundary — margins pinned by tools/audit_float_margins.py.)"""
    from spider_spark.operators import mixing as MX

    rows = (
        [(i, "a") for i in range(800)]
        + [(i + 1000, "b") for i in range(100)]
        + [(i + 2000, "c") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")

    r1 = {r["source"]: r for r in MX.temperature_rates(df, alpha=1.0).collect()}
    assert all(r1[s]["rate"] == 1.0 for s in ("a", "b", "c"))
    assert r1["a"]["p"] == 0.8 and r1["b"]["q"] == r1["b"]["p"]

    r0 = {r["source"]: r for r in MX.temperature_rates(df, alpha=0.0).collect()}
    # q uniform = 1/3; q/p = .4166/3.33/3.33 -> max normalizes b,c to 1.0
    assert r0["b"]["rate"] == 1.0 and r0["c"]["rate"] == 1.0
    assert abs(r0["a"]["rate"] - 0.125) < 1e-12
    assert abs(r0["a"]["q"] - 1 / 3) < 1e-12


def test_hits_hubs_and_authorities(spark):
    """Kleinberg HITS (L1-normalized): a directory linking to all
    authorities out-hubs a partial directory; a page cited by both
    directories out-auths one cited by only one; both vectors sum to 1;
    zero-degree sides stay 0."""
    from spider_spark.operators import graphrank as GR

    edges = spark.createDataFrame(
        [("d1", "a1"), ("d1", "a2"), ("d1", "a3"),
         ("d2", "a1"), ("d2", "a2"),
         ("x", "y")],
        "src string, dst string",
    )
    out = {r["node"]: (r["hub"], r["auth"]) for r in GR.hits(edges, n_iter=4).collect()}
    hubs = {k: v[0] for k, v in out.items()}
    auths = {k: v[1] for k, v in out.items()}
    assert abs(sum(hubs.values()) - 1.0) < 1e-9
    assert abs(sum(auths.values()) - 1.0) < 1e-9
    assert hubs["d1"] > hubs["d2"] > hubs["x"] > 0
    assert auths["a1"] == auths["a2"] > auths["a3"] > 0
    # pure hubs have no authority, pure authorities no hub weight
    assert auths["d1"] == 0 and auths["d2"] == 0
    assert hubs["a1"] == 0 and hubs["a3"] == 0 and hubs["y"] == 0
    assert auths["y"] > 0


def test_trustrank_seed_restricted_teleport(spark):
    """TrustRank (Gyöngyi VLDB'04): trust flows only outward from the
    seed set. A densely interlinked spam farm unreachable from the
    seeds gets EXACTLY zero (non-seeds start at 0 and teleport never
    visits them), while plain PageRank rewards it; dangling mass
    returns to the seeds, not all nodes."""
    from spider_spark.operators import graphrank as GR

    edges = spark.createDataFrame(
        [
            ("s", "g"), ("g", "g2"),          # trusted region; g2 dangles
            ("sp1", "sp2"), ("sp2", "sp3"),   # spam farm, fully
            ("sp3", "sp1"), ("sp2", "sp1"),   # interlinked, unreachable
        ],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    trust = {r["node"]: r["rank"]
             for r in GR.trustrank(edges, seeds, n_iter=8).collect()}
    pr = {r["node"]: r["rank"]
          for r in GR.pagerank(edges, n_iter=8).collect()}
    assert trust["sp1"] == 0.0 and trust["sp2"] == 0.0 and trust["sp3"] == 0.0
    assert pr["sp1"] > 0 and pr["sp2"] > 0  # PageRank rewards the farm
    # the trusted chain s -> g -> g2 holds ALL the mass (g2's dangling
    # mass returns to the seed, closing the cycle — each node's share
    # depends on its cycle position, so assert membership, not order)
    assert trust["s"] > 0 and trust["g"] > 0 and trust["g2"] > 0
    # dangling g2 returns mass to the seed: total stays, farm never gains
    assert abs(sum(trust.values()) - 1.0) < 1e-9
    import pytest as _pytest

    with _pytest.raises(ValueError):
        GR.trustrank(edges, seeds.filter("node = 'nope_absent'"))


def test_warc_export_roundtrip(spark, tmp_path):
    """WARC/1.1 response records: deterministic record IDs (re-export
    is byte-identical), Content-Length in BYTES (multi-byte chars),
    sha1 payload digest, shard write + reader-twin round trip."""
    from spider_spark.storage.warc import (
        parse_warc_records,
        warc_response_records,
        write_warc,
    )

    pages = spark.createDataFrame(
        [
            ("http://a.example/p1", "<html>héllo</html>"),
            ("http://a.example/p2", "plain"),
            ("http://b.example/x", "<p>b</p>"),
        ],
        "url string, payload string",
    )
    recs = warc_response_records(pages)
    r1 = {r["url"]: r["record"] for r in recs.collect()}
    r2 = {r["url"]: r["record"] for r in warc_response_records(pages).collect()}
    assert r1 == r2  # deterministic re-export

    path = str(tmp_path / "warc_out")
    write_warc(recs, path, n_shards=2)
    import glob

    # newline='' keeps the CRLFs the WARC spec requires (text-mode
    # default would fold them to \n)
    blob = "".join(
        open(f, newline="").read() for f in sorted(glob.glob(path + "/part-*"))
    )
    parsed = {p["headers"]["WARC-Target-URI"]: p for p in parse_warc_records(blob)}
    assert set(parsed) == set(r1)
    p1 = parsed["http://a.example/p1"]
    assert p1["payload"] == "<html>héllo</html>"
    # byte length, not char length (é is 2 bytes in utf-8)
    assert int(p1["headers"]["Content-Length"]) == len(p1["payload"].encode())
    assert p1["headers"]["WARC-Type"] == "response"
    assert p1["headers"]["WARC-Record-ID"].startswith("urn:uuid:")
    import hashlib

    assert (
        p1["headers"]["WARC-Payload-Digest"]
        == "sha1:" + hashlib.sha1(p1["payload"].encode()).hexdigest()
    )


def test_sniff_media_type_signatures(spark):
    """Magic-byte sniffing hand vectors: the RIFF container
    discriminates WebP from WAV by the format tag at bytes 9-12; gzip,
    Ogg, bare-frame-sync MP3 are detected; unknown bytes fall back to
    octet-stream; NULL content stays NULL; a 1-byte blob can't match
    any signature."""
    from spider_spark.operators.media import sniff_media_type

    cases = [
        ("jpeg", b"\xff\xd8\xff\xe0junk", "image/jpeg"),
        ("png", b"\x89PNG\r\n\x1a\nrest", "image/png"),
        ("gif87", b"GIF87adata", "image/gif"),
        ("webp", b"RIFF\x12\x00\x00\x00WEBPVP8 ", "image/webp"),
        ("wav", b"RIFF\x12\x00\x00\x00WAVEfmt ", "audio/wav"),
        ("mp3_id3", b"ID3\x04tag", "audio/mpeg"),
        ("mp3_sync", b"\xff\xfbframe", "audio/mpeg"),
        # frame-sync variants: 0xFF + second byte >= 0xE0 (11-bit sync)
        ("mp3_sync_fa", b"\xff\xfaframe", "audio/mpeg"),
        ("mp3_sync_f3", b"\xff\xf3frame", "audio/mpeg"),
        ("mp3_sync_f2", b"\xff\xf2frame", "audio/mpeg"),
        ("mp3_sync_e3", b"\xff\xe3frame", "audio/mpeg"),
        # 0xFFD8 is JPEG territory, 0xFFC0 < 0xE0 is NOT a frame sync
        ("not_sync", b"\xff\xc0junk", "application/octet-stream"),
        # UTF-16 BOMs beat the frame-sync check (WHATWG order): FFFE is
        # bit-wise a valid MPEG sync but means UTF-16LE text
        ("utf16le_bom", b"\xff\xfeh\x00i\x00", "application/octet-stream"),
        ("utf16be_bom", b"\xfe\xff\x00h\x00i", "application/octet-stream"),
        ("ogg", b"OggS\x00", "audio/ogg"),
        ("mp4", b"\x00\x00\x00\x18ftypisom", "video/mp4"),
        ("pdf", b"%PDF-1.7", "application/pdf"),
        ("gzip", b"\x1f\x8b\x08", "application/gzip"),
        ("unknown", b"hello world", "application/octet-stream"),
        ("tiny", b"X", "application/octet-stream"),
        ("null", None, None),
    ]
    df = spark.createDataFrame(
        [(n, bytearray(c) if c is not None else None) for n, c, _ in cases],
        "name string, content binary",
    )
    got = {r["name"]: r["t"] for r in
           df.select("name", sniff_media_type(F.col("content")).alias("t")).collect()}
    assert got == {n: exp for n, _, exp in cases}


def test_surt_key_canonical_forms(spark):
    """SURT transform (IA spec subset): scheme/fragment dropped,
    lowercase, leading www. stripped, host labels reversed with
    commas, query params sorted; empty path becomes '/'."""
    from spider_spark.storage.cdx import surt_key

    cases = {
        "http://www.Example.com/Path?b=2&a=1#f": "com,example)/path?a=1&b=2",
        "https://sub.host.co.uk/a/b": "uk,co,host,sub)/a/b",
        "http://example.com": "com,example)/",
        "http://example.com/?x=1": "com,example)/?x=1",
        "http://wwwx.example.com/p": "com,example,wwwx)/p",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["surt"] for r in
           df.select("url", surt_key(F.col("url")).alias("surt")).collect()}
    assert got == cases


def test_cdx_index_matches_written_shards(spark, tmp_path):
    """The CDX index replays write_warc's placement exactly: for every
    indexed record, seeking to (filename, offset) in the actual shard
    files yields that record's bytes. Pins the pmod(hash(url), n) ==
    repartition(n, url) equivalence and the per-shard prefix-sum
    offsets (including the text sink's +1 newline per line)."""
    import glob

    from spider_spark.storage.cdx import cdx_index
    from spider_spark.storage.warc import warc_response_records, write_warc

    pages = spark.createDataFrame(
        [(f"http://h{i % 5}.example/p/{i}", f"<p>doc {i} é</p>") for i in range(40)],
        "url string, payload string",
    )
    recs = warc_response_records(pages)
    path = str(tmp_path / "shards")
    write_warc(recs, path, n_shards=4)
    idx = cdx_index(recs, n_shards=4).collect()
    assert len(idx) == 40
    by_shard = {}
    for f in glob.glob(path + "/part-*"):
        num = int(f.rsplit("/", 1)[1].split("-")[1])
        by_shard[num] = open(f, "rb").read()
    expected = {r["url"]: r["record"] for r in recs.collect()}
    for row in idx:
        blob = by_shard[row["shard"]]
        assert row["filename"] == f"part-{row['shard']:05d}"
        got = blob[row["offset"]: row["offset"] + row["length"]]
        assert got == expected[row["url"]].encode() + b"\n"
    # surt ordering: keys sort host-major (the archive seek pattern)
    surts = sorted(r["surt"] for r in idx)
    assert surts[0].startswith("example,h0)") and surts[-1].startswith("example,h4)")


def test_cdx_index_non_default_url_col(spark):
    """cdx_index with url_col != 'url': the offset window runs over
    the staged (renamed) frame, so it must order by the renamed 'url'
    column — ordering by the caller's column name raised an
    AnalysisException before the round-5 fix. Offsets/lengths must be
    identical to the default-name path on the same data."""
    from spider_spark.storage.cdx import cdx_index

    recs = spark.createDataFrame(
        [(f"http://h{i % 3}.example/p/{i}", f"rec-{i}") for i in range(12)],
        "page_url string, record string",
    )
    got = {
        r["url"]: (r["shard"], r["offset"], r["length"])
        for r in cdx_index(recs, n_shards=2, url_col="page_url").collect()
    }
    base = {
        r["url"]: (r["shard"], r["offset"], r["length"])
        for r in cdx_index(
            recs.withColumnRenamed("page_url", "url"), n_shards=2
        ).collect()
    }
    assert got == base and len(got) == 12


def test_ngram_repetition_counts(spark):
    """Round-5 Gopher dup-n-gram class (within-doc, all-integer):
    top_ngram_count = occurrences of the most frequent n-gram;
    dup_ngram_occurrences = occurrences beyond each first
    (= size - distinct size). Hand vectors incl. the gram-less short
    doc (both 0) and a doc whose repeats only appear at n=2."""
    from spider_spark.functions import text as TX

    df = spark.createDataFrame(
        [
            # 'a b' appears 3x among 2-grams; the repeated 5-gram
            # 'a b a b a' appears 2x (positions 1 and 3)
            ("rep5", "a b a b a b a"),
            # distinct everywhere: top counts 1, dup 0
            ("uniq", "one two three four five six seven"),
            # shorter than 5 tokens: no 5-grams at all
            ("tiny", "x y z"),
        ],
        "doc_id string, text string",
    )
    staged = df.select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        TX.word_shingles_from(F.col("toks"), 2).alias("g2"),
        TX.word_shingles_from(F.col("toks"), 5).alias("g5"),
    )
    out = {
        r["doc_id"]: r
        for r in staged.select(
            "doc_id",
            TX.top_ngram_count_from(F.col("g2")).alias("top2"),
            TX.dup_ngram_occurrences_from(F.col("g2")).alias("dup2"),
            TX.top_ngram_count_from(F.col("g5")).alias("top5"),
            TX.dup_ngram_occurrences_from(F.col("g5")).alias("dup5"),
        ).collect()
    }
    # rep5 2-grams: ab ba ab ba ab ba -> 'a b' 3x, 'b a' 3x; dup = 6-2
    assert out["rep5"]["top2"] == 3 and out["rep5"]["dup2"] == 4
    # rep5 5-grams: ababa babab ababa -> 'a b a b a' 2x; dup = 3-2
    assert out["rep5"]["top5"] == 2 and out["rep5"]["dup5"] == 1
    assert out["uniq"]["top2"] == 1 and out["uniq"]["dup2"] == 0
    assert out["uniq"]["top5"] == 1 and out["uniq"]["dup5"] == 0
    assert out["tiny"]["top5"] == 0 and out["tiny"]["dup5"] == 0
