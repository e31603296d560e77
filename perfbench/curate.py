"""parse_curate: extraction into span documents, then corpus curation.

Generated documents are rendered to HTML by a seeded column-expression
template (the pattern of ``__spark_entry__.q_html_parse``), then run
through ``htmlparse.parse_html_pages`` + ``main_content_pages`` ->
``functions.text`` signals -> ``textdedup.exact_dedup`` ->
``textdedup.minhash_lsh_pairs`` -> ``lmquality`` fit and score. This is
the one path where Python-worker CPU (``mapInPandas``, the stdlib
parser) dominates.

The documents are generated here rather than read from a data directory
so that a run reads only its own checkout; a share of them are exact and
near duplicates, so both dedup stages find work.
"""

from __future__ import annotations

import random
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spider_spark.functions import text as TX
from spider_spark.operators import lmquality as LM
from spider_spark.operators import textdedup as TD
from spider_spark.operators.htmlparse import main_content_pages, parse_html_pages

from .harness import EventLog, Tracer

N_DOCS = {"full": 1_200, "tiny": 120}
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.05
STOPWORDS = ["the", "and", "of", "to", "in", "is", "with", "for", "on", "this", "that", "are"]
DOC_SCHEMA = "doc_id long, title string, text string, n_img int, has_nav boolean, repeat_img boolean"


def generate_documents(seed: int, n: int) -> list[tuple]:
    """(doc_id, title, text, n_img, has_nav, repeat_img) rows. Text mixes
    English stopwords with a skewed pseudo-word vocabulary; a share of
    documents copy an earlier text exactly or with one word changed."""
    rng = random.Random(seed)

    def word():
        if rng.random() < 0.35:
            return rng.choice(STOPWORDS)
        return f"w{int(rng.paretovariate(1.2)) % 3000}"

    rows, texts = [], []
    for i in range(n):
        roll = rng.random()
        if texts and roll < EXACT_DUP_RATE:
            text = rng.choice(texts)
        elif texts and roll < EXACT_DUP_RATE + NEAR_DUP_RATE:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = word()
            text = " ".join(words)
        else:
            text = " ".join(word() for _ in range(rng.randint(20, 120)))
        texts.append(text)
        title = " ".join(word() for _ in range(rng.randint(2, 6)))
        rows.append((i, title, text, rng.randint(0, 3), rng.random() < 0.7, rng.random() < 0.3))
    return rows


def render(docs: DataFrame) -> DataFrame:
    """(url, html) pages: title in <head> (skipped by the parser), an
    optional nav block, h1 title, a content div holding the text and
    images (optionally repeating the first image), a footer and a link
    to the next document."""
    did = F.col("doc_id").cast("string")
    img = lambda j: F.concat(F.lit('<img src="/i/'), did, F.lit("_"), j.cast("string"), F.lit('.jpg"/>'))  # noqa: E731
    imgs = F.when(
        F.col("n_img") > 0,
        F.concat_ws("", F.transform(F.sequence(F.lit(0), F.col("n_img") - 1), img)),
    ).otherwise(F.lit(""))
    repeat = F.when(F.col("repeat_img") & (F.col("n_img") > 0), img(F.lit(0))).otherwise(F.lit(""))
    nav = F.when(
        F.col("has_nav"),
        F.lit('<div class="nav"><a href="/nav1">Home</a> <a href="/nav2">About</a></div>'),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>"), F.col("title"), F.lit("</title></head><body>"),
        nav,
        F.lit("<h1>"), F.col("title"), F.lit('</h1><div class="content"><p>'),
        F.col("text"), F.lit("</p>"), imgs, repeat,
        F.lit('</div><div class="footer">copyright <a href="/contact">contact</a></div><a href="/d/'),
        (F.col("doc_id") + 1).cast("string"), F.lit('">more</a></body></html>'),
    )
    return docs.select(F.concat(F.lit("http://docs.example/"), did).alias("url"), html.alias("html"))


def expected_page(row: tuple) -> tuple[list[str], list[tuple], str]:
    """What the parser must extract from ``render``'s page for one row:
    (out_links, spans as (kind, text, media_ref, offset), main_text)."""
    doc_id, title, text, n_img, has_nav, _repeat = row
    links = ["/nav1", "/nav2"] if has_nav else []
    items = [("text", "Home", None), ("text", "About", None)] if has_nav else []
    items += [("text", title, None), ("text", text, None)]
    items += [("media", None, f"/i/{doc_id}_{j}.jpg") for j in range(n_img)]
    items += [("text", "copyright", None), ("text", "contact", None), ("text", "more", None)]
    links += ["/contact", f"/d/{doc_id + 1}"]
    spans = [(k, t, m, i) for i, (k, t, m) in enumerate(items)]
    return links, spans, text


class ParseCurate:
    name = "parse_curate"

    def __init__(self, spark, seed: int, tracer: Tracer, tiny: bool):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.n_docs = N_DOCS["tiny" if tiny else "full"]

    def setup(self) -> dict:
        t0 = time.perf_counter()
        rows = generate_documents(self.seed, self.n_docs)
        par = self.spark.sparkContext.defaultParallelism * 2
        docs = self.spark.createDataFrame(rows, DOC_SCHEMA).repartition(par)
        self.pages = render(docs).persist()
        self.pages.count()
        gen_s = time.perf_counter() - t0
        self.expected = {f"http://docs.example/{r[0]}": expected_page(r) for r in rows}
        # one untimed pass: the JVM's and the Python workers' first run of
        # this code is about twice as slow and varies run to run
        parsed, mains, _ = self.run_pass(0)[3]
        parsed.unpersist()
        mains.unpersist()
        return {"synth.gen_s": gen_s, "synth.rows": len(rows)}

    def _step(self, name: str, df: DataFrame) -> tuple[DataFrame, int]:
        with self.tracer.span(name, group=name):
            df = df.persist()
            return df, df.count()

    def run_pass(self, i: int):
        t0 = time.perf_counter()
        parsed, n_pages = self._step("htmlparse.parse", parse_html_pages(self.pages))
        mains, _ = self._step("htmlparse.main_text", main_content_pages(self.pages))
        text = F.col("main_text")
        signals, _ = self._step(
            "text.signals",
            mains.select(
                F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
                text.alias("text"),
                TX.token_count(text).alias("n_tokens"),
                TX.lang_id(text).alias("lang"),
                TX.quality_score(text).alias("quality"),
            ),
        )
        groups, n_groups = self._step("textdedup.exact", TD.exact_dedup(signals))
        pairs, n_pairs = self._step(
            "textdedup.minhash", TD.minhash_lsh_pairs(signals, n_hashes=8, bands=4, shingle_n=5)
        )
        with self.tracer.span("lmquality.fit_score", group="lmquality.fit_score"):
            model = LM.fit_unigram(signals, min_count=2, vocab_cap=4096)
            LM.score_unigram(signals, model).count()
        wall = time.perf_counter() - t0
        for df in (signals, groups, pairs):
            df.unpersist()
        stats = {"pages": n_pages, "groups": n_groups, "pairs": n_pairs}
        return self.n_docs, wall, [wall], (parsed, mains, stats)

    # -- output check (untimed) ----------------------------------------------
    def collect(self, out):
        parsed, mains, _ = out
        got = {
            r["url"]: (list(r["out_links"]), [tuple(s) for s in r["spans"]])
            for r in parsed.collect()
        }
        main_text = {r["url"]: r["main_text"] for r in mains.collect()}
        return got, main_text

    def verify(self, got: dict, main_text: dict) -> list[str]:
        errors = []
        if got.keys() != self.expected.keys():
            errors.append(f"parsed {len(got)} pages, rendered {len(self.expected)}")
        bad = [u for u, (links, spans, _) in self.expected.items() if got.get(u) != (links, spans)]
        if bad:
            errors.append(f"{len(bad)} pages' links or spans differ from the template, e.g. {bad[0]}")
        bad_main = [u for u, (_, _, text) in self.expected.items() if main_text.get(u) != text]
        if bad_main:
            errors.append(f"{len(bad_main)} pages' main text differs, e.g. {bad_main[0]}")
        return errors

    def check(self, out) -> list[str]:
        errors = self.verify(*self.collect(out))
        out[0].unpersist()
        out[1].unpersist()
        return errors

    # -- per-layer metrics (traced runs) --------------------------------------
    def layer_metrics(self, outs) -> dict:
        n = max(len(outs), 1)
        tr = self.tracer
        stats = outs[-1][2]
        return {
            "htmlparse.parse_s": tr.total("htmlparse.parse") / n,
            "htmlparse.main_text_s": tr.total("htmlparse.main_text") / n,
            "htmlparse.pages": stats["pages"],
            "text.signals_s": tr.total("text.signals") / n,
            "lmquality.fit_score_s": tr.total("lmquality.fit_score") / n,
            "textdedup.exact_s": tr.total("textdedup.exact") / n,
            "textdedup.minhash_s": tr.total("textdedup.minhash") / n,
            "textdedup.lsh_candidate_pairs": stats["pairs"],
            "textdedup.dup_ratio": 1 - stats["groups"] / self.n_docs,
        }

    def event_metrics(self, log: EventLog, outs, windows) -> dict:
        return {}

    def close(self) -> None:
        self.pages.unpersist()
