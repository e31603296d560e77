"""Canonicalization + fingerprint unit tests (SURVEY.md §2.2)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from spider_spark.functions.urls import (
    canonicalize_series,
    fingerprint_sql,
    host_sql,
    resolve_series,
    with_url_identity,
)
from tests import golden_model as G


def test_canonicalize_rules():
    urls = pd.Series(
        [
            "HTTP://Host.Example:80/a//b?z=1&a=2#frag",
            "https://host.example:443/",
            "http://host.example",
            "http://host.example/p?b=&a=1",
            "http://host.example/p?a=1&a=0",
        ]
    )
    out = canonicalize_series(urls).tolist()
    assert out[0] == "http://host.example/a/b?a=2&z=1"
    assert out[1] == "https://host.example/"
    assert out[2] == "http://host.example/"
    assert out[3] == "http://host.example/p?a=1&b="
    assert out[4] == "http://host.example/p?a=0&a=1"


def test_canonicalize_matches_golden_model():
    urls = [
        "http://HOT.EXAMPLE/list?page=1#top",
        "http://host1.example:80/detail/d1?b=2&a=1",
        "https://x.example//a//b",
        "http://x.example/p#",
    ]
    spark_side = canonicalize_series(pd.Series(urls)).tolist()
    golden = [G.canonicalize(u) for u in urls]
    assert spark_side == golden


def test_resolve_relative():
    base = pd.Series(["http://h.example/list?page=2"] * 3)
    href = pd.Series(["/detail/x", "detail/y", "http://other.example/z"])
    out = resolve_series(base, href).tolist()
    assert out == [
        "http://h.example/detail/x",
        "http://h.example/detail/y",
        "http://other.example/z",
    ]


def test_fingerprint_matches_golden(spark):
    df = spark.createDataFrame(
        [("GET", "http://h.example/a", None), ("post", "http://h.example/a", "x=1")],
        "method string, canonical_url string, body string",
    )
    rows = df.select(
        F.expr(fingerprint_sql("method", "canonical_url", "body")).alias("fp")
    ).collect()
    assert rows[0]["fp"] == G.fingerprint("GET", "http://h.example/a", None)
    assert rows[1]["fp"] == G.fingerprint("POST", "http://h.example/a", "x=1")


def test_url_identity_and_host(spark):
    df = spark.createDataFrame(
        [("http://UA.Example:80/a?b=1&a=2#f",)], "url string"
    )
    row = with_url_identity(df, n_buckets=16).collect()[0]
    assert row["canonical_url"] == "http://ua.example/a?a=2&b=1"
    assert row["host"] == "ua.example"
    assert 0 <= row["host_bucket"] < 16
    assert row["fingerprint"] == G.fingerprint("GET", "http://ua.example/a?a=2&b=1", None)


def test_host_col_strips_port_and_userinfo(spark):
    df = spark.createDataFrame(
        [("http://user@h.example:8080/p",)], "canonical_url string"
    )
    assert df.select(F.expr(host_sql("canonical_url")).alias("h")).collect()[0]["h"] == "h.example"


def test_trap_fence_signals(spark):
    """Crawler-trap fence columns (functions/urls.py, round 4): hand
    vectors for path depth, pathological segment repetition, query-param
    count, URL length, and the composed is_trap decision."""
    from spider_spark.functions.urls import (
        is_trap_col,
        max_segment_repeat_col,
        path_depth_col,
        query_param_count_col,
    )

    deep = "http://t.example/" + "/".join(f"s{i}" for i in range(17))
    longu = "http://t.example/p?pad=" + "x" * 2048
    rows = [
        # (url, depth, repeat, params, trap)
        ("http://t.example/x/y/z?p=1&q=2", 3, 1, 2, False),
        ("http://t.example/", 0, 0, 0, False),
        ("http://t.example", 0, 0, 0, False),          # empty path == '/'
        ("http://t.example/a/b/a/b/a", 5, 3, 0, True),  # pathological path
        (deep, 17, 1, 0, True),                         # too many segments
        ("http://t.example/p?" + "&".join(f"k{i}=1" for i in range(13)),
         1, 1, 13, True),                               # session-id maze
        (longu, 1, 1, 1, True),                         # oversize URL
        # query/fragment content never leaks into path signals
        ("http://t.example/x?y=/a/b/a/b/a/b#/c/c/c", 1, 1, 1, False),
    ]
    df = spark.createDataFrame([(u,) for u, *_ in rows], "url string")
    got = df.select(
        "url",
        path_depth_col(F.col("url")).alias("d"),
        max_segment_repeat_col(F.col("url")).alias("r"),
        query_param_count_col(F.col("url")).alias("p"),
        is_trap_col(F.col("url")).alias("t"),
    ).collect()
    by_url = {g["url"]: g for g in got}
    for url, d, r, p, t in rows:
        g = by_url[url]
        assert (g["d"], g["r"], g["p"], g["t"]) == (d, r, p, t), (url, dict(g.asDict()))
