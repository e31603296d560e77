"""Cuckoo-filter seen-set tests: the insert/contains kernels on
their own, and a cuckoo-backed crawl against the exact seen-set."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from spider_spark.operators.cuckoo import (
    CuckooSpec,
    cuckoo_contains,
    cuckoo_insert,
)
from spider_spark.operators.dedup import _hex_u64


def fps(n, salt=""):
    return pd.Series([hashlib.sha1(f"{salt}{i}".encode()).hexdigest() for i in range(n)])


def test_hex_decoder_matches_int_parse():
    """The vectorized decoder behind both filter layouts against the
    per-row ``int(fp[a:b], 16)`` it replaces."""
    sha1, md5 = list(fps(300)), [hashlib.md5(f"{i}".encode()).hexdigest() for i in range(300)]
    for f, fields in ((sha1, [(0, 16), (16, 16), (32, 4)]), (md5, [(0, 16), (16, 4)])):
        for start, width in fields:
            want = [int(fp[start : start + width], 16) for fp in f]
            assert _hex_u64(f, start, width).tolist() == want


def test_insert_contains_no_false_negatives():
    spec = CuckooSpec(capacity=5000)
    f = fps(3000)
    fb = cuckoo_insert(spec.empty(), f, spec)
    assert cuckoo_contains(fb, f, spec).all()


def test_false_positive_rate_small():
    spec = CuckooSpec(capacity=5000)
    fb = cuckoo_insert(spec.empty(), fps(3000), spec)
    other = fps(5000, salt="other")
    fpr = cuckoo_contains(fb, other, spec).mean()
    assert fpr < 0.02  # 16-bit tags, 2 buckets x 4 slots -> ~8/2^16


def test_full_table_raises():
    spec = CuckooSpec(capacity=64)
    with pytest.raises(RuntimeError):
        cuckoo_insert(spec.empty(), fps(2000), spec)


def test_engine_cuckoo_equals_exact(spark, tmp_path, reference_crawl):
    from tests.test_engine import check_seen_filters, run_engine
    from spider_spark.synth import WebSpec

    spec = WebSpec(seed=11, n_hosts=4, pages_per_host=2, details_per_page=3)
    _e1, _t1, s_exact = reference_crawl(spec)
    e_ck, _t2, s_ck = run_engine(spark, tmp_path / "cuckoo", spec, seen_backend="cuckoo")
    check_seen_filters(e_ck, s_ck)
    seen_exact = {r["fingerprint"] for r in s_exact.read_table("url_seen", "append").collect()}
    seen_ck = {r["fingerprint"] for r in s_ck.read_table("url_seen", "append").collect()}
    assert seen_exact == seen_ck
    d1 = {r["doc_id"] for r in s_exact.read_table("documents", "append").collect()}
    d2 = {r["doc_id"] for r in s_ck.read_table("documents", "append").collect()}
    assert d1 == d2
