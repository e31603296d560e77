"""Cuckoo-filter seen-set tests (dedup.py's deletable alternative)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from spider_spark.operators.cuckoo import (
    CuckooSpec,
    cuckoo_contains,
    cuckoo_delete,
    cuckoo_insert,
)


def fps(n, salt=""):
    return pd.Series([hashlib.sha1(f"{salt}{i}".encode()).hexdigest() for i in range(n)])


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


def test_delete_restores_absence():
    spec = CuckooSpec(capacity=1000)
    f = fps(500)
    fb = cuckoo_insert(spec.empty(), f, spec)
    fb2 = cuckoo_delete(fb, f.iloc[:100], spec)
    still = cuckoo_contains(fb2, f.iloc[100:], spec)
    gone = cuckoo_contains(fb2, f.iloc[:100], spec)
    assert still.all()
    assert gone.mean() < 0.02  # only residual FPs remain
    assert isinstance(fb2, bytes) and len(fb2) == len(fb)


def test_full_table_raises():
    spec = CuckooSpec(capacity=64)
    with pytest.raises(RuntimeError):
        cuckoo_insert(spec.empty(), fps(2000), spec)


def test_engine_cuckoo_equals_exact(spark, tmp_path, reference_crawl):
    from tests.test_engine import run_engine
    from spider_spark.synth import WebSpec

    spec = WebSpec(seed=11, n_hosts=4, pages_per_host=2, details_per_page=3)
    _e1, _t1, s_exact = reference_crawl(spec)
    _e2, _t2, s_ck = run_engine(spark, tmp_path / "cuckoo", spec, seen_backend="cuckoo")
    seen_exact = {r["fingerprint"] for r in s_exact.read_table("url_seen", "append").collect()}
    seen_ck = {r["fingerprint"] for r in s_ck.read_table("url_seen", "append").collect()}
    assert seen_exact == seen_ck
    d1 = {r["doc_id"] for r in s_exact.read_table("documents", "append").collect()}
    d2 = {r["doc_id"] for r in s_ck.read_table("documents", "append").collect()}
    assert d1 == d2
