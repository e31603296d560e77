from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from spider_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("spider_spark_tests")
    yield s


@pytest.fixture(scope="session")
def reference_crawl(spark, tmp_path_factory):
    """The plain (exact seen-set) crawl of a WebSpec, run once per
    session and shared by the tests that compare a variant crawl of the
    same spec against it. Returns ``run_engine``'s (engine, totals,
    store)."""
    from tests.test_engine import run_engine

    crawls = {}

    def crawl(spec):
        key = repr(spec)
        if key not in crawls:
            crawls[key] = run_engine(spark, tmp_path_factory.mktemp("reference"), spec)
        return crawls[key]

    return crawl


@pytest.fixture()
def tmp_store(tmp_path, spark):
    from spider_spark.storage.catalog import SnapshotStore

    return SnapshotStore(spark, str(tmp_path / "store"))
