"""spark-submit entry point for the crawl engine.

The north-rule deployment shape::

    spark-submit --py-files spider_spark.zip tools/submit_crawl.py \
        --seeds /data/seeds.parquet --web /data/web_pages.parquet \
        --policy /data/host_policy.parquet --store /data/crawl_store \
        --crawl-id prod-2026-08 --backend bloom --autothrottle --resume

On a cluster the session comes from spark-submit (master/executors set
outside); locally it falls back to ``spider_spark.session.get_spark``.
``--synthetic N`` ignores --seeds/--web and crawls the deterministic
synthetic web at the given host count (smoke/bench runs).

Build the --py-files zip with::

    python tools/submit_crawl.py --make-pyfiles /tmp/spider_spark.zip
"""

from __future__ import annotations

import argparse
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def make_pyfiles(out: str) -> str:
    from spider_spark.session import package_zip

    shutil.copyfile(package_zip(Path(__file__).resolve().parents[1] / "spider_spark"), out)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds")
    ap.add_argument("--web")
    ap.add_argument("--policy")
    ap.add_argument("--store", default="/tmp/spider_spark_store")
    ap.add_argument("--crawl-id", default="crawl-0")
    ap.add_argument("--backend", choices=["exact", "bloom"], default="bloom")
    ap.add_argument("--buckets", type=int, default=1024)
    ap.add_argument("--max-waves", type=int, default=64)
    ap.add_argument("--wave-seconds", type=float, default=1.0)
    ap.add_argument("--autothrottle", action="store_true")
    ap.add_argument("--obey-robots", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--synthetic", type=int, default=0, metavar="N_HOSTS")
    ap.add_argument("--make-pyfiles", metavar="OUT_ZIP")
    args = ap.parse_args(argv)

    if args.make_pyfiles:
        print(make_pyfiles(args.make_pyfiles))
        return 0

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from spider_spark.session import get_spark

        spark = get_spark("spider_spark_submit")

    from spider_spark.plans.engine import CrawlConfig, CrawlEngine
    from spider_spark.storage.catalog import SnapshotStore

    if args.synthetic:
        from spider_spark.synth import WebSpec, host_policy_df, seeds_df, web_df

        spec = WebSpec(seed=42, n_hosts=args.synthetic)
        web, policy, seeds = web_df(spark, spec), host_policy_df(spark, spec), seeds_df(spark, spec)
    else:
        if not (args.seeds and args.web and args.policy):
            ap.error("--seeds/--web/--policy required unless --synthetic")
        seeds = spark.read.parquet(args.seeds)
        web = spark.read.parquet(args.web)
        policy = spark.read.parquet(args.policy)

    cfg = CrawlConfig(
        crawl_id=args.crawl_id,
        n_buckets=args.buckets,
        wave_seconds=args.wave_seconds,
        max_waves=args.max_waves,
        obey_robots=args.obey_robots,
        autothrottle=args.autothrottle,
        seen_backend=args.backend,
    )
    eng = CrawlEngine(spark, web, policy, SnapshotStore(spark, args.store), cfg)
    totals = eng.run(seeds, resume=args.resume)
    print(totals)
    return 0


if __name__ == "__main__":
    sys.exit(main())
