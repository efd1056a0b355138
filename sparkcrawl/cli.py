"""spark-submit entry point.

Usage (cluster or local):
  python -m sparkcrawl.package sparkcrawl.zip   # build the --py-files zip
  spark-submit --py-files sparkcrawl.zip sparkcrawl/cli.py \
      --web /path/to/web --store /path/to/store \
      [--max-rounds N] [--max-docs N] [--export /path/corpus] [--resume]

(spark-submit's primary resource is a script path; driver and executor
Python workers import the package from the shipped zip —
tests/test_spark_submit.py drives exactly this, including --resume
across process death.)

`--web` must contain pages/page_meta/robots/seeds parquet (the synthetic
Common-Crawl-style tables); `--store` is the snapshot directory. With
--resume the seeds are ignored and the crawl continues from the last
committed round.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from sparkcrawl import schema as S
from sparkcrawl.engine import CrawlConfig, CrawlEngine
from sparkcrawl.export import export_corpus
from sparkcrawl.tables import SnapshotStore


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser("sparkcrawl")
    ap.add_argument("--web", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--max-rounds", type=int, default=1_000_000)
    ap.add_argument("--max-docs", type=int, default=1_000_000_000)
    ap.add_argument("--export", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--recrawl", action="store_true",
        help="incremental re-crawl: previous pass's docs become the "
             "If-Modified-Since cache; frontier/seen reset from seeds "
             "(304 branch, CrawlerBolt.java:460-485)",
    )
    args = ap.parse_args(argv)

    # Under spark-submit the master/memory/conf come from the submit
    # command (spark.master is preset) — just attach. Launched as plain
    # `python -m sparkcrawl.cli`, use the tuned local builder (AQE, sized
    # shuffle partitions, $SPARKCRAWL_DRIVER_MEM) — the default 1 GiB
    # driver heap cannot hold a cached web of a few hundred MB.
    from pyspark import SparkConf

    if SparkConf().get("spark.master", None):
        spark = SparkSession.builder.appName("sparkcrawl").getOrCreate()
    else:
        from sparkcrawl.session import get_spark

        spark = get_spark("sparkcrawl")
    store = SnapshotStore(args.store)
    pages = spark.read.schema(S.PAGES).parquet(f"{args.web}/pages.parquet")
    meta = spark.read.schema(S.PAGE_META).parquet(
        f"{args.web}/page_meta.parquet"
    )
    robots = spark.read.schema(S.ROBOTS).parquet(f"{args.web}/robots.parquet")
    # Cluster submits can't reach CrawlConfig fields through argparse
    # flags one by one; SPARKCRAWL_CONF='{"cache_web": false, ...}' maps
    # JSON keys onto CrawlConfig kwargs (same contract as the bench
    # harnesses' SPARKCRAWL_SCALE_CONF). CLI flags win over the env.
    import os

    conf_kw = json.loads(os.environ.get("SPARKCRAWL_CONF", "{}"))
    conf_kw.update(max_file_num=args.max_docs, max_rounds=args.max_rounds)
    cfg = CrawlConfig(**conf_kw)
    eng = CrawlEngine(spark, store, pages, meta, robots, cfg)
    seeds = None
    if not args.resume:
        seeds = spark.read.schema(S.SEEDS).parquet(
            f"{args.web}/seeds.parquet"
        )
    if args.recrawl:
        eng.init_recrawl(seeds)
        seeds = None
    res = eng.run(seeds, max_rounds=args.max_rounds)
    print(json.dumps(res))
    if args.export:
        crawled = store.read(spark, "crawled", S.CRAWLED)
        export_corpus(crawled, args.export)


if __name__ == "__main__":
    main()
