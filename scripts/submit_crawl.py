#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (north rule: run via
``spark-submit --py-files``).

Package the library and submit:

    cd /root/repo && zip -r /tmp/roddy_spark.zip roddy_spark
    spark-submit --py-files /tmp/roddy_spark.zip \\
        scripts/submit_crawl.py \\
        --pages /path/to/pages.parquet --checkpoint /path/to/ckpt \\
        --seeds http://h0.test/ --max-depth 3 --per-host-budget 64

On a real cluster add ``--master`` / executor confs; the script uses the
session spark-submit provides (it does NOT force local mode). The
checkpoint may be any path Spark can write (``hdfs://…``, ``file://…``):
the store handles it through Hadoop FileSystem. ``--resume`` continues
from the checkpoint's last committed snapshot.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from roddy_spark.session import ENGINE_CONF


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True,
                   help="parquet path of the page store (sandbox web)")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--seeds", nargs="*", default=[])
    p.add_argument("--max-depth", type=int, default=0)
    p.add_argument("--max-requests", type=int, default=0)
    p.add_argument("--per-host-budget", type=int, default=0)
    p.add_argument("--allowed-domains", nargs="*", default=[])
    p.add_argument("--resume", action="store_true")
    p.add_argument("--bloom-mode", default="auto",
                   choices=["auto", "on", "off"])
    return p.parse_args()


def main():
    args = parse_args()
    spark = (SparkSession.builder.appName("roddy-spark-crawl")
             .config(map=ENGINE_CONF).getOrCreate())

    from roddy_spark.config import CrawlConfig
    from roddy_spark.plans.crawl import Crawler

    config = CrawlConfig(
        max_depth=args.max_depth, max_requests=args.max_requests,
        per_host_budget=args.per_host_budget,
        allowed_domains=tuple(args.allowed_domains),
        bloom_mode=args.bloom_mode)
    pages = spark.read.parquet(args.pages)
    crawler = Crawler(spark, config, pages, args.checkpoint)
    state = crawler.run(seeds=args.seeds or None, resume=args.resume)
    print(json.dumps({
        "admitted": state.admitted_count,
        "successes": state.success_count,
        "batches": len(state.batches),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
