#!/usr/bin/env python
"""spark-submit entry point for the STREAMING candidate intake (north
rule: run via ``spark-submit --py-files``; streaming/frontier.py).

Drains every raw-candidate parquet file currently in ``--intake`` through
readStream → foreachBatch(full admission chain) into the persistent
visited store at ``--store`` — exactly-once per source file via the
streaming checkpoint, resumable. Running it again after dropping more
files into the intake directory admits only the new, never-seen URLs.

    cd /root/repo && zip -r /tmp/roddy_spark.zip roddy_spark
    spark-submit --py-files /tmp/roddy_spark.zip \\
        scripts/submit_ingest.py \\
        --intake /path/to/raw_urls --store /path/to/store \\
        --stream-checkpoint /path/to/sckpt --max-depth 3

Prints one JSON line {admitted_total, completed_batch}.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from roddy_spark.session import ENGINE_CONF


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--intake", required=True,
                   help="directory of raw candidate parquet files "
                        "(schema: raw_url string, depth int, priority int)")
    p.add_argument("--store", required=True,
                   help="persistent visited/admitted snapshot store")
    p.add_argument("--stream-checkpoint", required=True)
    p.add_argument("--max-depth", type=int, default=0)
    p.add_argument("--allowed-domains", nargs="*", default=[])
    p.add_argument("--bloom-mode", default="auto",
                   choices=["auto", "on", "off"])
    p.add_argument("--visited-buckets", type=int, default=0)
    return p.parse_args()


def main():
    args = parse_args()
    spark = (SparkSession.builder.appName("roddy-spark-ingest")
             .config(map=ENGINE_CONF).getOrCreate())

    from roddy_spark.config import CrawlConfig
    from roddy_spark.streaming.frontier import FrontierIngest

    config = CrawlConfig(
        max_depth=args.max_depth,
        allowed_domains=tuple(args.allowed_domains),
        bloom_mode=args.bloom_mode,
        visited_buckets=args.visited_buckets)
    ing = FrontierIngest(spark, config, args.intake, args.store,
                         args.stream_checkpoint)
    total = ing.run_available_now()
    m = ing.store.manifest() or {}
    print(json.dumps({
        "admitted_total": total,
        "completed_batch": m.get("completed_batch", 0),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
