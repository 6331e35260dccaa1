"""Cluster entry point for the crawl engine (north_rule launch path):

    ./scripts/package.sh                        # builds dist/docrawl_spark.zip
    spark-submit --py-files dist/docrawl_spark.zip \
        --master <cluster> --num-executors N ... \
        scripts/submit_crawl.py \
        --documents s3://.../documents --hosts s3://.../hosts \
        --seeds s3://.../seeds --warehouse s3://.../wh --max-waves 20

Reads the three input tables (parquet; Iceberg identifiers work the
same through spark.read.table), runs (or resumes) the wave loop, and
leaves every artifact committed in the warehouse. The same entry run
at two cluster sizes (N and 4N executors) is the scaling-efficiency
protocol.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--documents", required=True)
    p.add_argument("--hosts", required=True)
    p.add_argument("--seeds", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--max-waves", type=int, default=10)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--n-salts", type=int, default=8)
    # cross-wave seen-set scan reuse: persist the seen set as a catalog
    # table bucketed by (host_hash, salt) at this path so each wave's
    # anti-join probes it pre-partitioned from storage (zero seen-side
    # exchange — the growing-seen tail killer at 10^10 urls). On a real
    # cluster, point it at a durable location (s3://.../seen_idx).
    p.add_argument("--seen-index", default=None)
    args = p.parse_args()

    from docrawl_spark.plans.crawl import run_crawl
    from docrawl_spark.session import get_spark
    from docrawl_spark.sources.storage import Warehouse

    # master=None → spark-submit decides (cluster); falls back to local
    spark = get_spark(app_name="docrawl_spark_crawl", master=None)

    documents = spark.read.parquet(args.documents)
    hosts = spark.read.parquet(args.hosts)
    seeds = spark.read.parquet(args.seeds)
    wh = Warehouse(args.warehouse, spark)
    seen_index = None
    if args.seen_index:
        from docrawl_spark.sources.seen_index import BucketedSeenIndex

        seen_index = BucketedSeenIndex(
            spark, args.seen_index, n_salts=args.n_salts
        )

    result = run_crawl(
        spark,
        documents,
        hosts,
        seeds,
        max_waves=args.max_waves,
        warehouse=wh,
        n_salts=args.n_salts,
        resume=args.resume,
        collect_visits=False,
        seen_index=seen_index,
    )
    print(json.dumps({"waves": result.metrics}))
    spark.stop()


if __name__ == "__main__":
    main()
