"""spark-submit job: incremental tier refresh.

    spark-submit --py-files olympian_spark.zip scripts/run_refresh.py \
        --input /path/transcripts --store /path/tiers \
        --watermark batch-0042 [--since-watermark '2024-01-15 23:59:59']

Reads the transcripts table, refreshes only the affected day partitions of
every tier table, commits manifest lineage, prints the snapshot summary as
one JSON line.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--watermark", required=True)
    ap.add_argument("--since-watermark", default=None)
    ap.add_argument("--retention-1m-cutoff", default=None,
                    help="drop tier_1m partitions older than this date")
    args = ap.parse_args()

    from olympian_spark.plans.refresh import apply_retention, refresh_tiers
    from olympian_spark.session import FILE_CONF
    from olympian_spark.sources.catalog import ParquetManifestCatalog

    spark = SparkSession.builder.getOrCreate()  # --master decides the master
    for k, v in FILE_CONF.items():
        spark.conf.set(k, v)
    cat = ParquetManifestCatalog(spark, args.store)
    transcripts = spark.read.parquet(args.input)
    results = refresh_tiers(
        spark, cat, transcripts,
        watermark=args.watermark, since_watermark=args.since_watermark,
    )
    if args.retention_1m_cutoff:
        apply_retention(cat, {"tier_1m": args.retention_1m_cutoff})
    print(json.dumps({
        t: (r if isinstance(r, str) else {"snapshot_id": r["snapshot_id"],
                                          "partitions": len(r["partitions"])})
        for t, r in results.items()
    }))
    spark.stop()


if __name__ == "__main__":
    main()
