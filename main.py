"""spark-submit entrypoint for the CDC ingest pipeline.

Cluster usage (the local[*] fallback is for sandbox runs):

    # package the engine for the executors
    cd /root/repo && zip -r nps.zip nifi_processors_spark

    spark-submit \\
        --master yarn --deploy-mode cluster \\
        --num-executors 250 --executor-cores 4 --executor-memory 16g \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        --conf spark.sql.shuffle.partitions=2000 \\
        --py-files nps.zip \\
        main.py --binlog-dir s3://bucket/binlog --table-path s3://bucket/transcripts \\
                --checkpoint-dir s3://bucket/ckpt \\
                --n-buckets 4096 --max-files-per-trigger 2000 --continuous

Sizing guidance for the 10^10-event target: n_buckets so a bucket is a
few GB (4096 buckets ≈ 2-5 GB each at ~10 TB table), shuffle
partitions ≈ 2-3x total cores, admission control so a micro-batch is
100-500M events (bulk union-agg path).
"""

from __future__ import annotations

import argparse
import json


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="transcript CDC ingest pipeline")
    ap.add_argument("--binlog-dir", required=True)
    ap.add_argument("--binlog-format", default="parquet", choices=["parquet", "json"])
    ap.add_argument("--table-path", required=True)
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--source-id", default="binlog")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--n-shards", type=int, default=8)
    ap.add_argument("--max-files-per-trigger", type=int, default=64)
    ap.add_argument("--trigger-interval-ms", type=int, default=1000)
    ap.add_argument("--metrics-granularity", default="shard",
                    choices=["shard", "stream", "global"])
    ap.add_argument("--metrics-level", default="summary",
                    choices=["none", "summary", "detailed"],
                    help="telemetry detail (lineage rows are always "
                         "committed regardless)")
    ap.add_argument("--metrics-path", default="",
                    help="JSONL telemetry sink; empty = log only")
    ap.add_argument("--initial-position", default="earliest",
                    choices=["earliest", "latest"],
                    help="earliest=TRIM_HORIZON replay; latest=skip events "
                         "already in the binlog at first stream start")
    ap.add_argument("--merge-strategy", default="copy-on-write",
                    choices=["copy-on-write", "merge-on-read"],
                    help="copy-on-write rewrites touched buckets (read-"
                         "optimized); merge-on-read appends delta files "
                         "(write-optimized, compact() folds them back)")
    ap.add_argument("--put-rate-limit", type=int, default=0,
                    help="max applied events/sec (0 = unlimited)")
    ap.add_argument("--redact", action="store_true",
                    help="enable the vectorized PII-redaction rewrite stage")
    ap.add_argument("--continuous", action="store_true",
                    help="run on the trigger interval instead of drain-and-stop")
    ap.add_argument("--compact", action="store_true",
                    help="run table compaction after draining (batch mode only)")
    ap.add_argument("--expire-keep-last", type=int, default=0, metavar="K",
                    help="after draining, expire all but the last K "
                         "snapshots and delete unreferenced files "
                         "(0 = never expire; batch mode only)")
    return ap.parse_args(argv)


def main(argv=None) -> None:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    from nifi_processors_spark.config import EngineConfig
    from nifi_processors_spark.functions.rewrite import make_transform
    from nifi_processors_spark.streaming.pipeline import CdcPipeline

    spark = SparkSession.builder.appName("transcript-cdc").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = EngineConfig(
        binlog_dir=args.binlog_dir,
        binlog_format=args.binlog_format,
        table_path=args.table_path,
        checkpoint_dir=args.checkpoint_dir,
        source_id=args.source_id,
        n_buckets=args.n_buckets,
        n_shards=args.n_shards,
        max_files_per_trigger=args.max_files_per_trigger,
        trigger_interval_ms=args.trigger_interval_ms,
        metrics_granularity=args.metrics_granularity,
        metrics_level=args.metrics_level,
        metrics_path=args.metrics_path,
        initial_position=args.initial_position,
        merge_strategy=args.merge_strategy,
        put_rate_limit_events_per_sec=args.put_rate_limit,
    )
    transform = make_transform(redact=True) if args.redact else None
    pipe = CdcPipeline(spark, cfg, transform=transform)
    if args.continuous:
        pipe.start(available_now=False).awaitTermination()
    else:
        pipe.run_once(timeout_s=86_400)
        # compaction also folds the lineage and dead-letter files
        if args.compact:
            print(json.dumps({"compact": pipe.table.compact()}))
        if args.expire_keep_last > 0:
            print(json.dumps(
                {"expire": pipe.table.expire_snapshots(args.expire_keep_last)}
            ))
    print(json.dumps({"last_batch": pipe.last_batch_stats,
                      "table_version": pipe.table.current_version()}))


if __name__ == "__main__":
    main()
