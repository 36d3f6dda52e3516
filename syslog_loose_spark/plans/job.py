"""spark-submit entry point.

Packaging (north rule: `spark-submit --py-files` on a multi-executor
cluster):

    cd /root/repo && zip -r pipeline.zip syslog_loose_spark
    spark-submit --py-files pipeline.zip \
        syslog_loose_spark/plans/job.py \
        --input  <iceberg table or parquet path> \
        --output <sink root> \
        --run-id R42 --chunks 16 --tz-offset-seconds 0

The job is resumable: re-running with the same --run-id and --output
skips chunks whose commit markers exist in <output>/state (see
operators/resume.py).
"""

from __future__ import annotations

import argparse


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="syslog-loose-spark pipeline")
    ap.add_argument("--input", required=True,
                    help="tokenized table: iceberg name or parquet path")
    ap.add_argument("--output", required=True, help="sink root directory")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--chunks", type=int, default=16)
    ap.add_argument("--tz-offset-seconds", type=int, default=None)
    ap.add_argument("--tz-name", default=None,
                    help="IANA zone for DST-aware RFC3164 timestamps "
                         "(earliest-on-ambiguity, fail-on-gap); overrides "
                         "--tz-offset-seconds")
    ap.add_argument("--variant", default="either",
                    choices=["either", "rfc3164", "rfc5424"])
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    # absolute imports: spark-submit executes this file as a top-level
    # script (__main__), so relative imports have no parent package
    from syslog_loose_spark.config import ParseConfig, PipelineConfig
    from syslog_loose_spark.plans.pipeline import run_pipeline
    from syslog_loose_spark.sources.tokenized import read_tokenized

    spark = (SparkSession.builder.appName("syslog-loose-spark")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())
    shuffle = args.shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    cfg = PipelineConfig(
        parse=ParseConfig(variant=args.variant,
                          tz_offset_seconds=args.tz_offset_seconds,
                          tz_name=args.tz_name),
        shuffle_partitions=shuffle,
    )
    tokens = read_tokenized(spark, args.input)
    agg = run_pipeline(spark, tokens, args.output, args.run_id, cfg,
                       n_chunks=args.chunks)
    print(f"run {args.run_id} complete: {agg.count()} aggregate rows")


if __name__ == "__main__":
    main()
