#!/usr/bin/env python
"""spark-submit entry point: run the configured log pipeline.

    spark-submit --py-files otelcol_spark.zip jobs/run_pipeline.py \
        --config examples/pipeline.yaml [--pipeline logs]

or, for the manifest-resumable tokens pipeline:

    spark-submit ... jobs/run_pipeline.py \
        --tokens <tokens table> --pods <pods table> --out <dir> \
        [--units 64] [--salt 0]

On a cluster the master/conf come from spark-submit; locally this
falls back to the tuned session factory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs from the repo root; under spark-submit --py-files the
# package is already on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", help="YAML pipeline config")
    ap.add_argument("--pipeline", default="logs")
    ap.add_argument("--tokens", help="tokens table path (manifest mode)")
    ap.add_argument("--pods", help="pods dimension path (manifest mode)")
    ap.add_argument("--out", help="output dir (manifest mode)")
    ap.add_argument("--units", type=int, default=64,
                    help="manifest units of a batch run (an --incremental "
                         "cycle is one commit unit and ignores this)")
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--fanout-strategy", default="auto",
                    choices=["auto", "persist", "staged"],
                    help="single-pass fan-out: cache the routed lineage "
                         "(persist), write-once partitionBy(sink) "
                         "(staged), or size-driven cutover (auto)")
    ap.add_argument("--sink-block-mb", type=int, default=0,
                    help="parquet row-group MiB for sink writes "
                         "(0 = hadoop default 128; bounds per-write-task "
                         "heap on fan-out stages)")
    ap.add_argument("--incremental", action="store_true",
                    help="process only input files not yet in the "
                         "ingest ledger (one cycle per invocation; "
                         "the cron/Airflow-driven file_input analog)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is None:
        from opentelemetry_collector_contrib_spark.session import get_spark
        spark = get_spark(app_name="otelcol-pipeline")

    if args.config:
        from opentelemetry_collector_contrib_spark.plans.config import (
            load_config, run_from_config)
        counts = run_from_config(spark, load_config(args.config),
                                 pipeline=args.pipeline)
        print(json.dumps({"status": "complete", "sink_counts": counts}))
    else:
        if not (args.tokens and args.pods and args.out):
            ap.error("--config or (--tokens --pods --out) required")
        from opentelemetry_collector_contrib_spark.plans.pipeline import (
            PipelineConfig, run_pipeline)
        cfg = PipelineConfig(tokens_path=args.tokens, pods_path=args.pods,
                             out_dir=args.out, n_units=args.units,
                             salt_partitions=args.salt,
                             fanout_strategy=args.fanout_strategy,
                             sink_parquet_block_bytes=(
                                 args.sink_block_mb * 1024 * 1024 or None))
        if args.incremental:
            from opentelemetry_collector_contrib_spark.plans.incremental \
                import run_pipeline_incremental
            print(json.dumps(run_pipeline_incremental(spark, cfg)))
        else:
            print(json.dumps(run_pipeline(spark, cfg)))


if __name__ == "__main__":
    main()
