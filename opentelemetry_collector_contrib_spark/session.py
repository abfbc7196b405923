"""SparkSession factory tuned for the log-pipeline workload.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime coalescing + skew-join splitting handles the hot
  ``source`` values (the reference spreads hot keys with a consistent
  hash ring, exporter/loadbalancingexporter/consistent_hashing.go:44-68;
  AQE skew handling + explicit salting is our analog).
- shuffle partitions sized to cores locally; on a real cluster this is
  set to ~2-3x total cores via spark-submit conf, AQE coalesces down.
- Arrow enabled: every Python-side transform in this package is a
  vectorized pandas/Arrow UDF (no per-row Python anywhere).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _parse_mem(s: str) -> int:
    """'12g' / '512m' / '1t' / plain bytes -> bytes (Spark memory confs)."""
    s = s.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def get_spark(app_name: str = "otelcol-spark",
              cpus: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cpus`` controls local parallelism (``local[cpus]``); defaults to
    $SPARK_GRAFT_CPUS or all cores.  On a real cluster the same configs
    are passed via spark-submit and master is left to the submitter.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-scale split sizing: the synthetic inputs are single small
        # parquet files (~20 MB compressed at sf0.1) that decompress to
        # heavy per-row work (token arrays); default 128 MB splits give
        # ~6 tasks on 32 cores.  On a real cluster the input is many
        # files and these are tuned via spark-submit instead.
        .config("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # resume-unit writes overwrite ONLY the unit partitions they
        # produce (plans/pipeline.py) — completed units stay untouched
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
