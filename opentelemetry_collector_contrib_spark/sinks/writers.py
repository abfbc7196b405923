"""Per-sink serialization + writes — sumologic / loki exporter analogs.

Reference semantics re-expressed:
- sumologicexporter groups records by "metadata signature" (sorted k=v of
  the attribute keys matching the metadata regexes, fields.go:27-35,
  exporter.go:152-174) and serializes each record as text (body only,
  sender.go:139-141) or JSON ({payload attrs..., "log": body},
  sender.go:144-154).  The order-dependent flush-on-signature-change
  becomes an order-independent ``partitionBy(metadata cols)`` — identical
  routed-row sets and counts, better batching (SURVEY §7).
- request sizing (1 MiB body / 1M records, config.go:113, sender.go:56)
  becomes output file sizing via ``maxRecordsPerFile`` and the parquet
  codec replaces gzip/deflate (compress.go:38-48).
- lokiexporter projects an attribute allowlist into labels
  (exporter/lokiexporter/config.go:30-32).
- metadata-vs-payload key partitioning per regex list
  (sumologicexporter/filter.go:46-73).

Scale notes: ``partitionBy`` on low-cardinality metadata columns gives
partition-pruned reads downstream; ``maxRecordsPerFile`` bounds file
size at 10^12 rows; writes are idempotent per run directory (overwrite),
which combined with the manifest (plans/manifest.py) makes re-runs safe.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class SinkConfig:
    name: str
    path: str
    log_format: str = "text"                       # sender.go:139-154
    metadata_regexes: list[str] = field(default_factory=list)  # filter.go:46-73
    label_allowlist: list[str] | None = None       # loki config.go:30-32
    source_templates: dict[str, str] = field(default_factory=dict)  # source_format.go:33-87
    max_records_per_file: int = 1_048_576          # sender.go:56 buffer cap
    table_format: str = "parquet"                  # 'iceberg' when the jar is present
                                                   # (path = catalog.db.table)
    # partial-error semantics (exporter.go:99-108,186-201: a failed send
    # carries ONLY the dropped records forward): rows violating these
    # constraints quarantine to <path>__quarantine instead of failing
    # the whole unit.  None/[] disables (default: everything ships).
    max_payload_bytes: int | None = None           # config.go:113 (1 MiB body)
    required_attrs: list[str] = field(default_factory=list)
    # parquet row-group size for this sink's files (None = hadoop
    # default 128 MiB).  Each write task buffers ONE open row group per
    # open file, so this bounds writer heap on fan-out stages where a
    # task holds several open files (multi-value partitionBy) — see
    # docs/SCALE.md "Flagship pipeline at sf8".  Smaller groups trade
    # scan-side row-group pruning granularity for write-side memory.
    parquet_block_bytes: int | None = None


def split_metadata_keys(columns: list[str], regexes: list[str],
                        filter_in: bool = True) -> list[str]:
    """Partition attribute keys into metadata (match any regex) vs payload
    (match none) — sumologicexporter/filter.go:46-73 filterIn/filterOut."""
    compiled = [re.compile(r) for r in regexes]
    hit = [c for c in columns if any(r.search(c) for r in compiled)]
    return hit if filter_in else [c for c in columns if c not in hit]


def source_template_expr(template: str) -> F.Column:
    """%{attr} template -> concat expression (source_format.go:33-87),
    e.g. '%{namespace}/%{pod_name}'."""
    parts: list[F.Column] = []
    pos = 0
    for m in re.finditer(r"%\{([^}]+)\}", template):
        if m.start() > pos:
            parts.append(F.lit(template[pos:m.start()]))
        parts.append(F.coalesce(F.col(m.group(1)).cast("string"), F.lit("")))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return F.concat(*parts) if parts else F.lit(template)


def serialize_records(df: DataFrame, cfg: SinkConfig,
                      body_col: str = "body",
                      attr_cols: list[str] | None = None) -> DataFrame:
    """Add the serialized payload column per log_format (sender.go:139-154)
    and the metadata signature 'k=v, ...' sorted by key (fields.go:27-35)."""
    attr_cols = attr_cols or []
    meta_keys = split_metadata_keys(attr_cols, cfg.metadata_regexes)
    payload_keys = [c for c in attr_cols if c not in meta_keys]

    if cfg.log_format == "json":
        # {payload attrs..., "log": body} — sender.go:144-154
        fields = [F.col(c).alias(c) for c in sorted(payload_keys)]
        fields.append(F.col(body_col).alias("log"))
        payload = F.to_json(F.struct(*fields))
    else:
        payload = F.col(body_col)

    sig_parts = [F.concat(F.lit(f"{k}="),
                          F.coalesce(F.col(k).cast("string"), F.lit("")))
                 for k in sorted(meta_keys)]
    signature = F.concat_ws(", ", *sig_parts) if sig_parts else F.lit("")

    out = (df.withColumn("payload", payload)
             .withColumn("metadata_signature", signature))
    for header, tmpl in cfg.source_templates.items():
        out = out.withColumn(header, source_template_expr(tmpl))
    return out


def reject_reason(cfg: SinkConfig) -> F.Column:
    """NULL when the row satisfies every sink constraint, else the first
    violated constraint's name (evaluation order: size, then required
    attrs — matching the exporter's pre-send validation order)."""
    reasons = []
    if cfg.max_payload_bytes is not None:
        # octet_length: the exporter's cap is BYTES of request body
        # (config.go:113) — F.length counts characters, which undercounts
        # multi-byte UTF-8 payloads by up to 4x
        reasons.append(F.when(F.octet_length("payload") > cfg.max_payload_bytes,
                              F.lit("payload_too_large")))
    for a in cfg.required_attrs:
        reasons.append(F.when(F.col(a).isNull(), F.lit(f"missing_{a}")))
    if not reasons:
        return F.lit(None).cast("string")
    return F.coalesce(*reasons, F.lit(None).cast("string")) \
        if len(reasons) > 1 else reasons[0]


def quarantine_path(cfg: SinkConfig) -> str:
    return f"{cfg.path.rstrip('/')}__quarantine"


def dir_has_data(path: str) -> bool:
    """True when ``path`` holds at least one data file (a sink that
    routed zero rows writes only _SUCCESS; reading it back throws
    'Unable to infer schema').  Hidden DIRECTORIES are pruned too:
    `_snapshots/` holds non-underscore metadata files (v1.json,
    version-hint.text) that are not data."""
    import os
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


def split_valid(df: DataFrame, cfg: SinkConfig) -> tuple[DataFrame, DataFrame]:
    """(valid rows, quarantined rows+reject_reason).  The batch analog
    of PartialLogsError (sumologicexporter/exporter.go:99-108,186-201):
    a unit never fails wholesale — rows violating sink constraints are
    set aside with their reason, the rest ship."""
    tagged = df.withColumn("reject_reason", reject_reason(cfg))
    good = tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason")
    bad = tagged.filter(F.col("reject_reason").isNotNull())
    return good, bad


def reprocess_quarantine(spark, cfg: SinkConfig,
                         partition_cols: list[str] | None = None) -> int:
    """Retry ONLY the dropped records (exporter.go:186-201: the retry
    carries the PartialLogsError payload, never the full batch): rows in
    the quarantine that now satisfy the (possibly relaxed) constraints
    move into the sink; still-failing rows stay quarantined.  Returns
    the number of rows re-sent.

    Delivery semantics are AT-LEAST-ONCE across crashes: a kill between
    the sink append and the quarantine rewrite leaves the re-sent rows
    in both places, and the next retry re-appends them (same as the
    reference's queue-retry exporter).  The exactly-once upgrade is the
    Iceberg sink, whose commit covers both writes atomically.  A swap
    interrupted between renames is recovered on the next call."""
    import os
    import shutil
    qp = quarantine_path(cfg)
    backup, staging = qp + "__old", qp + "__retry"
    # crash recovery: a previous attempt that died between renames left
    # the data under backup with qp missing — restore it first
    if os.path.exists(backup) and not os.path.exists(qp):
        os.rename(backup, qp)
    shutil.rmtree(backup, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    if not dir_has_data(qp):
        return 0
    from pyspark.sql import Observation
    q = spark.read.parquet(qp).drop("reject_reason")
    good, bad = split_valid(q, cfg)
    obs = Observation()
    good = good.observe(obs, F.count(F.lit(1)).alias("n"))
    write_sink(good, cfg, partition_cols=partition_cols, mode="append")
    # rewrite the quarantine to only the still-failing rows (staging +
    # rename swap; the recovery block above handles crashes mid-swap)
    bad.write.mode("overwrite").parquet(staging)
    os.rename(qp, backup)
    os.rename(staging, qp)
    shutil.rmtree(backup)
    return int(obs.get["n"])


def write_sink(df: DataFrame, cfg: SinkConfig,
               partition_cols: list[str] | None = None,
               mode: str = "overwrite") -> None:
    """Write one sink. Column projection per allowlist; partitionBy for
    the batchperresourceattr-style per-attribute fan-out
    (pkg/batchperresourceattr/batchperresourceattr.go:131-164)."""
    if cfg.label_allowlist is not None:
        keep = [c for c in df.columns
                if c in cfg.label_allowlist or c in (partition_cols or [])]
        df = df.select(*keep)
    if cfg.table_format == "iceberg":
        from ..sources.tokens_source import iceberg_available
        if not iceberg_available(df.sparkSession):
            raise RuntimeError(
                "sink table_format='iceberg' but the Iceberg runtime jar "
                "is not on the classpath (see sources.iceberg_conf)")
        writer = df.writeTo(cfg.path).using("iceberg") \
            .option("write.parquet.row-group-size-bytes", "134217728")
        if partition_cols:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_cols])
        if mode == "append":
            # retries append ONLY the re-sent rows — createOrReplace
            # here would drop everything previously committed
            writer.append()
        else:
            # idempotent per-run replace == the dynamic-overwrite
            # semantics of the parquet path; Iceberg commits atomically
            # (the real version of sinks/maintenance.publish_snapshot)
            writer.createOrReplace()
        return
    writer = (df.write.mode(mode)
              .option("maxRecordsPerFile", cfg.max_records_per_file))
    if cfg.parquet_block_bytes is not None:
        writer = writer.option("parquet.block.size",
                               str(cfg.parquet_block_bytes))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
        if mode == "overwrite":
            # resume/append semantics REQUIRE replacing only the
            # partitions present in this write (a retried unit, a new
            # cycle) — never siblings; a fresh run_pipeline clears the
            # old unit=K dirs itself first.  Pin it per-write: the writer
            # option overrides the session conf, so the behavior no
            # longer depends on who built the SparkSession (the driver's
            # default-STATIC session wiped committed cycle=… dirs in
            # round 4's pipeline_incremental_sink red row).
            writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(cfg.path)


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int,
                   path: str, sort: bool = True) -> None:
    """Write a hash-bucketed (and optionally bucket-sorted) table.

    THE co-location primitive for big-big joins at 100 TB: two tables
    bucketed by the same key into the same bucket count join with ZERO
    exchange (and zero sort, when bucket-sorted) — the shuffle is paid
    once at write time and amortized over every downstream join/agg on
    that key.  Candidate-pair verification (minhash_lsh), token n-gram
    profiles, and the per-sink routed outputs are the natural users:
    they re-join on doc_id repeatedly.

    Bucketing requires the table catalog (saveAsTable), so the layout
    survives as metadata — a bare .parquet(path) write loses it.
    """
    w = df.write.mode("overwrite").option("path", path).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
