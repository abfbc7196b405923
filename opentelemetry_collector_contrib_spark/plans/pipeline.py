"""Config-driven pipeline assembly — the service.pipelines analog.

The reference wires receivers -> processors -> exporters from a YAML
config into a consumer chain (SURVEY §3.1; e.g.
receiver/stanzareceiver/testdata/config.yaml:1-31,
cmd/otelcontribcol/components.go:71-171).  Our analog: a PipelineConfig
dataclass assembled into ONE DataFrame lineage per sink — Catalyst fuses
the whole parse->enrich->route chain into a single scan + narrow stages;
the only shuffles are the final aggregations.

``run_pipeline`` is the spark-submit entry: processes the input in
manifest units (resumable, plans/manifest.py), writes per-sink outputs +
per-sink aggregate counts, and returns the run metrics.

Skew handling (north rule): the aggregate stage keys on (source,
severity) where ``source`` is deliberately hot.  groupBy is already
two-phase (map-side partial agg), which flattens the hot key; for the
pathological case the config can enable an explicit salt:
``repartition(N, source, salt)`` before per-sink writes so no single
task owns a 62%-hot key's output files.  AQE skew-join splitting is on
in the session for the join side.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import broadcast_enrich, prepare_pods_dim
from ..operators.partitioners import salted_repartition
from ..operators.regex_parser import RegexParser, kv_extract
from ..operators.routing import RoutingTable, DEFAULT_ROUTES, with_route
from ..session import _parse_mem
from ..sinks.writers import (SinkConfig, quarantine_path, serialize_records,
                             split_valid, write_sink)
from ..sources.tokens_source import read_tokens
from .manifest import RunManifest, unit_column


@dataclass
class PipelineConfig:
    tokens_path: str
    pods_path: str
    out_dir: str
    routes: RoutingTable = field(default_factory=lambda: DEFAULT_ROUTES)
    parser: RegexParser = field(default_factory=RegexParser)
    sinks: dict[str, SinkConfig] = field(default_factory=dict)
    n_units: int = 8               # manifest granularity (run_pipeline)
    salt_partitions: int = 0       # >0: salted repartition before writes
    # how a multi-sink fan-out parses the input once for all sinks:
    #  "persist" — cache the routed lineage MEMORY_AND_DISK (serialized;
    #     costs ~input-sized executor cache, zero extra write);
    #  "staged"  — write the routed rows ONCE partitionBy(sink) to
    #     out_dir/fanout-staging.tmp, then each sink branch re-reads its
    #     pruned partition (costs one extra fan-out-sized write+read on
    #     durable storage, zero cache pressure);
    #  "auto"    — persist while the estimated cache fits guaranteed
    #     storage memory, staged past that (_auto_fanout_strategy).
    # A/Bs in BENCH/DELTAS.md: persist edges staged at sf2 where the
    # cache fits (71 vs 72 s best), but at sf8 persist OOMs 6-8 GiB
    # heaps and runs 1.25x SLOWER at 12 GiB (264 vs 211 s — each
    # persist branch re-scans the FULL cache through an array_contains
    # filter, while each staged branch reads only its partition-pruned
    # slice).  At 100 TB staged is the only viable regime; "auto" makes
    # that cutover size-driven instead of hand-tuned.
    fanout_strategy: str = "auto"
    # default parquet row-group size for auto-created sinks (None =
    # hadoop's 128 MiB).  Bounds per-write-task heap on the fan-out
    # stage — a task writing partitionBy(unit) holds one open row-group
    # buffer per unit value it sees (SinkConfig.parquet_block_bytes).
    sink_parquet_block_bytes: int | None = None

    def sink_cfg(self, name: str) -> SinkConfig:
        if name not in self.sinks:
            self.sinks[name] = SinkConfig(
                name=name, path=f"{self.out_dir}/sinks/{name}",
                parquet_block_bytes=self.sink_parquet_block_bytes)
        return self.sinks[name]


def build_lineage(spark: SparkSession, cfg: PipelineConfig,
                  df: DataFrame | None = None) -> DataFrame:
    """The full parse -> enrich -> route lineage (no actions).  ``df``
    overrides the input scan (incremental ingest reads only new files
    of the same schema)."""
    if df is None:
        df = read_tokens(spark, cfg.tokens_path)
    df = cfg.parser.apply(df)
    df = kv_extract(df, "pod_ip")
    pods = prepare_pods_dim(spark.read.parquet(cfg.pods_path))
    df = broadcast_enrich(df, pods, "pod_ip")
    return with_route(df, cfg.routes)


ATTR_COLS = ["source", "severity_text", "namespace", "deployment", "pod_name"]


def _unit_count_aggs(part_col: str, values: list) -> list:
    return [F.coalesce(F.sum(F.when(F.col(part_col) == v, 1).otherwise(0)),
                       F.lit(0)).alias(f"u{v}") for v in values]


# cached-routed-lineage footprint per input parquet byte: parquet
# decodes ~2-3x (token int arrays), the route fan-out duplicates
# ~1.8x rows, and java-serialized cache blocks carry overhead —
# measured ~4x at sf8 (1.77 GB parquet OOMs an 8 GiB heap's store)
_CACHE_BYTES_PER_INPUT_BYTE = 4


def _auto_fanout_strategy(spark: SparkSession, cfg: PipelineConfig,
                          input_bytes: int | None = None) -> str:
    """Pick the single-pass fan-out strategy from the input size.

    persist (cache the routed lineage) wins while the cache fits the
    cluster's guaranteed storage memory; past that it first thrashes,
    then dies building cache blocks (measured: the sf8=48M-row flagship
    OOMs at 6-8 GiB heaps where the staged write-once runs 1.25-1.5x
    FASTER — BENCH/DELTAS.md round 4).  Estimate the cache as input
    parquet bytes x4 and compare against heap x memory.fraction x
    storageFraction x live executors; fall back to staged when the
    input can't be stat'ed (unknown size = assume big).

    ``input_bytes`` (when given) overrides the stat — an ingest cycle
    processes only NEW files of a much larger table, so sizing by the
    full table would wrongly force staged for a small increment."""
    if input_bytes is None:
        try:
            jpath = spark._jvm.org.apache.hadoop.fs.Path(cfg.tokens_path)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            input_bytes = fs.getContentSummary(jpath).getLength()
        except Exception:
            return "staged"
    conf = spark.conf
    master = conf.get("spark.master", "local")
    if master.startswith("local"):
        heap = _parse_mem(conf.get("spark.driver.memory", "1g"))
        n_exec = 1
    else:
        heap = _parse_mem(conf.get("spark.executor.memory", "1g"))
        # live executors (minus the driver entry); dynamic allocation
        # safe — this is a point-in-time lower bound
        n_exec = max(
            spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1,
            1)
    frac = float(conf.get("spark.memory.fraction", "0.6"))
    storage_frac = float(conf.get("spark.memory.storageFraction", "0.5"))
    storage_bytes = int(heap * frac * storage_frac) * n_exec
    est_cache = input_bytes * _CACHE_BYTES_PER_INPUT_BYTE
    return "persist" if est_cache <= storage_bytes else "staged"


def _process_units(df: DataFrame, cfg: PipelineConfig, part_col: str,
                   values: list,
                   input_bytes: int | None = None) -> dict:
    """ONE pass over the values being written, per sink: the branch is
    written ``partitionBy(part_col)`` under the sink root, so the
    parse+enrich compute runs once regardless of how many values are
    pending (the old per-unit loop re-scanned the input n_units times).
    Dynamic partition-overwrite replaces only the written dirs — the
    pending ``unit=K`` dirs of a batch run (``part_col="unit"``) or
    the one ``cycle=<id>`` dir of an ingest cycle (``"cycle"``);
    completed units and other cycles are never touched.  Returns the
    metrics per written value.  ``input_bytes`` sizes the auto fan-out
    strategy (default: the ``tokens_path`` total).

    Single-pass fan-out: with more than one sink the routed lineage is
    PERSISTED (or staged) before the per-sink loop, so the scan + Arrow
    parse + enrich run ONCE total, exactly like the reference pushing
    one batch to N exporters (processor/routingprocessor/routing.go:
    152-161 consumes each incoming batch once for all routes).  The
    round-2 version ran each sink's write as an independent action over
    the un-persisted lineage — a 4-sink config re-scanned and re-parsed
    the full input 4+ times, THE dominant cost at 100 TB.  Each sink
    branch now does only filter + serialize over InMemoryTableScan.
    MEMORY_AND_DISK: spills instead of recomputing under pressure; the
    persisted frame is ~input-sized, i.e. one materialization buys N-1
    full re-parses.  Unpersisted in the ``finally`` below.

    All metrics are collected with ``Observation`` aggregates ON the
    write pass itself: per-value input counts observe the pre-fan-out
    lineage, per-sink routed counts observe each sink branch.  (The
    round-1 version re-read every sink's written parquet and ran a
    count_distinct over their union — a second full output scan plus a
    wide shuffle at 100 TB just for manifest metrics, and it crashed
    when a sink routed zero rows or kept no doc_id column.)"""
    from pyspark.sql import Observation
    t0 = time.time()
    # one set of per-value count columns for every Observation below:
    # each costs ~8 py4j round trips to build, per value
    aggs = _unit_count_aggs(part_col, values)
    # input-side counts: one row per doc pre-fan-out, so a plain
    # conditional count per value == distinct docs routed anywhere
    # (misses take the default route).  Fires with the first write.
    in_obs = Observation()
    df = df.observe(in_obs, *aggs)
    persisted = None
    staging = None
    staged_col = None
    if len(cfg.routes.all_sinks()) > 1:
        strategy = cfg.fanout_strategy
        if strategy == "auto":
            strategy = _auto_fanout_strategy(df.sparkSession, cfg,
                                             input_bytes)
        if strategy == "staged":
            # write-once fan-out: the routed rows land partitionBy(sink)
            # on durable storage (the in_obs counts ride this action);
            # each branch below re-reads its own partition-pruned slice
            # — no cache, one extra write.
            spark = df.sparkSession
            # NOT underscore-prefixed: hidden-path roots are only
            # incidentally readable when passed directly (Hadoop's
            # hiddenFileFilter exempts the root in current Spark, with
            # an "All paths were ignored" WARN), and a glob workaround
            # trips FileStreamSink's metadata probe.  out_dir is never
            # read as a table, and the dir is removed in the finally
            # below, so a plain name is safe and silent.
            staging = os.path.join(cfg.out_dir, "fanout-staging.tmp")
            writer = df.withColumn("sink", F.explode("sinks")) \
                .write.mode("overwrite").partitionBy("sink")
            if cfg.sink_parquet_block_bytes is not None:
                writer = writer.option("parquet.block.size",
                                       str(cfg.sink_parquet_block_bytes))
            writer.parquet(staging)
            df = spark.read.parquet(staging)
            staged_col = "sink"
        else:
            from pyspark import StorageLevel
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            persisted = df
    branch_obs: dict[str, "Observation"] = {}
    drop_obs: dict[str, "Observation"] = {}
    try:
        _write_sink_branches(df, cfg, part_col, values, aggs, branch_obs,
                             drop_obs, staged_col=staged_col)
        per_sink = {s: obs.get for s, obs in branch_obs.items()}
        dropped = {s: obs.get for s, obs in drop_obs.items()}
        rows_in_got = in_obs.get
    finally:
        if persisted is not None:
            persisted.unpersist()
        if staging is not None:
            shutil.rmtree(staging, ignore_errors=True)
    wall_ms = int((time.time() - t0) * 1000)
    out = {}
    for v in values:
        counts = {s: int(got[f"u{v}"]) for s, got in per_sink.items()}
        drops = {s: int(got[f"u{v}"]) for s, got in dropped.items()
                 if got[f"u{v}"]}
        out[v] = {"rows_in": int(rows_in_got[f"u{v}"]),
                  "rows_routed": sum(counts.values()),
                  "sink_counts": str(counts),
                  "sink_dropped": str(drops),
                  "wall_ms": wall_ms // max(len(values), 1)}
    return out


def _write_sink_branches(df: DataFrame, cfg: PipelineConfig,
                         part_col: str, values: list, aggs: list,
                         branch_obs: dict, drop_obs: dict,
                         staged_col: str | None = None) -> None:
    """The per-sink write loop over the (persisted or staged) routed
    lineage, each branch written ``partitionBy(part_col)``.
    ``staged_col`` set means ``df`` is the re-read staging table
    partitioned by that column — the equality filter prunes to the
    sink's own files instead of scanning the array column.  ``aggs``
    are the caller's ``_unit_count_aggs(part_col, values)``, observed
    on every branch."""
    from pyspark.sql import Observation
    for sink_name in cfg.routes.all_sinks():
        sink = cfg.sink_cfg(sink_name)
        if staged_col is not None:
            branch = (df.filter(F.col(staged_col) == sink_name)
                      .drop(staged_col))
        else:
            branch = df.filter(F.array_contains(F.col("sinks"), sink_name))
        branch = serialize_records(branch, sink, attr_cols=ATTR_COLS)
        out_cols = [part_col, "doc_id", "tokens", "n_tok", "payload",
                    "metadata_signature", *ATTR_COLS]
        branch = branch.select(*[c for c in out_cols if c in branch.columns])
        if sink.max_payload_bytes is not None or sink.required_attrs:
            # partial-error analog (exporter.go:99-108): constraint
            # violations quarantine per partition instead of failing
            # it; reprocess_quarantine re-sends only those rows.
            # (One extra action for the quarantine branch — only when
            # constraints are configured on the sink.)
            branch, bad = split_valid(branch, sink)
            dobs = Observation()
            bad = bad.observe(dobs, *aggs)
            # dynamic overwrite only rewrites partitions PRESENT in the
            # data — a re-run whose partition now quarantines zero rows
            # would leave its stale dir behind (and a later retry would
            # re-send already-shipped rows), so clear the written ones
            qp = quarantine_path(sink)
            for v in values:
                shutil.rmtree(f"{qp}/{part_col}={v}", ignore_errors=True)
            bad.write.mode("overwrite") \
                .option("partitionOverwriteMode", "dynamic") \
                .partitionBy(part_col).parquet(qp)
            drop_obs[sink_name] = dobs
        obs = Observation()
        branch = branch.observe(obs, *aggs)
        if cfg.salt_partitions:
            branch = salted_repartition(branch, "source", cfg.salt_partitions)
        write_sink(branch, sink, partition_cols=[part_col])
        branch_obs[sink_name] = obs


def drop_partitions(cfg: PipelineConfig, part_col: str, drop) -> int:
    """Remove every ``part_col=<value>`` dir under each sink and
    quarantine root whose value ``drop(value)`` accepts; metadata such
    as ``_snapshots/`` never matches.  Returns the number removed."""
    removed = 0
    for sink_name in cfg.routes.all_sinks():
        sink = cfg.sink_cfg(sink_name)
        for root in (sink.path, quarantine_path(sink)):
            if not os.path.isdir(root):
                continue
            for d in os.listdir(root):
                col, _, value = d.partition("=")
                if col == part_col and drop(value):
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                    removed += 1
    return removed


def run_pipeline(spark: SparkSession, cfg: PipelineConfig,
                 manifest: RunManifest | None = None,
                 fail_after_units: int | None = None) -> dict:
    """Resumable run: per manifest unit, fan out to sinks + record metrics.

    ``fail_after_units`` simulates a kill for resume tests (FIXTURES §5.4).
    Returns overall metrics including per-sink aggregate counts.
    """
    manifest = manifest or RunManifest(f"{cfg.out_dir}/_manifest")
    lineage = build_lineage(spark, cfg).withColumn(
        "unit", unit_column(cfg.n_units))
    done = manifest.completed_units()
    pending = [u for u in range(cfg.n_units) if u not in done]
    if not done:
        # a fresh run owns the layout: partitioned overwrites are
        # dynamic (resume semantics), so a unit=K dir of an earlier run
        # with more units would otherwise survive next to the new ones
        drop_partitions(cfg, "unit", lambda _v: True)
    killed = False
    if fail_after_units is not None and fail_after_units < len(pending):
        # simulate a mid-run kill: complete only the first K pending
        # units (forces the resume path in tests)
        pending, killed = pending[:fail_after_units], True
    if pending:
        metrics = _process_units(
            lineage.filter(F.col("unit").isin(pending)), cfg, "unit",
            pending)
        for unit in pending:
            manifest.record(unit, metrics[unit])
    if killed:
        return {"status": "killed", "units_done": len(done) + len(pending)}
    # all units done -> publish per-sink snapshots (atomic; readers pin
    # a consistent file set, the Iceberg-commit analog)
    from ..sinks.maintenance import publish_snapshot
    for sink_name in cfg.routes.all_sinks():
        publish_snapshot(cfg.sink_cfg(sink_name).path, manifest.run_id,
                         extra={"sink": sink_name})
    totals = manifest.entries()
    return {
        "status": "complete",
        "run_id": manifest.run_id,
        "units": cfg.n_units,
        "rows_in": sum(e.get("rows_in", 0) for e in totals),
        "rows_routed": sum(e.get("rows_routed", 0) for e in totals),
    }


def sink_has_data(path: str) -> bool:
    """Shared with the quarantine retry — see writers.dir_has_data."""
    from ..sinks.writers import dir_has_data
    return dir_has_data(path)


def aggregate_manifest(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Per-sink aggregate counts over the written outputs — the
    groupbyattrs-style verification frame (FIXTURES §5.2).  Empty sinks
    (zero routed rows) are skipped, not crashed on."""
    frames = []
    for sink_name in cfg.routes.all_sinks():
        sink = cfg.sink_cfg(sink_name)
        if not sink_has_data(sink.path):
            continue
        # partition discovery handles both layouts (unit=K and the
        # incremental cycle=<id>); _-prefixed metadata is ignored
        df = spark.read.parquet(sink.path)
        frames.append(df.groupBy("source", "severity_text")
                        .agg(F.count(F.lit(1)).alias("n"))
                        .withColumn("sink", F.lit(sink_name)))
    if not frames:
        return spark.createDataFrame(
            [], "source string, severity_text string, n long, sink string")
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out
