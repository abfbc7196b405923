"""Structured-streaming variant of the pipeline.

The reference *is* a streaming system (push-based consumer chain,
SURVEY §3.1); the north rule re-expresses it as batch, but the same
lineage runs unchanged under Structured Streaming — this module is the
proof: ``readStream`` over the tokens table directory, the identical
parse -> enrich -> route transforms (they are all narrow), and windowed
per-sink counts with a watermark (the groupbytrace/tailsampling
buffering analog: event-time windows replace the wait_duration timers,
processor/groupbytraceprocessor/processor.go:124-170).

Used by tests with the memory sink + ``processAllAvailable()`` so a
static directory drives the stream to completion deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import broadcast_enrich, prepare_pods_dim
from ..operators.regex_parser import RegexParser, kv_extract
from ..operators.routing import RoutingTable, DEFAULT_ROUTES, with_route

TOKENS_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def streaming_pipeline(spark: SparkSession, tokens_dir: str, pods_path: str,
                       routes: RoutingTable = DEFAULT_ROUTES,
                       parser: RegexParser | None = None) -> DataFrame:
    """readStream -> parse -> enrich -> route (unbounded DataFrame)."""
    df = (spark.readStream.schema(TOKENS_DDL)
          .parquet(tokens_dir))
    parser = parser or RegexParser()
    df = parser.apply(df)
    df = kv_extract(df, "pod_ip")
    pods = prepare_pods_dim(spark.read.parquet(pods_path))   # static dim side
    df = broadcast_enrich(df, pods, "pod_ip")
    return with_route(df, routes)


def streaming_pipeline_fresh_dim(spark: SparkSession, tokens_dir: str,
                                 pods_path: str, out_dir: str,
                                 routes: RoutingTable = DEFAULT_ROUTES,
                                 checkpoint: str | None = None,
                                 parser: RegexParser | None = None):
    """The k8s WATCH analog (kube/client.go:91-169: pod add/update/
    delete events mutate the ip->pod map while the collector runs): the
    dimension snapshot is RE-READ inside ``foreachBatch``, so every
    micro-batch enriches against the dimension AS OF that batch — pod
    churn (IP reassignment, relabeling, the delete-grace expiry) is
    visible at batch granularity without restarting the stream.  The
    static-dim variant above pins one snapshot for the stream lifetime.

    Writes enriched routed rows under ``out_dir/batch=N``; returns the
    StreamingQuery."""
    df = spark.readStream.schema(TOKENS_DDL).parquet(tokens_dir)
    parser = parser or RegexParser()
    parsed = kv_extract(parser.apply(df), "pod_ip")

    def _process(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        pods = prepare_pods_dim(s.read.parquet(pods_path))  # fresh snapshot
        routed = with_route(broadcast_enrich(batch_df, pods, "pod_ip"),
                            routes)
        (routed.select("doc_id", "pod_ip", "namespace", "deployment",
                       F.explode("sinks").alias("sink"))
         .write.mode("overwrite")
         .parquet(f"{out_dir}/batch={batch_id}"))

    return (parsed.writeStream.foreachBatch(_process)
            .option("checkpointLocation", checkpoint or f"{out_dir}/_ck")
            .start())


def streaming_multi_sink(spark: SparkSession, tokens_dir: str,
                         pods_path: str, out_root: str,
                         routes: RoutingTable = DEFAULT_ROUTES,
                         checkpoint: str | None = None,
                         parser: RegexParser | None = None,
                         available_now: bool = False):
    """Streaming twin of the batch single-pass fan-out
    (plans/pipeline.py::_process_units): one micro-batch feeds N sinks
    for ONE parse of the batch — the reference pushes each consumed
    batch to every exporter once (routingprocessor routing.go:152-161).

    The hazard is identical to batch: ``batch_df`` inside
    ``foreachBatch`` is LAZY, so N per-sink write actions would re-run
    the batch's scan + Arrow parse N times.  The routed batch is
    persisted (serialized MEMORY_AND_DISK) before the sink loop and
    unpersisted after; each sink's rows land under
    ``out_root/<sink>/batch=N``.  Returns the StreamingQuery."""
    from pyspark import StorageLevel

    df = spark.readStream.schema(TOKENS_DDL).parquet(tokens_dir)
    parser = parser or RegexParser()
    parsed = kv_extract(parser.apply(df), "pod_ip")
    sinks = routes.all_sinks()

    def _process(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        pods = prepare_pods_dim(s.read.parquet(pods_path))
        routed = (with_route(broadcast_enrich(batch_df, pods, "pod_ip"),
                             routes)
                  .select("doc_id", "pod_ip", "namespace", "deployment",
                          "tokens", F.explode("sinks").alias("sink"))
                  .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            for sink in sinks:
                (routed.filter(F.col("sink") == sink).drop("sink")
                 .write.mode("overwrite")
                 .parquet(f"{out_root}/{sink}/batch={batch_id}"))
        finally:
            routed.unpersist()

    writer = (parsed.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint or f"{out_root}/_ck"))
    if available_now:
        # run-to-completion incremental: process exactly the files the
        # checkpoint has not seen, then stop — Spark's built-in
        # counterpart of plans/incremental.py (which adds the
        # inspectable ledger + per-cycle snapshot commits on top)
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_wire_ingest(spark: SparkSession, frames_dir: str,
                          parser: RegexParser | None = None) -> DataFrame:
    """The truest receiver analog: a STREAM of raw wire frames
    (protobuf + gzip bytes, sources/wire.py) is decoded and parsed as
    it arrives — bytes -> pdata -> entries, exactly the signalfx/HEC
    receiver shape (receiver.go:186-210) under Structured Streaming.

    ``frames_dir`` holds parquet files with a single binary ``wire``
    column (one frame per row).  decode_wire's mapInPandas runs
    unchanged on the unbounded DataFrame — the decode hot path stays
    one vectorized Arrow hop per micro-batch."""
    from ..sources.wire import decode_wire
    frames = (spark.readStream.schema("wire binary")
              .parquet(frames_dir))
    return (parser or RegexParser()).apply(decode_wire(frames))


def streaming_statsd_flush(lines: DataFrame,
                           flush_interval: str = "10 seconds",
                           watermark: str = "30 seconds",
                           ts_col: str = "ts") -> DataFrame:
    """The statsd receiver's ticker flush (statsd_parser.go:92-129 under
    reporter.go's flush loop) re-expressed as event-time windows: each
    flush interval is one window, counters sum within it, and the
    watermark is the late-line cutoff — a UDP datagram arriving after
    the watermark passed its flush window is DROPPED, the streaming
    analog of a flush that already shipped.

    Counters only on this path: their sum is reduction-order-free, so
    the aggregation is streaming-safe with partial aggregation per
    micro-batch.  Gauge last-write-wins needs a total arrival order —
    that is the batch path (flush_aggregate with ``order_col``) or a
    foreachBatch with an explicit sequence column, documented in
    operators/statsd.py.
    """
    from ..operators.statsd import parse_statsd
    p = (parse_statsd(lines)
         .filter(F.col("valid") & (F.col("metric_type") == "c")))
    return (p.withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, flush_interval).alias("flush"),
                     "name", "tags")
            .agg(F.sum("value").alias("value"),
                 F.count(F.lit(1)).cast("bigint").alias("n_lines")))


def streaming_hdr_sketch(events: DataFrame,
                         value_col: str = "value",
                         key_cols: tuple[str, ...] = ("event_type",),
                         window: str = "1 minute",
                         watermark: str = "2 minutes",
                         ts_col: str = "ts",
                         scale: int = 100) -> DataFrame:
    """Streaming twin of the HdrHistogram quantile sketch
    (datapipe/hdrsketch.py): per event-time window and key, the
    BUCKET COUNTERS are the aggregate — a plain windowed groupBy
    count, so Spark's streaming state per (window, key) is O(buckets)
    counters, never the values, and late data past the watermark is
    dropped exactly like any windowed agg.

    The counter sum is reduction-order-free (the merge law), which is
    what makes this streaming-safe with partial aggregation per
    micro-batch.  Quantile extraction (``hdr_quantiles``) runs
    BATCH-side over the sunk sketch rows — and because merge is
    addition, re-aggregating across windows (hourly -> daily rollups)
    is the same counter sum, no re-scan of raw events."""
    from ..datapipe.hdrsketch import hdr_bucket
    v = F.round(F.col(value_col) * scale).cast("long")
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("win"),
                     *key_cols, hdr_bucket(v).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def streaming_hll_registers(events: DataFrame,
                            key_col: str,
                            group_cols: tuple[str, ...] = ("event_type",),
                            window: str = "1 minute",
                            watermark: str = "2 minutes",
                            ts_col: str = "ts") -> DataFrame:
    """Streaming HLL: windowed distinct-count REGISTERS
    (datapipe/sketches.py) as the aggregate — per (window, key) the
    state is ≤ m register maxima, and register max is reduction-order-
    free, so the windowed agg is streaming-safe exactly like the
    bucket counters in :func:`streaming_hdr_sketch`.  Rolling windows
    up (minutely -> daily uniques) is ``hll_merge``'s union + re-max
    over the sunk rows; ``hll_estimate_from_registers`` reads the
    estimate off batch-side.  With counts, quantiles, and distincts
    all streaming as mergeable sketch state, per-window corpus
    profiling at 10^12 sequences never re-scans raw events."""
    from ..datapipe.sketches import hll_register_cols
    j, rho = hll_register_cols(F.col(key_col))
    return (events
            .withWatermark(ts_col, watermark)
            .select(F.col(ts_col), *[F.col(c) for c in group_cols], j, rho)
            .groupBy(F.window(ts_col, window).alias("win"),
                     *group_cols, "hll_j")
            .agg(F.max("hll_rho").alias("mj")))


def streaming_cms(events: DataFrame,
                  key_col: str,
                  window: str = "1 minute",
                  watermark: str = "2 minutes",
                  ts_col: str = "ts") -> DataFrame:
    """Streaming count-min sketch: per event-time window the d×w
    COUNTER table is the aggregate (datapipe/sketches.py layout), so
    state per window is ≤ d·w counters and the merge across windows —
    like across runs — is counter addition (CMS linearity).  Completes
    the streaming sketch trio: counts-per-window are exact groupBys,
    heavy-hitter FREQUENCIES stream here, DISTINCTS stream as HLL
    registers, QUANTILES as Hdr buckets — none of them ever re-scan
    raw events for a rollup."""
    from ..datapipe.sketches import cms_position_rows
    return (events
            .withWatermark(ts_col, watermark)
            .select(F.col(ts_col),
                    F.explode(cms_position_rows(F.col(key_col)))
                    .alias("c"))
            .groupBy(F.window(ts_col, window).alias("win"),
                     F.col("c.i").alias("i"), F.col("c.pos").alias("pos"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def streaming_counts(routed: DataFrame,
                     window: str = "1 hour",
                     watermark: str = "2 hours") -> DataFrame:
    """Windowed per-sink counts with late-data watermark — the streaming
    groupbyattrs.  In batch the window is the whole input (SURVEY §2.7)."""
    return (routed
            .withColumn("sink", F.explode("sinks"))
            .filter(F.col("event_ts").isNotNull())   # parse failures have no event time
            .withWatermark("event_ts", watermark)
            .groupBy(F.window("event_ts", window), "sink", "source")
            .agg(F.count(F.lit(1)).alias("n")))
