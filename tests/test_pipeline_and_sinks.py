"""End-to-end pipeline: sink serialization, manifest resume (kill +
re-run == uninterrupted run), streaming variant parity with batch.

Mirrors: sumologic serialization matrix (sender_test.go:129-505 style),
offsets_file resume (stanzareceiver/config.go:26), and the rotation
e2e's ElementsMatch set-compare (e2e_test.go:197)."""

import os

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.routing import RoutingTable
from opentelemetry_collector_contrib_spark.plans.manifest import (
    RunManifest, unit_column)
from opentelemetry_collector_contrib_spark.plans.pipeline import (
    PipelineConfig, aggregate_manifest, build_lineage, run_pipeline)
from opentelemetry_collector_contrib_spark.sinks.writers import (
    SinkConfig, serialize_records, source_template_expr, split_metadata_keys,
    write_sink)
from opentelemetry_collector_contrib_spark.streaming.stream_pipeline import (
    streaming_counts, streaming_pipeline)

from conftest import rows


# -- serialization ----------------------------------------------------------

def _frame(spark):
    return spark.createDataFrame(
        [("d1", "body one", "app", "Info", "ns1"),
         ("d2", "body two", "app", "Error", None)],
        "doc_id string, body string, source string, severity_text string, "
        "namespace string")


def test_split_metadata_keys():
    cols = ["source", "severity_text", "namespace", "pod_name"]
    meta = split_metadata_keys(cols, [r"^source$", r"^namespace$"])
    assert meta == ["source", "namespace"]
    payload = split_metadata_keys(cols, [r"^source$", r"^namespace$"],
                                  filter_in=False)
    assert payload == ["severity_text", "pod_name"]


def test_serialize_text_and_signature(spark):
    cfg = SinkConfig("s", "/tmp/x", log_format="text",
                     metadata_regexes=[r"^source$", r"^namespace$"])
    out = serialize_records(_frame(spark), cfg,
                            attr_cols=["source", "severity_text", "namespace"])
    got = {r["doc_id"]: r for r in out.collect()}
    assert got["d1"]["payload"] == "body one"        # text = body only
    # sorted k=v signature (fields.go:27-35); NULL -> empty value
    assert got["d1"]["metadata_signature"] == "namespace=ns1, source=app"
    assert got["d2"]["metadata_signature"] == "namespace=, source=app"


def test_serialize_json_payload(spark):
    cfg = SinkConfig("s", "/tmp/x", log_format="json",
                     metadata_regexes=[r"^source$"])
    out = serialize_records(_frame(spark), cfg,
                            attr_cols=["source", "severity_text"])
    got = {r["doc_id"]: r["payload"] for r in out.collect()}
    # {payload attrs..., "log": body} (sender.go:144-154)
    assert got["d1"] == '{"severity_text":"Info","log":"body one"}'


def test_source_template(spark):
    df = _frame(spark).withColumn(
        "hdr", source_template_expr("%{namespace}/%{source}"))
    got = {r["doc_id"]: r["hdr"] for r in df.collect()}
    assert got["d1"] == "ns1/app"
    assert got["d2"] == "/app"           # NULL attr -> empty (source_format.go)


def test_write_sink_allowlist_and_partition(spark, tmp_path):
    cfg = SinkConfig("loki", str(tmp_path / "loki"),
                     label_allowlist=["doc_id", "severity_text"])
    write_sink(_frame(spark), cfg, partition_cols=["severity_text"])
    back = spark.read.parquet(cfg.path)
    assert sorted(back.columns) == ["doc_id", "severity_text"]
    assert back.count() == 2
    # partitionBy produced per-value dirs (batchperresourceattr analog)
    assert (tmp_path / "loki" / "severity_text=Info").exists()


def test_write_sink_parquet_block_bytes_bounds_row_groups(spark, tmp_path):
    """SinkConfig.parquet_block_bytes caps the open row-group buffer per
    write task (the sf8 fan-out heap floor — docs/SCALE.md): a small cap
    must yield multiple small row groups where the 128 MiB default
    writes one."""
    import pyarrow.parquet as pq
    rows = spark.range(20_000).selectExpr(
        "cast(id as string) as doc_id", "repeat('x', 200) as payload")

    def row_groups(path):
        files = [f for f in (tmp_path / path).rglob("*.parquet")]
        assert files
        return sum(pq.ParquetFile(str(f)).num_row_groups for f in files), \
            len(files)

    write_sink(rows, SinkConfig("dflt", str(tmp_path / "dflt")))
    write_sink(rows, SinkConfig("capped", str(tmp_path / "capped"),
                                parquet_block_bytes=64 * 1024))
    dflt_groups, dflt_files = row_groups("dflt")
    cap_groups, cap_files = row_groups("capped")
    # same file count (same task layout), strictly more + smaller groups
    assert cap_groups > dflt_groups
    assert (spark.read.parquet(str(tmp_path / "capped")).count() == 20_000)


# -- manifest + resume ------------------------------------------------------

def _cfg(sf_dir, out_dir, n_units=4):
    return PipelineConfig(
        tokens_path=f"{sf_dir}/tokens.parquet",
        pods_path=f"{sf_dir}/pods.parquet",
        out_dir=out_dir, n_units=n_units)


def test_partial_error_quarantine_and_retry(spark, sf_dir, tmp_path):
    """PartialLogsError analog (sumologicexporter/exporter.go:99-108,
    186-201): rows violating a sink constraint quarantine per-unit
    (the unit still completes), the manifest records the dropped
    counts, and the retry re-sends ONLY the dropped rows."""
    from opentelemetry_collector_contrib_spark.sinks.writers import (
        quarantine_path, reprocess_quarantine)
    cfg = _cfg(sf_dir, str(tmp_path / "out"))
    # sumologic sink: absurdly small body cap -> most rows quarantine
    sumo = cfg.sink_cfg("sumologic")
    sumo.max_payload_bytes = 60
    res = run_pipeline(spark, cfg)
    assert res["status"] == "complete"
    written = spark.read.parquet(f"{sumo.path}/unit=*")
    q = spark.read.parquet(quarantine_path(sumo))
    assert q.count() > 0
    assert written.count() > 0
    # disjoint split: every routed row is in exactly one of the two
    assert written.filter(F.length("payload") > 60).count() == 0
    assert q.filter(F.length("payload") <= 60).count() == 0
    assert set(r["reject_reason"] for r in q.select("reject_reason")
               .distinct().collect()) == {"payload_too_large"}
    # manifest records the per-unit drop counts
    manifest = RunManifest(f"{cfg.out_dir}/_manifest", run_id=res["run_id"])
    assert any("sumologic" in e.get("sink_dropped", "")
               for e in manifest.entries())
    # retry with the cap lifted: ONLY the dropped rows are re-sent
    before, q_before = written.count(), q.count()
    sumo.max_payload_bytes = None
    resent = reprocess_quarantine(spark, sumo, partition_cols=["unit"])
    assert resent == q_before
    assert spark.read.parquet(f"{sumo.path}/unit=*").count() == \
        before + q_before


def test_reprocess_quarantine_recovers_interrupted_swap(spark, tmp_path):
    """A crash between the two renames leaves the quarantine under
    __old with the real dir missing — the next call must restore it and
    retry normally, not return 0 and orphan the rows."""
    from opentelemetry_collector_contrib_spark.sinks.writers import (
        SinkConfig, quarantine_path, reprocess_quarantine)
    import os
    sink = SinkConfig(name="s", path=str(tmp_path / "sink"))
    qp = quarantine_path(sink)
    q = spark.createDataFrame(
        [("d1", "small", "payload_too_large")],
        "doc_id string, payload string, reject_reason string")
    q.write.parquet(qp)
    os.rename(qp, qp + "__old")              # simulate mid-swap crash
    resent = reprocess_quarantine(spark, sink)
    assert resent == 1                        # recovered and re-sent
    assert spark.read.parquet(sink.path).count() == 1


def test_quarantine_rerun_clears_stale_unit_partitions(spark, sf_dir, tmp_path):
    """A unit re-run (resume) whose rows now all ship must CLEAR the
    unit's old quarantine dir — dynamic overwrite alone leaves it, and
    a later retry would re-send already-shipped rows."""
    from opentelemetry_collector_contrib_spark.sinks.writers import (
        quarantine_path)
    cfg = _cfg(sf_dir, str(tmp_path / "out"), n_units=2)
    sumo = cfg.sink_cfg("sumologic")
    sumo.max_payload_bytes = 60
    run_pipeline(spark, cfg)
    q1 = spark.read.parquet(quarantine_path(sumo)).count()
    assert q1 > 0
    # relax the cap and re-run the SAME units with a fresh manifest:
    # nothing quarantines now, and the old quarantine rows must be gone
    sumo.max_payload_bytes = 10_000_000
    cfg2 = _cfg(sf_dir, str(tmp_path / "out"), n_units=2)
    cfg2.out_dir = str(tmp_path / "out")
    cfg2.sinks = cfg.sinks
    from opentelemetry_collector_contrib_spark.plans.manifest import RunManifest
    run_pipeline(spark, cfg2,
                 manifest=RunManifest(str(tmp_path / "manifest2")))
    import os
    has_rows = False
    for root, _d, files in os.walk(quarantine_path(sumo)):
        if any(f.endswith(".parquet") for f in files):
            has_rows = True
    assert not has_rows


def test_fresh_run_clears_stale_unit_partitions(spark, sf_dir, tmp_path):
    """A run that starts with no completed units owns the layout: a
    fresh manifest over an out_dir written with MORE units leaves only
    the new unit=K dirs in every sink and quarantine root (dynamic
    overwrite alone kept unit=2/unit=3 next to them), and the sinks'
    snapshot history survives."""
    from opentelemetry_collector_contrib_spark.sinks.writers import (
        quarantine_path)
    out = str(tmp_path / "out")
    for n_units, manifest in ((4, None),
                              (2, RunManifest(str(tmp_path / "m2")))):
        cfg = _cfg(sf_dir, out, n_units=n_units)
        cfg.sink_cfg("sumologic").max_payload_bytes = 60
        assert run_pipeline(spark, cfg, manifest=manifest)["status"] == \
            "complete"
    def parts(root):
        return sorted(d for d in os.listdir(root)
                      if not d.startswith(("_", ".")))
    for sink in ("sumologic", "loki", "default-sink"):
        p = cfg.sink_cfg(sink).path
        assert parts(p) == ["unit=0", "unit=1"]
        assert os.path.isdir(f"{p}/_snapshots")
        docs = [r["doc_id"] for r in
                spark.read.parquet(p).select("doc_id").collect()]
        assert docs and len(docs) == len(set(docs))
    qp = quarantine_path(cfg.sink_cfg("sumologic"))
    assert parts(qp) == ["unit=0", "unit=1"]


def test_unit_column_stable(spark):
    df = spark.createDataFrame([(f"doc-{i}",) for i in range(50)],
                               "doc_id string")
    a = rows(df.withColumn("u", unit_column(8)), "doc_id", "u")
    b = rows(df.repartition(13).withColumn("u", unit_column(8)),
             "doc_id", "u")
    assert a == b        # unit id survives physical re-layout


def test_pipeline_resume_equals_uninterrupted(spark, sf_dir, tmp_path):
    full_dir, resume_dir = str(tmp_path / "full"), str(tmp_path / "resumed")

    full = run_pipeline(spark, _cfg(sf_dir, full_dir))
    assert full["status"] == "complete"

    # kill after 2 of 4 units, then resume with a fresh manifest object
    cfg2 = _cfg(sf_dir, resume_dir)
    killed = run_pipeline(spark, cfg2, fail_after_units=2)
    assert killed["status"] == "killed"
    resumed = run_pipeline(spark, _cfg(sf_dir, resume_dir))
    assert resumed["status"] == "complete"
    assert resumed["rows_in"] == full["rows_in"]

    # identical routed-row sets per sink (token-array equality invariant)
    for sink in ("sumologic", "loki", "default-sink"):
        a = spark.read.parquet(f"{full_dir}/sinks/{sink}/unit=*")
        b = spark.read.parquet(f"{resume_dir}/sinks/{sink}/unit=*")
        assert rows(a, "doc_id", "tokens") == rows(b, "doc_id", "tokens")

    # manifest recorded per-unit lineage + metrics
    m = RunManifest(f"{resume_dir}/_manifest")
    entries = m.entries()
    assert {e["unit"] for e in entries if e["status"] == "done"} == {0, 1, 2, 3}
    assert all(e["rows_in"] > 0 and "wall_ms" in e for e in entries)


def test_aggregate_manifest_counts(spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "run")
    cfg = _cfg(sf_dir, out_dir)
    run_pipeline(spark, cfg)
    agg = aggregate_manifest(spark, cfg)
    total = agg.agg(F.sum("n")).collect()[0][0]
    lineage = build_lineage(spark, cfg)
    expect = lineage.select(F.explode("sinks")).count()
    assert total == expect


# -- streaming variant ------------------------------------------------------

def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    # readStream needs a directory of files, not a single parquet file
    import shutil
    stream_dir = tmp_path / "tokens_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/tokens.parquet", stream_dir / "part-0.parquet")
    routed = streaming_pipeline(spark, str(stream_dir),
                                f"{sf_dir}/pods.parquet")
    counts = streaming_counts(routed, window="6 hours", watermark="1 hour")
    # complete mode so the final (not-yet-watermark-closed) windows are
    # visible with a static input driven to completion
    q = (counts.writeStream.format("memory").queryName("t_stream")
         .outputMode("complete").option(
             "checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT sink, source, sum(n) AS n FROM t_stream GROUP BY 1, 2")
    # batch equivalent over the same input
    from opentelemetry_collector_contrib_spark.operators.enrich import (
        broadcast_enrich, prepare_pods_dim)
    from opentelemetry_collector_contrib_spark.operators.regex_parser import (
        RegexParser, kv_extract)
    from opentelemetry_collector_contrib_spark.operators.routing import (
        DEFAULT_ROUTES, exploded)
    from opentelemetry_collector_contrib_spark.sources.tokens_source import (
        read_tokens, with_body)
    df = with_body(read_tokens(spark, f"{sf_dir}/tokens.parquet"))
    df = kv_extract(RegexParser().apply(df), "pod_ip")
    df = broadcast_enrich(
        df, prepare_pods_dim(spark.read.parquet(f"{sf_dir}/pods.parquet")),
        "pod_ip")
    batch = (exploded(df, DEFAULT_ROUTES)
             .filter(F.col("event_ts").isNotNull())
             .groupBy("sink", "source").agg(F.count(F.lit(1)).alias("n")))
    assert rows(got) == rows(batch)


def test_pipeline_salted_writes_match_unsalted(spark, sf_dir, tmp_path):
    """Salting the hot source key changes file layout, never content
    (deterministic salt from doc_id hash — resume-safe, no rand())."""
    plain = _cfg(sf_dir, str(tmp_path / "plain"))
    salted = _cfg(sf_dir, str(tmp_path / "salted"))
    salted.salt_partitions = 4
    run_pipeline(spark, plain)
    run_pipeline(spark, salted)
    for sink in ("sumologic", "loki", "default-sink"):
        a = spark.read.parquet(f"{plain.out_dir}/sinks/{sink}/unit=*")
        b = spark.read.parquet(f"{salted.out_dir}/sinks/{sink}/unit=*")
        assert rows(a, "doc_id", "tokens") == rows(b, "doc_id", "tokens")


def test_streaming_session_window_sessionizes(spark, tmp_path):
    """groupbytrace's wait_duration buffering re-expressed as an
    event-time session window (SURVEY §2.7): spans closer than the gap
    coalesce into one session per trace."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows_in = [("t1", base), ("t1", base + dt.timedelta(seconds=1)),
               ("t1", base + dt.timedelta(seconds=30)),   # new session
               ("t2", base)]
    src = tmp_path / "spans"
    spark.createDataFrame(rows_in, "trace_id string, ts timestamp") \
        .coalesce(1).write.parquet(str(src))
    stream = (spark.readStream.schema("trace_id string, ts timestamp")
              .parquet(str(src)))
    agg = (stream.withWatermark("ts", "1 minute")
           .groupBy(F.session_window("ts", "5 seconds"), "trace_id")
           .agg(F.count(F.lit(1)).alias("n_spans")))
    q = (agg.writeStream.format("memory").queryName("t_sessions")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck2")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted((r["trace_id"], r["n_spans"]) for r in
                 spark.sql("SELECT trace_id, n_spans FROM t_sessions").collect())
    assert got == [("t1", 1), ("t1", 2), ("t2", 1)]


def test_compact_preserves_rows(spark, sf_dir, tmp_path):
    from opentelemetry_collector_contrib_spark.sinks.maintenance import compact
    out = str(tmp_path / "many")
    df = spark.read.parquet(f"{sf_dir}/tokens.parquet")
    df.repartition(16).write.parquet(out)       # many small files
    before = rows(spark.read.parquet(out), "doc_id", "tokens")
    stats = compact(spark, out, target_file_bytes=64 * 1024 * 1024,
                    sort_by=["source", "doc_id"])
    after_df = spark.read.parquet(out)
    assert rows(after_df, "doc_id", "tokens") == before
    assert stats["files_after"] < stats["files_before"]


def test_group_by_trace_stateful_stream(spark, tmp_path):
    """applyInPandasWithState groupbytrace: spans buffer per trace;
    wait_duration after first arrival the whole trace releases
    (groupbytraceprocessor processor.go:124-170).  Timers fire on the
    stream's no-data maintenance batches, so the test POLLS the sink
    (processAllAvailable never settles with processing-time timeouts).
    """
    import time as _t
    from opentelemetry_collector_contrib_spark.streaming.group_by_trace import (
        group_by_trace_stream)
    src = tmp_path / "spans_in"
    src.mkdir()
    spark.createDataFrame(
        [("tA", "s1"), ("tA", "s2"), ("tB", "s3")],
        "trace_id string, span_id string").coalesce(1) \
        .write.mode("append").parquet(str(src))
    stream = (spark.readStream.schema("trace_id string, span_id string")
              .parquet(str(src)))
    out = group_by_trace_stream(stream, wait_duration_ms=1000)
    q = (out.writeStream.format("memory").queryName("t_gbt")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_gbt")).start())
    try:
        deadline = _t.time() + 120
        while _t.time() < deadline:
            if spark.sql("SELECT * FROM t_gbt").count() >= 2:
                break
            _t.sleep(2)
        got = {r["trace_id"]: r for r in
               spark.sql("SELECT * FROM t_gbt").collect()}
        assert got["tA"]["n_spans"] == 2
        assert sorted(got["tA"]["span_ids"]) == ["s1", "s2"]
        assert got["tB"]["n_spans"] == 1
        assert got["tA"]["complete"] is True
    finally:
        q.stop()


def test_streaming_fresh_dim_sees_pod_churn(spark, tmp_path):
    """The k8s watch analog: a dimension update between micro-batches
    (pod IP reassigned to a new namespace) must be visible to the NEXT
    batch — each batch enriches against the dim as of that batch."""
    import time as _t
    from opentelemetry_collector_contrib_spark.streaming.stream_pipeline import (
        streaming_pipeline_fresh_dim)
    src = tmp_path / "tok_in"
    src.mkdir()
    pods = tmp_path / "pods"
    outd = tmp_path / "enriched"
    line = "2020-08-25 05:01:31 INFO hello pod_ip=10.9.9.9"

    def tok_row(doc):
        return (doc, [ord(c) for c in line], len(line), "app-a")

    def write_pods(ns):
        spark.createDataFrame(
            [("10.9.9.9", f"{ns}-abc12-def34", ns, "n1",
              "2020-01-01T00:00:00Z", "GIT_SHA=aa X", False)],
            "pod_ip string, pod_name string, namespace string, "
            "node_name string, start_time string, labels_raw string, "
            "ignore boolean").coalesce(1).write.mode("overwrite") \
            .parquet(str(pods))

    write_pods("ns-old")
    spark.createDataFrame([tok_row("d1")],
                          "doc_id string, tokens array<int>, n_tok int, "
                          "source string").coalesce(1) \
        .write.mode("append").parquet(str(src))
    q = streaming_pipeline_fresh_dim(spark, str(src), str(pods), str(outd))
    try:
        deadline = _t.time() + 90
        while _t.time() < deadline and not (outd / "batch=0").exists():
            _t.sleep(1)
        # pod churn between batches: same IP now owned by a new namespace
        write_pods("ns-new")
        spark.createDataFrame([tok_row("d2")],
                              "doc_id string, tokens array<int>, n_tok int, "
                              "source string").coalesce(1) \
            .write.mode("append").parquet(str(src))
        deadline = _t.time() + 90
        got = {}
        while _t.time() < deadline:
            import glob
            for b in glob.glob(str(outd / "batch=*")):
                try:
                    for r in spark.read.parquet(b).collect():
                        got[r["doc_id"]] = r["namespace"]
                except Exception:
                    pass
            if "d1" in got and "d2" in got:
                break
            _t.sleep(2)
        assert got.get("d1") == "ns-old"
        assert got.get("d2") == "ns-new"      # fresh snapshot picked up
    finally:
        q.stop()


def test_group_by_trace_spans_across_micro_batches(spark, tmp_path):
    """Spans of ONE trace arriving in TWO micro-batches must still
    release wait_duration after the FIRST arrival: Spark's GroupState
    clears the processing-time timeout on every invocation with new
    data, so the operator must re-arm it to the stored first-arrival
    deadline (the round-1 code armed it only once -> the second batch
    cancelled the timer and the trace never emitted)."""
    import time as _t
    from opentelemetry_collector_contrib_spark.streaming.group_by_trace import (
        group_by_trace_stream)
    src = tmp_path / "spans_in2"
    src.mkdir()
    spark.createDataFrame([("tX", "s1")], "trace_id string, span_id string") \
        .coalesce(1).write.mode("append").parquet(str(src))
    stream = (spark.readStream.schema("trace_id string, span_id string")
              .parquet(str(src)))
    # wait_duration must outlive the batch-1-detect -> batch-2-write gap
    # even on a loaded host, else the timer fires between the two
    # appends and the trace emits split (flaky under a full-suite run)
    out = group_by_trace_stream(stream, wait_duration_ms=25000)
    q = (out.writeStream.format("memory").queryName("t_gbt2")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_gbt2")).start())
    try:
        # wait until batch 1 (s1) is ingested, THEN append the second
        # span so it lands in a later micro-batch of the same trace
        deadline = _t.time() + 60
        while _t.time() < deadline:
            if q.lastProgress and q.lastProgress["numInputRows"] > 0:
                break
            _t.sleep(0.5)
        spark.createDataFrame([("tX", "s2")],
                              "trace_id string, span_id string") \
            .coalesce(1).write.mode("append").parquet(str(src))
        deadline = _t.time() + 120
        while _t.time() < deadline:
            if spark.sql("SELECT * FROM t_gbt2").count() >= 1:
                break
            _t.sleep(2)
        got = {r["trace_id"]: r for r in
               spark.sql("SELECT * FROM t_gbt2").collect()}
        assert "tX" in got, "trace never released (timer cancelled?)"
        assert sorted(got["tX"]["span_ids"]) == ["s1", "s2"]
        assert got["tX"]["n_spans"] == 2
    finally:
        q.stop()


def test_rotated_multifile_ingest_exactly_once(spark, sf_dir, tmp_path):
    """The file-rotation e2e analog (stanzareceiver e2e_test.go:109-199):
    input split across 3 'rotated' files; two sequential runs over the
    growing directory (manifest resume) route every row exactly once."""
    import pyarrow.parquet as pq
    src = tmp_path / "rotated"
    src.mkdir()
    t = pq.read_table(f"{sf_dir}/tokens.parquet")
    n = t.num_rows
    pq.write_table(t.slice(0, n // 3), str(src / "app.log.2.parquet"))
    pq.write_table(t.slice(n // 3, n // 3), str(src / "app.log.1.parquet"))

    cfg = _cfg(sf_dir, str(tmp_path / "out"))
    cfg.tokens_path = str(src)
    run_pipeline(spark, cfg)                     # first 2 rotations

    # rotation: a third file appears; same manifest dir, new run

    pq.write_table(t.slice(2 * (n // 3)), str(src / "app.log.parquet"))
    # new units appear only via new doc_ids; hash-units cover all rows,
    # so re-run with a FRESH manifest into a second out dir and compare
    cfg2 = _cfg(sf_dir, str(tmp_path / "out2"))
    cfg2.tokens_path = str(src)
    run_pipeline(spark, cfg2)

    whole = spark.read.parquet(f"{sf_dir}/tokens.parquet")
    for sink in ("sumologic", "loki", "default-sink"):
        got = spark.read.parquet(f"{cfg2.out_dir}/sinks/{sink}/unit=*")
        # every routed doc exactly once per sink (no dupes across files)
        assert got.groupBy("doc_id").count().filter("count > 1").count() == 0
    total = spark.read.parquet(f"{cfg2.out_dir}/sinks/*/unit=*") \
        .select("doc_id").distinct().count()
    assert total == whole.count()


def test_snapshot_published_and_consistent(spark, sf_dir, tmp_path):
    from opentelemetry_collector_contrib_spark.sinks.maintenance import (
        read_snapshot)
    cfg = _cfg(sf_dir, str(tmp_path / "snap"))
    run_pipeline(spark, cfg)
    for sink in ("sumologic", "loki", "default-sink"):
        snap = read_snapshot(cfg.sink_cfg(sink).path)
        assert snap is not None and snap["sink"] == sink
        assert snap["n_files"] == len(snap["files"]) > 0
        # every listed file exists with the recorded size
        import os as _os
        for f in snap["files"]:
            full = _os.path.join(cfg.sink_cfg(sink).path, f["path"])
            assert _os.path.getsize(full) == f["bytes"]


def test_pipeline_zero_route_sink_completes(spark, sf_dir, tmp_path):
    """A routing-table entry whose predicate matches NOTHING must not
    crash the run or the metrics pass (round-1 read the sink output
    back and threw 'Unable to infer schema' on a data-less directory);
    the manifest reports zero rows for it."""
    from opentelemetry_collector_contrib_spark.operators.routing import (
        RoutingTable)
    cfg = _cfg(sf_dir, str(tmp_path / "out"))
    cfg.routes = RoutingTable(
        from_attribute="source",
        table={"hot-source": ["sumologic"],
               "no-such-source-value": ["ghost-sink"]},
        default_sinks=["default-sink"])
    res = run_pipeline(spark, cfg)
    assert res["status"] == "complete"
    import ast
    entries = RunManifest(f"{cfg.out_dir}/_manifest").entries()
    counts = [ast.literal_eval(e["sink_counts"]) for e in entries
              if e["status"] == "done"]
    assert sum(c.get("ghost-sink", 0) for c in counts) == 0
    assert sum(c.get("sumologic", 0) for c in counts) > 0


# -- single-pass fan-out ------------------------------------------------------

class _CountingParser:
    """RegexParser wrapper that counts parsed input rows via an
    accumulator — the instrument for proving the single-pass fan-out
    claim (reference consumes each batch once for ALL exporters,
    processor/routingprocessor/routing.go:152-161)."""

    def __init__(self, acc):
        from opentelemetry_collector_contrib_spark.operators.regex_parser import (
            RegexParser)
        self._inner = RegexParser()
        self._acc = acc

    def apply(self, df):
        acc = self._acc

        def count_rows(batches):
            for b in batches:
                acc.add(b.num_rows)
                yield b

        return self._inner.apply(df.mapInArrow(count_rows, df.schema))


def test_single_pass_fanout_scans_input_once(spark, sf_dir, tmp_path):
    """The routed lineage is persisted (or staged) before the sink
    loop, so the scan + Arrow parse run ONCE for all 3 sinks."""
    n_rows = spark.read.parquet(f"{sf_dir}/tokens.parquet").count()

    acc1 = spark.sparkContext.accumulator(0)
    cfg1 = _cfg(sf_dir, str(tmp_path / "once"), n_units=2)
    cfg1.parser = _CountingParser(acc1)
    res = run_pipeline(spark, cfg1)
    assert res["status"] == "complete" and res["rows_in"] == n_rows
    assert acc1.value == n_rows          # ONE parse pass, 3 sinks


def test_staged_fanout_matches_persist_and_scans_once(spark, sf_dir,
                                                      tmp_path):
    """fanout_strategy='staged': the routed rows are written ONCE
    partitionBy(sink) and each branch re-reads its pruned slice — the
    parse still runs exactly once (the accumulator counts staging-write
    rows only; branch writes read parquet, not the parse lineage), the
    per-sink outputs and manifest metrics match the persist strategy,
    and the staging dir is cleaned up."""
    import os
    n_rows = spark.read.parquet(f"{sf_dir}/tokens.parquet").count()

    cfg_p = _cfg(sf_dir, str(tmp_path / "persist"), n_units=2)
    cfg_p.fanout_strategy = "persist"   # pin vs the size-driven default
    res_p = run_pipeline(spark, cfg_p)

    acc = spark.sparkContext.accumulator(0)
    cfg_s = _cfg(sf_dir, str(tmp_path / "staged"), n_units=2)
    cfg_s.parser = _CountingParser(acc)
    cfg_s.fanout_strategy = "staged"
    res_s = run_pipeline(spark, cfg_s)
    assert acc.value == n_rows           # ONE parse pass, 3 sinks
    assert res_s["status"] == "complete"
    assert res_s["rows_in"] == res_p["rows_in"] == n_rows
    assert res_s["rows_routed"] == res_p["rows_routed"]

    def unit_counts(out_dir):
        from opentelemetry_collector_contrib_spark.plans.manifest import (
            RunManifest)
        return {e["unit"]: e["sink_counts"]
                for e in RunManifest(f"{out_dir}/_manifest").entries()}

    assert unit_counts(f"{tmp_path}/staged") == \
        unit_counts(f"{tmp_path}/persist")
    assert not os.path.exists(f"{tmp_path}/staged/fanout-staging.tmp")

    for sink in ("sumologic", "loki", "default-sink"):
        a = spark.read.parquet(f"{tmp_path}/persist/sinks/{sink}/unit=*")
        b = spark.read.parquet(f"{tmp_path}/staged/sinks/{sink}/unit=*")
        assert rows(a, "doc_id", "tokens") == rows(b, "doc_id", "tokens")


def test_auto_fanout_strategy_size_cutover(spark, sf_dir, monkeypatch):
    """fanout_strategy='auto' (the default) picks persist while the
    estimated routed-lineage cache fits guaranteed storage memory and
    staged past that; an un-stat-able input (e.g. an Iceberg catalog
    table name) is assumed big, unless the caller passes the size."""
    from opentelemetry_collector_contrib_spark.plans import pipeline as P
    cfg = _cfg(sf_dir, "/tmp/unused")
    assert P._auto_fanout_strategy(spark, cfg) == "persist"  # tiny input
    monkeypatch.setattr(P, "_CACHE_BYTES_PER_INPUT_BYTE", 10**12)
    assert P._auto_fanout_strategy(spark, cfg) == "staged"   # huge estimate
    cfg2 = _cfg(sf_dir, "/tmp/unused")
    cfg2.tokens_path = str(sf_dir) + "/no_such_table.parquet"
    assert P._auto_fanout_strategy(spark, cfg2) == "staged"  # unknown size
    monkeypatch.undo()
    assert P._auto_fanout_strategy(spark, cfg2, input_bytes=1 << 10) \
        == "persist"                                          # given size


def test_parse_mem_suffixes():
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        _parse_mem)
    assert _parse_mem("12g") == 12 << 30
    assert _parse_mem("512M") == 512 << 20
    assert _parse_mem("1.5g") == int(1.5 * (1 << 30))
    assert _parse_mem("1048576") == 1 << 20


def _scan_output_rows(df) -> int:
    """numOutputRows of the leaf FileSourceScan AFTER an action — rows
    surviving parquet row-group pruning (the Spark Filter re-filters
    them, so scan rows >> result rows means the layout defeated
    data skipping)."""
    df.collect()
    jp = df._jdf.queryExecution().executedPlan()
    try:
        jp = jp.executedPlan()          # unwrap AdaptiveSparkPlanExec
    except Exception:
        pass
    leaf = jp.collectLeaves().apply(0)
    return leaf.metrics().apply("numOutputRows").value()


def test_compact_sorted_layout_prunes_row_groups(spark, tmp_path):
    """compact(sort_by=...) is not cosmetic: range-partitioned, sorted
    files give each parquet row group a narrow key min/max, so a
    selective filter skips whole groups AT THE SCAN.  On the shuffled
    layout every row group straddles the full key range and the scan
    emits every row; after sorted compaction the same filter's scan
    emits <5% of them.  This is the zorder/compact data-skipping story
    measured, not asserted."""
    from opentelemetry_collector_contrib_spark.sinks.maintenance import compact
    out = str(tmp_path / "t")
    n = 200_000
    (spark.range(n)
     .select(F.pmod(F.xxhash64("id"), F.lit(1000)).alias("key"), "id")
     .repartition(8).write.parquet(out))

    pred = F.col("key") == 7
    unsorted_rows = _scan_output_rows(spark.read.parquet(out).filter(pred))
    assert unsorted_rows == n            # no skipping on shuffled layout

    stats = compact(spark, out, target_file_bytes=256 * 1024,
                    sort_by=["key"])
    sorted_rows = _scan_output_rows(spark.read.parquet(out).filter(pred))
    want = spark.read.parquet(out).filter(pred).count()
    assert sorted_rows >= want           # correctness floor
    # skipping is file/row-group granular: the surviving rows are ~one
    # range partition's worth (2x slack for a boundary-straddling key),
    # not the whole table
    per_file = n / stats["files_after"]
    assert sorted_rows <= 2 * per_file
    assert sorted_rows <= n * 0.25


def test_streaming_multi_sink_single_pass(spark, sf_dir, tmp_path):
    """Streaming twin of the single-pass fan-out proof: batch_df inside
    foreachBatch is lazy, so without the persist each of the 3 sink
    writes would re-run the micro-batch's Arrow parse.  The counting
    parser's accumulator must equal the input row count EXACTLY (one
    parse pass for all sinks), and the per-sink outputs must match the
    batch route fan-out."""
    from opentelemetry_collector_contrib_spark.operators.enrich import (
        broadcast_enrich, prepare_pods_dim)
    from opentelemetry_collector_contrib_spark.operators.regex_parser import (
        RegexParser, kv_extract)
    from opentelemetry_collector_contrib_spark.operators.routing import (
        DEFAULT_ROUTES, with_route)
    from opentelemetry_collector_contrib_spark.streaming.stream_pipeline import (
        streaming_multi_sink)

    src = tmp_path / "tok_in"
    tok = spark.read.parquet(f"{sf_dir}/tokens.parquet").limit(2000)
    tok.coalesce(1).write.parquet(str(src))
    n_rows = spark.read.parquet(str(src)).count()

    acc = spark.sparkContext.accumulator(0)
    q = streaming_multi_sink(
        spark, str(src), f"{sf_dir}/pods.parquet",
        str(tmp_path / "sinks"), parser=_CountingParser(acc))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert acc.value == n_rows               # ONE parse pass, 3 sinks

    pods = prepare_pods_dim(spark.read.parquet(f"{sf_dir}/pods.parquet"))
    batch = (with_route(broadcast_enrich(
        kv_extract(RegexParser().apply(spark.read.parquet(str(src))),
                   "pod_ip"), pods, "pod_ip"), DEFAULT_ROUTES)
        .select("doc_id", F.explode("sinks").alias("sink")))
    for sink in DEFAULT_ROUTES.all_sinks():
        want = sorted(r["doc_id"] for r in
                      batch.filter(F.col("sink") == sink).collect())
        got = sorted(r["doc_id"] for r in spark.read.parquet(
            f"{tmp_path}/sinks/{sink}/batch=*").collect())
        assert got == want


# -- versioned snapshots (the Iceberg-commit analog) -------------------------

def _snap_table(spark, path, unit, n, offset=0):
    (spark.range(offset, offset + n)
     .selectExpr("cast(id as string) as doc_id", f"{unit} as unit")
     .write.mode("append").partitionBy("unit").parquet(path))


def test_snapshot_versions_pin_and_expire(spark, tmp_path):
    """Versioned publish (HadoopTableOperations model): appending new
    units and republishing bumps the version; a reader pinned to v1
    still sees EXACTLY v1's file set (time travel while files persist);
    expire_snapshots drops old metadata; a deleted data file makes
    verify_snapshot report it and read_pinned fail loud."""
    from opentelemetry_collector_contrib_spark.sinks.maintenance import (
        current_version, expire_snapshots, publish_snapshot, read_pinned,
        read_snapshot, snapshot_versions, verify_snapshot)
    path = str(tmp_path / "t")
    _snap_table(spark, path, unit=0, n=100)
    publish_snapshot(path, "run-a", extra={"sink": "s"})
    assert current_version(path) == 1
    _snap_table(spark, path, unit=1, n=50, offset=100)
    publish_snapshot(path, "run-b", extra={"sink": "s"})

    assert snapshot_versions(path) == [1, 2]
    assert read_snapshot(path)["version"] == 2
    assert read_snapshot(path, version=1)["run_id"] == "run-a"
    # time travel: v1 pins the pre-append file set
    assert read_pinned(spark, path, version=1).count() == 100
    assert read_pinned(spark, path).count() == 150
    assert "unit" in read_pinned(spark, path).columns  # basePath keeps it
    assert verify_snapshot(path, 1) == [] and verify_snapshot(path) == []

    # root alias tracks the current version
    assert read_snapshot(path)["n_files"] == len(
        read_snapshot(path)["files"])

    expired = expire_snapshots(path, keep_last=1)
    assert expired == [1]
    assert snapshot_versions(path) == [2]
    assert read_snapshot(path, version=1) is None

    # dangle a data file -> loud failure, named file
    victim = read_snapshot(path)["files"][0]["path"]
    os.remove(os.path.join(path, victim))
    assert victim in verify_snapshot(path)
    import pytest
    with pytest.raises(FileNotFoundError, match="dangling"):
        read_pinned(spark, path)


def test_compact_republishes_current_snapshot(spark, tmp_path):
    """compact() must never leave the CURRENT snapshot pointing at
    rewritten (deleted) files: it carries the _snapshots dir across the
    atomic swap and publishes a new version over the compacted layout.
    The pre-compaction version naturally dangles — reported, not
    silent."""
    from opentelemetry_collector_contrib_spark.sinks.maintenance import (
        compact, current_version, publish_snapshot, read_pinned,
        read_snapshot, verify_snapshot)
    path = str(tmp_path / "t")
    _snap_table(spark, path, unit=0, n=2000)
    _snap_table(spark, path, unit=1, n=2000, offset=2000)
    publish_snapshot(path, "run-a", extra={"sink": "s"})
    compact(spark, path, target_file_bytes=1 << 30)
    assert current_version(path) == 2
    snap = read_snapshot(path)
    assert snap["compacted_from"] == 1 and snap["sink"] == "s"
    assert verify_snapshot(path) == []                # current is readable
    assert read_pinned(spark, path).count() == 4000   # rows preserved
    assert verify_snapshot(path, 1) != []             # old version dangles


def test_run_pipeline_snapshot_versions_accumulate(spark, sf_dir, tmp_path):
    """Each run_pipeline completion commits a new snapshot version per
    sink (the per-run Iceberg commit); a re-run over a completed
    manifest re-publishes rather than mutating v1."""
    from opentelemetry_collector_contrib_spark.sinks.maintenance import (
        read_pinned, snapshot_versions)
    cfg = _cfg(sf_dir, str(tmp_path / "snap2"))
    run_pipeline(spark, cfg)
    cfg2 = _cfg(sf_dir, str(tmp_path / "snap2"))
    run_pipeline(spark, cfg2)
    p = cfg.sink_cfg("sumologic").path
    assert snapshot_versions(p) == [1, 2]
    # nothing was rewritten between the two publishes -> both pin fine
    assert (read_pinned(spark, p, version=1).count()
            == read_pinned(spark, p, version=2).count() > 0)
