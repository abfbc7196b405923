"""Incremental file ingest: the file_input discovery + offsets-resume
analog in batch (receiver/stanzareceiver/config.go:26 offsets_file;
stanza file_input polls for new files).  New parquet files appended to
the tokens table are processed in ledger-committed cycles; each cycle
appends under its own cycle=<id> partition and publishes one snapshot
version, so pinned reads time-travel the ingest history."""

import os

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.incremental import (
    FileLedger, list_input_files, run_pipeline_incremental)
from opentelemetry_collector_contrib_spark.plans.pipeline import (
    PipelineConfig, run_pipeline)
from opentelemetry_collector_contrib_spark.sinks.maintenance import (
    read_pinned, snapshot_versions, verify_snapshot)

SINKS = ("sumologic", "loki", "default-sink")


def _split_tokens(spark, sf_dir, tmp_path):
    """The sf tokens table split in two halves; half A written as the
    initial table, half B returned for a later append."""
    tok = spark.read.parquet(f"{sf_dir}/tokens.parquet")
    a = tok.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    b = tok.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    in_dir = str(tmp_path / "tokens_inc")
    a.write.parquet(in_dir)
    return in_dir, a.count(), b


def _inc_cfg(in_dir, sf_dir, out):
    return PipelineConfig(tokens_path=in_dir,
                          pods_path=f"{sf_dir}/pods.parquet",
                          out_dir=str(out), n_units=4)


def _sink_docs(spark, path):
    return sorted(r["doc_id"]
                  for r in spark.read.parquet(path).select("doc_id")
                  .collect())


def test_incremental_cycles_append_and_time_travel(spark, sf_dir, tmp_path):
    in_dir, n_a, b = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")

    r1 = run_pipeline_incremental(spark, cfg)
    assert r1["status"] == "complete" and r1["rows_in"] == n_a

    # nothing new -> no work, no new snapshot version
    assert run_pipeline_incremental(spark, cfg)["status"] == "no_new_data"
    p = cfg.sink_cfg("sumologic").path
    assert snapshot_versions(p) == [1]

    # append half B to the input table -> cycle 2 processes ONLY it
    b.write.mode("append").parquet(in_dir)
    r2 = run_pipeline_incremental(spark, cfg)
    assert r2["status"] == "complete" and r2["rows_in"] == b.count()
    assert r2["cycle_id"] != r1["cycle_id"]
    assert snapshot_versions(p) == [1, 2]

    # cycles only APPEND, so v1 stays fully readable: true time travel
    assert verify_snapshot(p, 1) == []
    assert (read_pinned(spark, p, version=1).count()
            < read_pinned(spark, p, version=2).count())

    # two cycles == one full batch run, per sink (routed-row equality)
    full = _inc_cfg(f"{sf_dir}/tokens.parquet", sf_dir, tmp_path / "full")
    run_pipeline(spark, full)
    for s in SINKS:
        assert (_sink_docs(spark, cfg.sink_cfg(s).path)
                == _sink_docs(spark, full.sink_cfg(s).path))


def test_incremental_retry_is_idempotent(spark, sf_dir, tmp_path):
    """A cycle killed after its sink writes but before the ledger
    commit retries with the SAME deterministic cycle id and re-runs
    whole: dynamic overwrite replaces the same cycle=<id> dir (no
    duplicate rows)."""
    in_dir, n_a, _ = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")

    killed = run_pipeline_incremental(spark, cfg, fail_before_commit=True)
    assert killed["status"] == "killed"
    assert FileLedger(f"{cfg.out_dir}/_ingest_ledger").entries() == []

    cfg2 = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    done = run_pipeline_incremental(spark, cfg2)
    assert done["status"] == "complete"
    assert done["cycle_id"] == killed["cycle_id"]
    assert done["rows_in"] == n_a                    # whole cycle re-run
    docs = _sink_docs(spark, cfg2.sink_cfg("sumologic").path)
    assert len(docs) == len(set(docs))               # no duplicates


def test_cycle_is_one_partition_level_and_ledger_row(spark, sf_dir,
                                                     tmp_path):
    """An ingest cycle is one commit unit: every sink and quarantine
    root holds only cycle=<id>/ dirs with the data files directly
    inside, no per-cycle unit manifest is written, and the ledger row
    carries the counts each sink holds for the cycle."""
    import ast
    from opentelemetry_collector_contrib_spark.sinks.writers import (
        quarantine_path)
    in_dir, n_a, _ = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    cfg.sink_cfg("sumologic").max_payload_bytes = 60   # some quarantine
    r = run_pipeline_incremental(spark, cfg)
    cycle = r["cycle_id"]
    (row,) = FileLedger(f"{cfg.out_dir}/_ingest_ledger").entries()
    assert (row["rows_in"], row["rows_routed"]) == (n_a, r["rows_routed"])
    counts = ast.literal_eval(row["sink_counts"])
    dropped = ast.literal_eval(row["sink_dropped"])
    assert set(counts) == set(SINKS) and dropped["sumologic"] > 0

    roots = {s: cfg.sink_cfg(s).path for s in SINKS}
    roots["quarantine"] = quarantine_path(cfg.sink_cfg("sumologic"))
    for name, root in roots.items():
        assert [d for d in os.listdir(root)
                if not d.startswith(("_", "."))] == [f"cycle={cycle}"]
        part = os.path.join(root, f"cycle={cycle}")
        entries = os.listdir(part)
        assert not any(os.path.isdir(os.path.join(part, e))
                       for e in entries)
        assert any(e.endswith(".parquet") for e in entries)
        held = spark.read.parquet(part).count()
        want = dropped["sumologic"] if name == "quarantine" else counts[name]
        assert held == want
    manifest_dir = os.path.join(cfg.out_dir, "_manifest")
    assert not (os.path.isdir(manifest_dir)
                and any(d.startswith("cycle_")
                        for d in os.listdir(manifest_dir)))


def test_cycle_sizes_fanout_by_increment_and_leaves_cfg(spark, sf_dir,
                                                        tmp_path,
                                                        monkeypatch):
    """The auto fan-out strategy is sized by the cycle's new files, not
    the whole table, and the cycle does not write that size (or
    anything else) into the caller's config, which a later batch
    run_pipeline would otherwise size by."""
    import copy
    from opentelemetry_collector_contrib_spark.plans import pipeline as P
    sized = []
    real = P._auto_fanout_strategy

    def recording(*args):
        sized.append(args[2:])               # (input_bytes,) when given
        return real(*args)
    monkeypatch.setattr(P, "_auto_fanout_strategy", recording)

    in_dir, _, b = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    for s in SINKS:
        cfg.sink_cfg(s)
    before = {**vars(cfg), "sinks": copy.deepcopy(cfg.sinks)}
    run_pipeline_incremental(spark, cfg)
    b.write.mode("append").parquet(in_dir)
    run_pipeline_incremental(spark, cfg)
    assert vars(cfg) == before

    ledger = FileLedger(f"{cfg.out_dir}/_ingest_ledger").entries()
    assert sized == [(sum(f["bytes"] for f in e["files"]),) for e in ledger]
    table = sum(f["bytes"] for f in list_input_files(spark, in_dir))
    assert sized[-1][0] < table


def test_incremental_vacuums_orphan_cycles(spark, sf_dir, tmp_path):
    """A crashed cycle superseded by new arrivals (different retry id)
    leaves uncommitted cycle dirs; the next run removes them."""
    in_dir, _, b = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    run_pipeline_incremental(spark, cfg, fail_before_commit=True)
    # new files arrive before the retry -> the retry is a DIFFERENT set
    b.write.mode("append").parquet(in_dir)
    cfg2 = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    r = run_pipeline_incremental(spark, cfg2)
    assert r["status"] == "complete"
    p = cfg2.sink_cfg("sumologic").path
    cycles = {d.split("=", 1)[1] for d in os.listdir(p)
              if d.startswith("cycle=")}
    assert cycles == {r["cycle_id"]}                 # orphan gone
    # and the surviving cycle covers the WHOLE input (A was never
    # committed, so the retry set is A+B)
    full = spark.read.parquet(in_dir).count()
    assert r["rows_in"] == full


def test_incremental_quarantine_scoped_per_cycle(spark, sf_dir, tmp_path):
    """Constraint sinks quarantine under the cycle partition; a second
    cycle's quarantine clear never touches the first cycle's rows."""
    from opentelemetry_collector_contrib_spark.sinks.writers import (
        quarantine_path)
    in_dir, _, b = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    cfg.sink_cfg("sumologic").max_payload_bytes = 40   # force violations
    r1 = run_pipeline_incremental(spark, cfg)
    qp = quarantine_path(cfg.sink_cfg("sumologic"))
    q1 = spark.read.parquet(qp).count()
    assert r1["status"] == "complete" and q1 > 0

    b.write.mode("append").parquet(in_dir)
    cfg2 = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    cfg2.sink_cfg("sumologic").max_payload_bytes = 40
    run_pipeline_incremental(spark, cfg2)
    q_all = spark.read.parquet(qp)
    assert q_all.count() > q1                          # cycle 1 kept
    assert q_all.select("cycle").distinct().count() == 2


def test_list_input_files_skips_hidden(spark, tmp_path):
    d = tmp_path / "t"
    spark.range(10).coalesce(1).write.parquet(str(d))
    (d / "_snapshots").mkdir()
    (d / "_snapshots" / "v1.json").write_text("{}")
    files = list_input_files(spark, str(d))
    assert files and all("_" not in os.path.basename(f["path"])[:1]
                         for f in files)
    assert all("_snapshots" not in f["path"] for f in files)


def test_aggregate_manifest_over_cycle_layout(spark, sf_dir, tmp_path):
    """aggregate_manifest's verification frame works over the
    incremental cycle=<id> sink layout too."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        aggregate_manifest)
    in_dir, n_a, _ = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    run_pipeline_incremental(spark, cfg)
    agg = aggregate_manifest(spark, cfg)
    got = {r["sink"]: r["total"] for r in
           agg.groupBy("sink").agg(F.sum("n").alias("total")).collect()}
    assert set(got) == set(SINKS) and all(v > 0 for v in got.values())


def test_expire_cycles_retention(spark, sf_dir, tmp_path):
    """Retention drops old cycles' OUTPUT but never their ingest
    history: the files stay ledger-recorded (no re-ingest), the current
    snapshot is republished clean, and old pinned versions dangle
    loud."""
    from opentelemetry_collector_contrib_spark.plans.incremental import (
        expire_cycles)
    in_dir, _, b = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    r1 = run_pipeline_incremental(spark, cfg)
    b.write.mode("append").parquet(in_dir)
    r2 = run_pipeline_incremental(spark, cfg)

    res = expire_cycles(cfg, keep_last=1)
    assert res["expired_cycles"] == [r1["cycle_id"]]
    p = cfg.sink_cfg("sumologic").path
    cycles = {d.split("=", 1)[1] for d in os.listdir(p)
              if d.startswith("cycle=")}
    assert cycles == {r2["cycle_id"]}
    # current snapshot republished over the surviving files
    assert verify_snapshot(p) == []
    assert (read_pinned(spark, p).select("cycle").distinct().count() == 1)
    # the expired cycle's snapshot version dangles - loudly
    assert verify_snapshot(p, 1) != []
    # ingest history intact: the dropped cycle's files are NOT re-run
    assert run_pipeline_incremental(spark, cfg)["status"] == "no_new_data"
    # idempotent
    assert expire_cycles(cfg, keep_last=1)["expired_cycles"] == []


def test_streaming_available_now_is_incremental(spark, sf_dir, tmp_path):
    """The built-in incremental counterpart: streaming_multi_sink with
    available_now=True runs to completion over files the checkpoint has
    not seen, so a second invocation after an append processes ONLY the
    new files (Spark file-source tracking standing in for the
    FileLedger)."""
    from opentelemetry_collector_contrib_spark.streaming.stream_pipeline \
        import streaming_multi_sink
    in_dir, n_a, b = _split_tokens(spark, sf_dir, tmp_path)
    out = str(tmp_path / "sinks")

    q = streaming_multi_sink(spark, in_dir, f"{sf_dir}/pods.parquet", out,
                             available_now=True)
    q.awaitTermination(120)
    assert not q.isActive                       # ran to completion
    def routed_rows():
        import glob
        total = 0
        for d in glob.glob(f"{out}/*/batch=*"):
            total += spark.read.parquet(d).count()
        return total
    r1 = routed_rows()
    assert r1 > 0

    b.write.mode("append").parquet(in_dir)
    q2 = streaming_multi_sink(spark, in_dir, f"{sf_dir}/pods.parquet", out,
                              available_now=True)
    q2.awaitTermination(120)
    r2 = routed_rows()
    assert r2 > r1
    # batch twin over the full table routes the same number of rows
    full = _inc_cfg(in_dir, sf_dir, tmp_path / "full")
    res = run_pipeline(spark, full)
    assert r2 == res["rows_routed"]


def test_quarantine_retry_under_cycle_layout(spark, sf_dir, tmp_path):
    """reprocess_quarantine over a cycle-partitioned quarantine: after
    relaxing the constraint, the dropped rows (and only they) move into
    the sink, preserving their cycle partition."""
    from opentelemetry_collector_contrib_spark.sinks.writers import (
        quarantine_path, reprocess_quarantine)
    in_dir, _, _ = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    sink = cfg.sink_cfg("sumologic")
    sink.max_payload_bytes = 40
    run_pipeline_incremental(spark, cfg)
    qp = quarantine_path(sink)
    n_q = spark.read.parquet(qp).count()
    # the 40-byte cap quarantines every routed row -> the sink wrote
    # no data files yet
    from opentelemetry_collector_contrib_spark.sinks.writers import (
        dir_has_data)
    n_sunk = (spark.read.parquet(sink.path).count()
              if dir_has_data(sink.path) else 0)
    assert n_q > 0

    sink.max_payload_bytes = 10_000_000          # relax -> all pass now
    moved = reprocess_quarantine(spark, sink,
                                 partition_cols=["cycle"])
    assert moved == n_q
    sunk = spark.read.parquet(sink.path)
    assert sunk.count() == n_sunk + n_q
    assert sunk.select("cycle").distinct().count() == 1


def test_compact_preserves_cycle_layout(spark, sf_dir, tmp_path):
    """Compacting an incremental sink keeps its cycle=<id> partition
    layout, so later cycles append cleanly (flat files next
    to partition dirs would be an unreadable mixed layout)."""
    from opentelemetry_collector_contrib_spark.sinks.maintenance import (
        compact)
    in_dir, _, b = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    r1 = run_pipeline_incremental(spark, cfg)
    p = cfg.sink_cfg("sumologic").path
    n_before = spark.read.parquet(p).count()

    compact(spark, p, target_file_bytes=1 << 30)
    assert any(d.startswith("cycle=") for d in os.listdir(p))
    assert spark.read.parquet(p).count() == n_before
    assert verify_snapshot(p) == []              # republished, no dangle

    # a later cycle still appends and reads back fine
    b.write.mode("append").parquet(in_dir)
    r2 = run_pipeline_incremental(spark, cfg)
    assert r2["status"] == "complete"
    got = spark.read.parquet(p)
    assert got.select("cycle").distinct().count() == 2
    assert got.count() > n_before


def test_compact_pinned_read_equality_and_version_sweep(spark, sf_dir,
                                                        tmp_path):
    """The time-travel half of the compaction contract: after
    compacting a two-cycle sink, (a) the CURRENT pinned read is
    value-identical to the pre-compaction data, (b) the pre-compaction
    versions dangle LOUDLY (verify_snapshot lists the rewritten files,
    read_pinned raises) — never silently return different rows, and
    (c) sweep_snapshots reports exactly which versions remain
    pinnable."""
    import pytest
    from opentelemetry_collector_contrib_spark.sinks.maintenance import (
        compact, current_version, read_snapshot, sweep_snapshots)
    in_dir, _, b = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    run_pipeline_incremental(spark, cfg)
    b.write.mode("append").parquet(in_dir)
    run_pipeline_incremental(spark, cfg)
    p = cfg.sink_cfg("sumologic").path
    before = sorted(map(tuple, spark.read.parquet(p)
                        .select("doc_id", "cycle", "n_tok").collect()))
    v_pre = current_version(p)
    assert v_pre == 2

    compact(spark, p, target_file_bytes=1 << 30)

    # (a) current pinned read == pre-compaction rows, cycle col intact
    v_cur = current_version(p)
    assert v_cur == v_pre + 1
    pinned = sorted(map(tuple, read_pinned(spark, p)
                        .select("doc_id", "cycle", "n_tok").collect()))
    assert pinned == before
    # the snapshot metadata never grows (at toy scale each cycle=
    # partition may already be a single file; the coalesce is a no-op)
    assert read_snapshot(p, v_cur)["n_files"] \
        <= read_snapshot(p, v_pre)["n_files"]

    # (b) pre-compaction versions dangle loudly
    assert verify_snapshot(p, v_pre) != []
    with pytest.raises(FileNotFoundError, match="dangling"):
        read_pinned(spark, p, version=v_pre)

    # (c) the sweep maps the whole history: old versions dangling,
    # current clean
    sweep = sweep_snapshots(p)
    assert [v for v, miss in sorted(sweep.items()) if not miss] == [v_cur]


def test_no_new_data_heals_unpublished_snapshots(spark, sf_dir, tmp_path):
    """Crash window between ledger commit and snapshot publish: the
    next (even no-op) run republishes, so committed data is never
    invisible to pinned readers; a stable state heals nothing."""
    import shutil
    from opentelemetry_collector_contrib_spark.sinks.maintenance import (
        read_snapshot)
    in_dir, _, _ = _split_tokens(spark, sf_dir, tmp_path)
    cfg = _inc_cfg(in_dir, sf_dir, tmp_path / "out")
    r1 = run_pipeline_incremental(spark, cfg)
    # simulate the crash: ledger committed, snapshots never published
    p = cfg.sink_cfg("sumologic").path
    shutil.rmtree(os.path.join(p, "_snapshots"))
    os.remove(os.path.join(p, "_SNAPSHOT.json"))

    r = run_pipeline_incremental(spark, cfg)
    assert r["status"] == "no_new_data" and r["snapshots_healed"] >= 1
    assert read_snapshot(p)["cycle"] == r1["cycle_id"]
    assert verify_snapshot(p) == []
    # stable state -> nothing to heal
    assert (run_pipeline_incremental(spark, cfg)["snapshots_healed"] == 0)
