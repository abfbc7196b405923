"""Incremental file ingest — the batch re-expression of the reference's
continuous file tailing.

The reference's file_input operator polls for NEW log files and resumes
from persisted per-file offsets (receiver/stanzareceiver wraps stanza's
file_input; the offsets_file knob is receiver/stanzareceiver/config.go:26).
An append-only tokens table plays the same role at 100 TB: new parquet
files land daily, and reprocessing the whole table per run is the wrong
shape.  This module processes ONLY files not yet recorded in a durable
file ledger, appending each ingest cycle under its own ``cycle=<id>``
partition and committing one snapshot version per cycle:

- **FileLedger** — the offsets_file analog: a jsonl of committed
  cycles, each listing the exact input files (path, bytes) it covered.
  O(cycles) metadata, inspectable with any text tool.
- **One commit unit per cycle**: a cycle's sinks and quarantines are
  written ``partitionBy("cycle")`` in one pass, and its Observation
  counts (rows_in, rows_routed, per-sink sink_counts/sink_dropped) go
  into the ledger row, so the ledger is the cycle's manifest.  A cycle
  killed before its ledger commit re-runs whole.
- **Deterministic cycle ids** (hash of the sorted new-file list) make a
  killed-and-retried cycle idempotent: the retry computes the same id,
  and dynamic partition overwrite replaces the same ``cycle=<id>``
  dir instead of duplicating rows.
- **Orphan vacuum**: cycle dirs whose id is neither committed nor the
  current cycle (a crashed cycle superseded by new arrivals) are
  removed before writing, so sinks never accumulate uncommitted data.
- **Snapshot per cycle** (sinks/maintenance.py): because cycles only
  APPEND, every published version stays fully readable — pinned
  ``read_pinned(path, version=K)`` reads are true time travel over the
  ingest history, unlike the overwrite-in-place ``run_pipeline`` units.

The Spark-idiomatic alternative is Structured Streaming's file source
with ``Trigger.AvailableNow`` (see streaming/stream_pipeline.py), which
tracks seen files inside its checkpoint.  This mode exists for the
operational regime the reference's offsets file serves: cron/Airflow
driven cycles, an auditable ledger decoupled from Spark checkpoint
internals, and storage-level commit points readers can pin.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .pipeline import (PipelineConfig, _process_units, build_lineage,
                       drop_partitions)


class FileLedger:
    """Durable record of which input files each committed cycle covered
    (the offsets_file analog, at file granularity — parquet files are
    immutable once landed, so there is no partial-file offset)."""

    def __init__(self, ledger_dir: str):
        self.dir = ledger_dir
        self.path = os.path.join(ledger_dir, "ledger.jsonl")
        os.makedirs(ledger_dir, exist_ok=True)

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f]

    def processed_files(self) -> set[str]:
        return {f["path"] for e in self.entries() for f in e["files"]}

    def committed_cycles(self) -> set[str]:
        return {e["cycle_id"] for e in self.entries()}

    def commit_cycle(self, cycle_id: str, files: list[dict],
                     metrics: dict) -> None:
        row = {"cycle_id": cycle_id, "committed_at": time.time(),
               "n_files": len(files), "files": files, **metrics}
        self._rewrite(self.entries() + [row])

    def mark_expired(self, cycle_ids: set[str]) -> None:
        """Flag cycles whose OUTPUT was retention-dropped.  Their input
        file lists stay in the ledger so those files are never
        re-ingested (retention removes outputs, not ingest history)."""
        self._rewrite([{**e, "expired": True}
                       if e["cycle_id"] in cycle_ids else e
                       for e in self.entries()])

    def _rewrite(self, entries: list[dict]) -> None:
        # rewrite-to-tmp + atomic replace: a crash mid-write leaves the
        # previous ledger intact, never a torn jsonl line
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            for e in entries:
                f.write(json.dumps(e) + "\n")
        os.replace(tmp, self.path)


def list_input_files(spark: SparkSession, path: str) -> list[dict]:
    """Recursive non-hidden file listing via the Hadoop FS API (works
    for local paths in this sandbox and HDFS/S3 on a cluster).  Any
    path segment starting with ``_`` or ``.`` is skipped — the same
    hidden-path convention Spark's own listing uses."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    base = fs.getFileStatus(jpath).getPath().toString()
    it = fs.listFiles(jpath, True)
    out = []
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        rel = full[len(base):].lstrip("/")
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        out.append({"path": full, "bytes": st.getLen()})
    return sorted(out, key=lambda f: f["path"])


def _cycle_id(files: list[dict]) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f"{f['path']}:{f['bytes']}\n".encode())
    return h.hexdigest()[:12]


def _heal_unpublished_snapshots(cfg: PipelineConfig,
                                ledger: FileLedger) -> int:
    """Close the crash window between the ledger commit and the
    snapshot publish: if the newest committed cycle is not the cycle
    the sinks' current snapshots carry, republish them now so pinned
    readers see the committed data.  Returns sinks republished."""
    from ..sinks.maintenance import publish_snapshot, read_snapshot
    live = [e for e in ledger.entries() if not e.get("expired")]
    if not live:
        return 0
    last = max(live, key=lambda e: e["committed_at"])["cycle_id"]
    healed = 0
    for sink_name in cfg.routes.all_sinks():
        p = cfg.sink_cfg(sink_name).path
        snap = read_snapshot(p)
        if os.path.isdir(p) and (snap is None or snap.get("cycle") != last):
            publish_snapshot(p, run_id=last,
                             extra={"sink": sink_name, "cycle": last})
            healed += 1
    return healed


def run_pipeline_incremental(spark: SparkSession, cfg: PipelineConfig,
                             ledger_dir: str | None = None,
                             fail_before_commit: bool = False) -> dict:
    """One ingest cycle: discover new files, run the full parse ->
    enrich -> route -> fan-out over ONLY them, append under
    ``cycle=<id>`` partitions, commit the ledger, publish one snapshot
    version per sink.  Returns cycle metrics, or
    ``{"status": "no_new_data"}`` when the ledger already covers every
    input file.

    ``fail_before_commit`` simulates a kill after the sink writes but
    before the ledger commit (for idempotent-retry tests)."""
    ledger = FileLedger(ledger_dir or os.path.join(cfg.out_dir,
                                                   "_ingest_ledger"))
    all_files = list_input_files(spark, cfg.tokens_path)
    seen = ledger.processed_files()
    new = [f for f in all_files if f["path"] not in seen]
    if not new:
        healed = _heal_unpublished_snapshots(cfg, ledger)
        return {"status": "no_new_data",
                "cycles": len(ledger.committed_cycles()),
                "files_total": len(all_files),
                "snapshots_healed": healed}
    cycle = _cycle_id(new)
    # orphan vacuum: cycle dirs of a crashed cycle that was superseded
    # by new arrivals (its retry computes a different id).  Pinned
    # readers never saw them; this reclaims the bytes.
    keep = ledger.committed_cycles() | {cycle}
    drop_partitions(cfg, "cycle", lambda c: c not in keep)

    df = (spark.read.option("basePath", cfg.tokens_path)
          .parquet(*[f["path"] for f in new]))
    lineage = build_lineage(spark, cfg, df=df).withColumn("cycle",
                                                          F.lit(cycle))
    # size the fan-out strategy by the increment, not the whole table
    metrics = _process_units(lineage, cfg, "cycle", [cycle],
                             input_bytes=sum(f["bytes"] for f in new))[cycle]

    if fail_before_commit:
        return {"status": "killed", "cycle_id": cycle}

    ledger.commit_cycle(cycle, new, metrics)
    from ..sinks.maintenance import publish_snapshot
    for sink_name in cfg.routes.all_sinks():
        publish_snapshot(cfg.sink_cfg(sink_name).path, run_id=cycle,
                         extra={"sink": sink_name, "cycle": cycle})
    return {"status": "complete", "cycle_id": cycle,
            "files_processed": len(new), "rows_in": metrics["rows_in"],
            "rows_routed": metrics["rows_routed"]}


def expire_cycles(cfg: PipelineConfig, keep_last: int = 0,
                  ledger_dir: str | None = None) -> dict:
    """Retention: drop the OUTPUT of all but the newest ``keep_last``
    committed cycles (sink + quarantine ``cycle=<id>`` dirs), mark them
    expired in the ledger (their input files stay recorded, so they are
    never re-ingested), and publish a fresh snapshot version per sink
    so the CURRENT snapshot never lists the dropped files.  Older
    pinned snapshot versions naturally dangle — reported loud by
    ``verify_snapshot``/``read_pinned``, the expire_snapshots contract.

    The 100-TB retention story: logs age out of the serving sinks on a
    schedule while the ingest ledger (O(cycles) metadata) remembers
    what was processed forever."""
    ledger = FileLedger(ledger_dir or os.path.join(cfg.out_dir,
                                                   "_ingest_ledger"))
    live = [e for e in ledger.entries() if not e.get("expired")]
    live.sort(key=lambda e: e["committed_at"])
    drop = {e["cycle_id"] for e in
            (live[:-keep_last] if keep_last > 0 else live)}
    if not drop:
        return {"expired_cycles": [], "dirs_removed": 0}
    removed = drop_partitions(cfg, "cycle", drop.__contains__)
    ledger.mark_expired(drop)
    survivors = [e["cycle_id"] for e in ledger.entries()
                 if not e.get("expired")]
    from ..sinks.maintenance import publish_snapshot
    for sink_name in cfg.routes.all_sinks():
        p = cfg.sink_cfg(sink_name).path
        if os.path.isdir(p):
            publish_snapshot(p, run_id=f"expire-{len(drop)}",
                             extra={"sink": sink_name,
                                    # newest surviving cycle: keeps the
                                    # no_new_data heal check stable
                                    "cycle": survivors[-1] if survivors
                                             else None,
                                    "expired_cycles": sorted(drop)})
    return {"expired_cycles": sorted(drop), "dirs_removed": removed}
