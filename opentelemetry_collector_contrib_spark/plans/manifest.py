"""Per-partition lineage + metrics checkpoint manifest — the offsets_file
analog (receiver/stanzareceiver/config.go:26: stanza persists file read
offsets so a restarted collector resumes where it left off).

Batch re-expression (north rule: "resumable from checkpoint with
per-partition lineage + metrics"): the input table is processed in
*units* (here: hash buckets of doc_id — stable under any input file
layout; for a partitioned Iceberg table the unit would be the partition
value).  Each completed unit appends one manifest row:

    (run_id, unit, rows_in, rows_routed, per-sink counts, wall_ms, status)

A resumed run reads the manifest, and processes only units without a
'done' row — the read-side anti-join.  Sink writes go to per-unit
``unit=K`` subdirectories under dynamic overwrite, so completed units
are never rewritten (idempotent).

Resume granularity: ``run_pipeline`` writes ALL pending units in one
pass per sink and records them only after the last sink is written,
so a run killed part-way records no unit and re-runs whole.  Only a
run split on purpose (the ``fail_after_units`` test hook) leaves some
units done and others pending.  An ingest cycle (plans/incremental.py)
does not use this manifest: its FileLedger row is the cycle's commit
record and carries the same counts.

Scale notes: the manifest is O(units) rows (thousands), appended when
a run's writes finish.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class RunManifest:
    def __init__(self, manifest_dir: str, run_id: str | None = None):
        self.dir = manifest_dir
        self.path = os.path.join(manifest_dir, "manifest.jsonl")
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(manifest_dir, exist_ok=True)

    # -- write side ---------------------------------------------------------
    def record(self, unit: int, metrics: dict) -> None:
        row = {"run_id": self.run_id, "unit": unit, "status": "done",
               "completed_at": time.time(), **metrics}
        with open(self.path, "a") as f:
            f.write(json.dumps(row) + "\n")

    # -- read side ----------------------------------------------------------
    def completed_units(self) -> set[int]:
        done: set[int] = set()
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    r = json.loads(line)
                    if r.get("status") == "done":
                        done.add(r["unit"])
        return done

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f]

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self.entries() or [],
            schema=("run_id string, unit long, status string, "
                    "completed_at double, rows_in long, rows_routed long, "
                    "wall_ms long, sink_counts string, sink_dropped string"))


def unit_column(n_units: int, key: str = "doc_id") -> F.Column:
    """Stable processing-unit id: hash-bucket of the row key.  Survives
    any physical re-layout of the input (unlike spark partition ids)."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_units)).cast("int")
