"""Tracing for the benchmark's separate traced run.

Spans are recorded from outside the program: the benchmark wraps the
public functions of each layer (module attributes looked up at call
time), sets ``sc.setJobDescription(<layer.call>)`` while a wrapped call
runs, and keeps every span in memory until the run ends.  Spark's own
task metrics come from the run's uncompressed event log and are
attributed to the job group (one per pass or cycle) and job description
(one per layer call) that launched them.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import time
from collections import defaultdict


def force(df) -> None:
    """Run ``df``'s whole lineage without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """In-memory spans: name, start, end, parent, op id."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(prev)

    @contextlib.contextmanager
    def op_group(self, op_id: str):
        """All Spark jobs inside belong to job group ``op_id``."""
        self.op = op_id
        self.sc.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setJobDescription(None)
            self.op = None

    def jobs_in(self, op_id: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(op_id))

    @contextlib.contextmanager
    def wrapped(self, targets: dict[str, str], before=None, after=None):
        """Patch ``module:attr`` (or ``module:Class.attr``) -> span name
        for the duration.  ``before(name, args)`` and ``after(name, args,
        result)``, when given, run inside the span; the traced run uses
        them to force a lazy layer's input or output."""
        saved = []
        for target, name in targets.items():
            mod_name, path = target.split(":")
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, before, after))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, name, before, after):
        def call(*args, **kwargs):
            with self.span(name):
                if before is not None:
                    before(name, args)
                out = fn(*args, **kwargs)
                if after is not None:
                    after(name, args, out)
                return out
        return call

    def walls(self, op_id: str, name: str | None = None,
              top_level: bool = False) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["op"] == op_id and (name is None or s["name"] == name)
                and (not top_level or s["parent"] is None)]

    def dump(self, path: str) -> None:
        """One JSON line per span; times are ``time.perf_counter``."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


PYTHON_TIME = "time to run Python workers"   # SQL metric, ms per task


def task_metrics(event_dir: str) -> dict[tuple, dict]:
    """(job group, job description) -> summed task metrics, from the
    event log(s) under ``event_dir``."""
    stage_key: dict[int, tuple] = {}
    out: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(f"{event_dir}/*"):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    key = (props.get("spark.jobGroup.id"),
                           props.get("spark.job.description"))
                    for sid in e["Stage IDs"]:
                        stage_key[sid] = key
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics")
                    if not m:
                        continue
                    acc = out[stage_key.get(e["Stage ID"], (None, None))]
                    acc["tasks"] += 1
                    acc["executor_run_ms"] += m["Executor Run Time"]
                    acc["gc_ms"] += m["JVM GC Time"]
                    acc["shuffle_write_bytes"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                    acc["spill_bytes"] += (m["Memory Bytes Spilled"]
                                           + m["Disk Bytes Spilled"])
                    for a in e["Task Info"].get("Accumulables", []):
                        if a.get("Name") == PYTHON_TIME:
                            acc["python_ms"] += float(a.get("Update") or 0)
    return {k: dict(v) for k, v in out.items()}


def group_sum(metrics: dict[tuple, dict], group: str | None = None,
              desc: str | None = None) -> dict:
    """Sum metrics over keys matching ``group`` and/or ``desc``."""
    tot: dict[str, float] = defaultdict(float)
    for (g, d), m in metrics.items():
        if (group is None or g == group) and (desc is None or d == desc):
            for k, v in m.items():
                tot[k] += v
    return dict(tot)


def spark_layer(tot: dict) -> dict:
    """The ``spark.*`` per-layer metrics from one summed metric dict."""
    return {"spark.executor_run_s": tot.get("executor_run_ms", 0) / 1e3,
            "spark.gc_s": tot.get("gc_ms", 0) / 1e3,
            "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0),
            "spark.spill_bytes": tot.get("spill_bytes", 0),
            "spark.python_s": tot.get("python_ms", 0) / 1e3}
