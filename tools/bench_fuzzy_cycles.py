#!/usr/bin/env python
"""Fuzzy incremental-dedup scale proof: per-cycle cost tracks the
INCREMENT while the committed history grows.

The exact ingest path has this proof
(python3 perfbench/run.py --workload incremental_cycles);
the fuzzy path adds per-cycle state (survivor band signatures) and a
cross-history candidate join whose cost COULD silently grow with the
number of committed cycles.  This bench runs N same-sized increments —
each containing fresh docs plus planted near-duplicates of EARLIER
cycles' docs, so the cross-history MinHash candidates and the history
corpus fetch do real work every cycle — and reports per-cycle wall,
appended rows, dropped rows, and the history size at cycle start.
Flat walls over cycles 2..N (history 1x -> (N-1)x) are the claim.

Usage: python tools/bench_fuzzy_cycles.py [n_cycles] [sf] [--fresh-jvm]
One JSON line per cycle + one summary line.

``--fresh-jvm`` runs every cycle in its own subprocess (new Spark
session), separating true history-size effects from same-JVM session
aging (shuffle-dir accumulation, listener state); internally the
parent re-invokes this script with ``--one-cycle WORK_DIR C``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cpu_probe import effective_cores  # noqa: E402


def _write_batch(spark, toks, n_cycles: int, c: int, in_dir: str) -> None:
    """Append cycle ``c``'s input files: a deterministic 1/n_cycles
    slice plus ~5% planted near-dups of the PREVIOUS cycle's docs (two
    tokens appended: 4-gram Jaccard ~0.98, far above the 0.4
    threshold) — these must be caught by the cross-HISTORY fuzzy
    check, not in-cycle CC."""
    from pyspark.sql import functions as F
    from opentelemetry_collector_contrib_spark.datapipe.hashing import (
        portable_hash)

    slice_col = portable_hash(
        F.concat(F.lit("cyc:"), F.col("doc_id"))) % n_cycles
    batch = toks.filter(slice_col == c)
    if c > 0:
        prev = toks.filter(slice_col == c - 1)
        dups = (prev.filter(
            portable_hash(F.concat(F.lit(f"pl{c}:"), F.col("doc_id")))
            % 20 == 0)
            .withColumn("doc_id", F.concat(F.col("doc_id"),
                                           F.lit(f"~dup{c}")))
            .withColumn("tokens",
                        F.concat(F.col("tokens"),
                                 F.array(F.lit(1), F.lit(2)))))
        batch = batch.unionByName(dups.select(*batch.columns))
    batch.write.mode("append").parquet(in_dir)


def _run_cycle(work: str, n_cycles: int, c: int, sf: float) -> dict:
    """One full cycle (batch write + ingest) in THIS process."""
    from opentelemetry_collector_contrib_spark import datagen
    from opentelemetry_collector_contrib_spark.session import get_spark
    from opentelemetry_collector_contrib_spark.datapipe.incremental_dedup \
        import FileLedger, run_fuzzy_dedup_ingest_cycle

    d = datagen.ensure_sf(sf)
    spark = get_spark(app_name=f"bench-fuzzy-c{c}")
    toks = spark.read.parquet(os.path.join(d, "tokens.parquet"))
    in_dir = os.path.join(work, "tokens")
    out_dir = os.path.join(work, "corpus")
    _write_batch(spark, toks, n_cycles, c, in_dir)
    ledger = FileLedger(os.path.join(out_dir, "_dedup_ledger"))
    hist_docs = sum(e.get("rows_appended", 0) for e in ledger.entries())
    metrics: dict = {}
    t0 = time.time()
    out = run_fuzzy_dedup_ingest_cycle(spark, in_dir, out_dir,
                                       threshold=0.4, k_gram=4,
                                       metrics_out=metrics)
    wall = round(time.time() - t0, 3)
    return {"cycle": c + 1, "wall_s": wall,
            "rows_in": out.get("rows_in"),
            "rows_appended": out.get("rows_appended"),
            "dropped": (out.get("rows_in", 0)
                        - out.get("rows_appended", 0)),
            "history_docs_at_start": hist_docs, **metrics}


def main() -> None:
    if "--one-cycle" in sys.argv:
        i = sys.argv.index("--one-cycle")
        work, c = sys.argv[i + 1], int(sys.argv[i + 2])
        n_cycles = int(sys.argv[1])
        sf = float(sys.argv[2])
        print("CYCLE:" + json.dumps(_run_cycle(work, n_cycles, c, sf)),
              flush=True)
        return

    n_cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    sf = float(sys.argv[2]) if len(sys.argv) > 2 else 0.1
    fresh = "--fresh-jvm" in sys.argv

    work = tempfile.mkdtemp(prefix="bench_fuzzy_")
    eff0 = effective_cores()
    try:
        results = []
        for c in range(n_cycles):
            if fresh:
                p = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     str(n_cycles), str(sf), "--one-cycle", work, str(c)],
                    capture_output=True, text=True, timeout=1200)
                lines = [ln for ln in p.stdout.splitlines()
                         if ln.startswith("CYCLE:")]
                if not lines:
                    raise RuntimeError(
                        f"cycle {c} subprocess failed:\n{p.stderr[-2000:]}")
                row = json.loads(lines[0][len("CYCLE:"):])
            else:
                row = _run_cycle(work, n_cycles, c, sf)
            results.append(row)
            print(json.dumps(row), flush=True)
        steady = [r["wall_s"] for r in results[1:]]
        print(json.dumps({
            "metric": "fuzzy_cycle_flatness",
            "cycles": n_cycles, "sf": sf, "fresh_jvm": fresh,
            "cycle1_wall_s": results[0]["wall_s"],
            "steady_walls_s": steady,
            "steady_max_over_min": round(max(steady) / min(steady), 3),
            "history_growth_x": n_cycles - 1,
            "eff_cores": eff0, "eff_cores_end": effective_cores(),
        }), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
