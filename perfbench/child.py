"""One run of one workload.  ``run.py`` starts this in its own process
session and reads the JSON it writes; nothing here prints the result.

    python3 perfbench/child.py <workload> <seed> <seconds> <trace>
        <run_dir> <result.json>

Load shape: a closed loop from this one driver process.  The next pass
or cycle starts only after the previous one has returned (committed),
like a cron or Airflow job that runs one instance at a time.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing as tr  # noqa: E402

PKG = "opentelemetry_collector_contrib_spark."

# incremental_cycles: a base table, then one small file lands per cycle
INC_BASE_ROWS = 5_000
INC_ROWS = 1_000
# --units, as tools/bench_incremental.py runs it.  A warm cycle took
# 6.3 s at the job's default of 64 on 4 cores (32: 3.7 s, 16: 2.7 s,
# 8: 2.2 s), and a whole run of 12 timed cycles 56-64 s at 8 units.  With
# about 53 s per tokens_curation run, 8 is the largest count whose
# 4 + 22 x 2 runs stay within about 90% of the 3420 s limit
INC_UNITS = 8
# the first few cycles after the base ingest run about a fifth slower
INC_WARMUP_CYCLES = 3
# runs differ by whole-run shifts, not by cycle-to-cycle noise: over ten
# seeds at 2 units, rows over the summed wall of the first 12 cycles spread
# no more than over all 22, and 12 keep the 4 + 22 x 2 runs clear of the
# time limit
INC_MIN_CYCLES = 12
# a tail above p50 with 10 samples beyond it needs 22 cycles (p54.5, the
# upper of the two samples the median averages); longer --seconds get it
TAIL_MIN_CYCLES = 22
INC_TRACED_CYCLES = 6    # traced run: untraced and traced, alternating

# tokens_curation: one table, one fresh output dir per pass
CUR_ROWS = 5_000
CUR_MIN_PASSES = 1


def slots() -> int:
    """Task slots: one core left for the driver and Python workers."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def vm_hwm_kib(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid() -> int | None:
    """The gateway JVM: this process's child named ``java``."""
    me = os.getpid()
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parts = f.read().rsplit(")", 1)
                if parts[0].endswith("(java") and \
                        int(parts[1].split()[1]) == me:
                    return int(p)
            except (OSError, IndexError, ValueError):
                continue
    return None


def peak_rss_mb() -> float:
    jvm = jvm_pid()
    kib = vm_hwm_kib("self") + (vm_hwm_kib(jvm) if jvm else 0)
    return kib / 1024


def tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with ten samples
    beyond it.  It lies above the median only from 22 samples on."""
    s = sorted(walls)
    n = len(s)
    if n < TAIL_MIN_CYCLES:
        raise ValueError(f"{n} samples: no tail above p50 with 10 beyond")
    return s[n - 11], 100.0 * (n - 10) / n


def start_session(run_dir: str, trace: bool):
    from opentelemetry_collector_contrib_spark.session import get_spark
    extra = None
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + ev,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    return get_spark(app_name="perfbench", cpus=slots(), extra_conf=extra)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit, so that nothing of the
    run outlives this process."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()     # the JVM exits when stdin closes
        gateway.proc.wait(timeout=60)


class Ops:
    """Walls and reference-check outcomes of the operations of one run.
    Whole-run checks (base ingest, warm-up, final totals) count as one
    attempted operation each."""

    def __init__(self):
        self.walls: list[float] = []
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def record(self, wall: float, problems: list[str]) -> None:
        self.walls.append(wall)
        self.checked(problems)

    def checked(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:5])


# ---------------------------------------------------------------- incremental

class Incremental:
    def __init__(self, run_dir: str, seed: int, seconds: float, trace: bool):
        self.run_dir, self.seconds, self.trace = run_dir, seconds, trace
        self.table = os.path.join(run_dir, "in", "tokens")
        self.out = os.path.join(run_dir, "out")
        os.makedirs(self.table)
        self.base = inputs.write_tokens(
            seed, os.path.join(self.table, "base.parquet"), INC_BASE_ROWS)
        self.pods = inputs.write_pods(
            seed, os.path.join(run_dir, "in", "pods.parquet"))
        # the traced run adds one probe cycle to its alternating pairs
        n = INC_WARMUP_CYCLES + (2 * INC_TRACED_CYCLES + 1 if trace else
                                 max(INC_MIN_CYCLES, int(seconds * 2)))
        self.staged = inputs.write_increments(
            seed, os.path.join(run_dir, "in", "staged"), n, INC_ROWS)
        self.routed = {p: checks.routed_rows(p) for p in self.staged}
        self.landed: list[str] = [self.base]
        self.ops = Ops()

    def cfg(self):
        from opentelemetry_collector_contrib_spark.plans.pipeline import (
            PipelineConfig)
        return PipelineConfig(tokens_path=self.table, pods_path=self.pods,
                              out_dir=self.out, n_units=INC_UNITS)

    def cycle(self, spark) -> tuple[float, dict, str]:
        """Land the next staged file, run one ingest cycle.  The wall runs
        from the file landing to the ledger commit + snapshot publish."""
        from opentelemetry_collector_contrib_spark.plans.incremental import (
            run_pipeline_incremental)
        src = self.staged[len(self.landed) - 1]
        dst = os.path.join(self.table, os.path.basename(src))
        t0 = time.perf_counter()
        os.rename(src, dst)
        r = run_pipeline_incremental(spark, self.cfg())
        wall = time.perf_counter() - t0
        self.landed.append(dst)
        return wall, r, src

    def check_cycle(self, r: dict, src: str) -> list[str]:
        want = {"status": "complete", "rows_in": INC_ROWS,
                "rows_routed": self.routed[src]}
        return [f"cycle {k}: want {v} got {r.get(k)}"
                for k, v in want.items() if r.get(k) != v]

    def final_checks(self) -> list[str]:
        ledger = os.path.join(self.out, "_ingest_ledger", "ledger.jsonl")
        with open(ledger) as f:
            cycles = {json.loads(line)["cycle_id"] for line in f}
        problems = []
        if len(cycles) != len(self.landed):
            problems.append(f"ledger has {len(cycles)} cycles, "
                            f"{len(self.landed)} files landed")
        problems += checks.diff_counts(
            "sink totals", checks.routed_reference(self.landed),
            checks.written_counts(self.out))
        return problems + checks.token_sample_problems(self.out,
                                                       self.landed)

    def run(self) -> dict:
        from opentelemetry_collector_contrib_spark.plans.incremental import (
            run_pipeline_incremental)
        t0 = time.perf_counter()
        spark = start_session(self.run_dir, self.trace)
        try:
            t_start = time.perf_counter() - t0
            base = run_pipeline_incremental(spark, self.cfg())
            rows = base.get("rows_in")
            self.ops.checked([] if rows == INC_BASE_ROWS else
                             [f"base ingest rows_in {rows}"])
            for _ in range(INC_WARMUP_CYCLES):
                _, r, src = self.cycle(spark)
                self.ops.checked(self.check_cycle(r, src))
            setup = time.perf_counter() - t0
            if self.trace:
                res = self.traced(spark, t_start, setup - t_start)
            else:
                res = self.timed(spark)
            res["peak_rss_mb"] = peak_rss_mb()
        finally:
            stop_session(spark)
        if self.trace:
            res["layers"].update(self.spark_layers())
        self.ops.checked(self.final_checks())
        res["setup_s"] = setup
        return res

    def timed(self, spark) -> dict:
        before = dir_bytes(self.out)[0]
        in_bytes = 0
        t_begin = time.perf_counter()
        while len(self.landed) <= len(self.staged) and (
                len(self.ops.walls) < INC_MIN_CYCLES
                or time.perf_counter() - t_begin < self.seconds):
            wall, r, src = self.cycle(spark)
            in_bytes += os.path.getsize(self.landed[-1])
            self.ops.record(wall, self.check_cycle(r, src))
        walls = self.ops.walls
        # diagnostics, not metrics: every workload must report every
        # metric, and tokens_curation has one pass per run, no cycles
        diag = {"cycle_p50_s": {"value": statistics.median(walls),
                                "unit": "s"},
                "timed_ops": len(walls),
                "op_walls": [round(w, 3) for w in walls]}
        if len(walls) >= TAIL_MIN_CYCLES:
            value, pct = tail(walls)
            diag.update(cycle_tail_s={"value": value, "unit": "s"},
                        tail_percentile=pct, tail_beyond=10)
        return {
            "seq_per_s": INC_ROWS * len(walls) / sum(walls),
            "write_bytes_per_input_byte":
                (dir_bytes(self.out)[0] - before) / in_bytes,
            "diag": diag,
        }

    # ---- traced run

    def traced(self, spark, start_s: float, warmup_s: float) -> dict:
        self.tracer = t = tr.Tracer(spark)
        layers = {"session.start_s": start_s, "session.warmup_s": warmup_s}
        chosen: list[str] = []

        def after(name, args, out):
            if name == "plans.fanout_strategy":
                chosen.append(out)
        targets = {
            PKG + "plans.incremental:list_input_files": "plans.discover",
            PKG + "plans.incremental:_process_units": "plans.process_units",
            PKG + "plans.pipeline:_auto_fanout_strategy":
                "plans.fanout_strategy",
            PKG + "plans.pipeline:write_sink": "sinks.write",
            PKG + "sinks.maintenance:publish_snapshot": "sinks.publish"}
        # untraced and traced cycles alternate, so that drift over the
        # run does not read as tracing overhead
        self.plain, per = [], []
        for i in range(INC_TRACED_CYCLES):
            with t.op_group(f"plain-{i}"):
                wall, r, src = self.cycle(spark)
            self.plain.append((f"plain-{i}", wall))
            self.ops.record(wall, self.check_cycle(r, src))
            op = f"op-{i}"
            b0, f0 = dir_bytes(self.out)
            with t.wrapped(targets, after=after), t.op_group(op):
                wall, r, src = self.cycle(spark)
            b1, f1 = dir_bytes(self.out)
            self.ops.record(wall, self.check_cycle(r, src))
            files = len([p for p in os.listdir(self.table)
                         if not p.startswith(("_", "."))])
            per.append({"op": op, "wall": wall, "bytes": b1 - b0,
                        "files": f1 - f0, "listed": files,
                        "jobs": t.jobs_in(op)})
        layers.update(self.probe(spark))
        med = statistics.median
        disc = [t.walls(p["op"], "plans.discover")[0] for p in per]
        q = max(1, len(disc) // 4)
        layers.update({
            "plans.fanout_staged": float(chosen[-1] == "staged"),
            "plans.jobs_per_op": med(p["jobs"] for p in per),
            "plans.discover_s": med(disc),
            "plans.discover_first_q_s": statistics.mean(disc[:q]),
            "plans.discover_last_q_s": statistics.mean(disc[-q:]),
            "plans.discover_files": per[-1]["listed"],
            "plans.ledger_bytes": os.path.getsize(os.path.join(
                self.out, "_ingest_ledger", "ledger.jsonl")),
            "sinks.write_s": med(sum(t.walls(p["op"], "sinks.write"))
                                 for p in per),
            "sinks.publish_s": med(sum(t.walls(p["op"], "sinks.publish"))
                                   for p in per),
            "sinks.bytes_written": med(p["bytes"] for p in per),
            "sinks.files_written": med(p["files"] for p in per),
            "trace.unattributed_s": med(
                p["wall"] - sum(t.walls(p["op"], top_level=True))
                for p in per),
            "trace.overhead_share": med(p["wall"] for p in per)
            / med(w for _, w in self.plain) - 1,
        })
        return {"layers": layers}

    def probe(self, spark) -> dict:
        """One more cycle, in which each lazy layer of the lineage the
        program builds (scan -> parse -> enrich -> route -> fan-out) is
        forced with a noop write as it is returned.  Self time =
        cumulative wall minus the previous layer's."""
        from pyspark.sql import functions as F
        t = self.tracer
        cum: dict[str, float] = {}
        kept = {}

        def forced(name, df):
            # the faster of two forcings: one slow outlier would otherwise
            # make the next layer's self time negative
            walls = []
            for _ in range(2):
                t1 = time.perf_counter()
                tr.force(df)
                walls.append(time.perf_counter() - t1)
            cum[name] = min(walls)
            kept[name] = df

        def before(name, args):
            if name == "plans.process_units":
                cum["units_start"] = time.perf_counter()
            elif name == "sinks.branches":
                # the persisted (or staged and re-read) routed rows every
                # sink branch reads: forcing them builds the cache once
                with t.span("plans.fanout"):
                    t1 = time.perf_counter()
                    tr.force(args[0])
                cum["plans.fanout"] = (t1 - cum["units_start"]
                                       + time.perf_counter() - t1)
            elif "sources.scan" not in cum:
                # the first regex parse: its input is the scan of the
                # cycle's new files
                forced("sources.scan", args[-1])

        def after(name, args, out):
            if name in ("operators.parse",
                        "operators.enrich", "operators.route"):
                forced(name, out)

        targets = {
            PKG + "operators.regex_parser:RegexParser.apply":
                "operators.regex",
            PKG + "plans.pipeline:kv_extract": "operators.parse",
            PKG + "plans.pipeline:broadcast_enrich": "operators.enrich",
            PKG + "plans.pipeline:with_route": "operators.route",
            PKG + "plans.incremental:_process_units": "plans.process_units",
            PKG + "plans.pipeline:_write_sink_branches": "sinks.branches"}
        with t.wrapped(targets, before=before, after=after), \
                t.op_group("probe"):
            wall, r, src = self.cycle(spark)
        self.ops.record(wall, self.check_cycle(r, src))
        with t.op_group("probe-count"):
            c = kept["operators.route"].agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum((~F.col("parsed")).cast("long")).alias("miss"),
                F.sum(F.col("pod_ip").isNotNull().cast("long")).alias("ip"),
                F.sum((F.col("pod_ip").isNotNull()
                       & F.col("pod_name").isNotNull()).cast("long"))
                .alias("hit"),
                F.sum(F.size("sinks")).alias("routed")).first()
        scan = cum["sources.scan"]
        return {
            "sources.scan_s": scan,
            "sources.input_rows": c["rows"],
            "sources.input_bytes": os.path.getsize(self.landed[-1]),
            "operators.parse_s": cum["operators.parse"] - scan,
            "operators.parse_miss_ratio": c["miss"] / c["rows"],
            "operators.enrich_s": cum["operators.enrich"]
            - cum["operators.parse"],
            "operators.enrich_hit_ratio": c["hit"] / max(c["ip"], 1),
            "operators.route_s": cum["operators.route"]
            - cum["operators.enrich"],
            "operators.route_fanout": c["routed"] / c["rows"],
            "plans.fanout_s": cum["plans.fanout"] - cum["operators.route"],
        }

    def spark_layers(self) -> dict:
        """Task metrics of the untraced cycles, median per cycle."""
        m = tr.task_metrics(os.path.join(self.run_dir, "eventlog"))
        per = [tr.group_sum(m, group=op) for op, _ in self.plain]
        med = statistics.median
        layers = {k: med(tr.spark_layer(g)[k] for g in per)
                  for k in tr.spark_layer({})}
        layers["plans.cycle_overhead_s"] = med(
            wall - g.get("executor_run_ms", 0) / 1e3 / slots()
            for (_, wall), g in zip(self.plain, per))
        # Python-worker time of one of the two parse forcings
        layers["operators.parse_python_s"] = tr.group_sum(
            m, group="probe", desc="operators.parse").get(
                "python_ms", 0) / 2e3
        self.tracer.dump(os.path.join(self.run_dir, "spans.jsonl"))
        return layers


# ------------------------------------------------------------------ curation

class Curation:
    def __init__(self, run_dir: str, seed: int, seconds: float, trace: bool):
        self.run_dir, self.seconds, self.trace = run_dir, seconds, trace
        os.makedirs(os.path.join(run_dir, "in"))
        self.tokens = inputs.write_tokens(
            seed, os.path.join(run_dir, "in", "tokens.parquet"), CUR_ROWS)
        self.out = os.path.join(run_dir, "out")
        self.ops = Ops()
        self.funnels: list[dict] = []

    def one_pass(self, spark, out_dir: str, tracer: tr.Tracer | None = None):
        """One ``jobs/run_curation.py --tokens-native`` pass; with a
        ``tracer``, the final write is its ``sinks.write`` span."""
        from opentelemetry_collector_contrib_spark.datapipe.token_curation \
            import tokens_curation_pipeline
        t0 = time.perf_counter()
        toks = spark.read.parquet(self.tokens)
        out, obs = tokens_curation_pipeline(
            toks, minhash_threshold=0.4, span_n=13, remove_spans=True,
            val_permille=100)
        with tracer.span("sinks.write") if tracer else \
                contextlib.nullcontext():
            out.write.mode("overwrite").partitionBy("split").parquet(out_dir)
        wall = time.perf_counter() - t0
        funnel = {stage: int(o.get["n"]) for stage, o in obs.items()}
        return wall, funnel

    def check(self, out_dir: str, funnel: dict) -> list[str]:
        self.funnels.append(funnel)
        problems = checks.curation_problems(self.tokens, out_dir)
        if funnel != self.funnels[0]:
            problems.append(f"funnel {funnel} != first pass "
                            f"{self.funnels[0]}")
        if funnel.get("input") != CUR_ROWS:
            problems.append(f"funnel input {funnel.get('input')}")
        n_out = checks.row_count(out_dir)
        if n_out != funnel.get("fuzzy_unique"):
            problems.append(f"{n_out} rows written, funnel says "
                            f"{funnel.get('fuzzy_unique')}")
        return problems

    def run(self) -> dict:
        t0 = time.perf_counter()
        spark = start_session(self.run_dir, self.trace)
        try:
            t_start = time.perf_counter() - t0
            warm = os.path.join(self.out, "warm")
            _, funnel = self.one_pass(spark, warm)
            setup = time.perf_counter() - t0
            self.ops.checked(self.check(warm, funnel))
            shutil.rmtree(warm)
            if self.trace:
                res = self.traced(spark, t_start, setup - t_start)
            else:
                res = self.timed(spark)
            res["peak_rss_mb"] = peak_rss_mb()
        finally:
            stop_session(spark)
        if self.trace:
            res["layers"].update(self.spark_layers())
        res["setup_s"] = setup
        return res

    def timed(self, spark) -> dict:
        ratios = []
        in_bytes = os.path.getsize(self.tokens)
        t_begin = time.perf_counter()
        while (len(self.ops.walls) < CUR_MIN_PASSES
               or time.perf_counter() - t_begin < self.seconds):
            d = os.path.join(self.out, f"p{len(self.ops.walls)}")
            wall, funnel = self.one_pass(spark, d)
            self.ops.record(wall, self.check(d, funnel))
            ratios.append(dir_bytes(d)[0] / in_bytes)
            shutil.rmtree(d)
        walls = self.ops.walls
        return {
            "seq_per_s": CUR_ROWS / statistics.median(walls),
            "write_bytes_per_input_byte": statistics.median(ratios),
            "diag": {"timed_ops": len(walls),
                     "op_walls": [round(w, 3) for w in walls],
                     "funnel": self.funnels[0]},
        }

    # ---- traced run

    def traced(self, spark, start_s: float, warmup_s: float) -> dict:
        self.tracer = t = tr.Tracer(spark)
        plain_dir = os.path.join(self.out, "plain")
        with t.op_group("plain"):
            plain, funnel = self.one_pass(spark, plain_dir)
        self.ops.record(plain, self.check(plain_dir, funnel))
        jobs = t.jobs_in("plain")
        with t.op_group("probe"), t.span("sources.scan") as s:
            tr.force(spark.read.parquet(self.tokens))
        scan = s["end"] - s["start"]

        walls: dict[str, float] = {}
        kept: dict[str, object] = {}

        def after(name, args, out):
            # force each lazy layer's output inside its span; the LSH
            # input (the exact-dedup survivors) is forced first
            if name == "datapipe.lsh":
                with t.span("datapipe.exact_dedup") as s:
                    tr.force(args[0])
                walls["datapipe.exact_dedup"] = s["end"] - s["start"]
            if name == "datapipe.candidates":
                kept["candidates"] = out
                return
            t1 = time.perf_counter()
            tr.force(out)
            walls[name] = time.perf_counter() - t1
            kept[name] = out

        mod = PKG + "datapipe."
        targets = {mod + "token_quality:token_quality": "datapipe.quality",
                   mod + "dedup:minhash_tokens_lsh": "datapipe.lsh",
                   mod + "dedup:lsh_candidate_edges_star":
                       "datapipe.candidates",
                   mod + "cluster:connected_components": "datapipe.cc",
                   mod + "cluster:cluster_survivors": "datapipe.survivors",
                   mod + "dedup:remove_dup_spans": "datapipe.span_removal"}
        traced_dir = os.path.join(self.out, "traced")
        with t.op_group("op"), t.wrapped(targets, after=after):
            wall, funnel = self.one_pass(spark, traced_dir, tracer=t)
        self.ops.record(wall, self.check(traced_dir, funnel))
        written, files = dir_bytes(traced_dir)
        with t.op_group("count"):
            cand = kept["candidates"].count()
            verified = kept["datapipe.lsh"].count()
        return {"layers": {
            "session.start_s": start_s, "session.warmup_s": warmup_s,
            "sources.scan_s": scan,
            "sources.input_rows": funnel["input"],
            "sources.input_bytes": os.path.getsize(self.tokens),
            "plans.jobs_per_op": jobs,
            "sinks.write_s": t.walls("op", "sinks.write")[0],
            "sinks.bytes_written": written, "sinks.files_written": files,
            "datapipe.quality_s": walls["datapipe.quality"],
            "datapipe.exact_dedup_s": walls["datapipe.exact_dedup"]
            - walls["datapipe.quality"],
            "datapipe.lsh_s": walls["datapipe.lsh"],
            "datapipe.candidate_pairs": cand,
            "datapipe.verified_pairs": verified,
            "datapipe.verify_yield": verified / max(cand, 1),
            "datapipe.pairs_per_doc": cand / max(funnel["exact_unique"], 1),
            "datapipe.cc_s": t.walls("op", "datapipe.cc")[0]
            - walls["datapipe.lsh"],
            "datapipe.span_removal_s": walls["datapipe.span_removal"]
            - walls["datapipe.survivors"],
            **{f"datapipe.funnel.{k}": v for k, v in funnel.items()},
            "trace.unattributed_s":
                wall - sum(t.walls("op", top_level=True)),
            "trace.overhead_share": wall / plain - 1,
        }}

    def spark_layers(self) -> dict:
        m = tr.task_metrics(os.path.join(self.run_dir, "eventlog"))
        layers = tr.spark_layer(tr.group_sum(m, group="plain"))
        py = {d: tr.group_sum(m, group="op", desc=d).get("python_ms", 0) / 1e3
              for d in ("datapipe.quality", "datapipe.span_removal")}
        layers["datapipe.quality_python_s"] = py["datapipe.quality"]
        layers["datapipe.span_python_s"] = py["datapipe.span_removal"]
        self.tracer.dump(os.path.join(self.run_dir, "spans.jsonl"))
        return layers


WORKLOADS = {"incremental_cycles": Incremental, "tokens_curation": Curation}


def main(argv: list[str]) -> None:
    workload, seed, seconds, trace, run_dir, result = argv
    t0 = time.perf_counter()
    w = WORKLOADS[workload](run_dir, int(seed), float(seconds),
                            trace == "1")
    gen_s = time.perf_counter() - t0
    res = w.run()
    res["attempted"] = w.ops.attempted
    res["failed"] = w.ops.failed
    res["problems"] = w.ops.problems
    res.setdefault("diag", {})["input_gen_s"] = gen_s
    res["diag"]["slots"] = slots()
    res["diag"]["child_s"] = time.perf_counter() - t0
    with open(result, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1:])
