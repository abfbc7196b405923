#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                             --trace <0|1>
    python3 perfbench/run.py --steadiness --workload <name> [--runs 5]

A run generates its inputs from ``--seed``, drives the package through
its user entry points in a child process started in its own process
session, checks every operation's output against an independent
reference, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  The line before
it carries diagnostics that are not metrics.  ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones.

The exit code is 0 only when every reference check passed and no
process outlived the run.  Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "opentelemetry_collector_contrib_spark"
WORK = os.path.join(ROOT, ".perfbench")
CHILD_TIMEOUT_S = 170


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def grant() -> float:
    """Effective cores granted right now (``tools/cpu_probe``), in a
    subprocess whose BLAS runs one thread, so that the single-process
    rate the probe divides by uses one core."""
    code = ("import json, sys; sys.path.insert(0, 'tools'); "
            "from cpu_probe import effective_cores; "
            f"print(json.dumps(effective_cores(k={nproc()}, secs=0.25)))")
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=60,
                         check=True).stdout
    return json.loads(out)["eff_cores"]


def session_members(sid: int) -> list[tuple[int, str]]:
    """(pid, command line) of every live process in session ``sid``."""
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != sid or fields[0] == "Z":
                continue
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            out.append((int(p), cmd))
        except (OSError, IndexError, ValueError):
            continue
    return out


def reap(sid: int) -> list[str]:
    """Kill whatever of the run's session survived it (a JVM, a
    ``pyspark.daemon``), wait until it is gone, and name it."""
    left = session_members(sid)
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while session_members(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    return [cmd[:120] for _, cmd in left]


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One run in a fresh process session; returns the parsed child
    result plus hygiene fields.  Inputs, outputs and Spark local dirs
    are deleted afterwards; the span file of a traced run is kept under
    ``.perfbench/traces``."""
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=WORK)
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    # every scratch file of the run, Python's and the JVM's, stays in it
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    t0 = time.monotonic()
    proc = None
    try:
        try:
            before = grant()
            with open(os.path.join(run_dir, "child.log"), "wb") as log:
                proc = subprocess.Popen(
                    [sys.executable, os.path.join(HERE, "child.py"),
                     workload, str(seed), str(seconds), str(trace), run_dir,
                     result],
                    cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                    start_new_session=True)
                try:
                    proc.wait(timeout=CHILD_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    pass
        finally:
            if proc is not None and proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            leaked = reap(proc.pid) if proc is not None else []
        after = grant()
        res = {}
        if os.path.exists(result):
            with open(result) as f:
                res = json.load(f)
        else:
            with open(os.path.join(run_dir, "child.log"), "rb") as f:
                res["problems"] = [f"child exited {proc.returncode}: "
                                   + f.read()[-2000:].decode(errors="replace")]
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(
                WORK, "traces", f"{workload}-seed{seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res.update(rc=proc.returncode, leaked=leaked, grant_before=before,
               grant_after=after)
    res.setdefault("diag", {})["run_wall_s"] = time.monotonic() - t0
    return res


def report(res: dict, trace: int) -> tuple[dict, dict]:
    """(diagnostics, result line) in the benchmark's output contract."""
    s = spec()
    ok = res["rc"] == 0 and "attempted" in res
    if ok and not trace:
        # the result line must hold every end-to-end metric
        missing = [m["name"] for m in s["end_to_end"]
                   if m["name"] not in res]
        if missing:
            res.setdefault("problems", []).append(f"not measured: {missing}")
            ok = False
    attempted = max(res.get("attempted", 1), 1)
    # a process left behind counts as one more failed operation
    failed = res.get("failed", 1) + len(res["leaked"])
    failed = min(max(failed, 0 if ok else 1), attempted)
    if trace:
        layers = res.get("layers", {})
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0),
                               "unit": m["unit"]} for m in s["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res[m["name"]], "unit": m["unit"]}
                   for m in s["end_to_end"] if m["name"] in res}
    diag = {"failed_op_ratio": {"value": failed / attempted,
                                "unit": "ratio"},
            "peak_rss_mb": {"value": res.get("peak_rss_mb"), "unit": "MiB"},
            "problems": res.get("problems", []),
            "leaked_processes": res["leaked"],
            "grant_eff_cores": [res["grant_before"], res["grant_after"]],
            "nproc": nproc(), **res.get("diag", {})}
    line = {"correct": ok and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}
    return diag, line


def steadiness(workload: str, runs: int, seconds: float, first_seed: int
               ) -> int:
    """Two sets of ``runs`` runs of the same commit.  Per end-to-end
    metric: each set's median and quartiles, its spread (interquartile
    distance over median) against the metric's bound, and whether set B's
    median is within the bound of set A's.  Also prints what made earlier
    benchmarks noisy: short passes, thin tails, input generation, and
    task slots against cores."""
    s = spec()
    sets = []
    for k in range(2):
        rows = []
        for i in range(runs):
            seed = first_seed + k * runs + i
            diag, line = report(run_once(workload, seed, seconds, 0), 0)
            rows.append((diag, line))
            print(json.dumps({"set": "AB"[k], "seed": seed, **line,
                              "diag": diag}), flush=True)
        sets.append(rows)
    agree_all = True
    print(f"\n{workload}: {runs} runs per set, {seconds:g} s each")
    print(f"{'metric':28} {'set':3} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}  verdict")
    for m in s["end_to_end"]:
        name, bound = m["name"], m["bound"]
        meds = []
        for k, rows in enumerate(sets):
            vals = [ln["metrics"][name]["value"] for _, ln in rows
                    if name in ln["metrics"]]
            if len(vals) < 2:
                print(f"{name:28} {'AB'[k]:3} too few values")
                agree_all = False
                meds.append(None)
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            ok = spread <= bound
            agree_all &= ok
            meds.append(med)
            print(f"{name:28} {'AB'[k]:3} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                  f"{spread:7.3f} {bound:6.2f}  "
                  f"{'ok' if ok else 'SPREAD > BOUND'}")
        if None not in meds:
            a, b = meds
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            ok = worse <= bound
            agree_all &= ok
            print(f"{name:28} {'B/A':3} {'':>10} {'':>10} {'':>10} "
                  f"{worse:7.3f} {bound:6.2f}  "
                  f"{'sets agree' if ok else 'SETS DISAGREE'}")
    diags = [d for rows in sets for d, _ in rows]
    print("\nnoise sources:")
    walls = [w for d in diags for w in d.get("op_walls", [])]
    print(f"  timed operations per run: "
          f"{sorted({d.get('timed_ops') for d in diags})}; median op wall "
          f"{statistics.median(walls) if walls else float('nan'):.2f} s")
    tails = {(round(d["tail_percentile"], 1), d["tail_beyond"])
             for d in diags if "tail_percentile" in d}
    print(f"  tail percentile / samples beyond: {sorted(tails) or 'none'}")
    gen = [d.get("input_gen_s", 0) for d in diags]
    print(f"  input generation (not in setup_s): median "
          f"{statistics.median(gen):.2f} s")
    k = diags[0].get("slots")
    print(f"  {k} task slots + up to {k} Python workers + the driver on "
          f"{diags[0]['nproc']} cores; granted cores before/after: "
          f"{[d['grant_eff_cores'] for d in diags]}")
    failed = sum(1 for rows in sets for _, ln in rows if not ln["correct"])
    print(f"  runs with a failed check: {failed}")
    print("\nverdict:", "STEADY" if agree_all and not failed else "NOT STEADY")
    return 0 if agree_all and not failed else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steadiness", action="store_true",
                    help="two sets of --runs runs; report agreement")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found next to {HERE}: run from a full "
              f"checkout", file=sys.stderr)
        return 2
    s = spec()
    if args.workload not in {w["name"] for w in s["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    seconds = args.seconds if args.seconds is not None else s["run_seconds"]
    if args.steadiness:
        return steadiness(args.workload, args.runs, seconds, args.seed)
    diag, line = report(run_once(args.workload, args.seed, seconds,
                                 args.trace), args.trace)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
