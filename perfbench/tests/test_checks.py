"""The benchmark's own tests: each reference check must catch a one-row
fault injected into otherwise correct output, and a process left behind
by a run must be found, killed and counted.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from child import tail  # noqa: E402


def _write_sinks(inp: str, out: str) -> None:
    """Correct sink output for ``inp``: every routed row, tokens as read,
    in the ``sinks/<sink>/cycle=<id>/unit=<k>`` layout."""
    sev = checks._severity_case(
        f"regexp_extract(body, '{checks.LINE_RX}', 2)")
    with duckdb.connect() as con:
        t = con.execute(f"""
            WITH raw AS (
              SELECT doc_id, tokens, source,
                     array_to_string(list_transform(tokens, t -> chr(t)), '')
                       AS body
              FROM read_parquet('{inp}'))
            SELECT doc_id, tokens, source,
                   CASE WHEN regexp_matches(body, '{checks.LINE_RX}')
                        THEN {sev} ELSE 'Undefined' END AS severity_text,
                   unnest({checks._route_case()}) AS sink
            FROM raw""").arrow()
    for sink in checks.SINKS:
        part = t.filter(pc.equal(t["sink"], sink)).drop(["sink"])
        d = os.path.join(out, "sinks", sink, "cycle=abc", "unit=0")
        os.makedirs(d)
        pq.write_table(part, os.path.join(d, "part-0.parquet"))


def _sink_file(out: str, sink: str) -> str:
    return os.path.join(out, "sinks", sink, "cycle=abc", "unit=0",
                        "part-0.parquet")


def _sampled_row(path: str) -> int:
    """Index of a row the token sample covers."""
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT min(i) FROM (SELECT row_number() OVER () - 1 AS i, "
            f"doc_id FROM read_parquet('{path}')) "
            f"WHERE hash(doc_id) % {checks.SAMPLE_MOD} = 0").fetchone()[0]


@pytest.fixture
def routed(tmp_path):
    inp = inputs.write_tokens(3, str(tmp_path / "tokens.parquet"), 600)
    out = str(tmp_path / "out")
    _write_sinks(inp, out)
    return inp, out


def _problems(inp: str, out: str) -> list[str]:
    return (checks.diff_counts("sink totals",
                               checks.routed_reference([inp]),
                               checks.written_counts(out))
            + checks.token_sample_problems(out, [inp]))


def test_routed_checks_pass_on_correct_output(routed):
    inp, out = routed
    assert _problems(inp, out) == []
    assert checks.routed_rows(inp) == sum(
        checks.routed_reference([inp]).values())


def test_routed_checks_catch_a_dropped_row(routed):
    inp, out = routed
    f = _sink_file(out, "loki")
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)
    assert any("sink totals" in p for p in _problems(inp, out))


def test_routed_checks_catch_a_changed_token(routed):
    inp, out = routed
    f = _sink_file(out, "sumologic")
    rows = pq.read_table(f).to_pylist()
    i = _sampled_row(f)
    rows[i]["tokens"] = rows[i]["tokens"][:-1] + [rows[i]["tokens"][-1] + 1]
    pq.write_table(pa.Table.from_pylist(rows, pq.read_schema(f)), f)
    problems = _problems(inp, out)
    assert problems == ["sink sumologic: 1 sampled rows token arrays "
                        "changed"]


def test_routed_checks_catch_a_duplicated_row(routed):
    inp, out = routed
    f = _sink_file(out, "default-sink")
    t = pq.read_table(f)
    i = _sampled_row(f)
    pq.write_table(pa.concat_tables([t, t.slice(i, 1)]), f)
    problems = _problems(inp, out)
    assert any("extra or duplicated" in p for p in problems)
    assert any("sink totals" in p for p in problems)


@pytest.fixture
def curated(tmp_path):
    inp = inputs.write_tokens(4, str(tmp_path / "tokens.parquet"), 200)
    rows = pq.read_table(inp).to_pylist()[::3]
    for r in rows:
        r["n_removed"] = 2
        r["tokens"] = r["tokens"][1:-1]
    out = tmp_path / "curated" / "split=train"
    out.mkdir(parents=True)
    return inp, rows, out


def _write_curated(rows: list[dict], out) -> str:
    pq.write_table(pa.Table.from_pylist(rows), str(out / "part-0.parquet"))
    return str(out.parent)


def test_curation_check_passes_on_correct_output(curated):
    inp, rows, out = curated
    assert checks.curation_problems(inp, _write_curated(rows, out)) == []


@pytest.mark.parametrize("fault", ["token", "n_removed", "foreign",
                                   "duplicate", "order", "exact_dup"])
def test_curation_check_catches_one_row_faults(curated, fault):
    inp, rows, out = curated
    r = rows[5]
    if fault == "exact_dup":
        # a second survivor whose input carries survivor r's tokens: every
        # per-row invariant holds, only the exact-dedup one can fail
        table = pq.read_table(inp).to_pylist()
        src = {t["doc_id"]: t for t in table}
        src[rows[6]["doc_id"]]["tokens"] = src[r["doc_id"]]["tokens"]
        pq.write_table(pa.Table.from_pylist(table, pq.read_schema(inp)), inp)
        rows[6].update(tokens=r["tokens"], n_removed=r["n_removed"])
    elif fault == "token":
        r["tokens"] = [r["tokens"][0] + 1] + r["tokens"][1:]
    elif fault == "n_removed":
        r["n_removed"] += 1
    elif fault == "foreign":
        r["doc_id"] = "doc-99999999"
    elif fault == "duplicate":
        rows.append(dict(r))
    else:
        r["tokens"] = r["tokens"][::-1]
    assert len(checks.curation_problems(inp, _write_curated(rows, out))) == 1


def test_tail_is_above_p50_with_ten_beyond():
    walls = [float(i) for i in range(22)]
    value, pct = tail(walls)
    assert value == 11.0 > statistics.median(walls)
    assert round(pct, 1) == 54.5
    value, pct = tail([float(i) for i in range(30)])
    assert value == 19.0 and round(pct, 1) == 66.7
    # with 21 samples the only value with 10 beyond is the median itself
    with pytest.raises(ValueError):
        tail([float(i) for i in range(21)])


def test_reap_kills_and_counts_a_leftover_process():
    proc = subprocess.Popen([sys.executable, "-c",
                             "import time; time.sleep(120)"],
                            start_new_session=True)
    try:
        time.sleep(0.2)
        left = run.reap(proc.pid)
        assert len(left) == 1 and "sleep(120)" in left[0]
        assert proc.wait(timeout=10) != 0
        assert run.session_members(proc.pid) == []
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def test_a_leftover_process_fails_the_run():
    res = {"rc": 0, "attempted": 21, "failed": 0, "leaked": ["java ..."],
           "grant_before": 1.0, "grant_after": 1.0, "seq_per_s": 1.0}
    diag, line = run.report(res, 0)
    assert not line["correct"] and line["failed"] == 1
    assert diag["failed_op_ratio"]["value"] == 1 / 21


def test_a_result_without_every_end_to_end_metric_fails_the_run():
    names = [m["name"] for m in run.spec()["end_to_end"]]
    res = {"rc": 0, "attempted": 3, "failed": 0, "leaked": [],
           "grant_before": 1.0, "grant_after": 1.0,
           **{n: 1.0 for n in names}}
    _, line = run.report(dict(res), 0)
    assert line["correct"] and set(line["metrics"]) == set(names)
    del res[names[-1]]
    diag, line = run.report(res, 0)
    assert not line["correct"] and line["failed"] == 1
    assert any(names[-1] in p for p in diag["problems"])
