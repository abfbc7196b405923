"""Reference checks, run outside the timed region.

Each check compares what the program wrote against a reference computed
independently of the package: DuckDB over the generated input parquet
with the routing and severity rules restated here, pyarrow counts, or
invariants over input and output rows.  Every check returns a list of
human-readable problems; an empty list means the output is correct.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

# DEFAULT_ROUTES restated: source -> sinks, anything else -> default-sink
ROUTES = {"hot-source": ["sumologic"], "app-a": ["sumologic", "loki"],
          "k8s": ["loki"]}
DEFAULT_SINKS = ["default-sink"]
SINKS = ["sumologic", "loki", "default-sink"]

# stanza severity token -> OTel SeverityText; unparsed or unknown -> Undefined
SEVERITY_TEXT = {"CATASTROPHE": "Fatal", "EMERGENCY": "Error",
                 "ALERT": "Error", "CRITICAL": "Error", "ERROR": "Error",
                 "WARNING": "Info", "NOTICE": "Info", "INFO": "Info",
                 "DEBUG": "Debug", "TRACE": "Trace"}
LINE_RX = r"^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) ([A-Z]+) (.*)$"

# one routed row in SAMPLE_MOD has its token array compared to the input
SAMPLE_MOD = 16


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def _route_case() -> str:
    arms = " ".join(f"WHEN '{src}' THEN {sinks!r}"
                    for src, sinks in ROUTES.items())
    return f"CASE source {arms} ELSE {DEFAULT_SINKS!r} END"


def _severity_case(col: str) -> str:
    arms = " ".join(f"WHEN '{tok}' THEN '{txt}'"
                    for tok, txt in SEVERITY_TEXT.items())
    return f"CASE {col} {arms} ELSE 'Undefined' END"


def routed_reference(inputs: list[str]) -> dict[tuple, int]:
    """(sink, source, severity_text) -> routed row count, from the input
    parquet alone."""
    sql = f"""
    WITH raw AS (
      SELECT source,
             array_to_string(list_transform(tokens, t -> chr(t)), '') AS body
      FROM read_parquet({_sql_list(inputs)})
    ), sev AS (
      SELECT source,
             CASE WHEN regexp_matches(body, '{LINE_RX}')
                  THEN {_severity_case(
                      f"regexp_extract(body, '{LINE_RX}', 2)")}
                  ELSE 'Undefined' END AS severity_text
      FROM raw
    )
    SELECT sink, source, severity_text, count(*) AS n
    FROM (SELECT *, unnest({_route_case()}) AS sink FROM sev)
    GROUP BY ALL"""
    with duckdb.connect() as con:
        return {(s, src, sev): int(n)
                for s, src, sev, n in con.execute(sql).fetchall()}


def routed_rows(path: str) -> int:
    """Rows routed for one input file: each row counts once per sink its
    source routes to (pyarrow counts, no SQL)."""
    counts = pc.value_counts(pq.read_table(path, columns=["source"])
                             .column("source"))
    return sum(c["counts"] * len(ROUTES.get(c["values"], DEFAULT_SINKS))
               for c in counts.to_pylist())


def _sink_glob(out_dir: str, sink: str) -> str:
    return os.path.join(out_dir, "sinks", sink, "**", "*.parquet")


def written_counts(out_dir: str) -> dict[tuple, int]:
    """(sink, source, severity_text) -> rows found in the sink parquet."""
    got: dict[tuple, int] = {}
    with duckdb.connect() as con:
        for sink in SINKS:
            if not os.path.isdir(os.path.join(out_dir, "sinks", sink)):
                continue
            rows = con.execute(
                f"SELECT source, severity_text, count(*) FROM read_parquet("
                f"'{_sink_glob(out_dir, sink)}', hive_partitioning=false) "
                f"GROUP BY ALL").fetchall()
            for src, sev, n in rows:
                got[(sink, src, sev)] = int(n)
    return got


def diff_counts(what: str, want: dict, got: dict) -> list[str]:
    bad = [f"{what} {k}: want {want.get(k, 0)} got {got.get(k, 0)}"
           for k in sorted(set(want) | set(got), key=str)
           if want.get(k, 0) != got.get(k, 0)]
    return bad[:10]


def token_sample_problems(out_dir: str, inputs: list[str]) -> list[str]:
    """North-rule invariant on a hash sample: every sampled routed row
    carries exactly its input token array, and no sampled row is missing
    or duplicated in any sink."""
    problems = []
    with duckdb.connect() as con:
        con.execute(f"""CREATE TEMP TABLE inp AS
            SELECT doc_id, source, tokens
            FROM read_parquet({_sql_list(inputs)})
            WHERE hash(doc_id) % {SAMPLE_MOD} = 0""")
        for sink in SINKS:
            srcs = [s for s, sinks in ROUTES.items() if sink in sinks]
            if sink in DEFAULT_SINKS:
                cond = "source NOT IN (" + ", ".join(
                    f"'{s}'" for s in ROUTES) + ")"
            else:
                cond = "source IN (" + ", ".join(f"'{s}'" for s in srcs) + ")"
            has = os.path.isdir(os.path.join(out_dir, "sinks", sink))
            sunk = (f"(SELECT doc_id, tokens FROM read_parquet("
                    f"'{_sink_glob(out_dir, sink)}', hive_partitioning=false)"
                    f" WHERE hash(doc_id) % {SAMPLE_MOD} = 0)" if has else
                    "(SELECT NULL::VARCHAR AS doc_id, NULL::INT[] AS tokens"
                    " WHERE false)")
            missing, extra, changed = con.execute(f"""
                WITH want AS (SELECT doc_id, tokens FROM inp WHERE {cond}),
                     got AS {sunk},
                     g AS (SELECT doc_id, count(*) AS c, any_value(tokens) AS t
                           FROM got GROUP BY doc_id)
                SELECT
                  (SELECT count(*) FROM want ANTI JOIN g USING (doc_id)),
                  (SELECT count(*) FROM g ANTI JOIN want USING (doc_id))
                    + (SELECT coalesce(sum(c - 1), 0) FROM g),
                  (SELECT count(*) FROM want JOIN g USING (doc_id)
                   WHERE want.tokens IS DISTINCT FROM g.t)""").fetchone()
            for label, n in (("missing", missing), ("extra or duplicated",
                                                     extra),
                             ("token arrays changed", changed)):
                if n:
                    problems.append(f"sink {sink}: {n} sampled rows {label}")
    return problems


def curation_problems(input_path: str, out_dir: str) -> list[str]:
    """Invariants of the curated output against its input: survivors are
    a duplicate-free subset of the input, each keeps its source, no two
    survivors had the same input token array (what exact dedup
    guarantees), and each survivor's tokens are its input tokens with
    exactly ``n_removed`` tokens deleted (order kept)."""
    out = pq.read_table(out_dir, columns=["doc_id", "source", "tokens",
                                          "n_removed"]).to_pylist()
    inp = {r["doc_id"]: r for r in
           pq.read_table(input_path,
                         columns=["doc_id", "source", "tokens"]).to_pylist()}
    problems = []
    seen = set()
    by_tokens: dict[tuple, str] = {}
    for r in out:
        d = r["doc_id"]
        if d in seen:
            problems.append(f"{d}: duplicated survivor")
        seen.add(d)
        src = inp.get(d)
        if src is None:
            problems.append(f"{d}: survivor not in input")
            continue
        if r["source"] != src["source"]:
            problems.append(f"{d}: source changed")
        first = by_tokens.setdefault(tuple(src["tokens"] or ()), d)
        if first != d:
            problems.append(f"{d}: same input tokens as survivor {first}")
        kept, full = r["tokens"] or [], src["tokens"] or []
        if len(full) - len(kept) != r["n_removed"]:
            problems.append(f"{d}: {len(full)} - {len(kept)} tokens != "
                            f"n_removed {r['n_removed']}")
        elif not _is_subsequence(kept, full):
            problems.append(f"{d}: kept tokens are not a subsequence")
    return problems[:10]


def row_count(out_dir: str) -> int:
    return pq.read_table(out_dir, columns=["doc_id"]).num_rows


def _is_subsequence(short: list, long: list) -> bool:
    it = iter(long)
    return all(any(x == y for y in it) for x in short)

