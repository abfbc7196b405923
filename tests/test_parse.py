"""Parse stage: token decode, regex_parser (Arrow/RE2, checked against
DuckDB's RE2), severity table, timestamp layout, kv extract, json parser.

Golden shapes mirror receiver/stanzareceiver/e2e_test.go:59-107 and the
converter type matrix (converter_test.go:111-130)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.functions.severity import (
    SEVERITY_TABLE, severity_number_expr, severity_text_expr)
from opentelemetry_collector_contrib_spark.functions.timefmt import strptime_to_spark
from opentelemetry_collector_contrib_spark.operators.json_parser import (
    json_parser, splunk_hec_events)
from opentelemetry_collector_contrib_spark.operators.regex_parser import (
    DEFAULT_LOG_PATTERN, RegexParser, java_pattern, kv_extract)
from opentelemetry_collector_contrib_spark.sources.tokens_source import (
    read_tokens, with_body)

from conftest import rows


LINE = "2020-08-25 05:01:31 INFO hello pod_ip=10.0.1.8"


def _lines_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "body string")


def _tokens_df(spark, lines):
    return spark.createDataFrame([([ord(c) for c in l],) for l in lines],
                                 "tokens array<int>")


def _duckdb_parse(lines):
    """{line: (parsed, ts, sev, msg)} from DuckDB's RE2 — the gate
    oracle's dialect (__spark_entry__._decoded_cte)."""
    rx = java_pattern(DEFAULT_LOG_PATTERN)
    got = duckdb.connect().execute(
        "SELECT l, regexp_matches(l, ?) AS p, "
        "regexp_extract(l, ?, ['ts', 'sev', 'msg']) AS g "
        "FROM unnest(?) t(l)", [rx, rx, list(lines)]).fetchall()
    return {l: (p, *((g["ts"], g["sev"], g["msg"]) if p else (None,) * 3))
            for l, p, g in got}


def test_tokens_carried_untouched(spark, sf_dir):
    """The per-row token-array-equality invariant: parse adds columns,
    never rewrites tokens."""
    df = read_tokens(spark, f"{sf_dir}/tokens.parquet").limit(100)
    out = RegexParser().apply(df)
    before = rows(df.select("doc_id", "tokens"))
    after = rows(out.select("doc_id", "tokens"))
    assert before == after


def test_parse_matches_duckdb_re2(spark, sf_dir):
    """Both decodes (the parser's Arrow buffer decode and Catalyst
    with_body) and the RE2 extract agree with DuckDB on the synthetic
    table plus edge lines: a miss, an empty line, and non-ASCII and
    wide codepoints."""
    edge = [LINE, "--- no match here", "",
            "2020-08-25 05:01:31 WARN h\u00e9llo \u4e16\u754c"]
    df = read_tokens(spark, f"{sf_dir}/tokens.parquet").select("tokens")
    df = df.unionByName(_tokens_df(spark, edge))
    out = RegexParser().apply(with_body(df).withColumnRenamed("body", "wb"))
    got = out.select("wb", "body", "parsed", "ts", "sev", "msg").collect()
    assert len(got) == df.count()
    assert all(r["wb"] == r["body"] for r in got)
    want = _duckdb_parse(r["body"] for r in got)
    assert {r["body"]: tuple(r[2:]) for r in got} == want
    assert {r["body"] for r in got} >= set(edge)
    assert 0 < sum(r["parsed"] for r in got) < len(got)


def test_with_body_decodes_wide_codepoints(spark):
    """Catalyst with_body, the parser's decode_arrow and DuckDB's chr
    (the gate oracle's decode) agree on codepoints above 255, where a
    mod-256 CHAR would turn each into a different character."""
    import pyarrow as pa
    from opentelemetry_collector_contrib_spark.functions.tokens import (
        DECODE_SQL_DUCKDB, decode_arrow)
    lines = ["h\u00e9llo \u4e16\u754c\U0001F600", LINE, ""]
    toks = [[ord(c) for c in l] for l in lines]
    df = spark.createDataFrame(list(enumerate(toks)),
                               "i int, tokens array<int>")
    spark_body = [r["body"] for r in with_body(df).orderBy("i").collect()]
    arrow_body = decode_arrow(pa.array(toks, pa.list_(pa.int32())))
    (duck_body,) = duckdb.connect().execute(
        "SELECT list_transform(?::INT[][], tok -> "
        f"{DECODE_SQL_DUCKDB.format(col='tok')})", [toks]).fetchone()
    assert spark_body == arrow_body.to_pylist() == duck_body == lines


def test_decode_oracle_matches_spark_on_empty_and_null(spark):
    """The oracle decode gives '' for an empty token array and NULL for a
    NULL one, as Spark's with_body does (DuckDB's array_to_string alone
    turns the empty list into NULL)."""
    from opentelemetry_collector_contrib_spark.functions.tokens import (
        DECODE_SQL_DUCKDB)
    toks = [[], None, [104, 105]]
    df = spark.createDataFrame(list(enumerate(toks)),
                               "i int, tokens array<int>")
    spark_body = [r["body"] for r in with_body(df).orderBy("i").collect()]
    duck_body = [r[0] for r in duckdb.connect().execute(
        f"SELECT {DECODE_SQL_DUCKDB.format(col='tokens')} FROM "
        "(SELECT unnest(?::INT[][]) AS tokens, "
        "unnest(range(3)) AS i) ORDER BY i", [toks]).fetchall()]
    assert spark_body == duck_body == ["", None, "hi"]


def test_arrow_backend_falls_back_on_re2_reject():
    """Lookahead is valid Python-re but not RE2 — the parser rejects
    it when built, as stanza rejects a bad pattern at config load."""
    with pytest.raises(ValueError, match="RE2"):
        RegexParser(pattern=r"^(?P<ts>\d+)(?=.)(?P<msg>.*)$")


def test_arrow_backend_trailing_newline_matches_python_re(spark):
    """'$' is end of text in RE2, Go regexp and DuckDB: a line with a
    trailing newline is a miss, and the parser agrees with DuckDB."""
    lines = [LINE, LINE + "\n", LINE + "\n\n", "2020-08-25 05:01:31 INFO x\nmore"]
    out = RegexParser().apply(_tokens_df(spark, lines))
    got = {r["body"]: (r["parsed"], r["ts"], r["sev"], r["msg"])
           for r in out.collect()}
    assert got == _duckdb_parse(lines)
    assert [got[l][0] for l in lines] == [True, False, False, False]


def test_arrow_backend_replaces_existing_group_columns(spark):
    """A pre-existing column named like a capture group must be
    REPLACED (withColumn semantics), not duplicated."""
    df = spark.createDataFrame(
        [([ord(c) for c in LINE], "OLD")], "tokens array<int>, sev string")
    out = RegexParser().apply(df)
    assert out.columns.count("sev") == 1
    assert out.collect()[0]["sev"] == "INFO"


def test_regex_named_groups_and_miss(spark):
    out = RegexParser().apply(_tokens_df(spark, [LINE, "nope"]))
    got = {r["body"]: r for r in out.collect()}
    assert got[LINE]["ts"] == "2020-08-25 05:01:31"
    assert got[LINE]["sev"] == "INFO"
    assert got[LINE]["msg"] == "hello pod_ip=10.0.1.8"
    assert got[LINE]["parsed"] is True
    # non-matching lines are flagged, not dropped (stanza errors;
    # we keep-and-flag per FIXTURES §5.3)
    assert got["nope"]["parsed"] is False
    assert got["nope"]["ts"] is None


def test_non_ascii_tokens_parse(spark):
    """Token ids 128-255 are codepoints, not bytes: the decode must
    yield valid UTF-8 so the RE2 extract sees the line."""
    line = "2020-08-25 05:01:31 INFO h\u00e9llo"
    out = RegexParser().apply(_tokens_df(spark, [line])).collect()[0]
    assert out["body"] == line
    assert out["parsed"] is True
    assert out["msg"] == "h\u00e9llo"


def test_timestamp_parse(spark):
    out = RegexParser().apply(_tokens_df(spark, [LINE])).collect()[0]
    assert str(out["event_ts"]) == "2020-08-25 05:01:31"


def test_strptime_translation():
    assert strptime_to_spark("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss"
    assert strptime_to_spark("%d/%b/%Y") == "dd/MMM/yyyy"


@pytest.mark.parametrize("sev,text,num", [
    (k, v[0], v[1]) for k, v in SEVERITY_TABLE.items()
])
def test_severity_table(spark, sev, text, num):
    """converter.go:167-217 two-way mapping incl. range bucketing."""
    df = spark.createDataFrame([(sev,)], "s string")
    got = df.select(
        severity_text_expr(F.col("s")).alias("t"),
        severity_number_expr(F.col("s")).alias("n")).collect()[0]
    assert (got["t"], got["n"]) == (text, num)


def test_severity_unknown_is_undefined(spark):
    df = spark.createDataFrame([("WEIRD",)], "s string")
    got = df.select(severity_text_expr(F.col("s")).alias("t"),
                    severity_number_expr(F.col("s")).alias("n")).collect()[0]
    assert (got["t"], got["n"]) == ("Undefined", 0)


def test_kv_extract(spark):
    df = _lines_df(spark, [LINE, "no ip here"])
    got = {r["body"]: r["pod_ip"] for r in kv_extract(df, "pod_ip").collect()}
    assert got[LINE] == "10.0.1.8"
    assert got["no ip here"] is None


def test_java_pattern_strips_named_groups():
    assert java_pattern(r"^(?P<name_0>a)\.(?P<key_b>b)$") == r"^(a)\.(b)$"


def test_json_parser_malformed_kept(spark):
    df = _lines_df(spark, ['{"k": 7, "s": "x"}', "not json"])
    out = json_parser(df, "k int, s string")
    got = {r["body"]: r for r in out.collect()}
    assert got['{"k": 7, "s": "x"}']["k"] == 7
    assert got["not json"]["parsed"] is False


def test_splunk_hec(spark):
    ev = ('{"time":1598313600.5,"host":"h1","source":"s","sourcetype":"st",'
          '"index":"main","event":"hello","fields":{"k":"v"}}')
    out = splunk_hec_events(_lines_df(spark, [ev])).collect()[0]
    # seconds -> ns (splunk_to_logdata.go:54-56)
    assert out["ts_ns"] == 1598313600500000000
    assert out["host"] == "h1"
    assert out["fields"]["k"] == "v"


def test_severity_range_bucketing(spark):
    """Numeric custom levels bucket exactly per converter.go:193-214."""
    from opentelemetry_collector_contrib_spark.functions.severity import (
        convert_severity_level, severity_from_level_expr)
    levels = list(range(-5, 106, 5)) + [33, 47, 101]
    df = spark.createDataFrame([(l,) for l in levels], "lv int")
    got = {r["lv"]: (r["t"], r["n"]) for r in df.select(
        "lv",
        severity_from_level_expr(F.col("lv"), "text").alias("t"),
        severity_from_level_expr(F.col("lv"), "number").alias("n")).collect()}
    for l in levels:
        assert got[l] == convert_severity_level(l), l
    assert got[100] == ("Fatal", 24)
    assert got[95] == ("Fatal", 22)
    assert got[33] == ("Info", 10)
    assert got[5] == ("Trace", 1)
    assert got[0] == ("Undefined", 0)
    assert got[-5] == ("Undefined", 0)


def test_out_of_range_timestamp_flagged_not_crash(spark):
    """A regex-matching line with an impossible date must yield NULL
    event_ts (ANSI to_timestamp would throw and kill the job)."""
    bad = "2020-13-45 99:99:99 ERROR impossible date"
    out = RegexParser().apply(_tokens_df(spark, [bad, LINE])).collect()
    got = {r["body"]: r["event_ts"] for r in out}
    assert got[bad] is None
    assert got[LINE] is not None
