"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5 notes it has none).  Each property drives a batch
of generated inputs through the Spark operator in ONE job and checks
against a pure-Python twin."""

import re
import string

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.datapipe.dedup import _norm_words_py
from opentelemetry_collector_contrib_spark.functions.severity import (
    convert_severity_level)
from opentelemetry_collector_contrib_spark.functions.tokens import decode_arrow
from opentelemetry_collector_contrib_spark.operators.statsd import parse_statsd

# hypothesis drives pure-Python twins; the Spark parity for each twin
# is asserted once per suite in the *_spark_matches tests below (a
# hypothesis-per-Spark-job would cost minutes per example).

printable = st.text(alphabet=string.printable.replace("\r", ""), max_size=80)


@given(st.integers(min_value=-1000, max_value=1000))
def test_severity_level_total_function(level):
    text, num = convert_severity_level(level)
    assert text in {"Trace", "Debug", "Info", "Error", "Fatal", "Undefined"}
    assert 0 <= num <= 24
    if level <= 0:
        assert (text, num) == ("Undefined", 0)


@given(st.lists(st.text(max_size=40), max_size=20))
def test_decode_batch_roundtrip(texts):
    """encode -> decode_arrow is the identity on a batch, over ASCII
    (buffer path) and any other codepoint (per-row path), and yields
    valid UTF-8."""
    import pyarrow as pa
    for batch in ([t.encode("ascii", "ignore").decode() for t in texts],
                  texts):
        out = decode_arrow(pa.array([[ord(c) for c in t] for t in batch],
                                    pa.list_(pa.int32())))
        out.validate(full=True)
        assert out.to_pylist() == batch


@given(printable)
def test_norm_words_properties(text):
    w = _norm_words_py(text)
    assert all(re.fullmatch(r"[a-z0-9]+", x) for x in w)
    # idempotent under re-normalization
    assert _norm_words_py(" ".join(w)) == w


def _py_statsd(line):
    """Pure-Python twin of parse_statsd's extraction."""
    m_name = re.search(r"^([^:]+):", line)
    m_raw = re.search(r"^[^:]+:([^|]+)\|", line)
    m_type = re.search(r"\|(c|g|ms|h|s)(\||$)", line)
    m_rate = re.search(r"\|@([0-9.]+)", line)
    try:
        raw = float(m_raw.group(1)) if m_raw else None
    except ValueError:
        raw = None
    rate = float(m_rate.group(1)) if m_rate else 1.0
    mtype = m_type.group(1) if m_type else ""
    value = (raw / rate if mtype == "c" else raw) if raw is not None else None
    return (m_name.group(1) if m_name else "", mtype, value)


statsd_lines = st.builds(
    lambda name, val, mtype, rate, tagged:
        f"{name}:{val}|{mtype}" + (f"|@{rate}" if rate else "")
        + ("|#env:prod" if tagged else ""),
    name=st.text(alphabet=string.ascii_lowercase + "_", min_size=1, max_size=12),
    val=st.integers(min_value=-999, max_value=9999),
    mtype=st.sampled_from(["c", "g", "ms", "h", "s"]),
    rate=st.sampled_from([None, 0.5, 0.1, 1.0]),
    tagged=st.booleans())


def test_statsd_spark_matches_python_twin(spark):
    """200 generated statsd lines through Spark == the Python twin."""
    lines = [statsd_lines.example() for _ in range(200)]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    got = {r["line"]: (r["name"], r["metric_type"], r["value"])
           for r in parse_statsd(df).collect()}
    for l in set(lines):
        assert got[l] == _py_statsd(l), l


def test_carbon_malformed_flagged_not_dropped(spark):
    from opentelemetry_collector_contrib_spark.operators.carbon import (
        parse_plaintext)
    df = spark.createDataFrame(
        [("cpu.usage 1.5 100",), ("garbage",), ("name notanumber 100",)],
        "line string")
    out = parse_plaintext(df)
    assert out.count() == 3                      # kept
    got = {r["line"]: r["valid"] for r in out.collect()}
    assert got["cpu.usage 1.5 100"] is True
    assert got["garbage"] is False
    assert got["name notanumber 100"] is False


def test_statsd_malformed_flagged(spark):
    df = spark.createDataFrame([("ok:1|c",), ("nonsense",)], "line string")
    got = {r["line"]: r["valid"] for r in parse_statsd(df).collect()}
    assert got["ok:1|c"] is True
    assert got["nonsense"] is False


# -- packing invariants (datapipe/curation.py) -------------------------------

def _pack_py(items, budget):
    """Pure-Python twin of pack_chunks within one group: concat-and-
    split layout over id-sorted docs."""
    out, cum = {}, 0
    for doc_id, n in sorted(items):
        first = cum // budget
        last = (cum + max(n - 1, 0)) // budget
        out[doc_id] = (first, last, cum % budget)
        cum += n
    return out


def test_pack_chunks_spark_matches_python_twin(spark):
    import random
    rng = random.Random(7)
    items = [(f"d{i:04d}", rng.randrange(0, 3000)) for i in range(200)]
    from opentelemetry_collector_contrib_spark.datapipe.curation import (
        pack_chunks)
    df = spark.createDataFrame(items, "doc_id string, n_tok long")
    got = {r.doc_id: (r.first_chunk, r.last_chunk, r.chunk_offset)
           for r in pack_chunks(df, budget=777, n_groups=1).collect()}
    assert got == _pack_py(items, 777)
