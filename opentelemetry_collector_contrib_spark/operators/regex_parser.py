"""regex_parser — stanza's named-capture-group regex parser.

Reference semantics (receiver/stanzareceiver/e2e_test.go:93-99,
README.md:24-36, testdata/config.yaml:7-13):
- a Go regex with named capture groups; each group becomes a new record
  field;
- optional ``timestamp: {parse_from, layout}`` sub-parser (strptime
  layout) and ``severity: {parse_from}`` sub-parser feeding the
  convertSeverity table (converter.go:167-217);
- non-matching lines are an error in stanza; we flag them
  (``parsed = false``) and keep the row — goldens assert they are
  flagged, never silently dropped (FIXTURES.md §5.3).

One execution path, in the RE2 dialect.  Stanza compiles the pattern
with Go ``regexp``, which is RE2, and rejects a bad pattern when the
config loads (SURVEY §3.2); so does this stage: a pattern RE2 rejects
(lookaround, backreferences) raises ``ValueError`` in ``__init__``.
RE2 is also the DuckDB oracle's dialect, so ``$`` is end of text here,
there and in stanza (Python ``re`` would also match before a final
newline).

The parse is ONE ``mapInArrow`` hop that keeps the row path in native
code: detokenize is a buffer-level Arrow StringArray construction
(``functions/tokens.py::decode_arrow``) and the extraction is ONE
``pyarrow.compute.extract_regex`` call (RE2, C++) per batch.
Pushdown caveat: mapInArrow is opaque to Catalyst, so filters written
AFTER .apply() do not reach the scan — apply source-level filters
before the parse stage (the pipeline does).

It adds ``body``, one string column per named group, a ``parsed``
boolean and — when configured — ``event_ts`` (timestamp),
``severity_text`` and ``severity_number``.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.severity import severity_number_expr, severity_text_expr
from ..functions.timefmt import strptime_to_spark

# the stanza e2e fixture pattern (e2e_test.go:94), generalized to the
# full `<date time> <SEV> <msg>` line shape of our fixtures
DEFAULT_LOG_PATTERN = (
    r"^(?P<ts>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<sev>[A-Z]+) (?P<msg>.*)$"
)


@lru_cache(maxsize=64)
def _compiled(pattern: str) -> "re.Pattern[str]":
    return re.compile(pattern)


_NAMED_GROUP_RX = re.compile(r"\(\?P<[A-Za-z_][A-Za-z0-9_]*>")


def java_pattern(pattern: str) -> str:
    """Python-regex -> Java-regex: named groups become plain groups.
    (Java group names may not contain underscores, and all extraction in
    this package is by group NUMBER via re.groupindex, so names are only
    metadata on the Python side.)"""
    return _NAMED_GROUP_RX.sub("(", pattern)


def group_number(pattern: str, group_name: str) -> int:
    """1-based group number of a named group in a Python pattern."""
    return _compiled(pattern).groupindex[group_name]


class RegexParser:
    """Config-driven regex parse stage (a DataFrame -> DataFrame builder,
    the Spark analog of a stanza operator plugin) over a ``tokens``
    column."""

    def __init__(self,
                 pattern: str = DEFAULT_LOG_PATTERN,
                 tokens_col: str = "tokens",
                 timestamp_from: str | None = "ts",
                 timestamp_layout: str = "%Y-%m-%d %H:%M:%S",
                 severity_from: str | None = "sev"):
        self.pattern = pattern
        self.tokens_col = tokens_col
        self.timestamp_from = timestamp_from
        self.timestamp_layout = timestamp_layout
        self.severity_from = severity_from
        self.groups = list(_compiled(pattern).groupindex.keys())
        if not self.groups:
            raise ValueError("regex_parser requires named capture groups")
        try:        # the same RE2 compile _extract runs on every batch
            pc.extract_regex(pa.array([], pa.string()), pattern)
        except pa.ArrowInvalid as e:
            raise ValueError(
                f"regex_parser pattern {pattern!r} is not RE2 with only "
                f"named groups: {e}") from e

    def _extract(self, df: DataFrame) -> DataFrame:
        """tokens -> body + group columns with ZERO Python on the row
        path: buffer-level detokenize + one RE2 extract_regex per
        batch (mapInArrow)."""
        from pyspark.sql import types as ST
        pattern, groups = self.pattern, self.groups
        names = [f.name for f in df.schema.fields]
        # pre-existing body/group columns are REPLACED (withColumn
        # semantics) — keeping them would emit duplicate column names
        # and make downstream F.col() ambiguous
        replaced = {"body", *groups}
        keep = [i for i, n in enumerate(names) if n not in replaced]
        keep_names = [names[i] for i in keep]
        out_schema = ST.StructType(
            [df.schema.fields[i] for i in keep]
            + [ST.StructField("body", ST.StringType())]
            + [ST.StructField(g, ST.StringType()) for g in groups])
        tok_idx = names.index(self.tokens_col)

        def fn(batches):
            from opentelemetry_collector_contrib_spark.functions.tokens import (
                decode_arrow)
            for b in batches:
                body = decode_arrow(b.column(tok_idx))
                ex = pc.extract_regex(body, pattern)   # null struct on miss
                arrays = ([b.column(i) for i in keep]
                          + [body]
                          + [pc.struct_field(ex, g) for g in groups])
                yield pa.RecordBatch.from_arrays(
                    arrays, [*keep_names, "body", *groups])

        return df.mapInArrow(fn, out_schema)

    def apply(self, df: DataFrame) -> DataFrame:
        df = self._extract(df)
        df = df.withColumn("parsed", F.col(self.groups[0]).isNotNull())
        if self.timestamp_from:
            fmt = strptime_to_spark(self.timestamp_layout)
            # try_to_timestamp: ANSI mode throws on out-of-range dates
            # (e.g. month 13) that still match the regex — flag-don't-crash
            df = df.withColumn(
                "event_ts",
                F.try_to_timestamp(F.col(self.timestamp_from), F.lit(fmt)))
        if self.severity_from:
            sev = F.upper(F.col(self.severity_from))
            df = (df
                  .withColumn("severity_text", severity_text_expr(sev))
                  .withColumn("severity_number", severity_number_expr(sev)))
        return df

    __call__ = apply


def kv_extract(df: DataFrame, key: str, from_col: str = "body",
               out_col: str | None = None) -> DataFrame:
    """Extract one `key=value` pair from a line (stanza key_value_parser
    analog, single-key fast path).  NULL when absent."""
    out = out_col or key
    rx = rf"(?:^|\s){re.escape(key)}=(\S+)"
    val = F.regexp_extract(F.col(from_col), rx, 1)
    return df.withColumn(out, F.when(val != "", val))
