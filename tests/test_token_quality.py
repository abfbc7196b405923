"""Tokens-native quality battery (datapipe/token_quality.py):
python-twin parity over crafted degenerate docs + flag semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.datapipe.token_quality import (
    token_quality, token_quality_py)

DOCS = [
    ("healthy", list(range(100, 140))),            # all distinct
    ("stuck", [7] * 50),                           # one-token run
    ("looped", [1, 2, 3, 4] * 12),                 # periodic 2-grams
    ("short", [9, 9, 9]),                          # under min_tok
    ("empty", []),
    ("mixed", [5, 5, 6, 7, 5, 5, 6, 8, 9, 10, 11, 12]),
    ("tie", [3, 3, 4, 4, 1, 2]),                   # top-count tie -> min id
    ("nullarr", None),                             # NULL array == 0 tokens
]


@pytest.fixture(scope="module")
def result(spark):
    df = spark.createDataFrame(DOCS, "doc_id string, tokens array<int>")
    return {r["id"]: r.asDict() for r in token_quality(df, k=2).collect()}


def test_matches_python_twin(result):
    for doc_id, toks in DOCS:
        want = token_quality_py(toks, k=2)
        got = result[doc_id]
        for key, val in want.items():
            if isinstance(val, float):
                assert got[key] == pytest.approx(val, abs=1e-9), (doc_id, key)
            else:
                assert got[key] == val, (doc_id, key)


def test_degenerate_docs_flagged(result):
    assert result["healthy"]["keep"]
    # stuck decoder: run of 50 identical tokens
    assert not result["stuck"]["ok_run"]
    assert not result["stuck"]["ok_distinct"]
    assert result["stuck"]["max_run"] == 50
    # periodic loop: every 2-gram position duplicated
    assert result["looped"]["dup_gram_frac"] == 1.0
    assert not result["looped"]["ok_dup"]
    # short + empty fail the length gate without crashing
    assert not result["short"]["ok_length"]
    assert result["empty"]["n_tok"] == 0 and not result["empty"]["keep"]
    assert result["empty"]["top_token"] is None
    # NULL arrays behave exactly like empty ones (F.size alone gives
    # -1/NULL depending on ANSI mode — both diverge from the twin)
    assert result["nullarr"]["n_tok"] == 0
    assert not result["nullarr"]["keep"]
    assert result["nullarr"]["distinct_ratio"] == 0.0


def test_vectorized_batch_equals_per_doc_path():
    """The k=2 fast path (_counts_batch2) is bit-identical to the
    per-doc reference on a randomized ragged batch."""
    import numpy as np
    import pandas as pd

    from opentelemetry_collector_contrib_spark.datapipe.token_quality \
        import _counts_batch2, _counts_one
    rng = np.random.RandomState(7)
    lo, hi = -(2 ** 31), 2 ** 31 - 1
    batch = ([rng.randint(0, 40, size=rng.randint(0, 60)).tolist()
              for _ in range(300)]
             + [[], None, [5], [-3, -3, -3, 7],
                # extreme int32 ids: the 2-gram pair encoding must not
                # wrap (uint64 arithmetic, not signed int64)
                [lo, hi, lo, hi, lo, hi],
                [hi, hi - 1, hi, hi - 1], [lo, lo + 1, lo, lo + 1]])
    got = _counts_batch2(pd.Series(batch, dtype="object"))
    for i, toks in enumerate(batch):
        want = _counts_one(toks, 2)
        row = got.iloc[i]
        assert (row["n_distinct"], row["top_count"], row["max_run"],
                row["dup_gram_pos"]) == (want[0], want[2], want[3],
                                         want[4]), i
        assert (None if pd.isna(row["top_token"])
                else int(row["top_token"])) == want[1], i


def test_top_token_tie_breaks_to_min_id(result):
    assert result["tie"]["top_token"] == 3
    assert result["tie"]["top_count"] == 2


def test_single_python_stage(spark):
    """The battery is ONE Arrow hop: exactly one Python-eval node and
    zero exchanges in the physical plan."""
    df = spark.createDataFrame(DOCS, "doc_id string, tokens array<int>")
    plan = (token_quality(df, k=2)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_oracle_parity_with_null_array(spark, tmp_path):
    """The gate's DuckDB oracle and the Spark battery agree row for row
    on DOCS, including the NULL-array and empty-array docs (DuckDB's
    len(NULL) is NULL, so the oracle must coalesce n_tok to 0 as Spark
    does)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opentelemetry_collector_contrib_spark.queries_ext import (
        extra_oracles, q_token_quality)
    pq.write_table(pa.table({
        "doc_id": [d for d, _ in DOCS],
        "tokens": pa.array([t for _, t in DOCS], pa.list_(pa.int32()))}),
        str(tmp_path / "tokens.parquet"))
    sql = extra_oracles(str(tmp_path))["token_quality"]
    want = duckdb.connect().execute(sql).fetchdf()
    got = q_token_quality(spark, None, str(tmp_path)).toPandas()
    assert sorted(got.columns) == sorted(want.columns)

    def canon(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(None if v is None or v != v
                  else round(float(v), 6) if isinstance(v, float)
                  else int(v) if not isinstance(v, str) else v
                  for v in rec)
            for rec in df[cols].astype(object).itertuples(index=False))
    assert canon(got) == canon(want)
    null_row = want.set_index("id").loc["nullarr"]
    assert null_row["n_tok"] == 0 and not null_row["keep"]
