"""Token-gram hashes (datapipe/hashing.py): the Spark Column functions,
their DuckDB SQL twins and their Python twins agree bit for bit, and the
32-bit MinHash input keeps signature agreement an unbiased estimate of
gram-set Jaccard."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import datagen
from opentelemetry_collector_contrib_spark.datapipe.hashing import (
    _A, _B, MERSENNE_P, NUM_HASHES, token_gram_hash32, token_gram_hash32_py,
    token_gram_hash32_sql, token_gram_hash62, token_gram_hash62_py,
    token_gram_hash62_sql)

I31 = (1 << 31) - 1


def _edge_rows(k: int) -> list[tuple[int, list[int] | None]]:
    return [
        (0, None),
        (1, []),
        (2, list(range(1, k))),                  # k-1 tokens: no gram
        (3, list(range(7, 7 + k))),              # exactly one gram
        (4, [0] * (k + 2)),
        (5, [I31] * (k + 1)),
        (6, [-1] * (k + 1)),
        (7, [I31, -1, 0, -(1 << 31), 5, I31, -1, 0, 3, 3, 3, 9, 1, 2, -7,
             I31, 0][:k + 4]),
        (8, [1, 2, 1, 2] * k),                   # repeated grams
    ]


def _duck(rows, k: int, sql_of) -> dict[int, list[int]]:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INT, tokens INT[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    out = {i: [] for i, _ in rows}
    for i, h in con.execute(f"""
        SELECT id, list({sql_of('tokens', 'i', k)} ORDER BY i)
        FROM (SELECT id, tokens,
                     unnest(generate_series(1, len(tokens) - {k - 1})) AS i
              FROM t WHERE len(tokens) >= {k})
        GROUP BY id""").fetchall():
        out[i] = h
    return out


@pytest.mark.parametrize("k", [4, 13])
def test_gram_hashes_agree_across_spark_duckdb_python(spark, k):
    rows = _edge_rows(k)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {r.id: (r.h32, r.h62) for r in spark.createDataFrame(
            rows, "id int, tokens array<int>").select(
                "id", token_gram_hash32(F.col("tokens"), k).alias("h32"),
                token_gram_hash62(F.col("tokens"), k).alias("h62"))
            .collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    d32 = _duck(rows, k, token_gram_hash32_sql)
    d62 = _duck(rows, k, token_gram_hash62_sql)
    for i, toks in rows:
        want32 = token_gram_hash32_py(toks, k)
        want62 = token_gram_hash62_py(toks, k)
        assert got[i] == (want32, want62), i
        # the SQL twin is per position; the caller dedups
        assert list(dict.fromkeys(d32[i])) == want32, i
        assert d62[i] == want62, i
        n = max(len(toks or ()) - k + 1, 0)
        assert len(want62) == n
        assert all(0 <= h < 1 << 32 for h in want32)
        assert all(0 <= h < 1 << 62 for h in want62)
    assert len(got[8][0]) == 2                   # (1,2,1,2..), (2,1,2,1..)


def test_minhash_agreement_tracks_jaccard():
    """For random doc pairs binned by the true Jaccard of their k=4
    gram sets, the mean per-hash signature agreement must sit within
    0.05 of the bin's mean Jaccard.  A weak gram finalizer (or the
    bare Horner lane, which is affine in the MinHash family's own
    field) overestimates by 0.06-0.11 here and fails."""
    docs = datagen.gen_tokens(np.random.default_rng(11), 1000) \
        .column("tokens").to_pylist()
    grams = [set(token_gram_hash32_py(d, 4)) for d in docs]
    a = np.array(_A, dtype=np.int64)[:, None]
    b = np.array(_B, dtype=np.int64)[:, None]
    sigs = np.stack([((a * np.fromiter(g, np.int64) + b) % MERSENNE_P)
                     .min(axis=1) for g in grams])
    assert sigs.shape == (len(docs), NUM_HASHES)
    rng = np.random.default_rng(0)
    x, y = rng.integers(0, len(docs), (2, 60_000))
    x, y = x[x != y], y[x != y]
    jac = np.array([len(grams[i] & grams[j]) / len(grams[i] | grams[j])
                    for i, j in zip(x, y)])
    agree = (sigs[x] == sigs[y]).mean(axis=1)
    checked = 0
    for lo in range(2, 8):
        m = (jac >= lo / 10) & (jac < (lo + 1) / 10)
        if m.sum() < 100:              # too few pairs for a stable mean
            continue
        checked += 1
        assert abs(agree[m].mean() - jac[m].mean()) <= 0.05, (lo, m.sum())
    assert checked >= 4
