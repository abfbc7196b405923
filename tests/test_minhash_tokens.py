"""Tokens-native MinHash+LSH (datapipe/dedup.py::minhash_tokens_lsh):
fuzzy dedup directly over tokens:array<int32> — no detokenize hop.
Python-twin parity pins the gram hashing + signature + star-candidate
+ Jaccard-verify chain; a planted templated corpus checks recall."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.datapipe.dedup import (
    minhash_tokens_lsh)
from opentelemetry_collector_contrib_spark.datapipe.hashing import (
    _A, _B, BANDS, MERSENNE_P, NUM_HASHES, ROWS_PER_BAND, token_gram_hash32,
    token_gram_hash32_py as _grams32)


def _twin_pairs(docs: dict[str, list[int]], k: int,
                threshold: float) -> dict[tuple[str, str], float]:
    """Pure-Python twin: signatures -> bands -> star candidates ->
    exact Jaccard over distinct gram-hash sets."""
    grams = {i: _grams32(t, k) for i, t in docs.items()}
    grams = {i: g for i, g in grams.items() if g}
    sigs = {i: [min((h * _A[j] + _B[j]) % MERSENNE_P for h in g)
                for j in range(NUM_HASHES)]
            for i, g in grams.items()}
    buckets: dict[tuple[int, str], list[str]] = {}
    for i, s in sigs.items():
        for b in range(BANDS):
            key = hashlib.md5(",".join(
                str(s[b * ROWS_PER_BAND + r])
                for r in range(ROWS_PER_BAND)).encode()).hexdigest()
            buckets.setdefault((b, key), []).append(i)
    cand = set()
    for members in buckets.values():
        rep = min(members)
        cand.update((rep, m) for m in members if m != rep)
    out = {}
    for a, b in cand:
        sa, sb = set(grams[a]), set(grams[b])
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            out[(a, b)] = j
    return out


TEMPLATE = [10, 20, 30, 40, 50, 60, 70, 80, 90, 100]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    # 4 near-identical templated docs: same 10-token template, one
    # trailing "value" token differs (the timestamps-differ shape)
    for i, tail in enumerate([111, 222, 333, 444]):
        rows.append((f"t-{i}", TEMPLATE + [tail]))
    # unrelated docs: disjoint token ranges
    for i in range(6):
        base = 1000 + 100 * i
        rows.append((f"u-{i}", [base + j * 7 for j in range(12)]))
    # a too-short doc (< k tokens) must drop out, not crash
    rows.append(("short", [1, 2]))
    return rows


def test_tokens_minhash_matches_python_twin(spark, corpus):
    df = spark.createDataFrame(corpus, "doc_id string, tokens array<int>")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_tokens_lsh(df, threshold=0.3, k=4,
                                       candidates="star").collect()}
    want = _twin_pairs(dict(corpus), k=4, threshold=0.3)
    assert got.keys() == want.keys() and got
    for pair, j in want.items():
        assert got[pair] == pytest.approx(j, abs=1e-12)


def test_tokens_minhash_finds_templated_near_dups(spark, corpus):
    df = spark.createDataFrame(corpus, "doc_id string, tokens array<int>")
    pairs = minhash_tokens_lsh(df, threshold=0.3, k=4,
                               candidates="star").collect()
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    # every templated doc is linked into the cluster; no unrelated doc is
    assert {f"t-{i}" for i in range(4)} <= ids
    assert not any(i.startswith(("u-", "short")) for i in ids)


def test_tokens_minhash_all_pairs_and_star_agree_after_cc(spark, corpus):
    """Star defers some in-bucket pairs to connected components; the
    CLUSTERS (not the edge sets) must match the all-pairs verifier."""
    from opentelemetry_collector_contrib_spark.datapipe.cluster import (
        connected_components)
    df = spark.createDataFrame(corpus, "doc_id string, tokens array<int>")

    nodes = df.select(F.col("doc_id").alias("id"))

    def clusters(candidates):
        pairs = minhash_tokens_lsh(df, threshold=0.3, k=4,
                                   candidates=candidates)
        comp = connected_components(nodes, pairs.select("id_a", "id_b"))
        return {tuple(sorted(r["members"])) for r in
                comp.groupBy("cluster_id")
                    .agg(F.sort_array(F.collect_list("id")).alias("members"))
                    .collect()}

    assert clusters("star") == clusters("all_pairs")


def test_token_gram_hash32_dedupes_and_guards_short(spark):
    df = spark.createDataFrame(
        [("a", [1, 2, 1, 2, 1, 2]),    # repeated grams -> distinct hashes
         ("b", [5])],                  # shorter than k
        "doc_id string, tokens array<int>")
    rows = {r.doc_id: r.sh for r in
            df.select("doc_id",
                      token_gram_hash32(F.col("tokens"), 4).alias("sh"))
            .collect()}
    assert rows["b"] == []
    # 6 tokens, k=4 -> 3 gram positions: (1,2,1,2), (2,1,2,1), (1,2,1,2)
    # -> 2 distinct hashes
    assert len(rows["a"]) == 2 == len(set(rows["a"]))
    assert rows["a"] == _grams32([1, 2, 1, 2, 1, 2], 4)
