"""Bloom-gated incremental corpus dedup
(datapipe/incremental_dedup.py): cross-cycle exactness, idempotent
kill-retry, Bloom-false-positive immunity, and orphan-cycle vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.datapipe.incremental_dedup import (
    read_corpus, run_dedup_ingest_cycle)


def _rows(prefix, n, tok_of):
    return [(f"{prefix}-{i:03d}", "s", tok_of(i)) for i in range(n)]


def _write(spark, path, rows):
    (spark.createDataFrame(rows, "doc_id string, source string, tokens array<int>")
     .coalesce(1).write.mode("append").parquet(path))


def _ids(spark, out):
    return {r["doc_id"] for r in read_corpus(spark, out).collect()}


def test_two_cycles_drop_cross_and_within_dups(spark, tmp_path):
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    # cycle 1: 20 unique docs + one within-cycle dup pair
    _write(spark, src, _rows("a", 20, lambda i: [i, i + 1, i + 2])
           + [("a-dup", "s", [0, 1, 2])])        # same tokens as a-000
    m1 = run_dedup_ingest_cycle(spark, src, out)
    assert m1["status"] == "complete"
    assert m1["rows_in"] == 21 and m1["rows_appended"] == 20
    assert _ids(spark, out) == {f"a-{i:03d}" for i in range(20)}
    # cycle 2: 10 repeats of cycle-1 content + 5 genuinely new
    _write(spark, src, _rows("b", 10, lambda i: [i, i + 1, i + 2])
           + _rows("c", 5, lambda i: [900 + i, 901 + i]))
    m2 = run_dedup_ingest_cycle(spark, src, out)
    assert m2["rows_appended"] == 5
    assert _ids(spark, out) == ({f"a-{i:03d}" for i in range(20)}
                                | {f"c-{i:03d}" for i in range(5)})
    # no new files -> no-op
    assert run_dedup_ingest_cycle(spark, src, out)["status"] == "no_new_data"


def test_killed_cycle_retries_idempotently(spark, tmp_path):
    srcs = [str(tmp_path / d / "in") for d in ("kill", "clean")]
    outs = [str(tmp_path / d / "out") for d in ("kill", "clean")]
    for src in srcs:
        _write(spark, src, _rows("a", 15, lambda i: [i, i * 2]))
    for src, out in zip(srcs, outs):
        run_dedup_ingest_cycle(spark, src, out)
        _write(spark, src, _rows("b", 8, lambda i: [i, i * 2])     # 8 dups
               + _rows("n", 4, lambda i: [500 + i]))               # 4 new
    # killed run: data/digests written, bloom + ledger NOT committed
    killed = run_dedup_ingest_cycle(spark, srcs[0], outs[0],
                                    fail_before_commit=True)
    assert killed["status"] == "killed"
    retry = run_dedup_ingest_cycle(spark, srcs[0], outs[0])
    clean = run_dedup_ingest_cycle(spark, srcs[1], outs[1])
    assert retry["status"] == clean["status"] == "complete"
    assert retry["rows_appended"] == clean["rows_appended"] == 4
    assert _ids(spark, outs[0]) == _ids(spark, outs[1])


def test_bloom_false_positives_never_drop_new_docs(spark, tmp_path):
    """With a pathologically tiny bitmap (m=32 bits) nearly every probe
    is a Bloom hit — exactness must survive on the digest-ledger
    anti-join alone."""
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write(spark, src, _rows("a", 30, lambda i: [i, i + 7]))
    run_dedup_ingest_cycle(spark, src, out, m=32)
    _write(spark, src, _rows("x", 25, lambda i: [3000 + i, 3100 + i]))
    m2 = run_dedup_ingest_cycle(spark, src, out, m=32)
    assert m2["rows_appended"] == 25     # every new doc survives FPs
    assert len(_ids(spark, out)) == 55


def test_lost_bloom_bitmap_degrades_to_full_anti_join(spark, tmp_path):
    """Exactness must NEVER depend on the Bloom bitmap: losing
    `_dedup/bloom.bin` (e.g. a backup tool skipping underscore dirs)
    degrades to anti-joining every row against the digest ledger —
    history duplicates still drop."""
    import shutil
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write(spark, src, _rows("a", 12, lambda i: [i, i + 1]))
    run_dedup_ingest_cycle(spark, src, out)
    shutil.rmtree(os.path.join(out, "_dedup"))      # lose the bitmap
    _write(spark, src, _rows("b", 5, lambda i: [i, i + 1])   # 5 dups
           + _rows("n", 2, lambda i: [700 + i]))             # 2 new
    m = run_dedup_ingest_cycle(spark, src, out)
    assert m["rows_appended"] == 2
    assert _ids(spark, out) == ({f"a-{i:03d}" for i in range(12)}
                                | {"n-000", "n-001"})
    # the healed bitmap must cover PRE-loss history too: a THIRD cycle
    # re-presenting a cycle-1 duplicate must still drop it (a bitmap
    # rebuilt from the heal cycle's survivors alone would route it
    # through the Bloom-miss "certainly new" branch)
    _write(spark, src, _rows("c", 3, lambda i: [i, i + 1]))   # dups of a-*
    m3 = run_dedup_ingest_cycle(spark, src, out)
    assert m3["rows_appended"] == 0
    assert not any(i.startswith("c-") for i in _ids(spark, out))


TEMPLATE = list(range(100, 130))


def test_fuzzy_cycles_drop_near_dups_of_history_and_within(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.datapipe.incremental_dedup \
        import run_fuzzy_dedup_ingest_cycle
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    # cycle 1: a 3-doc near-dup cluster + 3 unrelated uniques
    _write(spark, src,
           [(f"n{i}", "s", TEMPLATE + [900 + i]) for i in range(3)]
           + [(f"u{i}", "s", [2000 + 137 * i + 11 * j for j in range(25)])
              for i in range(3)])
    m1 = run_fuzzy_dedup_ingest_cycle(spark, src, out, threshold=0.3)
    assert m1["rows_appended"] == 4
    assert _ids(spark, out) == {"n0", "u0", "u1", "u2"}
    # cycle 2: near-dup of history, exact dup of history, an in-cycle
    # near-dup pair, and one genuinely fresh doc
    _write(spark, src, [
        ("h0", "s", TEMPLATE + [950]),                       # ~ n0
        ("e0", "s", [2000 + 11 * j for j in range(25)]),     # == u0
        ("p0", "s", [5000 + 3 * j for j in range(30)] + [1]),
        ("p1", "s", [5000 + 3 * j for j in range(30)] + [2]),
        ("f0", "s", [7000 + 17 * j for j in range(20)]),
    ])
    m2 = run_fuzzy_dedup_ingest_cycle(spark, src, out, threshold=0.3)
    assert m2["rows_appended"] == 2
    assert _ids(spark, out) == {"n0", "u0", "u1", "u2", "p0", "f0"}


def test_fuzzy_metrics_out_reports_candidate_sizes(spark, tmp_path):
    """The opt-in metrics_out dict reports the cross-history candidate
    terms (the quantities the multi-cycle bench tracks for
    flat-per-increment evidence); omitted by default."""
    from opentelemetry_collector_contrib_spark.datapipe.incremental_dedup \
        import run_fuzzy_dedup_ingest_cycle
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write(spark, src,
           [(f"n{i}", "s", TEMPLATE + [900 + i]) for i in range(3)])
    m0: dict = {}
    run_fuzzy_dedup_ingest_cycle(spark, src, out, threshold=0.3,
                                 metrics_out=m0)
    assert m0 == {}                       # no history yet: no fetch
    _write(spark, src, [("h0", "s", TEMPLATE + [950]),       # ~ n0
                        ("f0", "s", [7000 + 17 * j
                                     for j in range(20)])])
    m: dict = {}
    r = run_fuzzy_dedup_ingest_cycle(spark, src, out, threshold=0.3,
                                     metrics_out=m)
    assert r["rows_appended"] == 1                           # f0 only
    assert m["n_cand_hist"] >= 1          # (h0, n0) bucket collision
    assert m["n_hist_docs_fetched"] == 1  # only n0's array fetched
    assert m["n_dropped_hist_fuzzy"] == 1                    # h0


def test_fuzzy_history_state_is_survivor_bands_only(spark, tmp_path):
    """The band state written per cycle covers exactly the appended
    survivors — the property that keeps history buckets small."""
    from opentelemetry_collector_contrib_spark.datapipe.incremental_dedup \
        import run_fuzzy_dedup_ingest_cycle
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write(spark, src,
           [(f"n{i}", "s", TEMPLATE + [900 + i]) for i in range(4)])
    m = run_fuzzy_dedup_ingest_cycle(spark, src, out, threshold=0.3)
    band_ids = {r["id"] for r in spark.read.parquet(
        os.path.join(out, "bands", f"cycle={m['cycle_id']}")).collect()}
    assert band_ids == {"n0"}


@pytest.mark.parametrize("stamp", ["md5-hex8", None])
def test_fuzzy_cycle_refuses_bands_of_another_gram_hash(spark, tmp_path,
                                                        stamp):
    """History bands computed under another gram hash (or written before
    the scheme was recorded) can never match new bands; the next cycle
    must fail loudly instead of letting near-dups of history through."""
    import json

    from opentelemetry_collector_contrib_spark.datapipe.hashing import (
        GRAM_HASH_SCHEME)
    from opentelemetry_collector_contrib_spark.datapipe.incremental_dedup \
        import run_fuzzy_dedup_ingest_cycle
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write(spark, src,
           [(f"n{i}", "s", TEMPLATE + [900 + i]) for i in range(3)])
    run_fuzzy_dedup_ingest_cycle(spark, src, out, threshold=0.3)
    ledger = os.path.join(out, "_dedup_ledger", "ledger.jsonl")
    with open(ledger) as f:
        rows = [json.loads(line) for line in f]
    assert [r["gram_hash"] for r in rows] == [GRAM_HASH_SCHEME]
    for r in rows:
        r.pop("gram_hash")
        if stamp is not None:
            r["gram_hash"] = stamp
    with open(ledger, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    _write(spark, src, [("h0", "s", TEMPLATE + [950])])     # ~ n0
    with pytest.raises(ValueError, match="rebuild this out_dir"):
        run_fuzzy_dedup_ingest_cycle(spark, src, out, threshold=0.3)
    assert _ids(spark, out) == {"n0"}


def test_superseded_crashed_cycle_is_vacuumed(spark, tmp_path):
    """A cycle that died before commit and was then superseded by MORE
    arrivals (different cycle id) must not leave digests that suppress
    re-ingest of its docs."""
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write(spark, src, _rows("a", 10, lambda i: [i, i + 1]))
    run_dedup_ingest_cycle(spark, src, out)
    _write(spark, src, _rows("b", 6, lambda i: [100 + i]))
    run_dedup_ingest_cycle(spark, src, out, fail_before_commit=True)
    # more files arrive -> the retry computes a DIFFERENT cycle id
    _write(spark, src, _rows("c", 3, lambda i: [200 + i]))
    m = run_dedup_ingest_cycle(spark, src, out)
    assert m["rows_appended"] == 9       # all b-* and c-* docs land
    assert _ids(spark, out) >= {f"b-{i:03d}" for i in range(6)}
    # exactly the committed cycles' dirs remain — the orphan is gone
    from opentelemetry_collector_contrib_spark.plans.incremental import (
        FileLedger)
    committed = FileLedger(
        os.path.join(out, "_dedup_ledger")).committed_cycles()
    for sub in ("digests", "data"):
        left = set(os.listdir(os.path.join(out, sub)))
        assert left == {f"cycle={c}" for c in committed}
