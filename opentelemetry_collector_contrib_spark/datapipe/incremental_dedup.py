"""Incremental corpus-dedup ingest: each ledger-committed cycle
appends ONLY sequences never seen in any previous cycle — EXACT
dedup against a 10^12-document history without ever re-scanning it.

Composes the engine's existing pieces:

- ``plans/incremental.py``'s FileLedger + deterministic cycle ids
  (the stanza file_input offsets-resume analog) discover new files
  and make a killed-and-retried cycle idempotent;
- ``datapipe/bloom.py``'s tree-OR Bloom filter is the HISTORY
  pre-filter: a Bloom MISS is a certain non-member (appended with no
  join at all), a Bloom HIT is "maybe seen" and goes to an exact
  anti-join against the digest ledger;
- the digest ledger (``digests/cycle=<id>/`` parquet of md5 array
  digests, one dir per committed cycle) is the EXACT memory — so
  correctness never depends on the Bloom filter, which only bounds
  the join's left side to |true dups| + FP_rate·|new| rows,
  independent of history size.

Crash safety (all idempotent under the deterministic cycle id):
data/digest dirs are dynamic-overwritten on retry; the bitmap update
is an OR (re-applying it is a no-op); orphan dirs of a SUPERSEDED
crashed cycle are vacuumed before processing, and the exact anti-join
reads only COMMITTED cycles' digest dirs — stale Bloom bits from a
vacuumed cycle cost a few extra join rows, never a wrong drop.

Sizing at 10^12 docs: m = -n·ln(p)/ln²2 bits (1% FP at 10^12 keys ≈
1.2 TB — shard the filter by digest prefix and probe the matching
shard, as bloom.py's docstring lays out); the digest ledger is
~48 bytes/doc of bucketed parquet, and the per-cycle anti-join
touches only the Bloom-positive slice of the increment.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.incremental import FileLedger, _cycle_id, list_input_files
from .bloom import BLOOM_K, BLOOM_M, build_bloom, might_contain
from .hashing import (GRAM_HASH_SCHEME, NUM_HASHES, minhash_expr,
                      token_gram_hash32)
from .token_curation import tokens_digest


def _committed_digest_dirs(out_dir: str, ledger: FileLedger) -> list[str]:
    dirs = []
    for e in ledger.entries():
        p = os.path.join(out_dir, "digests", f"cycle={e['cycle_id']}")
        if os.path.isdir(p):
            dirs.append(p)
    return dirs


def _vacuum_orphans(out_dir: str, keep: set[str]) -> int:
    """Remove data/digest cycle dirs not committed and not current —
    correctness-critical for the digest side: a superseded crashed
    cycle's digests must not suppress re-ingest of docs whose data
    dir was just vacuumed."""
    removed = 0
    for sub in ("data", "digests", "bands"):
        root = os.path.join(out_dir, sub)
        if not os.path.isdir(root):
            continue
        for d in os.listdir(root):
            if d.startswith("cycle=") and d.split("=", 1)[1] not in keep:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                removed += 1
    return removed


def _discover_cycle(spark: SparkSession, input_path: str, out_dir: str,
                    ledger: FileLedger):
    """New-file discovery + orphan vacuum.  Returns (files, cycle_id)
    or None when the ledger already covers every input file."""
    all_files = list_input_files(spark, input_path)
    seen_files = ledger.processed_files()
    new = [f for f in all_files if f["path"] not in seen_files]
    if not new:
        return None
    cycle = _cycle_id(new)
    _vacuum_orphans(out_dir, keep=ledger.committed_cycles() | {cycle})
    return new, cycle


def _exact_history_filter(spark: SparkSession, out_dir: str,
                          ledger: FileLedger, within: DataFrame,
                          m: int, k: int) -> DataFrame:
    """Drop docs whose digest any COMMITTED cycle already appended.
    The exact digest anti-join is the correctness mechanism; the Bloom
    bitmap — when present — only pre-filters the join's left side to
    the maybe-seen slice.  A MISSING bitmap (lost `_dedup/` dir, first
    run) therefore degrades to anti-joining every row, never to
    skipping the check."""
    digest_dirs = _committed_digest_dirs(out_dir, ledger)
    if not digest_dirs:
        return within
    history = spark.read.parquet(*digest_dirs).select("digest")
    bloom_path = os.path.join(out_dir, "_dedup", "bloom.bin")
    if os.path.exists(bloom_path):
        with open(bloom_path, "rb") as f:
            bloom = f.read()
        tagged = might_contain(spark, within, "digest", bloom, m, k)
        misses = tagged.filter(~F.col("hit")).drop("hit")
        hits = tagged.filter(F.col("hit")).drop("hit")
        return misses.unionByName(hits.join(history, "digest",
                                            "left_anti"))
    return within.join(history, "digest", "left_anti")


def _publish_and_commit(survivors: DataFrame, out_dir: str, cycle: str,
                        ledger: FileLedger, files: list[dict],
                        n_in: int, m: int, k: int,
                        fail_before_commit: bool,
                        extra_writes=None, stamp: dict | None = None) -> dict:
    """Write data + digests (+ any extra per-cycle state), OR the
    survivors into the bitmap (idempotent under retry), atomic-rename
    publish, commit the ledger."""
    data_dir = os.path.join(out_dir, "data", f"cycle={cycle}")
    dig_dir = os.path.join(out_dir, "digests", f"cycle={cycle}")
    survivors.drop("digest").write.mode("overwrite").parquet(data_dir)
    survivors.select("digest").write.mode("overwrite").parquet(dig_dir)
    if extra_writes is not None:
        extra_writes()
    # the two writes materialized the persisted frame — this count is
    # a cache scan, not a re-read of the written parquet
    n_app = survivors.count()

    bloom_path = os.path.join(out_dir, "_dedup", "bloom.bin")
    digest_dirs = _committed_digest_dirs(out_dir, ledger)
    if os.path.exists(bloom_path):
        add = build_bloom(survivors.select("digest"), "digest", m, k)
        with open(bloom_path, "rb") as f:
            cur = np.frombuffer(f.read(), dtype=np.uint8)
        merged = (cur | np.frombuffer(add, dtype=np.uint8)).tobytes()
    elif digest_dirs:
        # bitmap lost but history exists (the heal path): rebuild from
        # history ∪ survivors, NOT survivors alone — a survivors-only
        # bitmap would make LATER cycles' Bloom misses skip the exact
        # anti-join for pre-loss duplicates ("miss ⇒ certainly new"
        # must hold against ALL committed digests)
        spark = survivors.sparkSession
        merged = build_bloom(
            spark.read.parquet(*digest_dirs).select("digest")
            .unionByName(survivors.select("digest")), "digest", m, k)
    else:
        merged = build_bloom(survivors.select("digest"), "digest", m, k)
    os.makedirs(os.path.dirname(bloom_path), exist_ok=True)
    tmp = bloom_path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(merged)
    if fail_before_commit:
        os.remove(tmp)
        return {"status": "killed", "cycle_id": cycle}
    os.replace(tmp, bloom_path)
    ledger.commit_cycle(cycle, files, {
        "rows_in": n_in, "rows_appended": n_app,
        "rows_dropped": n_in - n_app, **(stamp or {})})
    return {"status": "complete", "cycle_id": cycle,
            "files_processed": len(files), "rows_in": n_in,
            "rows_appended": n_app}


def run_dedup_ingest_cycle(spark: SparkSession, input_path: str,
                           out_dir: str,
                           m: int = BLOOM_M, k: int = BLOOM_K,
                           id_col: str = "doc_id",
                           tokens_col: str = "tokens",
                           fail_before_commit: bool = False) -> dict:
    """One cycle: discover new files, drop within-cycle exact dups
    (keep-first by id), drop docs whose digest any COMMITTED cycle
    already appended (exact digest anti-join, Bloom-prefiltered when
    the bitmap is present), append the survivors + their digests under
    ``cycle=<id>``, OR the survivors into the Bloom bitmap, commit the
    ledger."""
    ledger = FileLedger(os.path.join(out_dir, "_dedup_ledger"))
    disc = _discover_cycle(spark, input_path, out_dir, ledger)
    if disc is None:
        return {"status": "no_new_data",
                "cycles": len(ledger.committed_cycles())}
    new, cycle = disc

    df = (spark.read.option("basePath", input_path)
          .parquet(*[f["path"] for f in new])
          .withColumn("digest", tokens_digest(tokens_col)))
    w = Window.partitionBy("digest").orderBy(F.col(id_col).asc())
    within = (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
    n_in = df.count()
    survivors = _exact_history_filter(spark, out_dir, ledger, within,
                                      m, k).persist()
    out = _publish_and_commit(survivors, out_dir, cycle, ledger, new,
                              n_in, m, k, fail_before_commit)
    survivors.unpersist()
    return out


# ---------------------------------------------------------------------------
# fuzzy variant: near-dup suppression against the committed history
# ---------------------------------------------------------------------------

def _gram_frame(df: DataFrame, k_gram: int, id_col: str,
                tokens_col: str) -> DataFrame:
    return (df.select(F.col(id_col).alias("id"),
                      token_gram_hash32(F.col(tokens_col), k_gram)
                      .alias("sh"))
            .withColumn("sz", F.size("sh"))
            .filter(F.col("sz") > 0))


def _history_band_dirs(out_dir: str, ledger: FileLedger) -> list[str]:
    """Committed cycles' band-signature dirs.  Bands are only
    comparable under one gram hash: a history band written under
    another scheme would never match a new one, so near-dups of the
    history would pass silently — refuse instead."""
    dirs = []
    for e in ledger.entries():
        d = os.path.join(out_dir, "bands", f"cycle={e['cycle_id']}")
        if not os.path.isdir(d):
            continue
        if e.get("gram_hash") != GRAM_HASH_SCHEME:
            raise ValueError(
                f"cycle {e['cycle_id']} band signatures use gram hash "
                f"{e.get('gram_hash')!r}, not {GRAM_HASH_SCHEME!r}: they "
                f"cannot match new bands; rebuild this out_dir "
                f"({out_dir}) from its inputs")
        dirs.append(d)
    return dirs


def _bands_of(sh: DataFrame) -> DataFrame:
    from .dedup import _banded
    ex = sh.select("id", F.explode("sh").alias("h"))
    aggs = [F.min(minhash_expr(F.col("h"), i)).alias(f"mh{i}")
            for i in range(NUM_HASHES)]
    return _banded(ex.groupBy("id").agg(*aggs))


def _jaccard_filter(pairs: DataFrame, sh: DataFrame,
                    threshold: float,
                    sh_b: DataFrame | None = None) -> DataFrame:
    """Exact-Jaccard verify of an arbitrary (id_a, id_b) pair list.
    ``sh`` covers the id_a side (and both sides when ``sh_b`` is
    None); pass ``sh_b`` when the sides come from different frames so
    neither is evaluated for ids it cannot match."""
    sb = sh if sh_b is None else sh_b
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                  F.col("sz").alias("sz_a"))
    b = sb.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                  F.col("sz").alias("sz_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("long") / (F.col("sz_a").cast("long")
                                + F.col("sz_b") - inter)
    return (joined.withColumn("jaccard", jac)
            .filter(jac >= threshold)
            .select("id_a", "id_b", "jaccard"))


def run_fuzzy_dedup_ingest_cycle(spark: SparkSession, input_path: str,
                                 out_dir: str,
                                 threshold: float = 0.4,
                                 k_gram: int = 4,
                                 m: int = BLOOM_M, k: int = BLOOM_K,
                                 id_col: str = "doc_id",
                                 tokens_col: str = "tokens",
                                 metrics_out: dict | None = None) -> dict:
    """The fuzzy twin of :func:`run_dedup_ingest_cycle`: a cycle also
    drops docs that NEAR-duplicate the committed history (token-gram
    MinHash, Jaccard >= threshold) and then fuzzy-dedups within the
    increment (star candidates + connected components, exactly the
    tokens-curation semantics).

    History state per committed cycle: the survivors' band signatures
    (``bands/cycle=<id>/`` — BANDS rows/doc) next to digests and data;
    its ledger row records the gram hash scheme the bands were computed
    with, and a cycle raises on history bands of any other scheme (or
    with no record) rather than silently never matching them.
    Cross-cycle candidates are ALL (new, historical) pairs sharing a
    (band, sig) bucket — bounded in practice because the history holds
    only SURVIVORS: every earlier cycle collapsed its near-dup
    clusters, so a boilerplate bucket carries few historical members
    by construction (the in-cycle star+CC did the collapsing).  The
    verify fetches only the candidate historical docs' token arrays
    back from the corpus (a join on the bounded candidate id set, not
    a history scan) and recomputes their grams in Catalyst.

    Phase order per cycle (deterministic, oracle-checked end-to-end as
    ``fuzzy_dedup_ingest``): within-cycle exact keep-first → exact-
    vs-history (Bloom + digest anti-join) → fuzzy-vs-history drop →
    in-cycle star+CC survivors → append data/digests/bands, OR the
    bitmap, commit.

    ``metrics_out`` (dict, opt-in — costs 2-3 extra count actions):
    filled with the cross-history candidate sizes of this cycle
    (``n_cand_hist`` pairs, ``n_hist_docs_fetched`` distinct history
    docs, ``n_dropped_hist_fuzzy``) — the terms whose growth-vs-history
    the multi-cycle bench (tools/bench_fuzzy_cycles.py) tracks."""
    from .cluster import connected_components

    ledger = FileLedger(os.path.join(out_dir, "_dedup_ledger"))
    disc = _discover_cycle(spark, input_path, out_dir, ledger)
    if disc is None:
        return {"status": "no_new_data",
                "cycles": len(ledger.committed_cycles())}
    new, cycle = disc
    band_dirs = _history_band_dirs(out_dir, ledger)

    df = (spark.read.option("basePath", input_path)
          .parquet(*[f["path"] for f in new])
          .withColumn("digest", tokens_digest(tokens_col)))
    w = Window.partitionBy("digest").orderBy(F.col(id_col).asc())
    within = (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
    n_in = df.count()
    fresh = _exact_history_filter(spark, out_dir, ledger, within,
                                  m, k).persist()

    sh_new = _gram_frame(fresh, k_gram, id_col, tokens_col).persist()
    bands_new = _bands_of(sh_new).persist()

    to_unpersist = []
    if band_dirs:
        bands_h = (spark.read.parquet(*band_dirs)
                   .select(F.col("id").alias("old_id"), "band", "sig"))
        cand_x = (bands_new.join(bands_h, ["band", "sig"])
                  .select(F.col("id").alias("id_a"),
                          F.col("old_id").alias("id_b"))
                  .distinct()).persist()
        to_unpersist.append(cand_x)
        old_ids = cand_x.select(F.col("id_b").alias(id_col)).distinct()
        # Fetch candidate historical docs.  SMALL candidate sets
        # collect to an isin PREDICATE so the filter reaches the
        # parquet scan — on a corpus compacted sorted by doc_id
        # (sinks/maintenance.compact) row-group min/max stats then
        # skip everything but the touched files, instead of scanning
        # the whole history per cycle.  Cap at 2k: each isin literal
        # is marshalled through py4j and inflates the plan, a cost
        # that GROWS with the id count (the multi-cycle bench caught
        # the old 20k cap as the one per-cycle term trending up while
        # candidate pairs stayed flat).  Larger sets fall back to a
        # plan-stable broadcast join (ids broadcast; history side
        # scanned but never shuffled).
        ids = [r[0] for r in old_ids.limit(2_001).collect()]
        hist_corpus = read_corpus(spark, out_dir)
        if len(ids) <= 2_000:
            old_docs = hist_corpus.filter(F.col(id_col).isin(ids))
        else:
            old_docs = hist_corpus.join(F.broadcast(old_ids), id_col)
        sh_old = _gram_frame(old_docs, k_gram, id_col, tokens_col)
        # asymmetric sides: id_a's are new docs, id_b's historical —
        # joining each side against only its own gram frame avoids
        # running the history fetch + gram hop once per union branch
        near_hist = (_jaccard_filter(cand_x, sh_new, threshold,
                                     sh_b=sh_old)
                     .select(F.col("id_a").alias("id")).distinct())
        if metrics_out is not None:
            near_hist = near_hist.persist()
            to_unpersist.append(near_hist)
            metrics_out["n_cand_hist"] = cand_x.count()
            metrics_out["n_hist_docs_fetched"] = len(ids) \
                if len(ids) <= 2_000 else old_ids.count()
            metrics_out["n_dropped_hist_fuzzy"] = near_hist.count()
        fresh2 = fresh.join(near_hist.withColumnRenamed("id", id_col),
                            id_col, "left_anti").persist()
    else:
        fresh2 = fresh

    ids2 = fresh2.select(F.col(id_col).alias("id"))
    bands2 = bands_new.join(ids2, "id")
    rep = F.min("id").over(Window.partitionBy("band", "sig"))
    cand2 = (bands2.withColumn("rep", rep)
             .filter(F.col("id") != F.col("rep"))
             .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"))
             .distinct())
    sh2 = sh_new.join(ids2, "id")
    pairs2 = _jaccard_filter(cand2, sh2, threshold)
    clusters = connected_components(ids2, pairs2.select("id_a", "id_b"))
    survivors = (fresh2.join(
        clusters.filter(F.col("id") == F.col("cluster_id"))
        .select(F.col("id").alias(id_col)), id_col).persist())

    band_dir = os.path.join(out_dir, "bands", f"cycle={cycle}")

    def write_bands():
        (bands_new.join(survivors.select(F.col(id_col).alias("id")),
                        "id")
         .write.mode("overwrite").parquet(band_dir))

    out = _publish_and_commit(survivors, out_dir, cycle, ledger, new,
                              n_in, m, k, fail_before_commit=False,
                              extra_writes=write_bands,
                              stamp={"gram_hash": GRAM_HASH_SCHEME})
    for frame in [survivors, fresh2, fresh, sh_new, bands_new] \
            + to_unpersist:
        frame.unpersist()
    return out


def read_corpus(spark: SparkSession, out_dir: str) -> DataFrame:
    """The deduped corpus: union of all committed cycles' data dirs."""
    ledger = FileLedger(os.path.join(out_dir, "_dedup_ledger"))
    dirs = [os.path.join(out_dir, "data", f"cycle={e['cycle_id']}")
            for e in ledger.entries()]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        raise FileNotFoundError(f"no committed cycles under {out_dir}")
    return spark.read.option("basePath", os.path.join(out_dir, "data")) \
        .parquet(*dirs)
