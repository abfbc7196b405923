"""Deduplication operators for training-data pipelines.

These are first-class components alongside the log pipeline: the same
engine that parses/routes 10^12 tokenized sequences needs exact and
near dedup over them.  All operators are pure DataFrame compositions
(no Python in the row loop) and every hash is a portable one from
hashing.py (md5-derived for strings, Horner lanes for token grams) so
the DuckDB oracle reproduces results exactly.

Scale notes (100 TB):
- exact dedup: hash-groupBy — map-side partial agg, one shuffle keyed
  by 128-bit digest (uniform, no skew).
- n-gram Jaccard: shingle-explode + self-equi-join on shingle.  The
  shuffle is keyed by shingle hash; a boilerplate k-gram shared by D
  docs fans out to D(D-1)/2 join rows, which no salt fixes (the pairs
  really exist) — the scale path is ``ngram_jaccard_pairs_capped``,
  which drops shingles with document frequency > max_df via a
  broadcast anti-join (per-shingle fan-out <= max_df^2); the uncapped
  form is the small-N / LSH-candidate verifier.
- MinHash+LSH: signature is 16 mins computed in ONE aggregation over
  the exploded shingles (no per-hash pass); band buckets then
  equi-join — the classic sub-quadratic path; candidate pairs are
  verified with exact Jaccard.
- SimHash: 60-bit fingerprint via bit-vote aggregation; pairs within
  Hamming distance via xor+bit_count over block-partitioned candidates
  (4 x 15-bit blocks at max_hamming=3 -> 32k buckets/block).
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashing import (BANDS, MERSENNE_P, NUM_HASHES, ROWS_PER_BAND,
                      minhash_expr, portable_hash, token_gram_hash32,
                      token_gram_hash62)

# ---------------------------------------------------------------------------
# normalization + shingling (shared with the oracle SQL in __spark_entry__)
# ---------------------------------------------------------------------------

def norm_words(text_col) -> "F.Column":
    """lower, strip non-alnum, split on whitespace, drop empties."""
    cleaned = F.trim(F.regexp_replace(F.lower(text_col), "[^a-z0-9]+", " "))
    return F.filter(F.split(cleaned, " "), lambda w: w != "")


_NORM_RX = re.compile(r"[^a-z0-9]+")


def _norm_words_py(t: str | None) -> list[str]:
    """Python twin of norm_words (identical output, used inside UDFs)."""
    if t is None:
        return []
    return [x for x in _NORM_RX.sub(" ", t.lower()).strip().split(" ") if x]


# NB: return types are DataType objects, not DDL strings — DDL parsing
# needs an active SparkContext, and these modules also get imported
# inside Python workers (deserializing any UDF whose closure references
# this module), where no context exists.

@lru_cache(maxsize=8)
def shingles_udf(k: int):
    """Arrow-batched shingler: text -> distinct word k-grams of the
    ``norm_words`` tokenization, one Python hop per batch."""
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sh(text: pd.Series) -> pd.Series:
        def one(t):
            w = _norm_words_py(t)
            if len(w) < k:
                return []
            return list(dict.fromkeys(
                " ".join(w[i:i + k]) for i in range(len(w) - k + 1)))
        return text.map(one)
    return sh


@F.pandas_udf(T.ArrayType(T.StringType()))
def words_udf(text: pd.Series) -> pd.Series:
    """Arrow-batched norm_words (order + duplicates preserved)."""
    return text.map(_norm_words_py)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    minimal id as representative + duplicate count."""
    return (df
            .withColumn("text_hash", F.md5(F.col(text_col)))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("dup_count")))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact, quadratic in matching pairs)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5, k: int = 3,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All pairs (a < b) with word-k-gram Jaccard >= threshold.

    Set sizes come from the shingle arrays; the intersection from a
    shingle self-join — only the join shuffles, keyed by shingle.
    """
    sh = (df.select(F.col(id_col).alias("id"),
                    shingles_udf(k)(F.col(text_col)).alias("sh"))
          .withColumn("sz", F.size("sh"))
          .filter(F.col("sz") > 0))
    ex = sh.select("id", "sz", F.explode("sh").alias("g"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (a.join(b, (F.col("a.g") == F.col("b.g"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"),
                      F.col("a.sz").alias("sz_a"),
                      F.col("b.sz").alias("sz_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    # NB: jaccard is left unrounded — the long/long double division is
    # bit-identical across engines, so the oracle compares raw doubles
    # (rounding could disagree on exact decimal halves).
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (inter
            .withColumn("jaccard", jac)
            .filter(jac >= threshold)
            .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard"))


def ngram_jaccard_pairs_capped(df: DataFrame, threshold: float = 0.5,
                               k: int = 3, max_df: int = 64,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               hot_broadcast_limit: int = 1_000_000) -> DataFrame:
    """Scale-path twin of :func:`ngram_jaccard_pairs`: Jaccard over the
    DISCRIMINATIVE shingle space only — shingles whose document
    frequency exceeds ``max_df`` (stopword-like k-grams shared by huge
    swaths of the corpus) are dropped from both the candidate join and
    the set sizes before pairing.

    Why this is the production form: in the uncapped operator a shingle
    appearing in D docs fans out to D(D-1)/2 join rows — one boilerplate
    header shared by 1% of a web corpus is a quadratic hot key no salt
    can fix (the pairs really exist).  Capping bounds per-shingle
    fan-out at max_df^2 rows, and the dropped shingles carry no dedup
    signal anyway.  Plan shape: the hot-shingle set is O(hot) tiny, so
    it is removed with a BROADCAST left-anti join (fact side never
    shuffles for the filter); the doc-frequency count itself is a
    map-side-combined groupBy keyed by shingle (aggregation, not
    pairing — hot keys partial-combine instead of fanning out).

    Semantics are exact over the filtered space: sizes are recomputed
    from the kept shingles, so ``jaccard = |A∩B| / |A∪B|`` over
    discriminative shingles; docs with zero kept shingles drop out.
    """
    sh = (df.select(F.col(id_col).alias("id"),
                    shingles_udf(k)(F.col(text_col)).alias("sh")))
    ex = sh.select("id", F.explode("sh").alias("g"))
    hot = (ex.groupBy("g")
           .agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > max_df)
           .select("g")
           .persist())
    # Size-guarded broadcast (ADVICE r03): on a pathological corpus the
    # df>max_df set itself can reach tens of millions of k-grams, and a
    # blind F.broadcast hint bypasses autoBroadcastJoinThreshold —
    # executor OOM.  The hot set is persisted (the count below and the
    # anti-join both consume it, one aggregation pass total) and the
    # hint applied only under the limit; above it the anti-join
    # shuffles, which is slower but bounded.
    if hot.count() <= hot_broadcast_limit:
        hot = F.broadcast(hot)
    kept = ex.join(hot, "g", "left_anti")
    # kept-set size per doc via a window, not agg+join-back: ONE
    # exchange of the big side (hashpartitioning id) instead of two.
    exk = kept.withColumn(
        "sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
    a, b = exk.alias("a"), exk.alias("b")
    inter = (a.join(b, (F.col("a.g") == F.col("b.g"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"),
                      F.col("a.sz").alias("sz_a"),
                      F.col("b.sz").alias("sz_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (inter
            .withColumn("jaccard", jac)
            .filter(jac >= threshold)
            .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, k: int = 3, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """NUM_HASHES-wide MinHash signature per doc, one aggregation pass."""
    ex = (df.select(F.col(id_col).alias("id"),
                    F.explode(shingles_udf(k)(F.col(text_col))).alias("g"))
          .withColumn("h", portable_hash(F.col("g"))))
    aggs = [F.min(minhash_expr(F.col("h"), i)).alias(f"mh{i}")
            for i in range(NUM_HASHES)]
    return ex.groupBy("id").agg(*aggs)


def _banded(sig: DataFrame) -> DataFrame:
    """(id, band, sig) rows: one per (doc, band), sig = md5 of the band's
    ROWS_PER_BAND MinHash values."""
    bands = []
    for b in range(BANDS):
        cols = [F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string")
                for r in range(ROWS_PER_BAND)]
        bands.append(F.struct(F.lit(b).alias("band"),
                              F.md5(F.concat_ws(",", *cols)).alias("sig")))
    return (sig.select("id", F.explode(F.array(*bands)).alias("bs"))
            .select("id", F.col("bs.band").alias("band"),
                    F.col("bs.sig").alias("sig")))


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Band the signature (BANDS x ROWS_PER_BAND) and emit ALL pairs
    sharing at least one band bucket (distinct pairs, a < b).

    Small-N VERIFIER ONLY: a (band, sig) bucket of D docs emits
    D(D-1)/2 rows.  On a boilerplate-heavy web corpus (near-identical
    templated docs that survive exact dedup share every band) one
    bucket can hold millions of docs — the production candidate
    generator is :func:`lsh_candidate_edges_star`, which is linear in
    bucket size."""
    banded = _banded(sig)
    a, b_ = banded.alias("a"), banded.alias("b")
    return (a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())


def lsh_candidate_edges_star(sig: DataFrame) -> DataFrame:
    """Scale-path candidate generator: within each (band, sig) bucket
    emit STAR edges — every member links to the bucket's min id — so a
    bucket of D docs produces D-1 candidate rows instead of D(D-1)/2.

    Why this is safe: duplicate-cluster construction downstream runs
    connected components over the verified pairs
    (``datapipe/cluster.py``), and a star is exactly the spanning
    structure CC needs — (rep,a) + (rep,b) collapses a and b without
    the (a,b) edge ever existing.  Recall loss relative to all-pairs
    is bounded because each of the BANDS bands independently elects a
    representative: two docs sharing ANY band still reach each other
    through that band's hub unless the hub itself fails the Jaccard
    verify (near-identical corpora — the case that matters at scale —
    have hubs as duplicated as their spokes).

    Plan shape: ONE exchange keyed by (band, sig) for the window min —
    a mega-bucket lands on a single task but costs O(D) rows of
    (id, band, sig), not O(D^2).  Output keeps the id_a < id_b
    invariant (the rep is the min)."""
    banded = _banded(sig)
    rep = F.min("id").over(Window.partitionBy("band", "sig"))
    return (banded.withColumn("rep", rep)
            .filter(F.col("id") != F.col("rep"))
            .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"))
            .distinct())


def minhash_lsh_dedup(df: DataFrame, threshold: float = 0.5, k: int = 3,
                      text_col: str = "text", id_col: str = "doc_id",
                      persist: bool = True,
                      candidates: str = "all_pairs") -> DataFrame:
    """LSH candidates verified with exact Jaccard — computed ONLY for the
    candidate pairs (the production path: sub-quadratic candidate
    generation, per-candidate verify; never the all-pairs join).

    ``candidates`` picks the generator: ``"all_pairs"`` (every pair in
    a band bucket — the small-N verifier; quadratic in bucket size) or
    ``"star"`` (each bucket member linked to the bucket min — the
    production form: linear in bucket size, transitivity restored by
    the connected-components stage downstream; see
    :func:`lsh_candidate_edges_star`).

    The verify joins each candidate pair back to its two shingle sets
    (broadcastable when candidates are few after banding) and intersects
    the distinct-shingle arrays in-plan (array_intersect, codegen).

    ``persist`` caches the shingle frame, which this plan consumes THREE
    times (signature aggregation + both verify sides) — without it the
    Arrow shingler re-runs on every consumption.  O(docs x shingles),
    spills to disk."""
    sh = (df.select(F.col(id_col).alias("id"),
                    shingles_udf(k)(F.col(text_col)).alias("sh"))
          .withColumn("sz", F.size("sh")))
    return _minhash_lsh_verify(sh, threshold, candidates, persist,
                               hash_expr=portable_hash)


def _minhash_lsh_verify(sh: DataFrame, threshold: float, candidates: str,
                        persist: bool, hash_expr) -> DataFrame:
    """Shared LSH + exact-Jaccard tail over a prepared shingle frame
    ``(id, sh: array<T>, sz)``.  ``hash_expr(col)`` maps one shingle to
    its portable 32-bit hash H (identity when ``sh`` already holds
    hashes, as in the tokens-native path)."""
    gen = {"all_pairs": lsh_candidate_pairs,
           "star": lsh_candidate_edges_star}[candidates]
    if persist:
        sh = sh.persist()
    ex = (sh.select("id", F.explode("sh").alias("g"))
          .withColumn("h", hash_expr(F.col("g"))))
    aggs = [F.min(minhash_expr(F.col("h"), i)).alias(f"mh{i}")
            for i in range(NUM_HASHES)]
    cand = gen(ex.groupBy("id").agg(*aggs))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                  F.col("sz").alias("sz_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                  F.col("sz").alias("sz_b"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("long") / (F.col("sz_a").cast("long")
                                + F.col("sz_b") - inter)
    return (joined
            .withColumn("jaccard", jac)
            .filter(jac >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_tokens_lsh(df: DataFrame, threshold: float = 0.4, k: int = 4,
                       tokens_col: str = "tokens", id_col: str = "doc_id",
                       persist: bool = True,
                       candidates: str = "star") -> DataFrame:
    """Tokens-NATIVE MinHash+LSH near-dedup: fuzzy dedup directly over
    the north-rule input (``tokens: array<int32>``) with NO detokenize
    hop — the shingle universe is token k-grams, hashed to 32-bit in
    Catalyst (``hashing.token_gram_hash32``), and everything downstream
    (signature aggregation, banding, star candidates, exact-Jaccard
    verify) is the same JVM-side plan as the text path; the whole plan
    has no Python stage.

    Why this matters at 10^12 sequences: the text MinHash path pays a
    detokenize (token ids -> string) plus word normalization before it
    can shingle; on pre-tokenized training data those steps are pure
    overhead — the token ids ARE the canonical form.  Per-doc work
    drops to one k-step integer Horner fold per gram position, and the
    shuffled rows are 8-byte hashes either way.  Defaults (k=4, threshold=0.4) suit templated
    log corpora where near-dups share structure but differ in
    timestamps/values.

    ``candidates="star"`` is the production default (linear in band-
    bucket size; the downstream connected-components stage restores
    transitivity) — ``"all_pairs"`` remains the small-N verifier."""
    sh = (df.select(F.col(id_col).alias("id"),
                    token_gram_hash32(F.col(tokens_col), k).alias("sh"))
          .withColumn("sz", F.size("sh"))
          .filter(F.col("sz") > 0))
    return _minhash_lsh_verify(sh, threshold, candidates, persist,
                               hash_expr=lambda c: c)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# 60 bits = 15 md5 hex digits: fits a signed int64 / DuckDB BIGINT with
# headroom (no HUGEINT promotion in the oracle's sum, no sign-bit
# wrangling), and splits into 4 x 15-bit blocks for max_hamming=3 —
# 32k buckets per block, so at N docs each (blk, val) bucket holds
# ~N/2^15 rows.  The round-1 32-bit / 8-bit-block version degenerated
# toward quadratic at billions of docs (~N/256 per bucket).
SIMHASH_BITS = 60


def _simhash_py(text: str | None) -> int | None:
    """Pure-Python/numpy twin of the simhash computation: md5-based
    portable word hashes (first 15 hex digits = 60 bits), per-bit +/-1
    votes, sign -> bit.  Returns None for word-less docs (they produce
    no fingerprint, matching the explode-based formulation)."""
    import hashlib

    import numpy as np
    words = _norm_words_py(text)
    if not words:
        return None
    hs = np.fromiter(
        (int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in words),
        dtype=np.int64, count=len(words))
    bits = (hs[:, None] >> np.arange(SIMHASH_BITS)) & 1
    s = (bits * 2 - 1).sum(axis=0)
    return int(((s > 0).astype(np.int64) << np.arange(SIMHASH_BITS)).sum())


@F.pandas_udf(T.LongType())
def _simhash_udf(text: pd.Series) -> pd.Series:
    """Batch twin of _simhash_py with a per-batch word->hash cache:
    vocabulary is Zipfian, so most md5 calls are repeats — caching cuts
    the per-word hashing (the dominant cost) by the batch's
    type-token ratio."""
    import hashlib

    import numpy as np
    cache: dict[str, int] = {}

    def h(w: str) -> int:
        v = cache.get(w)
        if v is None:
            v = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            cache[w] = v
        return v

    shifts = np.arange(SIMHASH_BITS)
    out: list[int | None] = []
    for t in text:
        words = _norm_words_py(t)
        if not words:
            out.append(None)
            continue
        hs = np.fromiter((h(w) for w in words), dtype=np.int64,
                         count=len(words))
        bits = (hs[:, None] >> shifts) & 1
        s = (bits * 2 - 1).sum(axis=0)
        out.append(int(((s > 0).astype(np.int64) << shifts).sum()))
    return pd.Series(out, dtype="object")


def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Per-doc SIMHASH_BITS-bit fingerprint: bit b is the sign of the
    vote sum over word hashes (+1 if bit set else -1).  ONE Arrow hop
    per doc — the explode+groupBy formulation shuffled O(words) rows
    per document for what is a purely per-row computation."""
    return (df.select(F.col(id_col).alias("id"),
                      _simhash_udf(F.col(text_col)).alias("simhash"))
            .filter(F.col("simhash").isNotNull()))


def simhash_near_pairs(fp: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance.  Quadratic fallback for small N;
    the scale path blocks on fingerprint prefixes (pigeonhole: any pair
    within d bits shares one of d+1 prefix blocks)."""
    a, b = fp.alias("a"), fp.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (a.join(b, F.col("a.id") < F.col("b.id"))
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"), "hamming"))


def simhash_block_bounds(max_hamming: int,
                         bits: int = SIMHASH_BITS) -> list[tuple[int, int]]:
    """(shift, width) per block: max_hamming+1 blocks that PARTITION all
    ``bits`` bits (pigeonhole needs full coverage); remainder bits go to
    the leading blocks when bits % nblocks != 0."""
    nblocks = max_hamming + 1
    base, rem = divmod(bits, nblocks)
    bounds, shift = [], 0
    for i in range(nblocks):
        width = base + (1 if i < rem else 0)
        bounds.append((shift, width))
        shift += width
    return bounds


def simhash_near_pairs_blocked(fp: DataFrame, max_hamming: int = 3,
                               persist: bool = True) -> DataFrame:
    """Scale path: split the fingerprint into (max_hamming+1) blocks;
    equi-join on (block_idx, block_value) — any pair within max_hamming
    shares at least one identical block (pigeonhole).  At 60 bits /
    max_hamming=3 each block is 15 bits -> 32k buckets per block.

    ``persist`` caches the (id, simhash) frame before the self-join:
    Spark recomputes each side of a self-join from the source, which
    would run the fingerprint UDF (and the upstream text scan) TWICE.
    The cached frame is O(docs) x 16 bytes — negligible next to the
    corpus at any scale (spills to disk if not)."""
    if persist:
        fp = fp.persist()
    blocks = F.array(*[
        F.struct(F.lit(i).alias("blk"),
                 F.shiftright(F.col("simhash"), shift)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("val"))
        for i, (shift, width) in
        enumerate(simhash_block_bounds(max_hamming))])
    ex = (fp.select("id", "simhash", F.explode(blocks).alias("b"))
          .select("id", "simhash", F.col("b.blk").alias("blk"),
                  F.col("b.val").alias("val")))
    a, b = ex.alias("a"), ex.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.val") == F.col("b.val"))
                   & (F.col("a.id") < F.col("b.id")))
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"), "hamming")
            .distinct())


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(df: DataFrame, threshold: float = 0.95,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Pairs with cosine similarity >= threshold (brute force; the ANN
    path in similarity.py prunes candidates first)."""
    from .similarity import cosine_batch_udf
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a, b = v.alias("a"), v.alias("b")
    cos = cosine_batch_udf(F.col("a.v"), F.col("b.v"))
    return (a.join(b, F.col("a.id") < F.col("b.id"))
            .withColumn("cosine", F.round(cos, 6))
            .filter(F.col("cosine") >= threshold)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"), "cosine"))


def embedding_neardup_blocked(df: DataFrame, dim: int,
                              threshold: float = 0.95,
                              n_planes: int = 8, n_tables: int = 2,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """LSH-blocked cosine near-dup pairs — the 100 TB path.

    ``embedding_neardup_pairs`` above is an all-pairs ``a.id < b.id``
    self-join: O(N²) candidate rows, a scale-killer on a real embedding
    table.  This variant reuses the random-hyperplane buckets from
    similarity.py (``lsh_buckets``): only vectors sharing a
    (table, bucket) cell are scored, so candidate count is
    ~N²/2^n_planes per table and the shuffle is keyed by bucket.  The
    bucket join runs PAYLOAD-FREE (ids only); vectors join back after
    the pair-dedup so the wide distinct never carries embeddings.

    Recall contract: a pair is found iff it shares ≥1 bucket.  For the
    near-DUPLICATE regime this targets (cosine ≥ ~0.95, i.e. angle ≤
    18°) per-plane agreement is ≥0.9 and multi-table union makes misses
    rare; exact-direction duplicates (the common corpus case: rescaled
    or re-encoded copies) agree on EVERY plane and are found with
    probability 1.  The all-pairs form stays as the small-N verifier
    (tests assert blocked == brute on planted duplicates).
    """
    from .similarity import cosine_batch_udf, lsh_buckets
    b = lsh_buckets(df, dim, n_planes, n_tables, id_col, vec_col).drop("v")
    l, r = b.alias("l"), b.alias("r")
    cand = (l.join(r, (F.col("l.table") == F.col("r.table"))
                   & (F.col("l.bucket") == F.col("r.bucket"))
                   & (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("id_a"),
                    F.col("r.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cand = (cand
            .join(v.select(F.col("id").alias("id_a"),
                           F.col("v").alias("va")), "id_a")
            .join(v.select(F.col("id").alias("id_b"),
                           F.col("v").alias("vb")), "id_b"))
    cos = cosine_batch_udf(F.col("va"), F.col("vb"))
    return (cand.withColumn("cosine", F.round(cos, 6))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def hash_sample(df: DataFrame, rate: float, id_col: str = "doc_id",
                salt: str = "sample") -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose portable hash of
    (salt:id) falls under rate * 2^32.  Unlike rand()-based sampling
    this is resume-safe (re-runs keep the identical subset) and
    engine-portable (the DuckDB oracle reproduces it exactly).  At any
    scale it is a stateless filter — no shuffle, pushes past nothing."""
    h = portable_hash(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    return df.filter(h < int(rate * (1 << 32)))


def train_split_column(id_col: str = "doc_id", val_permille: int = 100,
                       salt: str = "split") -> "F.Column":
    """'val' for ~val_permille/1000 of rows, else 'train' — the
    deterministic group-stable hash split training pipelines use (the
    same id lands in the same split forever, any engine agrees)."""
    h = portable_hash(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    return F.when(h % 1000 < val_permille, F.lit("val")).otherwise(F.lit("train"))


def dedup_survivors(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    policy: str = "longest") -> DataFrame:
    """Pick ONE surviving row per exact-duplicate group (the selection
    step training pipelines run after exact_dedup).

    policy='longest' — keep the longest text, ties by smallest id;
    policy='first'   — keep the smallest id.

    Windowed rank over deterministic keys, so any engine reproduces the
    same survivors.  At scale this is a single hash-partitioned window
    (shuffle keyed by the uniform text hash — no skew).
    """
    from pyspark.sql import Window
    if policy == "longest":
        order = [F.length(F.col(text_col)).desc(), F.col(id_col).asc()]
    elif policy == "first":
        order = [F.col(id_col).asc()]
    else:
        raise ValueError(f"unknown dedup policy {policy!r}")
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(*order)
    wall = Window.partitionBy(F.md5(F.col(text_col)))
    return (df
            .withColumn("dup_count", F.count(F.lit(1)).over(wall))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn"))


# ---------------------------------------------------------------------------
# corpus-wide line (paragraph) dedup — CCNet-style
# ---------------------------------------------------------------------------

def dedup_lines(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", delim: str = "\n") -> DataFrame:
    """Remove corpus-wide duplicated lines/paragraphs, keep-first.

    The CCNet preprocessing step: boilerplate (nav bars, cookie
    banners, license headers) repeats across millions of pages; exact
    doc-level dedup never sees it.  Split every document into lines,
    keep only the FIRST occurrence of each distinct line corpus-wide
    (ordered by (id, line_no) so any engine picks the same survivor),
    and reassemble each document from its kept lines in order.

    Returns one row per input document:
      (id, n_lines, n_kept, n_dropped, kept_md5) where kept_md5 is
    md5 of the reassembled deduped text ('' when every line dropped) —
    compact proof of the exact surviving content.

    Scale (10^12 lines): two shuffles — a row_number window keyed by
    the 128-bit line digest (uniform), then the reassembly groupBy
    keyed by doc id.  Empty lines are NOT deduped (each keeps a unique
    window key): semantically they are structure, not content, and at
    corpus scale they would otherwise concentrate ~10% of all rows on
    one hash partition — the classic skew hot-key.
    """
    from pyspark.sql import Window
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), re.escape(delim)))
         .alias("line_no", "line"))
    # empty lines bypass dedup via a per-row-unique partition key
    key = (F.when(F.col("line") == "",
                  F.concat_ws(":", F.lit("E"), F.col("id").cast("string"),
                              F.col("line_no").cast("string")))
           .otherwise(F.md5(F.col("line"))))
    w = Window.partitionBy(key).orderBy(F.col("id").asc(),
                                        F.col("line_no").asc())
    ranked = lines.withColumn("rk", F.row_number().over(w))
    kept_struct = F.when(F.col("rk") == 1,
                         F.struct(F.col("line_no"), F.col("line")))
    return (ranked
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
                  .cast("bigint").alias("n_kept"),
                 # collect_list skips the when()-null non-survivors;
                 # array_sort on (line_no, line) restores doc order
                 F.md5(F.concat_ws(delim, F.transform(
                     F.array_sort(F.collect_list(kept_struct)),
                     lambda s: s["line"]))).alias("kept_md5"))
            .withColumn("n_dropped",
                        (F.col("n_lines") - F.col("n_kept")).cast("bigint"))
            .select("id", F.col("n_lines").cast("bigint").alias("n_lines"),
                    "n_kept", "n_dropped", "kept_md5"))


# ---------------------------------------------------------------------------
# token-level cross-document n-gram dedup (exact-substring profile)
# ---------------------------------------------------------------------------

def token_ngram_profile(df: DataFrame, n: int = 13,
                        id_col: str = "doc_id",
                        tokens_col: str = "tokens",
                        n_tok_col: str | None = None) -> DataFrame:
    """Per-document profile of cross-document duplicated token n-grams
    — the batch shape of exact-substring training-data dedup (a gram is
    "duplicated" when it occurs in >= 2 distinct documents; the
    documents' overlapping gram spans are interval-merged into a
    covered-token count a curation pipeline thresholds or masks on).

    Output: (id, n_tok, n_grams, n_dup_grams, covered_tokens,
    dup_token_fraction).

    Scale shape (the part that matters at 10^12 sequences):
    - gram hashing is a Catalyst expression (``token_gram_hash62``,
      no Python hop) emitting 62-bit ints (8 bytes per gram into the
      shuffle, not the gram text);
    - duplicated-gram detection is ONE hash-partitioned aggregate keyed
      by the uniform gram hash (map-side partial count first), and only
      hashes with >= 2 distinct docs survive into the join — at
      web-scale dedup rates that is a small fraction of all grams;
    - the join back is a shuffle equi-join on the same uniform key;
    - interval merge is a window per doc: sum(min(next_pos - pos, n))
      — no per-doc Python, no collect.
    """
    from pyspark.sql import Window
    g = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(token_gram_hash62(F.col(tokens_col), n))
        .alias("pos", "gh"))
    # g feeds both the dup aggregate and the join-back: two passes over
    # the scan+hash.  At 10^12 sequences persisting the exploded grams
    # is infeasible, so the two-pass shape is the intended trade; the
    # doc-side base below reads only size(tokens) — no third hash pass.
    dup = (g.groupBy("gh")
           .agg(F.count_distinct("id").alias("nd"))
           .filter(F.col("nd") >= 2)
           .select("gh"))
    dupg = g.join(dup, "gh")
    w = Window.partitionBy("id").orderBy("pos")
    cov = F.least(
        F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(n)),
        F.lit(n))
    per_doc = (dupg.withColumn("cov", cov)
               .groupBy("id")
               .agg(F.count(F.lit(1)).alias("n_dup_grams"),
                    F.sum("cov").alias("covered_tokens")))
    # doc-side base: the caller may OPT IN to a pre-materialized length
    # column (the tokens table carries n_tok) so this third pass scans
    # two scalar columns instead of re-reading the token arrays.  Never
    # inferred from the schema: a frame can carry an n_tok that was
    # derived from a DIFFERENT column than tokens_col.
    if n_tok_col is not None:
        ntok = F.coalesce(F.col(n_tok_col).cast("int"), F.lit(0))
    else:
        ntok = F.coalesce(F.size(tokens_col), F.lit(0))
    base = df.select(
        F.col(id_col).alias("id"), ntok.alias("n_tok")
    ).withColumn("n_grams",
                 F.greatest(F.col("n_tok") - F.lit(n - 1), F.lit(0)))
    out = (base.join(per_doc, "id", "left")
           .select("id", "n_tok", "n_grams",
                   F.coalesce("n_dup_grams", F.lit(0)).cast("bigint")
                   .alias("n_dup_grams"),
                   F.coalesce("covered_tokens", F.lit(0)).cast("bigint")
                   .alias("covered_tokens")))
    return out.withColumn(
        "dup_token_fraction",
        F.when(F.col("n_tok") > 0,
               F.col("covered_tokens").cast("double")
               / F.col("n_tok").cast("double")).otherwise(F.lit(0.0)))


def remove_dup_spans(df: DataFrame, n: int = 13,
                     id_col: str = "doc_id",
                     tokens_col: str = "tokens") -> DataFrame:
    """APPLY exact-substring dedup: delete every token covered by a
    cross-document duplicated n-gram (the removal step of Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better" —
    token_ngram_profile measures the coverage; this op edits the
    corpus).  A token at index i is removed iff some duplicated gram
    starts at p with p <= i < p + n.

    Output: (id, n_tok, n_removed, kept) with ``kept`` the surviving
    token array in original order.

    Scale shape: the gram hashing + dup aggregate are identical to
    token_ngram_profile (8-byte uniform hashes through the shuffle);
    the removal adds (a) ONE exchange collecting each doc's dup-gram
    start positions (only duplicated grams travel), (b) one equi-join
    back to the tokens table keyed by the uniform doc id, and (c) ONE
    Arrow hop applying the interval mask in numpy — token arrays are
    never exploded through a shuffle."""
    import numpy as np

    g = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(token_gram_hash62(F.col(tokens_col), n))
        .alias("pos", "gh"))
    dup = (g.groupBy("gh")
           .agg(F.count_distinct("id").alias("nd"))
           .filter(F.col("nd") >= 2).select("gh"))
    starts = (g.join(dup, "gh")
              .groupBy("id")
              .agg(F.sort_array(F.collect_list("pos")).alias("starts")))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def keep_mask(tokens: pd.Series, st: pd.Series) -> pd.Series:
        out = []
        for toks, ss in zip(tokens, st):
            t = np.asarray(toks, dtype=np.int64)
            if ss is None or len(ss) == 0:
                out.append(t.astype(np.int32).tolist())
                continue
            covered = np.zeros(len(t), dtype=bool)
            for p in ss:
                covered[p:p + n] = True
            out.append(t[~covered].astype(np.int32).tolist())
        return pd.Series(out)

    base = df.select(F.col(id_col).alias("id"), F.col(tokens_col)
                     .alias("_toks"))
    joined = base.join(starts, "id", "left")
    return (joined
            .withColumn("kept", keep_mask(F.col("_toks"), F.col("starts")))
            .select("id",
                    F.size("_toks").alias("n_tok"),
                    (F.size("_toks") - F.size("kept")).alias("n_removed"),
                    "kept"))


# ---------------------------------------------------------------------------
# training-mix construction: per-stratum quota sampling with upsampling
# ---------------------------------------------------------------------------

def token_contamination(docs: DataFrame, benchmark: DataFrame,
                        n: int = 13, id_col: str = "doc_id",
                        tokens_col: str = "tokens") -> DataFrame:
    """Benchmark decontamination on RAW token streams: per training
    doc, the fraction of its token n-grams that occur anywhere in the
    benchmark set — the tokens-native twin of the word-k-gram
    ``curation.contamination`` (no decode; the gram universe is the
    62-bit portable ``token_gram_hash62`` the exact-substring profile
    uses).

    Output: (id, n_grams, n_hit, hit_frac).  Docs shorter than n
    tokens report (0, 0, 0.0) — nothing to leak.

    Scale shape: the benchmark gram set is distinct-aggregated and
    broadcast (benchmarks are small by construction — MMLU-sized sets
    are ~10^6 grams); the training side is the Catalyst gram hash + a
    broadcast LEFT join + a per-doc aggregate keyed by the uniform doc
    id.  At 10^12 docs nothing shuffles except 8-byte (id, hit) pairs
    into the partial-agg exchange."""
    bench = (benchmark
             .select(F.explode(token_gram_hash62(
                 F.col(tokens_col), n)).alias("gh"))
             .distinct()
             .withColumn("_hit", F.lit(1)))
    g = docs.select(F.col(id_col).alias("id"),
                    F.explode(token_gram_hash62(
                        F.col(tokens_col), n)).alias("gh"))
    per = (g.join(F.broadcast(bench), "gh", "left")
           .groupBy("id")
           .agg(F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                .cast("bigint").alias("n_hit")))
    base = docs.select(F.col(id_col).alias("id"))
    return (base.join(per, "id", "left")
            .select("id",
                    F.coalesce("n_grams", F.lit(0)).cast("bigint")
                    .alias("n_grams"),
                    F.coalesce("n_hit", F.lit(0)).cast("bigint")
                    .alias("n_hit"))
            .withColumn("hit_frac",
                        F.when(F.col("n_grams") > 0,
                               F.round(F.col("n_hit")
                                       / F.col("n_grams"), 6))
                        .otherwise(F.lit(0.0))))


def temperature_fractions(counts: dict[str, int],
                          temperature: float = 0.5) -> dict[str, float]:
    """Per-source mixing fractions for temperature-based resampling
    (the standard pretraining source-mix construction: sample source s
    with probability ∝ p_s^T, flattening the natural Zipf of web-scale
    corpora).  Resampled to the original corpus size, the per-source
    rate handed to :func:`stratified_sample` is

        f_s = ((r_s / Z) * N) / n_s,   r_s = (n_s / N)^T,
        Z = Σ r_s (left-assoc over sources sorted by name)

    so hot sources downsample (f<1) and tail sources upsample (f>1).

    Cross-engine float parity (what makes the oracle bit-checkable):
    at the default T=0.5 the power is sqrt — IEEE-754-required to be
    correctly rounded, so CPython, the JVM and DuckDB agree exactly —
    and Z is pinned left-associative.  Arbitrary T works in
    production; libm pow is only ~1-ulp reproducible, so only the
    T=0.5 path is under the value-hash gate."""
    import math
    n_total = sum(counts.values())
    if n_total == 0:
        return {}
    if temperature == 0.5:
        r = {s: math.sqrt(n / n_total) for s, n in counts.items()}
    else:
        r = {s: (n / n_total) ** temperature for s, n in counts.items()}
    z = 0.0
    for s in sorted(r):
        z = z + r[s]
    return {s: ((r[s] / z) * n_total) / counts[s] if counts[s] else 0.0
            for s in counts}


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      default: float = 0.0, strata_col: str = "source",
                      id_col: str = "doc_id",
                      salt: str = "mix") -> DataFrame:
    """Deterministic per-stratum mix sampling — the training-mix
    construction step (e.g. "keep 30% of web, all of books, 2.5x
    wikipedia").

    Fractions < 1 downsample (Bernoulli on the portable hash, exactly
    ``hash_sample`` per stratum); fractions > 1 upsample by emitting
    ``floor(f)`` full copies plus one more with probability ``f -
    floor(f)`` (hash-gated, so resume-safe).  Output adds ``copy``
    (0-based replica index) — downstream packing/shuffling treats each
    copy as an independent row.

    Scale shape: a stateless per-row filter + a bounded ``explode`` of
    a ``sequence`` column — no shuffle, no state; the n_copies arith is
    pure codegen.  Skewed strata cost nothing here (the explode factor
    is per-row), and the deterministic hash means re-runs and resumed
    partitions emit identical copies.
    """
    if any(f < 0 for f in fractions.values()) or default < 0:
        raise ValueError("fractions must be >= 0")
    h = portable_hash(F.concat(F.lit(f"{salt}:"),
                               F.col(id_col).cast("string")))
    frac = None
    for k, f in sorted(fractions.items()):
        cond = (F.col(strata_col) == F.lit(k))
        frac = (F.when(cond, F.lit(float(f))) if frac is None
                else frac.when(cond, F.lit(float(f))))
    frac = frac.otherwise(F.lit(float(default))) if frac is not None \
        else F.lit(float(default))
    whole = F.floor(frac).cast("int")
    rem = frac - F.floor(frac)
    extra = (h < (rem * F.lit(float(1 << 32))).cast("long")).cast("int")
    n_copies = whole + extra
    out = (df.withColumn("_n_copies", n_copies)
           .filter(F.col("_n_copies") > 0)
           .withColumn("copy",
                       F.explode(F.sequence(F.lit(0),
                                            F.col("_n_copies") - 1)))
           .drop("_n_copies"))
    return out
