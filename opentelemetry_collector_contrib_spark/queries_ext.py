"""Extended driver-contract queries: training-data ops (dedup,
similarity, text stats, multimodal) + the remaining reference operator
families (carbon, statsd, metricstransform, tailsampling, groupbytrace,
splunk HEC, consistent-hash ring).

Each Spark query has an exactly-matching DuckDB oracle built here; float
results are engineered to be bit-identical across engines (same
double-precision operation order), so the driver's sorted value-hash
compare is stable.  See tools/check_correctness.py for the gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datapipe.dedup import (dedup_survivors, exact_dedup, minhash_lsh_dedup,
                             ngram_jaccard_pairs, minhash_signatures, norm_words,
                             simhash_fingerprints, simhash_near_pairs_blocked,
                             embedding_neardup_pairs)
from .datapipe.hashing import (MERSENNE_P, NUM_HASHES, BANDS, ROWS_PER_BAND,
                               _A, _B, portable_hash, portable_hash_sql,
                               token_gram_hash32_sql, token_gram_hash62_sql)
from .datapipe.multimodal import extract_features
from .datapipe.similarity import cosine_topk, lsh_topk
from .datapipe.textstats import LANGS, STOPWORDS, text_features
from .functions.tokens import DECODE_SQL_DUCKDB
from .operators.carbon import CarbonRegexRule, apply_regex_rules, parse_plaintext
from .operators.spanmetrics import span_metrics
from .operators.filters import SamplingPolicy, tail_sample
from .operators.json_parser import splunk_hec_events
from .operators.metrics_transform import combine
from .operators.partitioners import ring_route_column
from .operators.statsd import flush_aggregate, parse_statsd, timer_aggregate
from .queries_export import export_oracles, export_queries
from .queries_k8s import k8s_oracles, k8s_queries
from .queries_scrape import scrape_oracles, scrape_queries
from .queries_wire import wire_oracles, wire_queries

# ---------------------------------------------------------------------------
# corpora (built in-query from the documents table, mirrored in SQL)
# ---------------------------------------------------------------------------

PAD = " padding tail marker"
RING_BACKENDS = ["backend-0", "backend-1", "backend-2", "backend-3"]
CARBON_NAME_RX = r"^(?P<name_0>cpu|mem|disk|net)\.(?P<name_1>[a-z.]+)$"
COMBINE_RX = r"^(?P<pre>cpu|mem)\.(?P<rest>[a-z.]+)$"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus a padded near-duplicate of every doc (id+10000)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    d2 = d.select((F.col("doc_id") + 10000).alias("doc_id"),
                  F.concat(F.col("text"), F.lit(PAD)).alias("text"))
    return d.unionByName(d2)


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus byte-exact copies of doc_id < 100 (id+20000)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    d2 = (d.filter(F.col("doc_id") < 100)
          .select((F.col("doc_id") + 20000).alias("doc_id"), "text"))
    return d.unionByName(d2)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_exact_corpus(spark, sf_dir), "text", "doc_id")


def q_dedup_survivors(spark, sf_dir):
    out = dedup_survivors(_exact_corpus(spark, sf_dir))
    return out.select("doc_id", "dup_count")


def q_bloom_hits(spark, sf_dir):
    """Incremental dedup via broadcast Bloom filter: probe = members
    (doc_id%3==0, must all hit) + novel texts (doc_id%3==1, hit only
    on a deterministic false positive).  The oracle replays the exact
    bit positions in SQL, so FP behavior is value-hash-checked too."""
    from .datapipe.bloom import build_bloom, might_contain
    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    probe = (corpus.filter(F.col("doc_id") % 3 == 0)
             .unionByName(
                 corpus.filter(F.col("doc_id") % 3 == 1)
                 .select((F.col("doc_id") + 50000).alias("doc_id"),
                         F.concat(F.col("text"), F.lit(" NEW"))
                          .alias("text"))))
    bloom = build_bloom(corpus, "text")
    return (might_contain(spark, probe, "text", bloom)
            .select("doc_id", "hit"))


CMS_PROBE_WORDS = ["the", "and", "data", "model", "spark", "token",
                   "quality", "language", "of", "zzz_absent"]


def q_hll_cardinality(spark, sf_dir):
    """Distinct-word cardinality per lang via the portable HLL sketch
    (datapipe/sketches.py) next to the exact count — the oracle
    replays every register, so the ESTIMATE itself is hash-checked."""
    from .datapipe.sketches import hll_estimate
    words = _docs(spark, sf_dir).select(
        "lang", F.explode(norm_words(F.col("text"))).alias("w"))
    est = hll_estimate(words, "w", "lang")
    exact = words.groupBy("lang").agg(
        F.countDistinct("w").alias("n_exact"))
    return exact.join(est, "lang").select("lang", "n_exact", "hll_est")


def q_cms_freq(spark, sf_dir):
    """Count-min point-frequency estimates for a fixed probe list,
    with the exact counts alongside (est >= exact always; equality
    unless a counter collision inflates it — the oracle replays the
    collisions too)."""
    from .datapipe.sketches import cms_build, cms_query
    words = _docs(spark, sf_dir).select(
        F.explode(norm_words(F.col("text"))).alias("w"))
    sketch = cms_build(words, "w")
    probe = spark.createDataFrame([(w,) for w in CMS_PROBE_WORDS],
                                  "w string")
    est = cms_query(sketch, probe, "w")
    exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt_x"))
    return (est.join(exact, "w", "left")
            .select("w", "cms_est",
                    F.coalesce(F.col("cnt_x"), F.lit(0).cast("long"))
                    .alias("n_exact")))


def q_topk_docs(spark, sf_dir):
    """Combiner-style per-group top-k (functions/topk.py): 3 longest
    docs per lang with a partition-local pre-reduce, so the exchange
    carries O(partitions·groups·k) rows instead of the corpus."""
    from .functions.topk import topk_per_group
    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return topk_per_group(d, ["lang"], "n_chars", "doc_id", 3)


def q_lm_logprob(spark, sf_dir):
    """Smoothed bigram-LM quality scoring (the perplexity filter's
    math) — datapipe/lm_score.py::bigram_logprob; float fold order is
    pinned left-assoc on both engines."""
    from .datapipe.lm_score import bigram_logprob
    return bigram_logprob(_docs(spark, sf_dir))


def q_bpe_roundtrip(spark, sf_dir):
    """Byte-level BPE (functions/bpe.py): train 64 merges on a
    deterministic 200-doc sample, tokenize EVERY doc, decode back,
    and prove byte-exact reconstruction per lang — the
    text -> tokens:array<int32> producer side of the input contract."""
    from .functions.bpe import bpe_decode_udf, bpe_encode_udf, train_bpe
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    sample = [r.text for r in
              d.filter(F.col("doc_id") < 200).orderBy("doc_id")
               .select("text").collect()]
    merges = train_bpe(sample, 64)
    enc, dec = bpe_encode_udf(merges), bpe_decode_udf(merges)
    out = (d.withColumn("toks", enc("text"))
           .withColumn("back", dec("toks")))
    return (out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("back") != F.col("text"), 1).otherwise(0))
         .cast("long").alias("n_mismatch"),
        F.sum(F.octet_length("back")).alias("sum_bytes")))


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted reservoir sample: 5 docs per lang with
    probability ∝ n_chars (the quality-weighted subsampling move),
    reproducible across reruns — datapipe/curation.py::weighted_sample."""
    from .datapipe.curation import weighted_sample
    d = _docs(spark, sf_dir).select("doc_id", "text", "lang", "n_chars")
    out = weighted_sample(d, "n_chars", 5, "lang")
    return out.select(F.col("lang").alias("grp"),
                      F.col("doc_id").alias("key"), "pri")


def q_zorder_key(spark, sf_dir):
    """Morton-interleaved layout key over (time bucket, event_type
    hash) — the OPTIMIZE ZORDER BY analog (functions/zorder.py);
    events.ts is TIMESTAMP_NTZ, cast before unix_millis (session tz
    is pinned UTC)."""
    from .datapipe.hashing import portable_hash
    from .functions.zorder import zorder2
    ev = _events(spark, sf_dir)
    x = F.shiftright(F.unix_millis(F.col("ts").cast("timestamp")), 16)
    y = portable_hash(F.col("event_type"))
    return ev.select("event_id", zorder2(x, y).alias("zkey"))


def q_line_dedup(spark, sf_dir):
    """CCNet-style corpus-wide duplicated-line removal over the exact
    corpus (the byte-exact copies lose every line to their originals).
    Line breaks are synthesized deterministically (every 8th space ->
    newline) since the synthetic docs are single-line."""
    from .datapipe.dedup import dedup_lines
    d = _exact_corpus(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"((\S+ ){7}\S+) ", "$1\n")
         .alias("body"))
    return dedup_lines(d, text_col="body", id_col="doc_id")


_ASOF_BASE_MS = 1704067200000          # epoch ms of 2024-01-01T00:00:00Z
_ASOF_DAY_MS = 86400000
_ASOF_HOUR_MS = 3600000


def q_asof_enrich(spark, sf_dir):
    """Temporal (as-of) enrich: each event gets the newest version of a
    deterministic per-user dimension (user u has u%3+1 versions; tier
    changes per version) in effect at the event's timestamp, with a
    7-day staleness tolerance.  Events before a user's first version
    keep NULLs — left as-of semantics.  Oracle: DuckDB native ASOF
    LEFT JOIN."""
    from .operators.asof import asof_join
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id",
        # parquet ts is NTZ; session tz is pinned UTC, so the cast makes
        # it the same instant DuckDB's epoch_ms(naive-as-UTC) computes
        F.unix_millis(F.col("ts").cast("timestamp")).alias("t_ms"))
    users = ev.select("user_id").distinct()
    dim = (users
           .select("user_id",
                   F.explode(F.expr("sequence(0, CAST(user_id % 3 AS INT))"))
                    .alias("v"))
           .select("user_id", "v",
                   (F.lit(_ASOF_BASE_MS)
                    + F.col("v") * (7 * _ASOF_DAY_MS)
                    + (F.col("user_id") % 5) * _ASOF_HOUR_MS)
                   .cast("long").alias("valid_from_ms"),
                   F.concat(F.lit("tier"),
                            ((F.col("user_id") + F.col("v")) % 4)
                            .cast("string")).alias("tier")))
    out = asof_join(ev, dim, on="user_id", fact_time="t_ms",
                    dim_time="valid_from_ms", dim_cols=["v", "tier"],
                    tolerance_ms=7 * _ASOF_DAY_MS)
    return out.select(
        "event_id", "user_id", "tier",
        F.col("v").cast("bigint").alias("dim_v"),
        (F.col("t_ms") - F.col("_asof_time")).cast("bigint")
        .alias("staleness_ms"))


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the event stream (30-min inactivity
    gap per user), rolled up to one row per session: event count,
    bounds, duration."""
    from .operators.sessionize import sessionize
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("t_ms"))
    s = sessionize(ev, key="user_id", time_ms="t_ms",
                   gap_ms=30 * 60 * 1000, tiebreak="event_id")
    return (s.groupBy("user_id", "session_no")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("t_ms").alias("start_ms"),
                 F.max("t_ms").alias("end_ms"))
            .withColumn("duration_ms",
                        (F.col("end_ms") - F.col("start_ms"))
                        .cast("bigint")))


def q_latency_quantiles(spark, sf_dir):
    """Exact interpolated p50/p95/p99 of event value per event_type —
    the latency-percentile rollup every telemetry backend serves.
    Exact `percentile` (linear interpolation), not the approx sketch,
    so the DuckDB quantile_cont twin agrees to the bit."""
    ev = _events(spark, sf_dir)
    q = F.expr("percentile(value, array(0.5D, 0.95D, 0.99D))")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), q.alias("qs"))
            .select("event_type", "n",
                    F.round(F.element_at("qs", 1), 6).alias("p50"),
                    F.round(F.element_at("qs", 2), 6).alias("p95"),
                    F.round(F.element_at("qs", 3), 6).alias("p99")))


def q_hdr_quantiles(spark, sf_dir):
    """Mergeable quantile sketch (datapipe/hdrsketch.py): HdrHistogram
    base-2-octave + linear-sub-bucket layout over integer-scaled event
    values — per-group state is O(buckets) counters that partial-agg
    combine, so latency percentiles stay a groupBy at 10^12 events
    where the exact `percentile` path must hold the value multiset.
    Bucket math is pure integer arithmetic (msb via length(bin(v))),
    bit-identical in DuckDB — no libm log at bucket boundaries."""
    from .datapipe.hdrsketch import hdr_build, hdr_quantiles
    ev = (_events(spark, sf_dir)
          .withColumn("v", F.round(F.col("value") * 100).cast("long")))
    sk = hdr_build(ev, "v", ["event_type"])
    out = hdr_quantiles(sk, [0.5, 0.95, 0.99], ["event_type"])
    return out.select("event_type", "n", "n_buckets",
                      (F.col("p50") / 100.0).alias("p50"),
                      (F.col("p95") / 100.0).alias("p95"),
                      (F.col("p99") / 100.0).alias("p99"))


def q_corpus_rollup(spark, sf_dir):
    """Hierarchical rollup (lang, source) -> (lang) -> grand total in
    ONE grouping-sets aggregate — Catalyst expands the sets map-side,
    so the corpus is scanned once, not once per level.  Rollup nulls
    are coalesced to '(all)' (the corpus has no NULL dims)."""
    d = _docs(spark, sf_dir)
    return (d.rollup("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"))
            .select(F.coalesce("lang", F.lit("(all)")).alias("lang"),
                    F.coalesce("source", F.lit("(all)")).alias("source"),
                    "n_docs", "sum_chars"))


_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]    # fixed synthetic langs


def q_lang_source_pivot(spark, sf_dir):
    """source x lang count matrix via pivot with an EXPLICIT value
    list — the contract pivot needs at 100 TB: explicit values skip
    the extra distinct-collect pass and keep the plan one map-side-
    combined aggregate with a static schema."""
    d = _docs(spark, sf_dir)
    return (d.groupBy("source").pivot("lang", _PIVOT_LANGS)
            .agg(F.count(F.lit(1)))
            .na.fill(0, _PIVOT_LANGS)
            .select("source", *[F.col(c).cast("bigint").alias(f"n_{c}")
                                for c in _PIVOT_LANGS]))


def q_inverted_index(spark, sf_dir):
    """Inverted index (word -> posting summary): document frequency,
    id bounds, and a deterministic COMMUTATIVE checksum of the posting
    set.  Round-2 verdict item 5: the previous collect_list + sorted
    md5 materialized the whole posting list in ONE aggregation-buffer
    row — a stopword at corpus scale is a multi-GB row.  The checksum
    is now sum(H(word:doc_id)) mod nothing (H < 2^32, so 2^31 postings
    fit a bigint without overflow): constant per-group state, map-side
    partial aggregation, no giant rows anywhere — the same reason HLL
    replaces count-distinct-collect.  Order-independence makes it
    combine across shards/partitions for free; md5 of the sum keeps
    the fingerprint column a string for downstream parity checks."""
    return inverted_index_summary(_docs(spark, sf_dir))


def inverted_index_summary(d):
    """(word, df, min_doc, max_doc, posting_md5) with constant
    aggregation state per word — see q_inverted_index docstring."""
    from .datapipe.hashing import portable_hash
    w = d.select("doc_id",
                 F.explode(F.array_distinct(norm_words(F.col("text"))))
                  .alias("word"))
    h = portable_hash(F.concat(F.col("word"), F.lit(":"),
                               F.col("doc_id").cast("string")))
    return (w.groupBy("word")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc"),
                 F.md5(F.sum(h).cast("string")).alias("posting_md5")))


def q_counter_rate(spark, sf_dir):
    """Cumulative->delta with Prometheus reset semantics, then rate.
    A deterministic cumulative counter per event_type is synthesized
    integer-exactly (running sum of value*100 mod 10k injects resets),
    so both engines see identical series; the delta/rate columns
    exercise the reset rule and the dt divisor."""
    from .operators.metrics_transform import cumulative_to_delta
    ev = _events(spark, sf_dir).select(
        "event_id", "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("t_ms"),
        F.round(F.col("value") * 100).cast("bigint").alias("vi"))
    from pyspark.sql import Window
    w = (Window.partitionBy("event_type")
         .orderBy(F.col("t_ms").asc(), F.col("event_id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = ev.withColumn("cum", (F.sum("vi").over(w) % 10000).cast("bigint"))
    out = cumulative_to_delta(cum, keys=["event_type"], time_col="t_ms",
                              value_col="cum", tiebreak="event_id")
    return out.select(
        "event_id", "event_type", "cum",
        F.col("delta").cast("bigint").alias("delta"),
        F.when(F.col("dt") > 0,
               F.round(F.col("delta") / (F.col("dt") / 1000.0), 6))
         .alias("rate_per_s"))


GROK_EXPR = "%{TIMESTAMP_ISO8601:gts} %{LOGLEVEL:lvl} %{GREEDYDATA:gmsg}"


def q_grok_parse(spark, sf_dir, tok_dir):
    """Grok-dialect parse of the flagship log bodies: the compiled
    pattern rides the RE2 mapInArrow fast path; non-standard levels
    (WEIRD/CATASTROPHE) and continuation lines flag parsed=false."""
    from .operators.grok import grok_parser
    from .sources.tokens_source import read_tokens
    p = grok_parser(GROK_EXPR, timestamp_from=None, severity_from=None)
    df = p.apply(read_tokens(
        spark, os.path.join(tok_dir, "tokens.parquet")))
    return df.select("doc_id", "parsed", "gts", "lvl",
                     F.md5(F.coalesce("gmsg", F.lit(""))).alias("gmsg_md5"))


def q_token_coverage(spark, sf_dir, tok_dir):
    """Token-frequency coverage curve: histogram of raw token ids,
    ranked most-frequent-first, with a DISTRIBUTED global running sum
    (two-pass range-partitioned prefix scan — never a one-partition
    window) and the cumulative share of the corpus each rank covers —
    the vocabulary-truncation curve tokenizer builds read off."""
    from .functions.prefix import global_cumsum
    toks = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    hist = (toks.select(F.explode("tokens").alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
    cum = global_cumsum(hist, [F.col("cnt").desc(), F.col("tok").asc()],
                        "cnt", out="cum")
    total = hist.agg(F.sum("cnt").alias("_total"))
    return (cum.crossJoin(F.broadcast(total))
            .select(F.col("tok").cast("bigint").alias("tok"), "cnt", "cum",
                    F.round(F.col("cum") / F.col("_total"), 6)
                    .alias("coverage")))


def q_dedup_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_near_corpus(spark, sf_dir), threshold=0.5, k=3)


def q_jaccard_capped(spark, sf_dir):
    """Scale-path twin of dedup_jaccard (datapipe/dedup.py::
    ngram_jaccard_pairs_capped): shingles with document frequency
    > max_df are dropped via a broadcast anti-join before pairing, so
    per-shingle join fan-out is bounded by max_df^2 — the form you
    actually run on a web corpus where one boilerplate k-gram shared
    by 1% of docs is a quadratic hot key.  Jaccard is exact over the
    kept (discriminative) shingle space."""
    from .datapipe.dedup import ngram_jaccard_pairs_capped
    return ngram_jaccard_pairs_capped(
        _near_corpus(spark, sf_dir), threshold=0.5, k=3, max_df=4)


def q_sample_split(spark, sf_dir):
    """Deterministic 30% sample + train/val hash split, verified as
    per-(lang, split) counts (resume-safe curation subsetting)."""
    from .datapipe.dedup import hash_sample, train_split_column
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    out = (hash_sample(d, 0.3, "doc_id")
           .withColumn("split", train_split_column("doc_id")))
    return (out.groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


def q_minhash_sig(spark, sf_dir):
    return minhash_signatures(_docs(spark, sf_dir), k=3)


def q_minhash_lsh(spark, sf_dir):
    return minhash_lsh_dedup(_near_corpus(spark, sf_dir), threshold=0.5, k=3)


def q_minhash_lsh_star(spark, sf_dir):
    """Production LSH candidate path: star edges (bucket member ->
    bucket min) instead of all pairs within a band bucket — linear in
    bucket size, so boilerplate mega-buckets can't go quadratic.  The
    oracle replays the same hub election (min(id) over (band, bsig)),
    so the exact pair set — including which non-hub pairs the star
    (by design) defers to connected components — is value-checked."""
    return minhash_lsh_dedup(_near_corpus(spark, sf_dir), threshold=0.5,
                             k=3, candidates="star")


def q_minhash_tokens(spark, sf_dir, tok_dir):
    """Tokens-NATIVE MinHash+LSH near-dedup over the north-rule input
    (datapipe/dedup.py::minhash_tokens_lsh): token 4-gram shingles
    hashed in ONE Arrow hop — no detokenize — then the same banded
    star-candidate + exact-Jaccard-verify plan as the text path.  The
    corpus is a deterministic 2% hash-sample of the tokens table so
    the verified pair set stays bounded at any sf."""
    from .datapipe.dedup import hash_sample, minhash_tokens_lsh
    toks = hash_sample(
        spark.read.parquet(os.path.join(tok_dir, "tokens.parquet")),
        0.02, salt="tokmh")
    return minhash_tokens_lsh(toks, threshold=0.4, k=4,
                              candidates="star")


def q_token_quality(spark, sf_dir, tok_dir):
    """Tokens-native quality battery over the north-rule input
    (datapipe/token_quality.py): diversity/repetition signals + flags
    straight from the token ids — the 10^12-sequence pre-filter that
    runs BEFORE any decode stage.  ONE Arrow hop, zero shuffles."""
    from .datapipe.token_quality import token_quality
    toks = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    return token_quality(toks, k=2)


def q_tokens_curation(spark, sf_dir, tok_dir):
    """The COMPOSED tokens-native curation cascade end-to-end under the
    oracle gate (datapipe/token_curation.py): quality gate -> exact
    dedup on token arrays -> MinHash-LSH star + connected components ->
    duplicated-span removal -> split, over the same deterministic 2%
    sample as `minhash_tokens`.  The oracle replays every stage —
    including the recursive-CTE connected components and the interval
    span mask — in one DuckDB query, so the cascade's wiring (not just
    its stages) is value-checked."""
    from .datapipe.dedup import hash_sample
    from .datapipe.token_curation import tokens_curation_pipeline
    toks = hash_sample(
        spark.read.parquet(os.path.join(tok_dir, "tokens.parquet")),
        0.02, salt="tokmh")
    out, _ = tokens_curation_pipeline(toks, minhash_threshold=0.4,
                                      k_gram=4, span_n=13)
    return out.select(
        "doc_id", "source", "n_removed",
        F.size("tokens").alias("n_tok_final"),
        F.concat_ws(",", F.col("tokens").cast("array<string>"))
        .alias("kept_s"),
        "split")


def q_fuzzy_dedup_ingest(spark, sf_dir, tok_dir):
    """Incremental FUZZY corpus dedup under the oracle gate
    (datapipe/incremental_dedup.py::run_fuzzy_dedup_ingest_cycle): the
    2% tokens sample arrives as two ledger-committed cycles; each
    drops exact dups (within + Bloom/digest history) AND near-dups
    (token-gram MinHash vs the committed band state, then in-cycle
    star+CC).  The deduped corpus read back must hash-equal the
    oracle's direct two-phase replay."""
    from .datapipe.dedup import hash_sample
    from .datapipe.incremental_dedup import (read_corpus,
                                             run_fuzzy_dedup_ingest_cycle)
    from .scratchdir import run_scratch
    with run_scratch("fuzzy_ingest") as scratch:
        toks = hash_sample(
            spark.read.parquet(os.path.join(tok_dir, "tokens.parquet")),
            0.02, salt="tokmh")
        half = portable_hash(
            F.concat(F.lit("half:"), F.col("doc_id"))) % 2
        in_dir = os.path.join(scratch, "tokens")
        out_dir = os.path.join(scratch, "corpus")
        toks.filter(half == 0).write.parquet(in_dir)
        run_fuzzy_dedup_ingest_cycle(spark, in_dir, out_dir,
                                     threshold=0.4, k_gram=4)
        toks.filter(half == 1).write.mode("append").parquet(in_dir)
        run_fuzzy_dedup_ingest_cycle(spark, in_dir, out_dir,
                                     threshold=0.4, k_gram=4)
        return (read_corpus(spark, out_dir)
                .select("doc_id", "source", "n_tok")
                .localCheckpoint(eager=True))


def q_length_batches(spark, sf_dir, tok_dir):
    """Length-grouped batch composition over the tokens table
    (datapipe/curation.py::length_grouped_batches): identical-length
    docs chunked into batch_size batches — full batches pad zero
    tokens; one window exchange partitioned by the length value."""
    from .datapipe.curation import length_grouped_batches
    toks = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    return length_grouped_batches(toks, batch_size=32)


def q_temperature_mix(spark, sf_dir, tok_dir):
    """Temperature-based source mixing (datapipe/dedup.py::
    temperature_fractions + stratified_sample): per-source rates ∝
    sqrt(p_s), resampled to corpus size — hot sources downsample,
    tail sources upsample with deterministic hash-gated copies.  The
    counts collect is O(sources) driver work; the sample itself is a
    stateless shuffle-free filter/explode."""
    from .datapipe.dedup import stratified_sample, temperature_fractions
    toks = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    counts = {r["source"]: r["n"] for r in
              toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    fracs = temperature_fractions(counts, temperature=0.5)
    out = stratified_sample(toks.select("doc_id", "source"), fracs,
                            default=0.0, salt="tmix")
    return (out.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.count_distinct("doc_id").alias("n_docs"),
                 F.max("copy").alias("max_copy")))


def q_token_contamination(spark, sf_dir, tok_dir):
    """Tokens-native benchmark decontamination (datapipe/dedup.py::
    token_contamination): a deterministic 1% hash-sample of the tokens
    table stands in for the benchmark; every doc reports the fraction
    of its token 13-grams found in it (benchmark members score 1.0,
    near-dups partially).  Broadcast gram set + one Arrow hop."""
    from .datapipe.dedup import hash_sample, token_contamination
    toks = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    bench = hash_sample(toks, 0.01, salt="bench")
    return token_contamination(toks, bench, n=13)


def _pack_tokens_serialize(out):
    """Driver-canon projection of pack_tokens output (packed arrays +
    ordered spans as strings — list cells break pandas sort_values)."""
    return out.select(
        "grp", "chunk", "n_docs", "n_tok",
        F.concat_ws(",", F.col("tokens").cast("array<string>"))
        .alias("tokens_s"),
        F.array_join(F.transform("spans", lambda s: F.concat_ws(
            ":", s["doc_id"], s["start"].cast("string"),
            s["len"].cast("string"))), ",").alias("spans_s"))


def _sized_pack_groups(tok_dir: str) -> int:
    """The group count BOTH gate sides use for pack_tokens_sized:
    the op's pure auto-sizing rule over the file's on-disk bytes, with
    the parallelism floor pinned at 32 so the value is session-
    independent (gate runs use local[16], the driver local[32])."""
    from .datapipe.curation import auto_pack_groups
    return auto_pack_groups(
        os.path.getsize(os.path.join(tok_dir, "tokens.parquet")), 32)


def q_pack_tokens(spark, sf_dir, tok_dir):
    """Materialized token packing (datapipe/curation.py::pack_tokens):
    the actual budget-token training rows with doc-span metadata —
    serialized for the driver canon (packed arrays + ordered spans as
    strings)."""
    from .datapipe.curation import pack_tokens
    toks = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    return _pack_tokens_serialize(
        pack_tokens(toks, budget=2048, n_groups=16))  # pinned oracle


def q_pack_tokens_sized(spark, sf_dir, tok_dir):
    """Auto-SIZED token packing under the oracle gate: the group count
    derives from the input's on-disk bytes via the op's own sizing rule
    (datapipe/curation.py::auto_pack_groups — the n_groups="auto"
    default), computed identically on both gate sides, so the sized
    grouping (32 groups at sf0.01, ~400k at 100 TB) is value-hash
    checked end to end, not just the pinned 16-group configuration."""
    from .datapipe.curation import pack_tokens
    n = _sized_pack_groups(tok_dir)
    toks = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    return _pack_tokens_serialize(
        pack_tokens(toks, budget=2048, n_groups=n))


def q_simhash_fp(spark, sf_dir):
    return simhash_fingerprints(_docs(spark, sf_dir))


def q_simhash_pairs(spark, sf_dir):
    fp = simhash_fingerprints(_near_corpus(spark, sf_dir))
    return simhash_near_pairs_blocked(fp, max_hamming=3)


def q_dedup_clusters(spark, sf_dir):
    """Transitive duplicate clusters: connected components (min-label
    ids, datapipe/cluster.py) over the simhash near-pair graph — pair
    (A,B)+(B,C) collapses A,B,C even though (A,C) was never emitted."""
    from .datapipe.cluster import connected_components
    corpus = _near_corpus(spark, sf_dir)
    fp = simhash_fingerprints(corpus)
    pairs = simhash_near_pairs_blocked(fp, max_hamming=3).select("id_a", "id_b")
    nodes = corpus.select(F.col("doc_id").alias("id"))
    return connected_components(nodes, pairs)


def q_ann_topk(spark, sf_dir):
    return cosine_topk(_emb(spark, sf_dir), k=3)


def q_embed_neardup(spark, sf_dir):
    return embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.3)


def q_embed_neardup_blocked(spark, sf_dir):
    """Scale-path near-dup: LSH-bucketed pairwise cosine (the all-pairs
    q_embed_neardup stays as the small-N verifier).  The oracle replays
    the identical hyperplane buckets, so the result — including which
    wide-angle pairs the blocking (by design) prunes — is value-hash
    checked end to end."""
    from .datapipe.dedup import embedding_neardup_blocked
    return embedding_neardup_blocked(_emb(spark, sf_dir), dim=64,
                                     threshold=0.3)


def q_ann_lsh(spark, sf_dir):
    """Scale-path ANN (bucketed LSH) — value-hash-checked: the sign UDF
    accumulates left-associatively per dimension so every bucket bit is
    IEEE-identical to the oracle's inlined hyperplane expressions."""
    return lsh_topk(_emb(spark, sf_dir), dim=64, k=3)


def q_ann_ivf(spark, sf_dir):
    """Scale-path ANN #2: inverted-file (IVF) probe search with a
    deterministic seeded coarse quantizer — complements the LSH path
    (ann_lsh); oracle-checked via inlined centroid expressions."""
    from .datapipe.ivf import ivf_topk
    return ivf_topk(_emb(spark, sf_dir), dim=64, k=3)


def q_semdedup(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540) semantic dedup: coarse-quantize the
    embeddings (seeded IVF centroids), compare pairs only within a
    cluster, drop greedy min-id near-duplicates at cosine >= 0.3."""
    from .datapipe.semdedup import semantic_dedup
    return semantic_dedup(_emb(spark, sf_dir), dim=64, threshold=0.3)


def q_quality_clf(spark, sf_dir):
    """fastText-style hashed bag-of-ngrams linear quality classifier
    (arXiv:1607.01759) with deterministic seeded weights; the LOGIT is
    the checked value (pure rational arithmetic, bit-identical)."""
    from .datapipe.quality_clf import quality_scores
    return quality_scores(_docs(spark, sf_dir))


def q_textstats(spark, sf_dir):
    """Fused Arrow path (ONE Python hop for all stats); the per-feature
    Catalyst forms are pinned equal in tests/test_textstats parity."""
    df = text_features(_docs(spark, sf_dir))
    return df.select("doc_id", "pred_lang", "n_chars_m", "n_words", "n_punct",
                     "mean_word_len", "punct_ratio", "stopword_ratio",
                     "quality_score", "n_bpe", "fingerprint")


def q_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals per doc."""
    from .datapipe.textstats import repetition_stats
    return (repetition_stats(_docs(spark, sf_dir))
            .select("doc_id", "n_2grams", "top_2gram_count",
                    "top_2gram_frac", "dup_word_frac"))


def q_langid_agg(spark, sf_dir):
    return (text_features(_docs(spark, sf_dir))
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n")))


def _carbon(spark, tok_dir):
    return parse_plaintext(
        spark.read.parquet(os.path.join(tok_dir, "carbon.parquet")))


def q_carbon_parse(spark, sf_dir, tok_dir):
    rules = [CarbonRegexRule(
        regexp=CARBON_NAME_RX, name_parts=["name_0", "name_1"],
        static_labels={"plane": "system"}, metric_type="cumulative")]
    r = apply_regex_rules(_carbon(spark, tok_dir), rules,
                          name_separator="_", name_prefix="carbon")
    return r.select(
        "metric_path",
        F.col("tags").getItem("host").alias("host"),
        F.col("tags").getItem("dc").alias("dc"),
        "value", "ts", "metric_name", "metric_type")


def q_wavefront(spark, sf_dir, tok_dir):
    """Wavefront line-protocol parse (wavefront_parser.go:61-140),
    oracle-checked: lines are synthesized deterministically from the
    carbon table (name value ts + a literal source and a quoted tag),
    the oracle derives the expected fields from first principles."""
    from .operators.carbon import parse_wavefront
    c = spark.read.parquet(os.path.join(tok_dir, "carbon.parquet"))
    parts = F.split(F.col("line"), " ")
    name0 = F.split_part(F.element_at(parts, 1), F.lit(";"), F.lit(1))
    wf = c.select(F.concat_ws(
        " ", name0, F.element_at(parts, 2), F.element_at(parts, 3),
        F.lit("source=host1"), F.lit('dc="us-east"')).alias("line"))
    out = parse_wavefront(wf)
    return out.select("metric_name", "value", "is_int", "ts", "source",
                      F.col("tags").getItem("dc").alias("dc"))


def q_prom_parse(spark, sf_dir, tok_dir):
    """Prometheus text-exposition parse (simpleprometheusreceiver wire
    format), oracle-checked: exposition lines + '# TYPE' headers are
    synthesized deterministically from the carbon table; the oracle
    derives the expected samples from first principles."""
    from .operators.prometheus import parse_prometheus
    c = spark.read.parquet(os.path.join(tok_dir, "carbon.parquet"))
    parts = F.split(F.col("line"), " ")
    name0 = F.regexp_replace(
        F.split_part(F.element_at(parts, 1), F.lit(";"), F.lit(1)),
        r"\.", "_")
    from pyspark import StorageLevel
    samples = c.select(F.concat(
        name0, F.lit('{host="h1",dc="us-east"} '),
        F.element_at(parts, 2), F.lit(" "),
        F.element_at(parts, 3), F.lit("000")).alias("line"))
    # the header derivation + union + parser's types/samples split would
    # otherwise re-scan the synth 4x (diamond); one cached pass instead
    samples = samples.persist(StorageLevel.MEMORY_AND_DISK)
    headers = (samples.select(
        F.regexp_extract("line", r"^([a-zA-Z_:][a-zA-Z0-9_:]*)", 1)
        .alias("n")).distinct()
        .select(F.concat(F.lit("# TYPE "), F.col("n"),
                         F.lit(" counter")).alias("line")))
    out = parse_prometheus(samples.unionByName(headers))
    return out.select(
        "metric_name",
        F.col("labels").getItem("host").alias("host"),
        F.col("labels").getItem("dc").alias("dc"),
        "value", "ts_ms", "metric_type", "valid")


def q_collectd(spark, sf_dir, tok_dir):
    """collectd write_http JSON parse (collectd.go:34-240), oracle-
    checked: payloads synthesized deterministically from the carbon
    table (single-ds derive record with a [k=v] type_instance); the
    oracle derives expected rows from first principles, including the
    dsname-as-label single-ds rule and the bracket-dims extraction."""
    from .operators.collectd import parse_collectd
    c = spark.read.parquet(os.path.join(tok_dir, "carbon.parquet"))
    parts = F.split(F.col("line"), " ")
    name0 = F.split_part(F.element_at(parts, 1), F.lit(";"), F.lit(1))
    body = c.select(F.concat(
        F.lit('[{"dsnames":["value"],"dstypes":["derive"],"host":"h1",'
              '"plugin":"cpu","time":'), F.element_at(parts, 3),
        F.lit(',"type":"'), name0,
        F.lit('","type_instance":"ti[env=prod]","values":["'),
        F.element_at(parts, 2), F.lit('"]}]')).alias("body"))
    out = parse_collectd(body)
    return out.select(
        "metric_name", "value", "is_double", "metric_type", "ts_ns",
        "host", "plugin", "dsname_label",
        F.col("extracted_dims").getItem("env").alias("env"))


def q_metrics_combine(spark, sf_dir, tok_dir):
    return combine(_carbon(spark, tok_dir), COMBINE_RX, "system.combined",
                   submatch_labels=["pre", "rest"], agg="sum",
                   name_col="metric_path", value_col="value", ts_col="ts")


def q_statsd_flush(spark, sf_dir, tok_dir):
    parsed = parse_statsd(
        spark.read.parquet(os.path.join(tok_dir, "statsd.parquet")))
    return flush_aggregate(parsed)


def q_statsd_timers(spark, sf_dir, tok_dir):
    parsed = parse_statsd(
        spark.read.parquet(os.path.join(tok_dir, "statsd.parquet")))
    return timer_aggregate(parsed)


def q_transform(spark, sf_dir):
    """OTTL-style statement battery (set/truncate/replace_pattern with
    where-guard/drop/rename) over events, oracle-checked — each
    statement compiles to a Catalyst expression, nothing per-row."""
    from .operators.transform import transform
    out = transform(_events(spark, sf_dir), [
        "set(etype_up, upper(event_type))",
        "truncate(etype_up, 4)",
        "set(value_bucket, CAST(floor(value / 100) AS INT))",
        "replace_pattern(event_type, 'view', 'VIEW') where value > 250",
        "drop() where event_type = 'click' AND value < 50",
        "rename(user_id, uid)",
    ])
    return out.select("event_id", "uid", "event_type", "etype_up",
                      "value_bucket")


def q_tailsample(spark, sf_dir):
    policies = [
        SamplingPolicy("hi-value", "numeric_attribute", attribute="value",
                       min_value=400.0, max_value=500.0),
        SamplingPolicy("purchases", "string_attribute", attribute="event_type",
                       values=["purchase"]),
    ]
    out = tail_sample(_events(spark, sf_dir), policies, trace_col="user_id")
    return out.select("event_id", "user_id", "event_type", "value")


SPAN_BOUNDS = [5.0, 25.0, 100.0, 250.0, 490.0]


def q_span_metrics(spark, sf_dir):
    """spanmetrics RED aggregation over the events table (value = the
    span duration, event_type = the operation dimension).  The histogram
    array is serialized to a string for the driver canon (pandas
    sort_values cannot factorize list cells)."""
    sm = span_metrics(_events(spark, sf_dir), ["event_type"],
                      duration_col="value", bounds=SPAN_BOUNDS)
    return sm.select(
        "event_type", "call_count", "total_duration",
        F.concat_ws(",", F.col("bucket_counts").cast("array<string>"))
        .alias("bucket_counts_s"))


def q_window_rollup(spark, sf_dir):
    """Event-time windowed rollup (the statsd/collector flush-interval
    analog in batch): per 1-hour window x event_type counts + sums."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v"))
            .select(F.date_format("window.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("w_start"), "event_type", "n", "sum_v"))


def q_trace_sessions(spark, sf_dir):
    """Batch sessionize (groupbytrace analog).  The event sequence is
    serialized '|'-joined for the driver canon (no raw array columns)."""
    return (_events(spark, sf_dir)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
                 .alias("first_ts"),
                 F.array_join(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("ts", "event_id", "event_type"))),
                     lambda s: s.event_type), "|").alias("event_seq_s")))


def q_batch_split(spark, sf_dir):
    """batchpertrace Split analog (pkg/batchpertrace/batchpertrace.go:
    20-65) over events: resource = event_type, trace = user_id,
    order = event_id.  batch_seq is the first-appearance position of
    the trace's batch within its resource group — exactly the slice
    index the reference's Split returns; cast to long to match
    DuckDB's BIGINT dense_rank."""
    from .operators.batchpertrace import split_per_trace
    out = split_per_trace(_events(spark, sf_dir),
                          resource_cols=["event_type"],
                          trace_col="user_id", order_col="event_id")
    return out.select("event_id", "event_type", "user_id",
                      F.col("batch_seq").cast("long").alias("batch_seq"),
                      "batch_id")


def q_hec_parse(spark, sf_dir, tok_dir):
    df = spark.read.parquet(os.path.join(tok_dir, "hec.parquet"))
    out = splunk_hec_events(df)
    return out.select(
        "ts_ns", "host", "hec_source", "sourcetype", "event_body",
        F.col("fields").getItem("k1").alias("k1"),
        F.col("fields").getItem("env").alias("env"))


def q_media_features(spark, sf_dir, tok_dir):
    df = spark.read.parquet(os.path.join(tok_dir, "media.parquet"))
    return extract_features(df.select("media_id", "kind", "payload"), fake=True)


def q_media_resize(spark, sf_dir, tok_dir):
    """Aspect-preserving resize plumbing (payload rides through the
    mapInPandas hop; checked columns are the geometry — the blob itself
    is verified by media_features' checksum)."""
    from .datapipe.multimodal import resize_images
    df = spark.read.parquet(os.path.join(tok_dir, "media.parquet"))
    out = resize_images(df.select("media_id", "kind", "payload"),
                        target_w=64, target_h=64, fake=True)
    return out.select("media_id", "kind", "width", "height",
                      "target_w", "target_h", F.round("scale", 6)
                      .alias("scale_r"), "ok")


def q_pii_scrub(spark, sf_dir, tok_dir):
    """PII redaction over decoded log bodies (training pipelines scrub
    before training): replace IPs/emails, count redactions.  Entirely
    JVM-side — decode in codegen, regexp_replace/extract_all."""
    from .datapipe.textstats import scrub_pii
    from .sources.tokens_source import read_tokens, with_body
    df = with_body(read_tokens(
        spark, os.path.join(tok_dir, "tokens.parquet")))
    return (scrub_pii(df, "body")
            .select("doc_id", "scrubbed", "n_ip", "n_email"))


def q_tfidf(spark, sf_dir):
    """Per-doc TF-IDF top-5 keywords over the documents table."""
    from .datapipe.lm_score import tfidf_keywords
    return tfidf_keywords(_docs(spark, sf_dir).select("doc_id", "text"),
                          top_k=5)


def q_dsir(spark, sf_dir):
    """DSIR importance weights (arXiv:2302.03169) over the documents
    table: target corpus = the English slice, raw = everything; per-doc
    hashed-n-gram log importance weight (datapipe/dsir.py — model fit
    is two B-bounded count aggregations, scoring ONE Arrow hop)."""
    from .datapipe.dsir import importance_weights
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    # target ⊆ raw -> flagged one-pass fit (identical model, half the
    # fit hashing; r4 perf item)
    out = importance_weights(docs, target_flag=(F.col("lang") == "en"))
    return out.select("id", "n_grams", F.round("logw", 6).alias("logw"))


def q_otlp_spans(spark, sf_dir):
    """OTLP/JSON traces codec round trip (operators/otlp.py): events ->
    pdata-shaped spans -> one ExportTraceServiceRequest per resource ->
    receiver parse -> flat rows.  Enum fields ride as proto3 canonical
    names; the oracle derives the expected output directly."""
    from .operators.otlp import (SPAN_KINDS, parse_otlp_spans,
                                 serialize_otlp_spans)
    ev = _events(spark, sf_dir)
    eid = F.col("event_id").cast("string")
    start = F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    err = F.col("value") > 0.95
    flat = ev.select(
        F.col("event_type").alias("service"),
        F.md5(F.col("user_id").cast("string")).alias("trace_id"),
        F.substring(F.md5(F.concat(F.lit("s"), eid)), 1, 16)
        .alias("span_id"),
        F.when(F.col("event_id") % 7 == 0, F.lit(""))
        .otherwise(F.substring(F.md5(F.concat(F.lit("p"), eid)), 1, 16))
        .alias("parent_span_id"),
        F.concat(F.lit("op-"), (F.col("event_id") % 13).cast("string"))
        .alias("name"),
        F.element_at(F.array(*[F.lit(k) for k in SPAN_KINDS]),
                     (F.col("event_id") % 6 + 1).cast("int"))
        .alias("kind"),
        start.alias("start_unix_nano"),
        (start + F.floor(F.col("value") * 1e6).cast("long"))
        .alias("end_unix_nano"),
        F.create_map(F.lit("event_id"), F.col("event_id"))
        .alias("int_attrs"),
        F.create_map(F.lit("value"), F.col("value")).alias("dbl_attrs"),
        F.when(err, "STATUS_CODE_ERROR").otherwise("STATUS_CODE_OK")
        .alias("status_code"),
        F.when(err, "boom").otherwise(F.lit("")).alias("status_message"))
    back = parse_otlp_spans(serialize_otlp_spans(flat))
    return back.select(
        F.element_at("resource_attrs", "service.name").alias("service"),
        "scope_name", "scope_version", "trace_id", "span_id",
        "parent_span_id", "name", "kind", "start_unix_nano",
        "end_unix_nano",
        F.element_at("attrs", "event_id").cast("long").alias("event_id"),
        F.element_at("attrs", "value").cast("double").alias("val"),
        "status_code", "status_message")


def q_otlp_metrics(spark, sf_dir):
    """OTLP/JSON metrics codec round trip (operators/otlp.py): every
    event emits a doubleGauge and an intSum datapoint; datapoints of a
    (resource, metric) collapse into one metric message, parse re-
    flattens them.  Era v0.5 labels (StringKeyValue) and int64-as-
    string rules; oracle = direct two-arm projection of events."""
    from .operators.otlp import parse_otlp_metrics, serialize_otlp_metrics
    ev = _events(spark, sf_dir)
    ns = (F.unix_micros(F.col("ts").cast("timestamp")) * 1000)
    base = ev.select(
        F.col("event_type").alias("service"),
        F.create_map(F.lit("user"), F.col("user_id").cast("string"))
        .alias("labels"),
        ns.alias("ts_unix_nano"),
        F.col("value"), F.col("user_id"))
    gauge = base.select(
        "service", F.lit("evt.value").alias("name"),
        F.lit("1").alias("unit"), F.lit("double_gauge").alias("mtype"),
        "labels", "ts_unix_nano",
        F.col("value").alias("value_d"),
        F.lit(None).cast("long").alias("value_i"))
    isum = base.select(
        "service", F.lit("evt.hits").alias("name"),
        F.lit("{hits}").alias("unit"), F.lit("int_sum").alias("mtype"),
        "labels", "ts_unix_nano",
        F.lit(None).cast("double").alias("value_d"),
        F.col("user_id").alias("value_i"))
    back = parse_otlp_metrics(
        serialize_otlp_metrics(gauge.unionByName(isum)))
    return back.select(
        F.element_at("resource_attrs", "service.name").alias("service"),
        "scope_name", "name", "unit", "mtype",
        F.element_at("labels", "user").alias("user"),
        "ts_unix_nano", "value_d", "value_i", "temporality", "monotonic")


def q_url_canon(spark, sf_dir):
    """URL canonicalization for web-corpus dedup
    (datapipe/curation.py::canonical_url): messy URL variants are
    synthesized deterministically from doc_id (case soup, default vs
    real ports, empty paths, tracking params, fragments) and must
    collapse to the canonical key in both engines."""
    from .datapipe.curation import url_dedup_keys
    did = F.col("doc_id")
    s = lambda e: e.cast("string")  # noqa: E731
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://WWW.Site"), s(did % 4), F.lit(".Example.COM"),
        F.when(did % 3 == 0,
               F.when(did % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")))
        .when(did % 3 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("/A/b"), s(did % 5))),
        F.when(did % 4 == 0, F.lit("?utm_source=x&b=2&a=1"))
        .when(did % 4 == 1, F.lit("?fbclid=zz"))
        .when(did % 4 == 2, F.lit("?z=9&b=2#frag"))
        .otherwise(F.lit("#only-frag")))
    docs = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return url_dedup_keys(docs).select("doc_id", "url", "canon")


def q_gopher(spark, sf_dir):
    """Gopher quality-rule battery (arXiv:2112.11446 table A1) over the
    documents table: per-rule values, per-rule booleans, and the AND
    (datapipe/quality_rules.py — one fused Arrow hop, zero shuffles).
    Ratios rounded to 6 decimals for display; rule booleans are
    computed on the unrounded values in BOTH engines."""
    from .datapipe.quality_rules import gopher_rules
    out = gopher_rules(_docs(spark, sf_dir).select("doc_id", "text"))
    return out.select(
        "doc_id", "n_words",
        F.round("mean_wlen", 6).alias("mean_wlen"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        F.round("bullet_frac", 6).alias("bullet_frac"),
        F.round("ellipsis_frac", 6).alias("ellipsis_frac"),
        F.round("alpha_frac", 6).alias("alpha_frac"),
        "stop_hits", "r_words", "r_wlen", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stop", "gopher_pass")


def q_gopher_repetition(spark, sf_dir):
    """Gopher repetition-rule battery (arXiv:2112.11446 table A1 second
    half) over the documents table: 13 duplicate-line/paragraph/n-gram
    fractions + booleans + the AND (datapipe/repetition.py — one fused
    Arrow hop, zero shuffles; the oracle recomputes all 13 in DuckDB
    with the identical position-set-union coverage)."""
    from .datapipe.repetition import repetition_rules, _FIELDS
    out = repetition_rules(_docs(spark, sf_dir).select("doc_id", "text"))
    return out.select("doc_id", *_FIELDS,
                      *[f"r_{f}" for f in _FIELDS], "repetition_pass")


def _repetition_sql() -> str:
    from .datapipe.repetition import (repetition_oracle_sql, _FIELDS,
                                      TOP_THRESH, DUP_THRESH)
    thresh = {"dup_line_frac": 0.30, "dup_para_frac": 0.30,
              "dup_line_char_frac": 0.20, "dup_para_char_frac": 0.20,
              **{f"top{n}_char_frac": t for n, t in TOP_THRESH.items()},
              **{f"dup{n}_char_frac": t for n, t in DUP_THRESH.items()}}
    bools = ",\n  ".join(f"({f} <= {thresh[f]}) AS r_{f}"
                         for f in _FIELDS)
    allpass = " AND ".join(f"({f} <= {thresh[f]})" for f in _FIELDS)
    cols = ", ".join(_FIELDS)
    return (f"WITH {repetition_oracle_sql()}\n"
            f"SELECT doc_id, {cols},\n  {bools},\n"
            f"  ({allpass}) AS repetition_pass\nFROM rvals")


def q_rate_limit(spark, sf_dir):
    """stanza rate_limit battery (operators/filters.py::rate_limit):
    cap events at 4 per event_type per hour, earliest-(t_ms,
    event_id)-first (the hourly bucket makes the cap bind: sf0.01
    buckets hold up to 10 events); the oracle is the identical SQL
    window."""
    from .operators.filters import rate_limit
    ev = _events(spark, sf_dir).select(
        "event_id", "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("t_ms"))
    out = rate_limit(ev, rate=4, interval_ms=3_600_000,
                     key_cols=["event_type"], time_col="t_ms",
                     tiebreak="event_id")
    return out.select("event_id", "event_type", "t_ms")


_RATE_LIMIT_SQL = """WITH ev AS (
  SELECT event_id, event_type,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS t_ms
  FROM events
), rk AS (
  SELECT event_id, event_type, t_ms,
         row_number() OVER (
           PARTITION BY event_type, CAST(floor(t_ms / 3600000) AS BIGINT)
           ORDER BY t_ms, event_id) AS rn
  FROM ev
)
SELECT event_id, event_type, t_ms FROM rk WHERE rn <= 4"""


def q_resource_detect(spark, sf_dir):
    """resourcedetection battery (operators/resource_detection.py):
    constant detected attributes merged into every row in both modes —
    Insert (existing wins; a NULL existing value takes the detected
    one) and Upsert (detected wins unconditionally), plus a brand-new
    key that appears in both (resourcedetection_processor.go:33-67,
    internal/resourcedetection.go:176-189).  Aggregated per (mode,
    host, cloud_region) so the oracle compares the full merge matrix."""
    from .operators.resource_detection import resource_detection
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.when(F.col("event_id") % 3 != 0,
               F.concat(F.lit("h"), (F.col("event_id") % 5).cast("string")))
        .alias("host"))
    det = {"host": "det-host", "cloud_region": "us-east-1"}
    ins = resource_detection(ev, det, override=False) \
        .withColumn("mode", F.lit("insert"))
    ups = resource_detection(ev, det, override=True) \
        .withColumn("mode", F.lit("upsert"))
    return (ins.unionByName(ups)
            .groupBy("mode", "host", "cloud_region")
            .agg(F.count("*").cast("long").alias("n")))


_RESOURCE_DETECT_SQL = """WITH ev AS (
  SELECT event_id,
         CASE WHEN event_id % 3 <> 0
              THEN 'h' || CAST(event_id % 5 AS VARCHAR) END AS host
  FROM events
), merged AS (
  SELECT 'insert' AS mode, COALESCE(host, 'det-host') AS host,
         'us-east-1' AS cloud_region FROM ev
  UNION ALL
  SELECT 'upsert' AS mode, 'det-host' AS host,
         'us-east-1' AS cloud_region FROM ev
)
SELECT mode, host, cloud_region, CAST(count(*) AS BIGINT) AS n
FROM merged GROUP BY mode, host, cloud_region"""


def q_c4(spark, sf_dir):
    """C4 cleaning battery (arXiv:1910.10683 §2.2) over the documents
    table (datapipe/c4_rules.py — one fused Arrow hop, zero shuffles).
    The cleaned text is hash-compared via md5 so any line-keep
    divergence between engines breaks the value hash."""
    from .datapipe.c4_rules import c4_rules
    out = c4_rules(_docs(spark, sf_dir).select("doc_id", "text"))
    return out.select(
        "doc_id", F.md5("kept_text").alias("kept_md5"),
        "n_lines", "n_kept", "n_sentences",
        "has_lorem", "has_brace", "has_badword", "c4_keep")


def _c4_sql() -> str:
    from .datapipe.c4_rules import c4_oracle_sql
    return ("WITH " + c4_oracle_sql() + """
SELECT doc_id, md5(kept_text) AS kept_md5,
  CAST(n_lines AS BIGINT) AS n_lines,
  CAST(n_kept AS BIGINT) AS n_kept,
  CAST(n_sentences AS BIGINT) AS n_sentences,
  has_lorem, has_brace, has_badword,
  (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
   AND NOT has_badword) AS c4_keep
FROM c4v""")


def q_otlp_roundtrip(spark, sf_dir):
    """OTLP/JSON logs codec round trip (operators/otlp.py): events ->
    pdata-shaped flat rows -> ONE ExportLogsServiceRequest JSON per
    resource (exporter side, 1 shuffle keyed by the resource signature)
    -> receiver-side explicit-schema parse -> flat rows.  The oracle
    derives the expected output directly from the events table, so
    serialize∘parse must be the identity on every field — including
    the proto3 int64-as-string and AnyValue-oneof JSON rules."""
    from .operators.otlp import parse_otlp_logs, serialize_otlp_logs
    ev = _events(spark, sf_dir)
    eid = F.col("event_id").cast("string")
    flat = ev.select(
        F.col("event_type").alias("service"),
        # ts is TIMESTAMP_NTZ; session tz is UTC, so the LTZ cast gives
        # the same epoch DuckDB's epoch_ns reads off the naive value
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000)
        .alias("ts_unix_nano"),
        F.when(F.col("value") > 0.9, 17).otherwise(9)
        .alias("severity_number"),
        F.when(F.col("value") > 0.9, "ERROR").otherwise("INFO")
        .alias("severity_text"),
        F.concat(F.lit("event "), eid, F.lit(" props="), F.col("props"))
        .alias("body"),
        F.create_map(F.lit("event_id"), F.col("event_id"),
                     F.lit("user_id"), F.col("user_id"))
        .alias("int_attrs"),
        F.create_map(F.lit("value"), F.col("value")).alias("dbl_attrs"),
        F.md5(eid).alias("trace_id"),
        F.substring(F.md5(F.concat(F.lit("s"), eid)), 1, 16)
        .alias("span_id"))
    back = parse_otlp_logs(serialize_otlp_logs(flat))
    a = F.col("attrs")
    return back.select(
        F.element_at("resource_attrs", "service.name").alias("service"),
        "scope_name", "scope_version", "ts_unix_nano",
        "severity_number", "severity_text", "body",
        F.element_at(a, "event_id").cast("long").alias("event_id"),
        F.element_at(a, "user_id").cast("long").alias("user_id"),
        F.element_at(a, "value").cast("double").alias("val"),
        "trace_id", "span_id")


def q_span_removal(spark, sf_dir, tok_dir):
    """Exact-substring dedup APPLIED (Lee et al. 2021 removal step,
    datapipe/dedup.py::remove_dup_spans): tokens covered by any
    cross-document duplicated 13-gram are deleted; the surviving
    arrays are serialized for the driver canon."""
    from .datapipe.dedup import remove_dup_spans
    df = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    out = remove_dup_spans(df, n=13)
    return out.select(
        "id", "n_tok", "n_removed",
        F.concat_ws(",", F.col("kept").cast("array<string>"))
        .alias("kept_s"))


def q_kmeans(spark, sf_dir):
    """Distributed quantized-Lloyd k-means over the embeddings table
    (datapipe/kmeans.py): 2 full Lloyd rounds, k=8, integer-exact
    means so the unrolled DuckDB twin is bit-identical."""
    from .datapipe.kmeans import kmeans_fit_assign
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return kmeans_fit_assign(emb, k=8, iters=2)


def q_mix_sample(spark, sf_dir, tok_dir):
    """Training-mix construction: per-source quota sampling with
    deterministic upsampling (floor(f) copies + hash-gated remainder),
    verified as per-source row/doc/copy aggregates."""
    from .datapipe.dedup import stratified_sample
    toks = (spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
            .select("doc_id", "source"))
    out = stratified_sample(
        toks, {"hot-source": 0.3, "app-a": 1.0, "app-b": 2.5, "k8s": 0.0},
        default=0.75)
    return (out.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.count_distinct("doc_id").alias("n_docs"),
                 F.max("copy").alias("max_copy")))


def q_ngram_dedup(spark, sf_dir, tok_dir):
    """Cross-document 13-gram dedup profile over the raw token streams
    (the exact-substring training-data dedup shape): per doc, how many
    token 13-grams also occur in another doc, and the interval-merged
    covered-token count."""
    from .datapipe.dedup import token_ngram_profile
    df = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    # n_tok is the table's own length column for tokens — opt in so the
    # doc-side pass scans (doc_id, n_tok) instead of the token arrays
    return token_ngram_profile(df, n=13, n_tok_col="n_tok")


def q_token_freq(spark, sf_dir, tok_dir):
    """Vocabulary frequency over the raw token streams (training-data
    vocab stats): explode + two-phase count, top-50 by (count desc,
    token asc) — the shuffle carries O(vocab), not O(tokens)."""
    df = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    return (df.select(F.explode("tokens").alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("tok").asc())
            .limit(50))


def q_ring_route(spark, sf_dir, tok_dir):
    """Consistent-hash ring fan-out counts.  Oracle-checked: DuckDB has
    no crc32, so the oracle computes it in SQL (256-entry table literal
    + list_reduce over the key's bytes, _ring_oracle_sql); exact ring
    parity vs a pure-Python reference is also asserted in
    tests/test_metrics_and_filters.py."""
    df = spark.read.parquet(os.path.join(tok_dir, "tokens.parquet"))
    return (df.withColumn("backend",
                          ring_route_column(F.col("doc_id"), RING_BACKENDS))
            .groupBy("backend")
            .agg(F.count(F.lit(1)).alias("n")))


def _ring_oracle_sql(tok_dir: str) -> str:
    """crc32-ring route in pure DuckDB SQL: crc32 via the standard
    256-entry table (literal list) folded over the key's ASCII codes
    with list_reduce, then the ring lookup as count-of-positions < h
    over the inlined sorted ring (consistent_hashing.go:44-68)."""
    from .operators.partitioners import (RING_POSITIONS, build_ring,
                                         crc32_table)
    tab = "[" + ", ".join(str(x) for x in crc32_table()) + "]"
    ring = build_ring(RING_BACKENDS)
    rp = "[" + ", ".join(str(p) for p, _ in ring) + "]"
    ro = "[" + ", ".join(f"'{o}'" for _, o in ring) + "]"
    return f"""WITH tab AS (SELECT {tab} AS t),
ring AS (SELECT {rp} AS rp, {ro} AS ro),
codes AS (
  SELECT list_transform(range(1, length(doc_id) + 1),
                        i -> ascii(doc_id[i])) AS cs
  FROM read_parquet('{tok_dir}/tokens.parquet')
),
crc AS (
  SELECT xor(list_reduce(list_prepend(4294967295::BIGINT, cs),
                         (c, b) -> xor(c >> 8, t[(xor(c, b) & 255) + 1])),
             4294967295::BIGINT) % {RING_POSITIONS} AS h
  FROM codes CROSS JOIN tab
),
routed AS (
  SELECT ro[(CASE WHEN len(list_filter(rp, p -> p < h)) >= len(rp)
                  THEN 0 ELSE len(list_filter(rp, p -> p < h)) END) + 1]
             AS backend
  FROM crc CROSS JOIN ring
)
SELECT backend, count(*)::BIGINT AS n FROM routed GROUP BY backend"""


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

WORDS_SQL = ("list_filter(string_split(trim(regexp_replace(lower(text), "
             "'[^a-z0-9]+', ' ', 'g')), ' '), w -> w <> '')")

NEAR_CORPUS_SQL = f"""corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text || '{PAD}' FROM documents
)"""

EXACT_CORPUS_SQL = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000, text FROM documents WHERE doc_id < 100
)"""


def _bloom_hits_sql() -> str:
    """DuckDB twin of q_bloom_hits: the corpus's exact bit-position
    set, probe positions, and all-k membership — same md5-derived
    math as datapipe/bloom.py, so even false positives match."""
    from .datapipe.bloom import BLOOM_K, bloom_positions_sql
    pos_union = "\n    UNION ALL\n".join(
        f"    SELECT {bloom_positions_sql('text', i)} AS pos FROM corpus"
        for i in range(BLOOM_K))
    probe_cols = ",\n         ".join(
        f"{bloom_positions_sql('text', i)} AS p{i}"
        for i in range(BLOOM_K))
    hit = " AND ".join(
        f"p{i} IN (SELECT pos FROM pos)" for i in range(BLOOM_K))
    return f"""WITH corpus AS (SELECT doc_id, text FROM documents),
probe AS (
  SELECT doc_id, text FROM corpus WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 50000 AS doc_id, text || ' NEW' AS text
  FROM corpus WHERE doc_id % 3 = 1),
pos AS (SELECT DISTINCT pos FROM (
{pos_union})),
pr AS (
  SELECT doc_id,
         {probe_cols}
  FROM probe)
SELECT doc_id, ({hit}) AS hit FROM pr"""


def _hll_cardinality_sql() -> str:
    """DuckDB twin of q_hll_cardinality: replays every HLL register
    (integer-exact indicator sum) plus the estimator branches."""
    from .datapipe.sketches import HLL_M, hll_estimate_sql
    hll = hll_estimate_sql("words", "w", "lang")
    m = f"CAST({HLL_M} AS DOUBLE)"
    return f"""WITH words AS (
  SELECT lang, unnest({WORDS_SQL}) AS w FROM documents),
{hll},
exact AS (
  SELECT lang, count(DISTINCT w)::BIGINT AS n_exact
  FROM words GROUP BY lang)
SELECT e.lang, e.n_exact,
       round(CASE WHEN f.raw <= CAST({2.5 * HLL_M} AS DOUBLE)
                   AND f.v > 0
                  THEN {m} * ln({m} / f.v) ELSE f.raw END, 6) AS hll_est
FROM exact e JOIN final f ON f.grp = e.lang"""


def _cms_freq_sql() -> str:
    """DuckDB twin of q_cms_freq: rebuilds the d×w counter table and
    the min-over-rows probe, so collision-inflated estimates match."""
    from .datapipe.bloom import bloom_positions_sql
    from .datapipe.sketches import CMS_D, CMS_W
    corpus_pos = "\n    UNION ALL\n".join(
        f"    SELECT {i} AS i, {bloom_positions_sql('w', i, CMS_W)} AS pos"
        f" FROM words" for i in range(CMS_D))
    probe_pos = "\n  UNION ALL\n".join(
        f"  SELECT w, {i} AS i, {bloom_positions_sql('w', i, CMS_W)} AS pos"
        f" FROM probe" for i in range(CMS_D))
    vals = ", ".join(f"('{w}')" for w in CMS_PROBE_WORDS)
    return f"""WITH words AS (
  SELECT unnest({WORDS_SQL}) AS w FROM documents),
sketch AS (
  SELECT i, pos, count(*)::BIGINT AS cnt FROM (
{corpus_pos}) GROUP BY i, pos),
probe(w) AS (VALUES {vals}),
ppos AS (
{probe_pos}),
joined AS (
  SELECT p.w, coalesce(s.cnt, CAST(0 AS BIGINT)) AS cnt
  FROM ppos p LEFT JOIN sketch s ON s.i = p.i AND s.pos = p.pos),
est AS (
  SELECT w, CAST(min(cnt) AS BIGINT) AS cms_est FROM joined GROUP BY w),
exact AS (SELECT w, count(*)::BIGINT AS c FROM words GROUP BY w)
SELECT e.w, e.cms_est,
       coalesce(x.c, CAST(0 AS BIGINT)) AS n_exact
FROM est e LEFT JOIN exact x USING (w)"""


def _weighted_sample_sql() -> str:
    from .datapipe.curation import weighted_sample_sql
    body = weighted_sample_sql("documents", "n_chars", 5, "lang")
    return f"WITH {body}"


def _topk_docs_sql() -> str:
    from .functions.topk import topk_per_group_sql
    return topk_per_group_sql(
        "(SELECT doc_id, lang, n_chars FROM documents)",
        "lang", "n_chars", "doc_id", 3, "doc_id, lang, n_chars")


def _lm_logprob_sql() -> str:
    from .datapipe.lm_score import bigram_logprob_sql
    return "WITH " + bigram_logprob_sql(WORDS_SQL)


def _zorder_key_sql() -> str:
    from .functions.zorder import zorder2_sql
    z = zorder2_sql("(epoch_ms(ts) >> 16)", portable_hash_sql("event_type"))
    return f"SELECT event_id, {z} AS zkey FROM events"


def _shingle_cte(src: str = "corpus", k: int = 3) -> str:
    return f"""docs AS (
  SELECT id, {WORDS_SQL} AS words FROM {src}
), sh AS (
  SELECT id, list_distinct([array_to_string(words[i:i+{k - 1}], ' ')
           for i in generate_series(1, greatest(len(words)-{k - 1}, 0))]) AS sh
  FROM docs
), ex AS (SELECT id, len(sh) AS sz, unnest(sh) AS g FROM sh WHERE len(sh) > 0)"""


_JACCARD_CTE = """inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
         count(*)::BIGINT AS inter
  FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
  GROUP BY 1, 2, 3, 4
), jac AS (
  SELECT id_a, id_b, inter, sz_a, sz_b,
         inter / (sz_a + sz_b - inter) AS jaccard
  FROM inter
)"""


def _minhash_cols() -> str:
    h = portable_hash_sql("g")
    return ", ".join(
        f"min((({h}) * {_A[i]} + {_B[i]}) % {MERSENNE_P}) AS mh{i}"
        for i in range(NUM_HASHES))


def _band_union(sig_src: str = "sig") -> str:
    parts = []
    for b in range(BANDS):
        cols = ", ".join(f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
                         for r in range(ROWS_PER_BAND))
        parts.append(f"SELECT id, {b} AS band, md5(concat_ws(',', {cols})) "
                     f"AS bsig FROM {sig_src}")
    return " UNION ALL ".join(parts)


def _simhash_cte(src: str = "corpus") -> str:
    # 60-bit word hash (15 md5 hex digits) — twin of dedup._simhash_py;
    # 60 bits keep the fingerprint sum inside BIGINT range.
    h = "CAST(('0x' || substr(md5(CAST(w AS VARCHAR)), 1, 15)) AS BIGINT)"
    return f"""docs AS (
  SELECT id, {WORDS_SQL} AS words FROM {src}
), w AS (SELECT id, unnest(words) AS w FROM docs),
h AS (SELECT id, {h} AS h FROM w),
votes AS (
  SELECT id, b, sum(((h >> b) & 1) * 2 - 1) AS s
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
  GROUP BY id, b
), fp AS (
  -- CAST: DuckDB sum(BIGINT) returns HUGEINT, which pandas materializes
  -- as float64 and the driver canon then %.6g-truncates (round-1 red).
  SELECT id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                  AS BIGINT) AS simhash
  FROM votes GROUP BY id
)"""


_VEC_CTE = """v AS (
  SELECT vec_id AS id, [CAST(x AS DOUBLE) for x in embedding] AS v
  FROM embeddings
), nv AS (
  SELECT id, v, sqrt(list_reduce([x*x for x in v], (a, b) -> a + b)) AS nrm
  FROM v
)"""

_DOT_SQL = ("list_reduce([a.v[i] * b.v[i] for i in "
            "generate_series(1, len(a.v))], (x, y) -> x + y)")


def _lsh_bucket_sql(table: int, n_planes: int = 8, dim: int = 64) -> str:
    """Bucket-signature SQL for one LSH table: the hyperplane
    coefficients are md5-derived constants (similarity.plane_coeff), so
    they are precomputed here in Python and inlined as literals — the
    inlined sum is left-associative, matching the lsh_buckets UDF's
    per-dimension accumulation bit-for-bit (not a pairwise matmul)."""
    from .datapipe.similarity import plane_coeff as coeff

    bits = []
    for p in range(n_planes):
        terms = " + ".join(
            f"v[{d + 1}] * ({coeff(table, p, d)!r})" for d in range(dim))
        bits.append(f"CAST(CASE WHEN ({terms}) > 0 THEN 1 ELSE 0 END AS VARCHAR)")
    return "concat(" + ", ".join(bits) + ")"


def _dedup_clusters_oracle_sql() -> str:
    """Recursive min-label reachability over the simhash near-pair
    graph (datapipe/cluster.py twin)."""
    from .datapipe.cluster import cluster_oracle_sql
    cc = cluster_oracle_sql(
        "SELECT id FROM corpus",
        "SELECT a.id AS id_a, b.id AS id_b FROM fp a JOIN fp b "
        "ON a.id < b.id WHERE bit_count(xor(a.simhash, b.simhash)) <= 3")
    return f"""WITH RECURSIVE {NEAR_CORPUS_SQL}, {_simhash_cte()},
{cc}
SELECT id, min(label) AS cluster_id FROM reach GROUP BY id"""


def _ann_ivf_oracle_sql() -> str:
    """IVF probe search in DuckDB: centroid distances inlined as
    left-assoc expressions (datapipe/ivf.py builders), earliest-argmin
    assignment, nprobe=2 probes, scoring identical to ann_topk."""
    from .datapipe.ivf import ivf_assign_sql, ivf_probe2_sql
    return f"""WITH {_VEC_CTE}, {ivf_assign_sql(64)},
probed AS (
  SELECT id, list_id, {ivf_probe2_sql()} AS probe2 FROM ivf_a
), qprobes AS (
  SELECT id, list_id AS probe FROM probed
  UNION ALL
  SELECT id, probe2 FROM probed
), cand AS (
  SELECT q.id AS query_id, t.id AS neighbor_id
  FROM qprobes q JOIN ivf_a t ON q.probe = t.list_id AND q.id <> t.id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         round({_DOT_SQL} / (a.nrm * b.nrm), 6) AS cosine
  FROM cand c JOIN nv a ON a.id = c.query_id JOIN nv b ON b.id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
FROM scored QUALIFY rank <= 3"""


def _semdedup_oracle_sql() -> str:
    """SemDeDup twin: same inlined centroid assignment as ann_ivf, the
    pair test restricted to same-cluster smaller-id partners."""
    from .datapipe.ivf import ivf_assign_sql
    return f"""WITH {_VEC_CTE}, {ivf_assign_sql(64)},
drops AS (
  SELECT DISTINCT x.id
  FROM ivf_a x JOIN ivf_a y ON x.list_id = y.list_id AND y.id < x.id
  JOIN nv a ON a.id = x.id JOIN nv b ON b.id = y.id
  WHERE round({_DOT_SQL} / (a.nrm * b.nrm), 6) >= 0.3
)
SELECT x.id AS vec_id, x.list_id,
       (d.id IS NULL) AS kept
FROM ivf_a x LEFT JOIN drops d ON d.id = x.id"""


def _url_canon_sql() -> str:
    from .datapipe.curation import canonical_url_sql
    return f"""WITH u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
    || '://WWW.Site' || CAST(doc_id % 4 AS VARCHAR) || '.Example.COM'
    || (CASE WHEN doc_id % 3 = 0
             THEN CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
             WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0 THEN ''
             ELSE '/A/b' || CAST(doc_id % 5 AS VARCHAR) END)
    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&b=2&a=1'
             WHEN doc_id % 4 = 1 THEN '?fbclid=zz'
             WHEN doc_id % 4 = 2 THEN '?z=9&b=2#frag'
             ELSE '#only-frag' END) AS url
  FROM documents)
SELECT doc_id, url, {canonical_url_sql('url')} AS canon FROM u"""


def _kmeans_sql() -> str:
    from .datapipe.kmeans import kmeans_oracle_sql
    return "WITH " + kmeans_oracle_sql(k=8, iters=2, dim=64)


def _dsir_sql() -> str:
    from .datapipe.dsir import dsir_oracle_sql
    return "WITH " + dsir_oracle_sql(WORDS_SQL, "lang = 'en'")


def _quality_clf_oracle() -> str:
    from .datapipe.quality_clf import quality_oracle_sql
    return "WITH " + quality_oracle_sql(WORDS_SQL)


def _span_bucket_sql(value_sql: str, bounds: list[float]) -> str:
    terms = " + ".join(
        f"CASE WHEN {value_sql} > {float(b)!r} THEN 1 ELSE 0 END"
        for b in bounds)
    return f"({terms})"


def _textstats_base() -> str:
    hits = ", ".join(
        "len(list_filter(words, w -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        + f"], w))) AS h_{lang}"
        for lang in LANGS)
    bpe_rx = (r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"
              .replace("'", "''"))
    return f"""d AS (
  SELECT doc_id, text, {WORDS_SQL} AS words FROM documents
), f AS (
  SELECT doc_id, text, words,
         length(text) AS n_chars_m,
         len(words) AS n_words,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
         len(regexp_extract_all(text, '{bpe_rx}')) AS n_bpe,
         {hits}
  FROM d
), g AS (
  SELECT *,
    CASE WHEN n_words > 0
         THEN CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
              / n_words ELSE 0.0 END AS mean_wlen,
    CASE WHEN n_chars_m > 0
         THEN CAST(n_punct AS DOUBLE) / n_chars_m ELSE 0.0 END AS punct_r,
    CASE WHEN n_words > 0
         THEN CAST(h_en AS DOUBLE) / n_words ELSE 0.0 END AS sw_r
  FROM f
)"""


def _pred_lang_sql() -> str:
    """Earliest language in LANGS with the (>=1) max hit count wins —
    exactly the reversed-iteration argmax in textstats.lang_id."""
    clauses = []
    for i, lang in enumerate(LANGS):
        later = [f"h_{l}" for l in LANGS[i + 1:]]
        bound = f"greatest({', '.join(later + ['1'])})" if later else "1"
        clauses.append(f"WHEN h_{lang} >= {bound} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " ELSE 'unk' END"


def _pack_tokens_oracle_sql(d: str, n_groups: int) -> str:
    """DuckDB replay of pack_tokens at an arbitrary group count (the
    pinned query uses 16; pack_tokens_sized passes the auto-sizing
    rule's result)."""
    return f"""WITH t AS (
  SELECT doc_id, tokens, len(tokens) AS nt,
         CAST(CAST(('0x' || substr(md5(doc_id), 1, 8)) AS BIGINT)
              % {n_groups} AS INT) AS grp
  FROM read_parquet('{d}/tokens.parquet')
), w AS (
  SELECT *, sum(nt) OVER (PARTITION BY grp ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - nt AS prev
  FROM t
), pos AS (
  SELECT doc_id, grp,
         (prev + i) // 2048 AS chunk,
         (prev + i) % 2048 AS pic, tok
  FROM (SELECT doc_id, grp, prev, unnest(tokens) AS tok,
               generate_subscripts(tokens, 1) - 1 AS i
        FROM w WHERE nt > 0)
), packed AS (
  SELECT grp, chunk, count(*)::INT AS n_tok,
         array_to_string(list(tok ORDER BY pic), ',') AS tokens_s
  FROM pos GROUP BY grp, chunk
), sp AS (
  SELECT grp, chunk, doc_id, min(pic) AS start, count(*) AS len
  FROM pos GROUP BY grp, chunk, doc_id
), spa AS (
  SELECT grp, chunk, count(*)::INT AS n_docs,
         string_agg(doc_id || ':' || start || ':' || len, ','
                    ORDER BY start) AS spans_s
  FROM sp GROUP BY grp, chunk
)
SELECT p.grp, p.chunk, s.n_docs, p.n_tok, p.tokens_s, s.spans_s
FROM packed p JOIN spa s ON s.grp = p.grp AND s.chunk = p.chunk"""


def _tokens_curation_oracle_sql(d: str) -> str:
    """DuckDB twin of the COMPOSED tokens-native curation cascade
    (datapipe/token_curation.py): every stage replayed in one query —
    quality keep flags, digest-keyed exact dedup, the minhash_tokens
    star-candidate chain, recursive-CTE connected components,
    Lee-et-al span removal, and the hash split.

    ``grams`` and ``edges`` are MATERIALIZED: DuckDB otherwise inlines a
    CTE at each reference, and the recursive ``reach`` would re-run the
    whole gram/LSH/verify chain behind ``edges`` at every iteration."""
    h32 = token_gram_hash32_sql("tokens", "i", 4)
    mh = ", ".join(
        f"min((h * {_A[i]} + {_B[i]}) % {MERSENNE_P}) AS mh{i}"
        for i in range(NUM_HASHES))
    return f"""WITH RECURSIVE toks0 AS (
  SELECT doc_id, source, tokens FROM read_parquet('{d}/tokens.parquet')
  WHERE {portable_hash_sql("'tokmh:' || doc_id")} < {int(0.02 * (1 << 32))}
), q_vals AS (
  SELECT doc_id, i, tokens[i] AS v
  FROM (SELECT doc_id, unnest(generate_series(1, len(tokens))) AS i,
               tokens FROM toks0)
), q_tokc AS (
  SELECT doc_id, v, count(*) AS c FROM q_vals GROUP BY 1, 2
), q_dv AS (
  SELECT doc_id, count(*) AS n_distinct FROM q_tokc GROUP BY 1
), q_isl AS (
  SELECT doc_id, i,
         sum(CASE WHEN pv IS DISTINCT FROM v THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM (SELECT doc_id, i, v,
               lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        FROM q_vals)
), q_mr AS (
  SELECT doc_id, max(c) AS max_run FROM (
    SELECT doc_id, island, count(*) AS c FROM q_isl GROUP BY 1, 2)
  GROUP BY 1
), q_gc AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, array_to_string(tokens[i:i+1], ',') AS g
    FROM (SELECT doc_id, unnest(generate_series(1, len(tokens) - 1)) AS i,
                 tokens
          FROM toks0 WHERE len(tokens) >= 2))
  GROUP BY 1, 2
), q_dp AS (
  SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_pos
  FROM q_gc GROUP BY 1
), gated AS (
  SELECT t.doc_id, t.source, t.tokens FROM toks0 t
  JOIN q_dv ON q_dv.doc_id = t.doc_id
  JOIN q_mr ON q_mr.doc_id = t.doc_id
  LEFT JOIN q_dp ON q_dp.doc_id = t.doc_id
  WHERE len(t.tokens) BETWEEN 8 AND 8192
    AND round(CAST(q_dv.n_distinct AS DOUBLE) / len(t.tokens), 6) >= 0.2
    AND q_mr.max_run <= 20
    AND (CASE WHEN len(t.tokens) >= 2
              THEN round(CAST(coalesce(q_dp.dup_pos, 0) AS DOUBLE)
                         / (len(t.tokens) - 1), 6)
              ELSE 0.0 END) <= 0.5
), exact AS (
  SELECT doc_id, source, tokens FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(array_to_string(tokens, ','))
      ORDER BY doc_id) AS rn
    FROM gated) WHERE rn = 1
), pos AS (
  SELECT doc_id AS id, tokens,
         unnest(generate_series(1, len(tokens) - 3)) AS i
  FROM exact WHERE len(tokens) >= 4
), grams AS MATERIALIZED (
  SELECT DISTINCT id, {h32} AS h FROM pos
), szs AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
sig AS (SELECT id, {mh} FROM grams GROUP BY id),
bands AS ({_band_union()}),
star AS (
  SELECT id, min(id) OVER (PARTITION BY band, bsig) AS rep FROM bands),
cand AS (SELECT DISTINCT rep AS id_a, id AS id_b FROM star WHERE id <> rep),
inter AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS inter
  FROM cand c
  JOIN grams a ON a.id = c.id_a
  JOIN grams b ON b.id = c.id_b AND b.h = a.h
  GROUP BY 1, 2
), pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN szs sa ON sa.id = i.id_a
  JOIN szs sb ON sb.id = i.id_b
  WHERE i.inter / (sa.sz + sb.sz - i.inter) >= 0.4
), edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach(id, label) AS (
    SELECT doc_id, doc_id FROM exact
  UNION
    SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.id
), labels AS (
  SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
), surv AS (
  SELECT e.doc_id, e.source, e.tokens FROM exact e
  JOIN labels l ON l.id = e.doc_id AND l.cluster_id = e.doc_id
), s_g AS (
  SELECT doc_id, i - 1 AS pos,
         {token_gram_hash62_sql("tokens", "i", 13)} AS gh
  FROM (SELECT doc_id, tokens,
               unnest(generate_series(1, len(tokens) - 12)) AS i
        FROM surv)
), s_dup AS (
  SELECT gh FROM s_g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
), s_cov AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 12)) AS idx
  FROM (SELECT g.doc_id, g.pos FROM s_g g JOIN s_dup USING (gh))
), s_ex AS (
  SELECT doc_id, unnest(tokens) AS tok,
         generate_subscripts(tokens, 1) - 1 AS idx
  FROM surv
), s_kept AS (
  SELECT e.doc_id, list(e.tok ORDER BY e.idx) AS kept_list,
         count(*)::INT AS n_kept
  FROM s_ex e LEFT JOIN s_cov c ON c.doc_id = e.doc_id AND c.idx = e.idx
  WHERE c.idx IS NULL
  GROUP BY e.doc_id
)
SELECT s.doc_id, s.source,
       (len(s.tokens) - coalesce(k.n_kept, 0))::INT AS n_removed,
       coalesce(k.n_kept, 0)::INT AS n_tok_final,
       coalesce(array_to_string(list_transform(k.kept_list,
                x -> CAST(x AS VARCHAR)), ','), '') AS kept_s,
       CASE WHEN {portable_hash_sql("'split:' || doc_id")} % 1000 < 100
            THEN 'val' ELSE 'train' END AS split
FROM surv s LEFT JOIN s_kept k USING (doc_id)"""


def _fuzzy_ingest_oracle_sql(d: str) -> str:
    """DuckDB twin of run_fuzzy_dedup_ingest_cycle driven for TWO
    portable-hash-split cycles: within-cycle exact keep-first, exact-
    vs-history digest drop, fuzzy-vs-history (all cross pairs sharing
    a band bucket, exact Jaccard), then in-cycle star+CC survivors —
    both phases replayed in one query (two recursive CTEs).

    ``grams``, ``edges*`` and ``s*`` are MATERIALIZED, as in the
    tokens_curation oracle: inlined, each recursive iteration re-ran
    the chain behind ``edges*`` and every read of ``s1`` re-ran the
    recursion (on a 4-core host it ran past 900 s; materialized, ~1 s)."""
    h32 = token_gram_hash32_sql("tokens", "i", 4)
    mh = ", ".join(
        f"min((h * {_A[i]} + {_B[i]}) % {MERSENNE_P}) AS mh{i}"
        for i in range(NUM_HASHES))

    def jac(cand: str, out: str) -> str:
        return f"""{out}_i AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS inter
  FROM {cand} c
  JOIN grams a ON a.id = c.id_a
  JOIN grams b ON b.id = c.id_b AND b.h = a.h
  GROUP BY 1, 2
), {out} AS (
  SELECT i.id_a, i.id_b
  FROM {out}_i i
  JOIN szs sa ON sa.id = i.id_a
  JOIN szs sb ON sb.id = i.id_b
  WHERE i.inter / (sa.sz + sb.sz - i.inter) >= 0.4
)"""

    def cc(nodes: str, pairs: str, tag: str) -> str:
        return f"""edges{tag} AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM {pairs}
  UNION ALL
  SELECT id_b, id_a FROM {pairs}
), reach{tag}(id, label) AS (
    SELECT id, id FROM {nodes}
  UNION
    SELECT e.b, r.label FROM reach{tag} r JOIN edges{tag} e ON e.a = r.id
), s{tag} AS MATERIALIZED (
  SELECT id FROM (SELECT id, min(label) AS cl FROM reach{tag} GROUP BY id)
  WHERE cl = id
)"""

    return f"""WITH RECURSIVE toks0 AS (
  SELECT doc_id, source, n_tok, tokens,
         md5(array_to_string(tokens, ',')) AS digest,
         ({portable_hash_sql("'half:' || doc_id")}) % 2 AS half
  FROM read_parquet('{d}/tokens.parquet')
  WHERE {portable_hash_sql("'tokmh:' || doc_id")} < {int(0.02 * (1 << 32))}
), pos AS (
  SELECT doc_id AS id, tokens,
         unnest(generate_series(1, len(tokens) - 3)) AS i
  FROM toks0 WHERE len(tokens) >= 4
), grams AS MATERIALIZED (
  SELECT DISTINCT id, {h32} AS h FROM pos
), szs AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
sig AS (SELECT id, {mh} FROM grams GROUP BY id),
bands AS ({_band_union()}),
w1 AS (
  SELECT min(doc_id) AS id, digest FROM toks0 WHERE half = 0
  GROUP BY digest
), b1 AS (SELECT b.* FROM bands b JOIN w1 ON b.id = w1.id),
star1 AS (
  SELECT id, min(id) OVER (PARTITION BY band, bsig) AS rep FROM b1),
cand1 AS (SELECT DISTINCT rep AS id_a, id AS id_b FROM star1
          WHERE id <> rep),
{jac("cand1", "pairs1")},
n1 AS (SELECT id FROM w1),
{cc("n1", "pairs1", "1")},
hist_digest AS (
  SELECT t.digest FROM toks0 t JOIN s1 ON t.doc_id = s1.id
), w2 AS (
  SELECT min(doc_id) AS id, digest FROM toks0 WHERE half = 1
  GROUP BY digest
), e2 AS (
  SELECT id FROM w2 WHERE digest NOT IN (SELECT digest FROM hist_digest)
), bH AS (SELECT b.* FROM bands b JOIN s1 ON b.id = s1.id),
b2 AS (SELECT b.* FROM bands b JOIN e2 ON b.id = e2.id),
candX AS (
  SELECT DISTINCT b2.id AS id_a, bH.id AS id_b
  FROM b2 JOIN bH ON b2.band = bH.band AND b2.bsig = bH.bsig
),
{jac("candX", "pairsX")},
f2 AS (
  SELECT id FROM e2
  WHERE id NOT IN (SELECT id_a FROM pairsX)
), b2b AS (SELECT b.* FROM bands b JOIN f2 ON b.id = f2.id),
star2 AS (
  SELECT id, min(id) OVER (PARTITION BY band, bsig) AS rep FROM b2b),
cand2 AS (SELECT DISTINCT rep AS id_a, id AS id_b FROM star2
          WHERE id <> rep),
{jac("cand2", "pairs2")},
{cc("f2", "pairs2", "2")},
surv AS (SELECT id FROM s1 UNION ALL SELECT id FROM s2)
SELECT t.doc_id, t.source, t.n_tok
FROM toks0 t JOIN surv ON surv.id = t.doc_id"""


def extra_oracles(tok_dir: str) -> dict[str, str]:
    d = tok_dir
    scrape = (scrape_oracles(d) | k8s_oracles(d) | export_oracles(d)
              | wire_oracles(d))
    mh = _minhash_cols()
    score_sql = ("least(CAST(n_words AS DOUBLE) / 20.0, 1.0) * 0.4"
                 " + CASE WHEN mean_wlen >= 3 AND mean_wlen <= 10"
                 " THEN 0.3 ELSE 0.0 END"
                 " + least(sw_r * 5.0, 0.2)"
                 " + CASE WHEN punct_r < 0.1 THEN 0.1 ELSE 0.0 END")
    carbon_rx = r"^(cpu|mem|disk|net)\.([a-z.]+)$"
    combine_rx = r"^(cpu|mem)\.([a-z.]+)$"
    from .operators.grok import grok_to_regex
    from .operators.regex_parser import java_pattern
    grok_rx = java_pattern(grok_to_regex(GROK_EXPR)).replace("'", "''")
    return {
        "token_coverage": f"""WITH t AS (
  SELECT unnest(tokens) AS tok FROM read_parquet('{d}/tokens.parquet')),
h AS (SELECT tok, count(*)::BIGINT AS cnt FROM t GROUP BY tok),
g AS (SELECT (SELECT sum(cnt) FROM h) AS total)
SELECT CAST(tok AS BIGINT) AS tok, cnt,
  CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING)
       AS BIGINT) AS cum,
  round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING)
             AS DOUBLE) / (SELECT total FROM g), 6) AS coverage
FROM h""",

        "grok_parse": f"""WITH raw AS (
  SELECT doc_id,
         {DECODE_SQL_DUCKDB.format(col='tokens')} AS body
  FROM read_parquet('{d}/tokens.parquet')),
p AS (
  SELECT doc_id, regexp_matches(body, '{grok_rx}') AS parsed,
         regexp_extract(body, '{grok_rx}', ['gts','lvl','gmsg']) AS g
  FROM raw)
SELECT doc_id, parsed,
       CASE WHEN parsed THEN g.gts END AS gts,
       CASE WHEN parsed THEN g.lvl END AS lvl,
       md5(coalesce(CASE WHEN parsed THEN g.gmsg END, '')) AS gmsg_md5
FROM p""",
        "dedup_exact": f"""WITH {EXACT_CORPUS_SQL}
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
       count(*)::BIGINT AS dup_count
FROM corpus GROUP BY md5(text)""",

        "bloom_hits": _bloom_hits_sql(),

        "hll_cardinality": _hll_cardinality_sql(),

        "cms_freq": _cms_freq_sql(),

        "zorder_key": _zorder_key_sql(),

        "weighted_sample": _weighted_sample_sql(),

        "lm_logprob": _lm_logprob_sql(),

        "topk_docs": _topk_docs_sql(),

        "bpe_roundtrip": """SELECT lang, count(*)::BIGINT AS n_docs,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes
FROM documents GROUP BY lang""",

        "counter_rate": """WITH ev AS (
  SELECT event_id, event_type, epoch_ms(ts) AS t_ms,
         CAST(round(value * 100) AS BIGINT) AS vi
  FROM events),
c AS (
  SELECT event_id, event_type, t_ms,
         CAST(sum(vi) OVER (PARTITION BY event_type
                            ORDER BY t_ms, event_id
                            ROWS UNBOUNDED PRECEDING) % 10000
              AS BIGINT) AS cum
  FROM ev),
d AS (
  SELECT event_id, event_type, t_ms, cum,
         lag(cum) OVER w AS prev,
         lag(t_ms) OVER w AS prev_t
  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY t_ms, event_id))
SELECT event_id, event_type, cum,
  CAST(CASE WHEN prev IS NULL THEN NULL
            WHEN cum - prev < 0 THEN cum
            ELSE cum - prev END AS BIGINT) AS delta,
  CASE WHEN t_ms - prev_t > 0
       THEN round((CASE WHEN cum - prev < 0 THEN cum ELSE cum - prev END)
                  / ((t_ms - prev_t) / 1000.0), 6) END AS rate_per_s
FROM d""",

        "corpus_rollup": """SELECT coalesce(lang, '(all)') AS lang,
       coalesce(source, '(all)') AS source,
       count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM documents GROUP BY ROLLUP (lang, source)""",

        "lang_source_pivot": """SELECT source,
  (count(*) FILTER (WHERE lang = 'de'))::BIGINT AS n_de,
  (count(*) FILTER (WHERE lang = 'en'))::BIGINT AS n_en,
  (count(*) FILTER (WHERE lang = 'es'))::BIGINT AS n_es,
  (count(*) FILTER (WHERE lang = 'fr'))::BIGINT AS n_fr,
  (count(*) FILTER (WHERE lang = 'zh'))::BIGINT AS n_zh
FROM documents GROUP BY source""",

        "inverted_index": f"""WITH w AS (
  SELECT doc_id, unnest(list_distinct({WORDS_SQL})) AS word
  FROM documents)
SELECT word, count(*)::BIGINT AS df,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       md5(CAST(CAST(sum({portable_hash_sql(
           "word || ':' || CAST(doc_id AS VARCHAR)")}) AS BIGINT)
           AS VARCHAR)) AS posting_md5
FROM w GROUP BY word""",

        "sessionize": """WITH ev AS (
  SELECT event_id, user_id, epoch_ms(ts) AS t_ms FROM events),
g AS (
  SELECT user_id, event_id, t_ms,
         CASE WHEN lag(t_ms) OVER w IS NULL
                   OR t_ms - lag(t_ms) OVER w > 1800000
              THEN 1 ELSE 0 END AS is_new
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_ms, event_id)),
s AS (
  SELECT user_id, t_ms,
         CAST(sum(is_new) OVER (PARTITION BY user_id
                                ORDER BY t_ms, event_id
                                ROWS UNBOUNDED PRECEDING) - 1
              AS BIGINT) AS session_no
  FROM g)
SELECT user_id, session_no, count(*)::BIGINT AS n_events,
       min(t_ms) AS start_ms, max(t_ms) AS end_ms,
       (max(t_ms) - min(t_ms))::BIGINT AS duration_ms
FROM s GROUP BY user_id, session_no""",

        "latency_quantiles": """SELECT event_type, count(*)::BIGINT AS n,
  round(quantile_cont(value, 0.5), 6) AS p50,
  round(quantile_cont(value, 0.95), 6) AS p95,
  round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type""",

        "hdr_quantiles": """WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
), b AS (
  SELECT event_type,
         CASE WHEN v <= 0 THEN 0
              ELSE CAST(greatest(length(bin(v)) - 1 - 5, 0) AS BIGINT) * 64
                   + CAST(floor(v / power(2, greatest(length(bin(v)) - 1 - 5,
                                                      0)))
                          AS BIGINT)
         END AS bucket
  FROM ev
), sk AS (
  SELECT event_type, bucket, count(*)::BIGINT AS cnt FROM b GROUP BY 1, 2
), r AS (
  SELECT event_type, bucket, cnt,
         sum(cnt) OVER (PARTITION BY event_type) AS n,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cum,
         CAST((bucket % 64 + 1) * power(2, bucket // 64) - 1
              AS BIGINT) AS hi
  FROM sk
)
SELECT event_type, max(n)::BIGINT AS n, count(*)::BIGINT AS n_buckets,
       min(CASE WHEN cum >= ceil(0.5 * n) THEN hi END) / 100.0 AS p50,
       min(CASE WHEN cum >= ceil(0.95 * n) THEN hi END) / 100.0 AS p95,
       min(CASE WHEN cum >= ceil(0.99 * n) THEN hi END) / 100.0 AS p99
FROM r GROUP BY event_type""",

        "asof_enrich": """WITH ev AS (
  SELECT event_id, user_id, epoch_ms(ts) AS t_ms FROM events),
users AS (SELECT DISTINCT user_id FROM ev),
dim0 AS (
  SELECT user_id, unnest(generate_series(0, CAST(user_id % 3 AS INT))) AS v
  FROM users),
dim AS (
  SELECT user_id, v,
         (1704067200000 + v * 604800000
          + (user_id % 5) * 3600000)::BIGINT AS valid_from_ms,
         'tier' || CAST((user_id + v) % 4 AS VARCHAR) AS tier
  FROM dim0),
j AS (
  SELECT e.event_id, e.user_id, e.t_ms, d.v, d.tier, d.valid_from_ms
  FROM ev e ASOF LEFT JOIN dim d
    ON e.user_id = d.user_id AND e.t_ms >= d.valid_from_ms)
SELECT event_id, user_id,
  CASE WHEN t_ms - valid_from_ms > 604800000 THEN NULL ELSE tier END AS tier,
  CAST(CASE WHEN t_ms - valid_from_ms > 604800000 THEN NULL ELSE v END
       AS BIGINT) AS dim_v,
  CAST(CASE WHEN t_ms - valid_from_ms > 604800000 THEN NULL
       ELSE t_ms - valid_from_ms END AS BIGINT) AS staleness_ms
FROM j""",

        "line_dedup": f"""WITH {EXACT_CORPUS_SQL},
bodies AS (
  SELECT doc_id AS id,
         regexp_replace(text, '((\\S+ ){{7}}\\S+) ', '\\1' || chr(10), 'g')
           AS body
  FROM corpus),
l0 AS (SELECT id, string_split(body, chr(10)) AS parts FROM bodies),
l1 AS (SELECT id, unnest(generate_series(1, len(parts))) AS i, parts FROM l0),
lx AS (SELECT id, i - 1 AS line_no, parts[i] AS line FROM l1),
ranked AS (
  SELECT id, line_no, line,
         row_number() OVER (
           PARTITION BY CASE WHEN line = ''
                             THEN 'E:' || id || ':' || line_no
                             ELSE md5(line) END
           ORDER BY id, line_no) AS rk
  FROM lx)
SELECT id, count(*)::BIGINT AS n_lines,
       (count(*) FILTER (WHERE rk = 1))::BIGINT AS n_kept,
       (count(*) - count(*) FILTER (WHERE rk = 1))::BIGINT AS n_dropped,
       md5(coalesce(string_agg(line, chr(10) ORDER BY line_no)
                      FILTER (WHERE rk = 1), '')) AS kept_md5
FROM ranked GROUP BY id""",

        "dedup_survivors": f"""WITH {EXACT_CORPUS_SQL},
r AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY md5(text))::BIGINT AS dup_count,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY length(text) DESC, doc_id) AS rn
  FROM corpus)
SELECT doc_id, dup_count FROM r WHERE rn = 1""",

        "dedup_jaccard": f"""WITH {NEAR_CORPUS_SQL}, {_shingle_cte()}, {_JACCARD_CTE}
SELECT id_a, id_b, inter, sz_a, sz_b, jaccard FROM jac WHERE jaccard >= 0.5""",

        "jaccard_capped": f"""WITH {NEAR_CORPUS_SQL}, {_shingle_cte()},
hot AS (SELECT g FROM ex GROUP BY g HAVING count(*) > 4),
exk AS (
  SELECT id, g, count(*) OVER (PARTITION BY id)::BIGINT AS sz
  FROM ex WHERE g NOT IN (SELECT g FROM hot)
), inter2 AS (
  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
         count(*)::BIGINT AS inter
  FROM exk a JOIN exk b ON a.g = b.g AND a.id < b.id
  GROUP BY 1, 2, 3, 4
), jac2 AS (
  SELECT id_a, id_b, inter, sz_a, sz_b,
         inter / (sz_a + sz_b - inter) AS jaccard
  FROM inter2
)
SELECT id_a, id_b, inter, sz_a, sz_b, jaccard
FROM jac2 WHERE jaccard >= 0.5""",

        "sample_split": f"""WITH h AS (
  SELECT doc_id, lang,
         {portable_hash_sql("'sample:' || CAST(doc_id AS VARCHAR)")} AS hs,
         {portable_hash_sql("'split:' || CAST(doc_id AS VARCHAR)")} AS hp
  FROM documents
)
SELECT lang,
       CASE WHEN hp % 1000 < 100 THEN 'val' ELSE 'train' END AS split,
       count(*)::BIGINT AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM h WHERE hs < {int(0.3 * (1 << 32))}
GROUP BY 1, 2""",

        "minhash_sig": f"""WITH corpus AS (SELECT doc_id AS id, text FROM documents),
{_shingle_cte()}
SELECT id, {mh} FROM ex GROUP BY id""",

        "minhash_lsh": f"""WITH {NEAR_CORPUS_SQL}, {_shingle_cte()}, {_JACCARD_CTE},
sig AS (SELECT id, {mh} FROM ex GROUP BY id),
bands AS ({_band_union()}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id)
SELECT c.id_a, c.id_b, j.jaccard
FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= 0.5""",

        "minhash_lsh_star": f"""WITH {NEAR_CORPUS_SQL}, {_shingle_cte()}, {_JACCARD_CTE},
sig AS (SELECT id, {mh} FROM ex GROUP BY id),
bands AS ({_band_union()}),
star AS (
  SELECT id, min(id) OVER (PARTITION BY band, bsig) AS rep FROM bands),
cand AS (SELECT DISTINCT rep AS id_a, id AS id_b FROM star WHERE id <> rep)
SELECT c.id_a, c.id_b, j.jaccard
FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= 0.5""",

        "simhash_fp": f"""WITH corpus AS (SELECT doc_id AS id, text FROM documents),
{_simhash_cte()}
SELECT id, simhash FROM fp""",

        "simhash_pairs": f"""WITH {NEAR_CORPUS_SQL}, {_simhash_cte()}
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",

        "dedup_clusters": _dedup_clusters_oracle_sql(),

        "ann_topk": f"""WITH {_VEC_CTE},
p AS (
  SELECT a.id AS query_id, b.id AS neighbor_id,
         round({_DOT_SQL} / (a.nrm * b.nrm), 6) AS cosine
  FROM nv a JOIN nv b ON a.id <> b.id)
SELECT query_id, neighbor_id, cosine,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
FROM p QUALIFY rank <= 3""",

        "embed_neardup": f"""WITH {_VEC_CTE},
p AS (
  SELECT a.id AS id_a, b.id AS id_b,
         round({_DOT_SQL} / (a.nrm * b.nrm), 6) AS cosine
  FROM nv a JOIN nv b ON a.id < b.id)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3""",

        "embed_neardup_blocked": f"""WITH {_VEC_CTE},
buckets AS (
  SELECT id, v, nrm, 0 AS tbl, {_lsh_bucket_sql(0)} AS bucket FROM nv
  UNION ALL
  SELECT id, v, nrm, 1 AS tbl, {_lsh_bucket_sql(1)} AS bucket FROM nv
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM buckets l JOIN buckets r
    ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.id < r.id
), scored AS (
  SELECT c.id_a, c.id_b,
         round({_DOT_SQL} / (a.nrm * b.nrm), 6) AS cosine
  FROM cand c JOIN nv a ON a.id = c.id_a JOIN nv b ON b.id = c.id_b
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3""",

        "textstats": f"""WITH {_textstats_base()}
SELECT doc_id, {_pred_lang_sql()} AS pred_lang,
       n_chars_m, n_words, n_punct,
       round(mean_wlen, 6) AS mean_word_len,
       round(punct_r, 6) AS punct_ratio,
       round(sw_r, 6) AS stopword_ratio,
       round({score_sql}, 6) AS quality_score,
       n_bpe,
       md5(array_to_string(words, ' ')) AS fingerprint
FROM g""",

        "repetition": f"""WITH d AS (
  SELECT doc_id, {WORDS_SQL} AS words FROM documents
), g AS (
  SELECT doc_id, words,
         [words[i] || ' ' || words[i+1]
          for i in generate_series(1, greatest(len(words) - 1, 0))] AS grams
  FROM d
), ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
cnt AS (SELECT doc_id, gram, count(*)::INT AS c FROM ex GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS topc, CAST(sum(c) AS INT) AS total
        FROM cnt GROUP BY 1)
SELECT d.doc_id,
       coalesce(t.total, 0) AS n_2grams,
       coalesce(t.topc, 0) AS top_2gram_count,
       round(CASE WHEN coalesce(t.total, 0) > 0
                  THEN CAST(t.topc AS DOUBLE) / t.total ELSE 0.0 END, 6)
           AS top_2gram_frac,
       round(CASE WHEN len(d.words) > 0
                  THEN 1.0 - CAST(len(list_distinct(d.words)) AS DOUBLE)
                             / len(d.words)
                  ELSE 0.0 END, 6) AS dup_word_frac
FROM d LEFT JOIN top t USING (doc_id)""",

        "langid_agg": f"""WITH d0 AS (SELECT doc_id, lang, text FROM documents),
d AS (SELECT doc_id, lang, {WORDS_SQL} AS words FROM d0),
f AS (SELECT doc_id, lang, {', '.join(
    "len(list_filter(words, w -> list_contains(["
    + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    + f"], w))) AS h_{lang}" for lang in LANGS)} FROM d)
SELECT lang, {_pred_lang_sql()} AS pred_lang, count(*)::BIGINT AS n
FROM f GROUP BY 1, 2""",

        "carbon_parse": f"""WITH c AS (
  SELECT string_split(line, ' ') AS parts FROM read_parquet('{d}/carbon.parquet')
), s AS (
  SELECT string_split(parts[1], ';') AS pp,
         NULLIF(regexp_extract(parts[1], ';host=([^;]*)', 1), '') AS host,
         NULLIF(regexp_extract(parts[1], ';dc=([^;]*)', 1), '') AS dc,
         CAST(parts[2] AS DOUBLE) AS value, CAST(parts[3] AS BIGINT) AS ts
  FROM c
)
SELECT pp[1] AS metric_path, host, dc, value, ts,
       CASE WHEN regexp_matches(pp[1], '{carbon_rx}')
            THEN concat_ws('_', 'carbon',
                           regexp_extract(pp[1], '{carbon_rx}', 1),
                           regexp_extract(pp[1], '{carbon_rx}', 2))
            ELSE pp[1] END AS metric_name,
       CASE WHEN regexp_matches(pp[1], '{carbon_rx}')
            THEN 'cumulative' ELSE 'gauge' END AS metric_type
FROM s""",

        "collectd": f"""WITH c AS (
  SELECT string_split(line, ' ') AS parts FROM read_parquet('{d}/carbon.parquet')
)
SELECT string_split(parts[1], ';')[1] || '.ti' AS metric_name,
       CAST(parts[2] AS DOUBLE) AS value,
       NOT regexp_matches(parts[2], '^-?\\d+$') AS is_double,
       'cumulative' AS metric_type,
       CAST(CAST(parts[3] AS DOUBLE) * 1e9 AS BIGINT) AS ts_ns,
       'h1' AS host, 'cpu' AS plugin, 'value' AS dsname_label,
       'prod' AS env
FROM c""",

        "prom_parse": f"""WITH c AS (
  SELECT string_split(line, ' ') AS parts FROM read_parquet('{d}/carbon.parquet')
)
SELECT replace(string_split(parts[1], ';')[1], '.', '_') AS metric_name,
       'h1' AS host, 'us-east' AS dc,
       CAST(parts[2] AS DOUBLE) AS value,
       CAST(parts[3] || '000' AS BIGINT) AS ts_ms,
       'counter' AS metric_type, true AS valid
FROM c""",

        "wavefront": f"""WITH c AS (
  SELECT string_split(line, ' ') AS parts FROM read_parquet('{d}/carbon.parquet')
)
SELECT string_split(parts[1], ';')[1] AS metric_name,
       CAST(parts[2] AS DOUBLE) AS value,
       regexp_matches(parts[2], '^-?\\d+$') AS is_int,
       CAST(parts[3] AS BIGINT) AS ts,
       'host1' AS source, 'us-east' AS dc
FROM c""",

        "metrics_combine": f"""WITH c AS (
  SELECT string_split(line, ' ') AS parts FROM read_parquet('{d}/carbon.parquet')
), s AS (
  SELECT string_split(parts[1], ';')[1] AS metric_path,
         CAST(parts[2] AS DOUBLE) AS value, CAST(parts[3] AS BIGINT) AS ts
  FROM c
)
SELECT ts AS ts_sec,
       regexp_extract(metric_path, '{combine_rx}', 1) AS pre,
       regexp_extract(metric_path, '{combine_rx}', 2) AS rest,
       sum(value) AS value, 'system.combined' AS metric_path
FROM s WHERE regexp_matches(metric_path, '{combine_rx}')
GROUP BY 1, 2, 3""",

        "statsd_flush": f"""WITH p AS (
  SELECT regexp_extract(line, '^([^:]+):', 1) AS name,
         regexp_extract(line, '^[^:]+:([^|]+)\\|', 1) AS raw,
         regexp_extract(line, '\\|(c|g|ms|h|s)(\\||$)', 1) AS mtype,
         regexp_extract(line, '\\|@([0-9.]+)', 1) AS rate_s,
         regexp_extract(line, '\\|#(.+)$', 1) AS tags_s
  FROM read_parquet('{d}/statsd.parquet')
), t AS (
  SELECT name, mtype,
         CASE WHEN tags_s <> ''
              THEN array_to_string(list_sort(string_split(tags_s, ',')), ',')
              ELSE '' END AS tags,
         regexp_matches(raw, '^[+-]') AS is_delta,
         CASE WHEN mtype = 'c'
              THEN CAST(raw AS DOUBLE)
                   / (CASE WHEN rate_s <> '' THEN CAST(rate_s AS DOUBLE)
                           ELSE 1.0 END)
              ELSE CAST(raw AS DOUBLE) END AS value
  FROM p
)
SELECT name, tags, sum(value) AS value, 'c' AS metric_type
FROM t WHERE mtype = 'c' GROUP BY name, tags
UNION ALL
SELECT name, tags,
       coalesce(max(CASE WHEN NOT is_delta THEN value END), 0.0)
       + sum(CASE WHEN is_delta THEN value ELSE 0.0 END) AS value,
       'g' AS metric_type
FROM t WHERE mtype = 'g' GROUP BY name, tags""",

        "ann_lsh": f"""WITH {_VEC_CTE},
buckets AS (
  SELECT id, v, nrm, 0 AS tbl, {_lsh_bucket_sql(0)} AS bucket FROM nv
  UNION ALL
  SELECT id, v, nrm, 1 AS tbl, {_lsh_bucket_sql(1)} AS bucket FROM nv
), cand AS (
  SELECT DISTINCT l.id AS query_id, r.id AS neighbor_id
  FROM buckets l JOIN buckets r
    ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.id <> r.id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         round({_DOT_SQL} / (a.nrm * b.nrm), 6) AS cosine
  FROM cand c JOIN nv a ON a.id = c.query_id JOIN nv b ON b.id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
FROM scored QUALIFY rank <= 3""",

        "ann_ivf": _ann_ivf_oracle_sql(),
        "semdedup": _semdedup_oracle_sql(),
        "quality_clf": _quality_clf_oracle(),

        "span_metrics": f"""WITH b AS (
  SELECT event_type, value,
         {_span_bucket_sql('value', [5.0, 25.0, 100.0, 250.0, 490.0])} AS bucket
  FROM events
), per AS (
  SELECT event_type, bucket, count(*)::BIGINT AS n FROM b GROUP BY 1, 2
), grid AS (
  SELECT d.event_type, i.i
  FROM (SELECT DISTINCT event_type FROM events) d
  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS i) i
), hist AS (
  SELECT g.event_type, list(coalesce(p.n, 0) ORDER BY g.i) AS bucket_counts
  FROM grid g LEFT JOIN per p ON p.event_type = g.event_type AND p.bucket = g.i
  GROUP BY g.event_type
)
SELECT s.event_type, s.call_count, s.total_duration,
       array_to_string(list_transform(h.bucket_counts,
                                      x -> CAST(x AS VARCHAR)), ',')
           AS bucket_counts_s
FROM (SELECT event_type, count(*)::BIGINT AS call_count,
             sum(value) AS total_duration
      FROM events GROUP BY 1) s
JOIN hist h USING (event_type)""",

        "statsd_timers": f"""WITH p AS (
  SELECT regexp_extract(line, '^([^:]+):', 1) AS name,
         regexp_extract(line, '^[^:]+:([^|]+)\\|', 1) AS raw,
         regexp_extract(line, '\\|(c|g|ms|h|s)(\\||$)', 1) AS mtype,
         regexp_extract(line, '\\|#(.+)$', 1) AS tags_s
  FROM read_parquet('{d}/statsd.parquet')
), t AS (
  SELECT name,
         CASE WHEN tags_s <> ''
              THEN array_to_string(list_sort(string_split(tags_s, ',')), ',')
              ELSE '' END AS tags,
         CAST(raw AS DOUBLE) AS value
  FROM p WHERE mtype = 'ms'
)
SELECT name, tags, count(*)::BIGINT AS n, sum(value) AS sum,
       min(value) AS min, max(value) AS max,
       quantile_cont(value, 0.5) AS p5, quantile_cont(value, 0.9) AS p9,
       quantile_cont(value, 0.99) AS p99
FROM t GROUP BY name, tags""",

        "transform": """SELECT event_id, user_id AS uid,
       CASE WHEN value > 250 THEN regexp_replace(event_type, 'view', 'VIEW', 'g')
            ELSE event_type END AS event_type,
       substr(upper(event_type), 1, 4) AS etype_up,
       CAST(floor(value / 100) AS INT) AS value_bucket
FROM events
WHERE NOT (event_type = 'click' AND value < 50)""",

        "tailsample": """SELECT event_id, user_id, event_type, value
FROM events WHERE user_id IN (
  SELECT user_id FROM events
  WHERE (value BETWEEN 400.0 AND 500.0) OR event_type IN ('purchase'))""",

        "window_rollup": """SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
  event_type, count(*)::BIGINT AS n, sum(value) AS sum_v
FROM events GROUP BY 1, 2""",

        "trace_sessions": """SELECT user_id, count(*)::BIGINT AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       array_to_string(list(event_type ORDER BY ts, event_id), '|')
           AS event_seq_s
FROM events GROUP BY user_id""",

        "batch_split": """WITH fs AS (
  SELECT event_id, event_type, user_id,
         min(event_id) OVER (PARTITION BY event_type, user_id) AS first_seen
  FROM events)
SELECT event_id, event_type, user_id,
       dense_rank() OVER (PARTITION BY event_type ORDER BY first_seen)
           AS batch_seq,
       event_type || '/' || CAST(user_id AS VARCHAR) AS batch_id
FROM fs""",

        "hec_parse": f"""SELECT
  CAST(trunc(CAST(json_extract_string(body, '$.time') AS DOUBLE) * 1e9)
       AS BIGINT) AS ts_ns,
  json_extract_string(body, '$.host') AS host,
  json_extract_string(body, '$.source') AS hec_source,
  json_extract_string(body, '$.sourcetype') AS sourcetype,
  json_extract_string(body, '$.event') AS event_body,
  json_extract_string(body, '$.fields.k1') AS k1,
  json_extract_string(body, '$.fields.env') AS env
FROM read_parquet('{d}/hec.parquet')""",

        "media_features": f"""SELECT media_id, kind,
  CAST(octet_length(payload) AS INT) AS n_bytes,
  md5(lower(hex(payload))) AS checksum,
  CAST(16 + (CAST(('0x' || substr(md5(lower(hex(payload))), 1, 2)) AS INT)
             % 240) AS INT) AS width,
  CAST(16 + (CAST(('0x' || substr(md5(lower(hex(payload))), 3, 2)) AS INT)
             % 240) AS INT) AS height,
  true AS ok
FROM read_parquet('{d}/media.parquet')""",

        "media_resize": f"""WITH f AS (
  SELECT media_id, kind,
    CAST(16 + (CAST(('0x' || substr(md5(lower(hex(payload))), 1, 2)) AS INT)
               % 240) AS INT) AS width,
    CAST(16 + (CAST(('0x' || substr(md5(lower(hex(payload))), 3, 2)) AS INT)
               % 240) AS INT) AS height
  FROM read_parquet('{d}/media.parquet')
), s AS (
  SELECT *, least(64.0 / width, 64.0 / height, 1.0) AS scale FROM f
)
SELECT media_id, kind, width, height,
       CAST(trunc(width * scale) AS INT) AS target_w,
       CAST(trunc(height * scale) AS INT) AS target_h,
       round(scale, 6) AS scale_r,
       true AS ok
FROM s""",

        "ring_route": _ring_oracle_sql(d),

        "dsir_weights": _dsir_sql(),

        # rule conventions pinned in datapipe/quality_rules.py: ASCII-ws
        # word split, \n line split, strip-then-prefix bullet test,
        # non-overlapping '...' count via the replace trick
        "gopher_repetition": _repetition_sql(),
        "c4_rules": _c4_sql(),
        "rate_limit": _RATE_LIMIT_SQL,
        "resource_detect": _RESOURCE_DETECT_SQL,
        "gopher_rules": """WITH f AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '[ \t\n\r\f\v]+'),
                w -> w <> '') AS words,
    string_split(text, chr(10)) AS lines,
    (length(text) - length(replace(text, '#', '')))
      + (length(text) - length(replace(text, '...', ''))) // 3
      AS n_symbols,
    list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\v]+'),
                w -> w <> '') AS lw
  FROM documents
), g AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0)
         AS BIGINT) AS word_chars,
    CAST(n_symbols AS BIGINT) AS n_symbols,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lines, l ->
      starts_with(ltrim(l, ' ' || chr(9)), '- ')
      OR starts_with(ltrim(l, ' ' || chr(9)), '* ')
      OR starts_with(ltrim(l, ' ' || chr(9)), '•'))) AS BIGINT)
      AS n_bullet,
    CAST(len(list_filter(lines, l ->
      ends_with(rtrim(l, ' ' || chr(9)), '...')
      OR ends_with(rtrim(l, ' ' || chr(9)), '…'))) AS BIGINT)
      AS n_ellipsis,
    CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
         AS BIGINT) AS n_alpha_words,
    CAST(len(list_filter(['the','be','to','of','and','that','have',
                          'with'], s -> list_contains(lw, s)))
         AS BIGINT) AS stop_hits
  FROM f
), v AS (
  SELECT doc_id, n_words, stop_hits,
    CASE WHEN n_words > 0
         THEN word_chars / CAST(n_words AS DOUBLE) ELSE 0.0 END AS mw,
    CASE WHEN n_words > 0
         THEN n_symbols / CAST(n_words AS DOUBLE) ELSE 0.0 END AS sr,
    n_bullet / CAST(n_lines AS DOUBLE) AS bf,
    n_ellipsis / CAST(n_lines AS DOUBLE) AS ef,
    CASE WHEN n_words > 0
         THEN n_alpha_words / CAST(n_words AS DOUBLE) ELSE 0.0 END AS af
  FROM g
)
SELECT doc_id, n_words,
  round(mw, 6) AS mean_wlen, round(sr, 6) AS symbol_ratio,
  round(bf, 6) AS bullet_frac, round(ef, 6) AS ellipsis_frac,
  round(af, 6) AS alpha_frac, stop_hits,
  (n_words >= 50 AND n_words <= 100000) AS r_words,
  (mw >= 3.0 AND mw <= 10.0) AS r_wlen,
  (sr <= 0.1) AS r_symbol,
  (bf <= 0.90) AS r_bullet,
  (ef <= 0.30) AS r_ellipsis,
  (af >= 0.80) AS r_alpha,
  (stop_hits >= 2) AS r_stop,
  ((n_words >= 50 AND n_words <= 100000) AND (mw >= 3.0 AND mw <= 10.0)
   AND (sr <= 0.1) AND (bf <= 0.90) AND (ef <= 0.30) AND (af >= 0.80)
   AND (stop_hits >= 2)) AS gopher_pass
FROM v""",

        "otlp_metrics": """
SELECT event_type AS service,
       'opentelemetry_collector_contrib_spark' AS scope_name,
       'evt.value' AS name, '1' AS unit, 'double_gauge' AS mtype,
       CAST(user_id AS VARCHAR) AS "user",
       epoch_ns(ts) AS ts_unix_nano,
       value AS value_d, CAST(NULL AS BIGINT) AS value_i,
       CAST(NULL AS VARCHAR) AS temporality,
       CAST(NULL AS BOOLEAN) AS monotonic
FROM events
UNION ALL
SELECT event_type, 'opentelemetry_collector_contrib_spark',
       'evt.hits', '{hits}', 'int_sum',
       CAST(user_id AS VARCHAR), epoch_ns(ts),
       CAST(NULL AS DOUBLE), user_id,
       'AGGREGATION_TEMPORALITY_CUMULATIVE', TRUE
FROM events""",

        "otlp_spans": """
SELECT event_type AS service,
       'opentelemetry_collector_contrib_spark' AS scope_name,
       '0.2' AS scope_version,
       md5(CAST(user_id AS VARCHAR)) AS trace_id,
       substr(md5('s' || CAST(event_id AS VARCHAR)), 1, 16) AS span_id,
       CASE WHEN event_id % 7 = 0 THEN ''
            ELSE substr(md5('p' || CAST(event_id AS VARCHAR)), 1, 16)
       END AS parent_span_id,
       'op-' || CAST(event_id % 13 AS VARCHAR) AS name,
       ['SPAN_KIND_UNSPECIFIED','SPAN_KIND_INTERNAL','SPAN_KIND_SERVER',
        'SPAN_KIND_CLIENT','SPAN_KIND_PRODUCER','SPAN_KIND_CONSUMER']
         [CAST(event_id % 6 AS INT) + 1] AS kind,
       epoch_ns(ts) AS start_unix_nano,
       epoch_ns(ts) + CAST(floor(value * 1e6) AS BIGINT)
           AS end_unix_nano,
       event_id, value AS val,
       CASE WHEN value > 0.95 THEN 'STATUS_CODE_ERROR'
            ELSE 'STATUS_CODE_OK' END AS status_code,
       CASE WHEN value > 0.95 THEN 'boom' ELSE '' END AS status_message
FROM events""",

        # serialize∘parse must be the identity, so the oracle is the
        # direct projection of the inputs (house rule: never re-run the
        # translation in SQL)
        "otlp_roundtrip": """
SELECT event_type AS service,
       'opentelemetry_collector_contrib_spark' AS scope_name,
       '0.2' AS scope_version,
       epoch_ns(ts) AS ts_unix_nano,
       CAST(CASE WHEN value > 0.9 THEN 17 ELSE 9 END AS INT)
           AS severity_number,
       CASE WHEN value > 0.9 THEN 'ERROR' ELSE 'INFO' END
           AS severity_text,
       'event ' || CAST(event_id AS VARCHAR) || ' props=' || props
           AS body,
       event_id, user_id, value AS val,
       md5(CAST(event_id AS VARCHAR)) AS trace_id,
       substr(md5('s' || CAST(event_id AS VARCHAR)), 1, 16) AS span_id
FROM events""",

        "tfidf": f"""WITH d AS (
  SELECT doc_id AS id, {WORDS_SQL} AS words FROM documents
), w AS (
  SELECT id, unnest(words) AS word FROM d
), tf AS (
  SELECT id, word, count(*)::BIGINT AS tf FROM w GROUP BY id, word
), dfq AS (
  SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY word
), nd AS (
  SELECT count(DISTINCT doc_id) AS n FROM documents
), sc AS (
  SELECT tf.id, tf.word, tf.tf, dfq.df,
         CAST(tf.tf AS DOUBLE)
         * ln(CAST(nd.n AS DOUBLE) / CAST(dfq.df AS DOUBLE)) AS score
  FROM tf JOIN dfq USING (word), nd
), r AS (
  SELECT *, row_number() OVER (PARTITION BY id
                               ORDER BY score DESC, word ASC) AS rnk
  FROM sc
)
SELECT id, CAST(rnk AS INT) AS rank, word, tf, df, score
FROM r WHERE rnk <= 5""",

        "mix_sample": f"""WITH t AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('mix:' || doc_id), 1, 8)) AS BIGINT) AS h
  FROM read_parquet('{d}/tokens.parquet')
), f AS (
  SELECT *, CASE source WHEN 'hot-source' THEN 0.3 WHEN 'app-a' THEN 1.0
                        WHEN 'app-b' THEN 2.5 WHEN 'k8s' THEN 0.0
                        ELSE 0.75 END AS frac
  FROM t
), n AS (
  SELECT source, doc_id,
         CAST(floor(frac) AS INT)
         + CASE WHEN h < CAST(floor((frac - floor(frac)) * 4294967296.0)
                             AS BIGINT)
                THEN 1 ELSE 0 END AS nc
  FROM f
)
SELECT source, sum(nc)::BIGINT AS n_rows,
       (count(*) FILTER (nc > 0))::BIGINT AS n_docs,
       (max(nc) - 1)::INT AS max_copy
FROM n GROUP BY source HAVING sum(nc) > 0""",

        "tokens_curation": _tokens_curation_oracle_sql(d),

        "fuzzy_dedup_ingest": _fuzzy_ingest_oracle_sql(d),

        "pack_tokens": _pack_tokens_oracle_sql(d, 16),

        "pack_tokens_sized": _pack_tokens_oracle_sql(
            d, _sized_pack_groups(d)),

        "token_contamination": f"""WITH t AS (
  SELECT doc_id, tokens FROM read_parquet('{d}/tokens.parquet')
), bench AS (
  SELECT DISTINCT
         {token_gram_hash62_sql("tokens", "i", 13)} AS gh
  FROM (SELECT tokens, unnest(generate_series(1, len(tokens) - 12)) AS i
        FROM t
        WHERE {portable_hash_sql("'bench:' || doc_id")}
              < {int(0.01 * (1 << 32))}
          AND len(tokens) >= 13)
), g AS (
  SELECT doc_id,
         {token_gram_hash62_sql("tokens", "i", 13)} AS gh
  FROM (SELECT doc_id, tokens,
               unnest(generate_series(1, len(tokens) - 12)) AS i
        FROM t WHERE len(tokens) >= 13)
), per AS (
  SELECT g.doc_id, count(*)::BIGINT AS n_grams,
         sum(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_hit
  FROM g LEFT JOIN bench b ON b.gh = g.gh
  GROUP BY g.doc_id
)
SELECT t.doc_id AS id,
       coalesce(p.n_grams, 0)::BIGINT AS n_grams,
       coalesce(p.n_hit, 0)::BIGINT AS n_hit,
       CASE WHEN coalesce(p.n_grams, 0) > 0
            THEN round(CAST(p.n_hit AS DOUBLE) / p.n_grams, 6)
            ELSE 0.0 END AS hit_frac
FROM t LEFT JOIN per p USING (doc_id)""",

        "length_batches": f"""WITH b AS (
  SELECT n_tok,
         CAST(floor((row_number() OVER (PARTITION BY n_tok
                                        ORDER BY doc_id) - 1) / 32)
              AS BIGINT) AS batch_idx
  FROM read_parquet('{d}/tokens.parquet')
)
SELECT n_tok, batch_idx, count(*)::BIGINT AS n_docs,
       round(count(*) / 32.0, 6) AS fill_frac
FROM b GROUP BY n_tok, batch_idx""",

        "temperature_mix": f"""WITH c AS (
  SELECT source, count(*)::BIGINT AS n
  FROM read_parquet('{d}/tokens.parquet') GROUP BY source
), tot AS (SELECT sum(n)::BIGINT AS nt FROM c),
r AS (
  SELECT source, n, sqrt(CAST(n AS DOUBLE) / nt) AS rv
  FROM c CROSS JOIN tot
), z AS (
  SELECT list_reduce(list_prepend(0.0, list(rv ORDER BY source)),
                     (a, b) -> a + b) AS zz
  FROM r
), f AS (
  SELECT source, ((rv / zz) * nt) / n AS frac
  FROM r CROSS JOIN z CROSS JOIN tot
), t AS (
  SELECT d.doc_id, d.source, f.frac,
         CAST(('0x' || substr(md5('tmix:' || d.doc_id), 1, 8)) AS BIGINT)
           AS h
  FROM read_parquet('{d}/tokens.parquet') d JOIN f USING (source)
), n AS (
  SELECT source, doc_id,
         CAST(floor(frac) AS INT)
         + CASE WHEN h < CAST(floor((frac - floor(frac)) * 4294967296.0)
                             AS BIGINT)
                THEN 1 ELSE 0 END AS nc
  FROM t
)
SELECT source, sum(nc)::BIGINT AS n_rows,
       (count(*) FILTER (nc > 0))::BIGINT AS n_docs,
       (max(nc) - 1)::INT AS max_copy
FROM n GROUP BY source HAVING sum(nc) > 0""",

        "minhash_tokens": f"""WITH toks AS (
  SELECT doc_id AS id, tokens FROM read_parquet('{d}/tokens.parquet')
  WHERE {portable_hash_sql("'tokmh:' || doc_id")} < {int(0.02 * (1 << 32))}
), pos AS (
  SELECT id, tokens, unnest(generate_series(1, len(tokens) - 3)) AS i
  FROM toks WHERE len(tokens) >= 4
), grams AS (
  SELECT DISTINCT id,
         {token_gram_hash32_sql("tokens", "i", 4)} AS h
  FROM pos
), szs AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
sig AS (SELECT id, {{mh_h}} FROM grams GROUP BY id),
bands AS ({_band_union()}),
star AS (
  SELECT id, min(id) OVER (PARTITION BY band, bsig) AS rep FROM bands),
cand AS (SELECT DISTINCT rep AS id_a, id AS id_b FROM star WHERE id <> rep),
inter AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS inter
  FROM cand c
  JOIN grams a ON a.id = c.id_a
  JOIN grams b ON b.id = c.id_b AND b.h = a.h
  GROUP BY 1, 2
), jac AS (
  SELECT i.id_a, i.id_b, i.inter / (sa.sz + sb.sz - i.inter) AS jaccard
  FROM inter i
  JOIN szs sa ON sa.id = i.id_a
  JOIN szs sb ON sb.id = i.id_b
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.4""".replace(
            "{mh_h}", ", ".join(
                f"min((h * {_A[i]} + {_B[i]}) % {MERSENNE_P}) AS mh{i}"
                for i in range(NUM_HASHES))),

        "token_quality": f"""WITH t AS (
  SELECT doc_id AS id, tokens, coalesce(len(tokens), 0)::INT AS n_tok
  FROM read_parquet('{d}/tokens.parquet')
), vals AS (
  SELECT id, i, tokens[i] AS v
  FROM (SELECT id, unnest(generate_series(1, len(tokens))) AS i, tokens
        FROM t)
), tokc AS (
  SELECT id, v, count(*)::INT AS c FROM vals GROUP BY id, v
), dv AS (
  SELECT id, count(*)::INT AS n_distinct, max(c) AS top_count
  FROM tokc GROUP BY id
), topt AS (
  SELECT tc.id, min(tc.v)::INT AS top_token
  FROM tokc tc JOIN dv ON tc.id = dv.id AND tc.c = dv.top_count
  GROUP BY tc.id
), isl AS (
  SELECT id, i,
         sum(CASE WHEN pv IS DISTINCT FROM v THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY i) AS island
  FROM (SELECT id, i, v,
               lag(v) OVER (PARTITION BY id ORDER BY i) AS pv
        FROM vals)
), mr AS (
  SELECT id, max(c)::INT AS max_run FROM (
    SELECT id, island, count(*) AS c FROM isl GROUP BY id, island)
  GROUP BY id
), grams AS (
  SELECT id, array_to_string(tokens[i:i+1], ',') AS g
  FROM (SELECT id, unnest(generate_series(1, len(tokens) - 1)) AS i,
               tokens
        FROM t WHERE len(tokens) >= 2)
), gc AS (SELECT id, g, count(*) AS c FROM grams GROUP BY id, g),
dupg AS (
  SELECT id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::INT AS dup_gram_pos
  FROM gc GROUP BY id
), j AS (
  SELECT t.id, t.n_tok,
         coalesce(dv.n_distinct, 0) AS n_distinct,
         topt.top_token,
         coalesce(dv.top_count, 0)::INT AS top_count,
         coalesce(mr.max_run, 0) AS max_run,
         coalesce(dupg.dup_gram_pos, 0) AS dup_gram_pos,
         greatest(t.n_tok - 1, 0)::INT AS n_gram_pos
  FROM t
  LEFT JOIN dv ON dv.id = t.id
  LEFT JOIN topt ON topt.id = t.id
  LEFT JOIN mr ON mr.id = t.id
  LEFT JOIN dupg ON dupg.id = t.id
), r AS (
  SELECT *,
    CASE WHEN n_tok > 0
         THEN round(CAST(n_distinct AS DOUBLE) / n_tok, 6)
         ELSE 0.0 END AS distinct_ratio,
    CASE WHEN n_tok > 0
         THEN round(CAST(top_count AS DOUBLE) / n_tok, 6)
         ELSE 0.0 END AS top_token_frac,
    CASE WHEN n_gram_pos > 0
         THEN round(CAST(dup_gram_pos AS DOUBLE) / n_gram_pos, 6)
         ELSE 0.0 END AS dup_gram_frac
  FROM j
)
SELECT id, n_tok, n_distinct, top_token, top_count, max_run,
       dup_gram_pos, n_gram_pos, distinct_ratio, top_token_frac,
       dup_gram_frac,
       (n_tok >= 8 AND n_tok <= 8192) AS ok_length,
       (distinct_ratio >= 0.2) AS ok_distinct,
       (max_run <= 20) AS ok_run,
       (dup_gram_frac <= 0.5) AS ok_dup,
       (n_tok >= 8 AND n_tok <= 8192 AND distinct_ratio >= 0.2
        AND max_run <= 20 AND dup_gram_frac <= 0.5) AS keep
FROM r""",

        "ngram_dedup": f"""WITH t AS (
  SELECT doc_id, tokens, len(tokens) AS n_tok
  FROM read_parquet('{d}/tokens.parquet')
), gi AS (
  SELECT doc_id, tokens,
         unnest(generate_series(1, len(tokens) - 12)) AS i
  FROM t
), g AS (
  SELECT doc_id, i - 1 AS pos,
         {token_gram_hash62_sql("tokens", "i", 13)} AS gh
  FROM gi
), dup AS (
  SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
), dg AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)
), cv AS (
  SELECT doc_id, pos,
         least(coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                        - pos, 13), 13) AS cov
  FROM dg
), agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_dup_grams,
         sum(cov)::BIGINT AS covered_tokens
  FROM cv GROUP BY doc_id
)
SELECT t.doc_id AS id, t.n_tok::INT AS n_tok,
       greatest(t.n_tok - 12, 0)::INT AS n_grams,
       coalesce(a.n_dup_grams, 0)::BIGINT AS n_dup_grams,
       coalesce(a.covered_tokens, 0)::BIGINT AS covered_tokens,
       CASE WHEN t.n_tok > 0
            THEN CAST(coalesce(a.covered_tokens, 0) AS DOUBLE)
                 / CAST(t.n_tok AS DOUBLE)
            ELSE 0.0 END AS dup_token_fraction
FROM t LEFT JOIN agg a USING (doc_id)""",

        "kmeans_clusters": _kmeans_sql(),

        "url_canon": _url_canon_sql(),

        "span_removal": f"""WITH t AS (
  SELECT doc_id, tokens, len(tokens) AS n_tok
  FROM read_parquet('{d}/tokens.parquet')
), gi AS (
  SELECT doc_id, tokens,
         unnest(generate_series(1, len(tokens) - 12)) AS i
  FROM t
), g AS (
  SELECT doc_id, i - 1 AS pos,
         {token_gram_hash62_sql("tokens", "i", 13)} AS gh
  FROM gi
), dup AS (
  SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
), dg AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)
), cov AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 12)) AS idx
  FROM dg
), ex AS (
  SELECT doc_id, unnest(tokens) AS tok,
         generate_subscripts(tokens, 1) - 1 AS idx
  FROM t
), kept AS (
  SELECT e.doc_id, list(e.tok ORDER BY e.idx) AS kept_list,
         count(*)::INT AS n_kept
  FROM ex e LEFT JOIN cov c ON c.doc_id = e.doc_id AND c.idx = e.idx
  WHERE c.idx IS NULL
  GROUP BY e.doc_id
)
SELECT t.doc_id AS id, t.n_tok::INT AS n_tok,
       (t.n_tok - coalesce(k.n_kept, 0))::INT AS n_removed,
       coalesce(array_to_string(list_transform(k.kept_list,
                x -> CAST(x AS VARCHAR)), ','), '') AS kept_s
FROM t LEFT JOIN kept k USING (doc_id)""",

        "token_freq": f"""SELECT tok, count(*)::BIGINT AS n
FROM (SELECT unnest(tokens) AS tok FROM read_parquet('{d}/tokens.parquet'))
GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 50""",

        "pii_scrub": f"""WITH raw AS (
  SELECT doc_id,
         {DECODE_SQL_DUCKDB.format(col='tokens')} AS body
  FROM read_parquet('{d}/tokens.parquet')
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(body, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '[IP]', 'g'),
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g')
      AS scrubbed,
  len(regexp_extract_all(body, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b'))::INT
      AS n_ip,
  len(regexp_extract_all(body,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))::INT AS n_email
FROM raw""",
    } | scrape


def extra_queries(tok_dir_for) -> dict:
    """Query dict entries; ``tok_dir_for(sf_dir)`` maps the driver sf dir
    to our synthetic-table dir (datagen)."""
    def with_tok(fn):
        return lambda spark, sf_dir: fn(spark, sf_dir, tok_dir_for(sf_dir))
    return {
        "dedup_exact": q_dedup_exact,
        "dedup_survivors": q_dedup_survivors,
        "bloom_hits": q_bloom_hits,
        "hll_cardinality": q_hll_cardinality,
        "cms_freq": q_cms_freq,
        "zorder_key": q_zorder_key,
        "weighted_sample": q_weighted_sample,
        "bpe_roundtrip": q_bpe_roundtrip,
        "lm_logprob": q_lm_logprob,
        "topk_docs": q_topk_docs,
        "dedup_jaccard": q_dedup_jaccard,
        "jaccard_capped": q_jaccard_capped,
        "line_dedup": q_line_dedup,
        "asof_enrich": q_asof_enrich,
        "sessionize": q_sessionize,
        "counter_rate": q_counter_rate,
        "corpus_rollup": q_corpus_rollup,
        "lang_source_pivot": q_lang_source_pivot,
        "inverted_index": q_inverted_index,
        "latency_quantiles": q_latency_quantiles,
        "hdr_quantiles": q_hdr_quantiles,
        "dedup_clusters": q_dedup_clusters,
        "minhash_sig": q_minhash_sig,
        "sample_split": q_sample_split,
        "minhash_lsh": q_minhash_lsh,
        "minhash_lsh_star": q_minhash_lsh_star,
        "minhash_tokens": with_tok(q_minhash_tokens),
        "token_quality": with_tok(q_token_quality),
        "tokens_curation": with_tok(q_tokens_curation),
        "fuzzy_dedup_ingest": with_tok(q_fuzzy_dedup_ingest),
        "length_batches": with_tok(q_length_batches),
        "token_contamination": with_tok(q_token_contamination),
        "pack_tokens": with_tok(q_pack_tokens),
        "pack_tokens_sized": with_tok(q_pack_tokens_sized),
        "temperature_mix": with_tok(q_temperature_mix),
        "simhash_fp": q_simhash_fp,
        "simhash_pairs": q_simhash_pairs,
        "ann_topk": q_ann_topk,
        "embed_neardup": q_embed_neardup,
        "embed_neardup_blocked": q_embed_neardup_blocked,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "semdedup": q_semdedup,
        "quality_clf": q_quality_clf,
        "textstats": q_textstats,
        "repetition": q_repetition,
        "langid_agg": q_langid_agg,
        "grok_parse": with_tok(q_grok_parse),
        "token_coverage": with_tok(q_token_coverage),
        "carbon_parse": with_tok(q_carbon_parse),
        "wavefront": with_tok(q_wavefront),
        "prom_parse": with_tok(q_prom_parse),
        "collectd": with_tok(q_collectd),
        "metrics_combine": with_tok(q_metrics_combine),
        "statsd_flush": with_tok(q_statsd_flush),
        "statsd_timers": with_tok(q_statsd_timers),
        "tailsample": q_tailsample,
        "transform": q_transform,
        "span_metrics": q_span_metrics,
        "window_rollup": q_window_rollup,
        "trace_sessions": q_trace_sessions,
        "batch_split": q_batch_split,
        "hec_parse": with_tok(q_hec_parse),
        "media_features": with_tok(q_media_features),
        "media_resize": with_tok(q_media_resize),
        "ring_route": with_tok(q_ring_route),
        "token_freq": with_tok(q_token_freq),
        "ngram_dedup": with_tok(q_ngram_dedup),
        "mix_sample": with_tok(q_mix_sample),
        "tfidf": q_tfidf,
        "otlp_roundtrip": q_otlp_roundtrip,
        "otlp_spans": q_otlp_spans,
        "url_canon": q_url_canon,
        "otlp_metrics": q_otlp_metrics,
        "gopher_rules": q_gopher,
        "gopher_repetition": q_gopher_repetition,
        "c4_rules": q_c4,
        "rate_limit": q_rate_limit,
        "resource_detect": q_resource_detect,
        "dsir_weights": q_dsir,
        "kmeans_clusters": q_kmeans,
        "span_removal": with_tok(q_span_removal),
        "pii_scrub": with_tok(q_pii_scrub),
    } | {name: with_tok(fn)
         for name, fn in (scrape_queries() | k8s_queries()
                          | export_queries() | wire_queries()).items()}
