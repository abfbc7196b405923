"""Training-set curation ops over the tokens/documents tables:
sequence packing and benchmark decontamination.

Beyond-the-reference components (per the brief's training-data-pipeline
axis), built on the same primitives as the dedup family:

- ``pack_chunks``: GPT-style concat-and-split packing — documents are
  concatenated in a deterministic order and split into fixed
  ``budget``-token context windows; a document may straddle a window
  boundary.  Packing runs independently inside hash-derived groups
  (``n_groups``) so it is embarrassingly parallel: the window cumsum is
  per-group, never a global sort.  Chunk identity is (group, chunk).
- ``contamination``: word-k-gram overlap between a train corpus and a
  held-out benchmark corpus (decontamination).  The benchmark shingle
  set is broadcast (benchmarks are small); every train doc gets a
  distinct-overlap count, zero-overlap docs included.

At 100 TB: packing shuffles once on the group key (uniform md5-derived,
no skew) and the window state is O(1) per row; contamination's only
wide op is the per-doc overlap count — the join itself is
broadcast-hash on the shingle string.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window, functions as F

from .dedup import shingles_udf


_PACK_GROUP_TARGET_BYTES = 256 << 20


def auto_pack_groups(input_bytes: int, parallelism: int,
                     target_bytes: int = _PACK_GROUP_TARGET_BYTES) -> int:
    """Pure sizing rule for the packing group count: enough md5-derived
    groups that each group's cumsum-window sort handles ~``target_bytes``
    of input, floored at the cluster parallelism so small inputs still
    use every core.  At 100 TB / 256 MB targets this yields ~400k
    groups — the window stage's parallelism tracks the corpus instead
    of a constant (the round-4 default of 16 groups meant ~6 TB of
    sort per task at that scale)."""
    n = max(int(parallelism),
            (int(input_bytes) + target_bytes - 1) // target_bytes, 1)
    return int(min(n, 1 << 20))


def _pack_grp(id_col: str, n_groups: int):
    """Uniform md5-derived group id, 32 hash bits wide (2 hex chars
    would cap the spread at 256 groups — auto-sizing reaches ~400k at
    100 TB).  DuckDB twin:
    ``CAST(('0x' || substr(md5(id), 1, 8)) AS BIGINT) % N``."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("bigint")
    return (h % n_groups).cast("int")


def _resolve_groups(df: DataFrame, n_groups) -> int:
    """``n_groups="auto"`` sizes from Catalyst's plan statistics
    (file-size based for parquet scans — metadata only, no job) and the
    session's default parallelism; an int passes through."""
    if n_groups == "auto":
        spark = df.sparkSession
        try:
            b = int(df._jdf.queryExecution().optimizedPlan()
                    .stats().sizeInBytes())
        except Exception:
            b = 0
        return auto_pack_groups(b, spark.sparkContext.defaultParallelism)
    return int(n_groups)


def pack_chunks(df: DataFrame, budget: int = 2048,
                id_col: str = "doc_id", len_col: str = "n_tok",
                n_groups: int | str = "auto") -> DataFrame:
    """Assign each document its span of ``budget``-token chunks.

    Documents are ordered by id inside ``n_groups`` md5-derived groups
    and concatenated; output columns per doc: ``grp``, ``first_chunk``
    / ``last_chunk`` (0-based chunk indexes the doc's tokens land in),
    ``chunk_offset`` (token offset inside first_chunk) and the carried
    length.  Zero-length docs take no space and land at the current
    boundary.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    n_groups = _resolve_groups(df, n_groups)
    grp = _pack_grp(id_col, n_groups)
    w = (Window.partitionBy("grp").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    n = F.col(len_col).cast("bigint")
    out = (df.select(F.col(id_col), n.alias("_n"), grp.alias("grp"))
           .withColumn("_cum", F.sum("_n").over(w))
           .select(
               id_col, "grp",
               F.col("_n").alias(len_col),
               ((F.col("_cum") - F.col("_n"))
                .alias("_prev")))
           .select(
               id_col, "grp", len_col,
               F.floor(F.col("_prev") / budget).cast("bigint")
               .alias("first_chunk"),
               F.floor((F.col("_prev")
                        + F.greatest(F.col(len_col) - 1, F.lit(0)))
                       / budget).cast("bigint").alias("last_chunk"),
               (F.col("_prev") % budget).cast("bigint")
               .alias("chunk_offset")))
    return out


def pack_tokens(df: DataFrame, budget: int = 2048,
                id_col: str = "doc_id", tokens_col: str = "tokens",
                n_groups: int | str = "auto") -> DataFrame:
    """MATERIALIZE the packed training rows: where :func:`pack_chunks`
    computes each document's chunk assignment, this produces the
    actual ``budget``-token context windows — concatenated token
    arrays plus the document-span metadata a dataloader needs for
    attention masking across document boundaries.

    Output one row per (grp, chunk): ``n_docs``, ``n_tok`` (== budget
    except each group's final partial chunk), ``tokens`` (the packed
    array), ``spans`` (ordered ``array<struct<doc_id,start,len>>`` —
    ``start`` is the doc's offset inside this chunk, ``len`` the
    tokens it contributes here; docs crossing chunk boundaries appear
    in every chunk they touch).

    Scale shape: the chunk assignment is pack_chunks' cumsum window,
    computed INLINE over the tokens-carrying frame (re-joining the
    assignment by id would hash-shuffle the heaviest column twice);
    Catalyst ``posexplode(sequence(first_chunk, last_chunk))`` +
    ``slice`` then cuts each doc's array at chunk boundaries —
    the shuffle carries (grp, chunk, start, sub-array) rows, at most
    ``spanned chunks`` per doc, never per-token rows — and the
    reassembly groupBy holds ≤ budget tokens per chunk.  Zero-length
    and NULL token arrays take no space and carry no span (``size``
    of NULL is -1 under non-ANSI Spark — coalesced to 0 so a NULL row
    cannot shift every later doc's offset in its group)."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    n_groups = _resolve_groups(df, n_groups)
    grp = _pack_grp(id_col, n_groups)
    n = F.when(F.col(tokens_col).isNull(), F.lit(0)) \
        .otherwise(F.size(tokens_col)).cast("bigint")
    w = (Window.partitionBy("grp").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    src = (df.select(F.col(id_col), F.col(tokens_col),
                     n.alias("_nt"), grp.alias("grp"))
           .withColumn("_prev", F.sum("_nt").over(w) - F.col("_nt"))
           .withColumn("first_chunk",
                       F.floor(F.col("_prev") / budget).cast("bigint"))
           .withColumn("last_chunk",
                       F.floor((F.col("_prev") + F.col("_nt") - 1) / budget)
                       .cast("bigint"))
           .withColumn("chunk_offset",
                       (F.col("_prev") % budget).cast("bigint"))
           .filter(F.col("_nt") > 0))

    # one row per (doc, chunk it touches): j-th part starts at token
    # ``pos`` of the doc and at offset ``start`` inside its chunk
    j = F.col("j").cast("bigint")
    off = F.col("chunk_offset")
    pos = F.when(j == 0, F.lit(0)).otherwise(j * budget - off)
    start = F.when(j == 0, off).otherwise(F.lit(0))
    parts = (src.select(
        F.col(id_col), "grp", F.col(tokens_col), "_nt", "chunk_offset",
        F.posexplode(F.sequence("first_chunk", "last_chunk"))
        .alias("j", "chunk"))
        .select(id_col, "grp", "chunk", start.cast("int").alias("start"),
                F.slice(tokens_col, (pos + 1).cast("int"),
                        F.least(budget - start, F.col("_nt") - pos)
                        .cast("int")).alias("part")))
    ordered = F.array_sort(F.collect_list(F.struct(
        F.col("start"), F.col(id_col).alias("doc_id"), F.col("part"))))
    return (parts.groupBy("grp", "chunk")
            .agg(ordered.alias("_o"))
            .select(
                "grp", "chunk",
                F.size("_o").alias("n_docs"),
                F.flatten(F.transform("_o", lambda s: s["part"]))
                .alias(tokens_col),
                F.transform("_o", lambda s: F.struct(
                    s["doc_id"].alias("doc_id"),
                    s["start"].alias("start"),
                    F.size(s["part"]).alias("len"))).alias("spans"))
            .withColumn("n_tok", F.size(tokens_col)))


def length_grouped_batches(df: DataFrame, batch_size: int = 32,
                           len_col: str = "n_tok",
                           id_col: str = "doc_id") -> DataFrame:
    """Length-grouped batch composition (the padding-minimizing
    sampler training loaders use): documents of IDENTICAL length are
    chunked into ``batch_size``-doc batches, so every full batch pads
    ZERO tokens; only each length's remainder batch is underfilled.

    Output one row per batch: (n_tok, batch_idx, n_docs,
    fill_frac) with fill_frac = n_docs/batch_size rounded to 6.
    The complement of the summed fill is the padding a naive
    arrival-order batcher would have spent lifting every doc in a
    batch to the batch max.

    Scale shape: ONE window exchange partitioned by the length value —
    thousands of distinct lengths spread the shuffle, no global sort,
    no SinglePartition window (the global-row-number formulation this
    replaces).  Compose with ``pack_chunks`` when concat-packing is
    allowed; this operator is for objectives that must keep documents
    intact."""
    if batch_size <= 0:
        raise ValueError("batch_size must be positive")
    w = Window.partitionBy(len_col).orderBy(F.col(id_col).asc())
    b = (df.withColumn("_rn", F.row_number().over(w))
         .withColumn("batch_idx",
                     F.floor((F.col("_rn") - 1) / batch_size)
                     .cast("long")))
    return (b.groupBy(F.col(len_col).alias("n_tok"), "batch_idx")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .withColumn("fill_frac",
                        F.round(F.col("n_docs")
                                / F.lit(float(batch_size)), 6)))


# labels joined by single dots — no trailing dot, so sentence
# punctuation after a URL cannot leak into the hostname
_URL_RX = r"https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)"


def weighted_sample(df: DataFrame, weight_col, k: int,
                    *group_cols: str, key_col: str = "doc_id",
                    seed_col: str = "text") -> DataFrame:
    """Weighted reservoir sample (Efraimidis-Spirakis A-ES): keep the
    k rows per group with the largest priority u^(1/w) — equivalently
    the largest ln(u)/w — where u is a DETERMINISTIC uniform derived
    from the portable md5 hash of ``seed_col``.  Selection probability
    is proportional to ``weight_col``; reruns and resumes pick the
    exact same sample (no rand(), the salted-write rule).

    Distributed shape: one window exchange keyed by the group — the
    same cost as any per-group top-k; at 10^12 rows with small k,
    partial top-k via groupBy(min_by/max_by array) would cut the
    shuffle to O(groups·k), left as the documented scale lever.

    Returns the sampled rows plus ``pri`` (rounded to 6 for the
    oracle compare).
    """
    from pyspark.sql import Window
    h = F.conv(F.substring(F.md5(F.col(seed_col)), 1, 15), 16, 10) \
         .cast("long")
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    pri = F.log(u) / F.col(weight_col).cast("double")
    win = (Window.partitionBy(*group_cols)
           .orderBy(F.desc("pri"), key_col))
    return (df.withColumn("pri", pri)
            .withColumn("_rk", F.row_number().over(win))
            .filter(F.col("_rk") <= k).drop("_rk")
            .withColumn("pri", F.round("pri", 6)))


def weighted_sample_sql(corpus: str, weight_sql: str, k: int,
                        group_sql: str, key_sql: str = "doc_id",
                        seed_sql: str = "text") -> str:
    """DuckDB twin of weighted_sample (same hash, same ln/div order)."""
    h = f"CAST(('0x' || substr(md5({seed_sql}), 1, 15)) AS BIGINT)"
    pri = (f"ln((CAST({h} AS DOUBLE) + 1.0) / {float(1 << 60)!r})"
           f" / CAST({weight_sql} AS DOUBLE)")
    return f"""r AS (
  SELECT {group_sql} AS grp, {key_sql} AS key, {pri} AS pri,
         row_number() OVER (PARTITION BY {group_sql}
                            ORDER BY {pri} DESC, {key_sql}) AS rk
  FROM {corpus})
SELECT grp, key, round(pri, 6) AS pri FROM r WHERE rk <= {k}"""


# URL canonicalization: the standard web-corpus URL-dedup normalizer
# (lowercase scheme/host, strip default ports and fragments, drop
# tracking params, sort the query) — two crawls of the same page under
# cosmetically different URLs must collapse to one key before dedup.
_URL_PARTS_RX = (r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/:?#]+)(?::([0-9]+))?"
                 r"([^?#]*)(?:\?([^#]*))?(?:#.*)?$")
_TRACKING_RX = r"^(utm_[^=]*|fbclid|gclid)(=|$)"


def canonical_url(url) -> "F.Column":
    """Canonical form of one URL column — pure JVM (regexp + small
    array HOFs over the query params; URL strings are short, this is
    not the token hot path).  Rules: scheme/host lowercased; default
    ports (http:80, https:443) dropped, others kept; empty path ->
    '/'; fragment dropped; tracking params (utm_*, fbclid, gclid)
    dropped; surviving query params sorted bytewise; '?' dropped when
    nothing survives."""
    g = lambda i: F.regexp_extract(url, _URL_PARTS_RX, i)  # noqa: E731
    scheme = F.lower(g(1))
    host = F.lower(g(2))
    port = g(3)
    default = ((scheme == "http") & (port == "80")) | \
              ((scheme == "https") & (port == "443"))
    port_part = F.when((port == "") | default, F.lit("")) \
        .otherwise(F.concat(F.lit(":"), port))
    path = F.when(g(4) == "", F.lit("/")).otherwise(g(4))
    params = F.array_sort(F.filter(
        F.split(g(5), "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_RX)))
    q = F.concat_ws("&", params)
    query_part = F.when(q == "", F.lit("")) \
        .otherwise(F.concat(F.lit("?"), q))
    return F.concat(scheme, F.lit("://"), host, port_part, path,
                    query_part)


def canonical_url_sql(url_sql: str) -> str:
    """DuckDB twin of canonical_url (same regexp, same rules, bytewise
    list_sort)."""
    rx = _URL_PARTS_RX.replace("'", "''")
    g = lambda i: f"regexp_extract({url_sql}, '{rx}', {i})"  # noqa: E731
    scheme = f"lower({g(1)})"
    host = f"lower({g(2)})"
    port = g(3)
    default = (f"(({scheme} = 'http' AND {port} = '80') OR "
               f"({scheme} = 'https' AND {port} = '443'))")
    port_part = (f"CASE WHEN {port} = '' OR {default} THEN '' "
                 f"ELSE ':' || {port} END")
    path = f"CASE WHEN {g(4)} = '' THEN '/' ELSE {g(4)} END"
    params = (f"list_sort(list_filter(string_split({g(5)}, '&'), "
              f"p -> p <> '' AND NOT regexp_matches(p, "
              f"'{_TRACKING_RX}')))")
    # DuckDB array_to_string returns NULL (not '') on an empty list
    q = f"coalesce(array_to_string({params}, '&'), '')"
    query_part = f"CASE WHEN {q} = '' THEN '' ELSE '?' || {q} END"
    return (f"{scheme} || '://' || {host} || {port_part} || {path} "
            f"|| {query_part}")


def url_dedup_keys(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append ``canon`` — the URL-dedup key.  Dedup itself is then the
    standard exact_dedup/groupBy on ``canon``."""
    return df.withColumn("canon", canonical_url(F.col(url_col)))


def extract_domains(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per doc: distinct lowercased URL hostnames plus a registrable
    domain guess (last two dot-labels) — pure JVM regexp, no shuffle."""
    hosts = F.array_distinct(F.transform(
        F.regexp_extract_all(F.col(text_col), F.lit(_URL_RX), F.lit(1)),
        F.lower))
    doms = F.array_distinct(F.transform(hosts, _registrable))
    return df.select(F.col(id_col).alias("id"), hosts.alias("hosts"),
                     doms.alias("domains"))


def _registrable(h):
    parts = F.split(h, r"\.")
    n = F.size(parts)
    return F.when(n >= 2, F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1))).otherwise(h)


def domain_blocklist_filter(df: DataFrame, blocklist: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Flag documents citing a blocklisted registrable domain
    (blocklist-based curation).  The blocklist (``domain`` column) is
    broadcast; the join on the exploded domain list is broadcast-hash,
    and the per-doc re-aggregation is the one wide exchange (map-side
    combined, one row per doc).  Output keeps every doc with
    (n_domains, n_blocked, blocked)."""
    d = extract_domains(df, text_col, id_col)
    ex = d.select("id", F.size("domains").alias("n_domains"),
                  F.explode_outer("domains").alias("domain"))
    b = (blocklist.select(F.lower(F.col("domain")).alias("domain"))
         .distinct().withColumn("_blk", F.lit(1)))
    return (ex.join(F.broadcast(b), "domain", "left")
            .groupBy("id")
            .agg(F.first("n_domains").alias("n_domains"),
                 F.count(F.when(F.col("_blk") == 1, 1))
                 .cast("bigint").alias("n_blocked"))
            .withColumn("blocked", F.col("n_blocked") > 0))


def contamination(train: DataFrame, bench: DataFrame, k: int = 3,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per train doc: how many of its distinct word ``k``-grams appear
    anywhere in the benchmark corpus.

    Output: (id, n_shingles, n_overlap, contaminated).  Docs with fewer
    than ``k`` words have no shingles and are never contaminated.
    """
    sh = shingles_udf(k)
    # ONE pass over the shingled train side (a base+hits self-join would
    # run the Arrow shingler twice); the broadcast bench set marks hits
    t = train.select(F.col(id_col).alias("id"),
                     sh(F.col(text_col)).alias("sh"))
    t_ex = t.select("id", F.size("sh").alias("n_shingles"),
                    F.explode_outer("sh").alias("g"))
    b_set = (bench.select(F.explode(sh(F.col(text_col))).alias("g"))
             .distinct().withColumn("_hit", F.lit(1)))
    return (t_ex.join(F.broadcast(b_set), "g", "left")
            .groupBy("id")
            .agg(F.first("n_shingles").alias("n_shingles"),
                 F.count_distinct(F.when(F.col("_hit") == 1, F.col("g")))
                 .cast("bigint").alias("n_overlap"))
            .withColumn("contaminated", F.col("n_overlap") > 0))


# ---------------------------------------------------------------------------
# the composed curation cascade (the datapipe counterpart of
# plans/pipeline.py's parse->enrich->route->aggregate DAG)
# ---------------------------------------------------------------------------

def curation_pipeline(docs: DataFrame, jaccard_threshold: float = 0.5,
                      val_permille: int = 100, quality: str = "gopher",
                      min_quality: float = 0.0,
                      id_col: str = "doc_id", text_col: str = "text"):
    """CCNet/Gopher-shaped corpus curation as ONE Spark DAG:

        quality gate (Gopher rules) -> exact-dup survivors (longest)
        -> fuzzy dedup (MinHash-LSH pairs -> connected components ->
           transitive min-id survivors) -> PII scrub
        -> deterministic train/val split

    ``quality`` picks the gate: 'gopher' (the paper's rule battery —
    its published thresholds, e.g. >=50 words, are meant for web
    documents and reject very short corpora wholesale), 'score' (the
    fused textstats quality_score >= ``min_quality`` — tunable), or
    'none'.

    Returns ``(curated DataFrame, observations dict)``.  Every stage
    count comes from an ``Observation`` aggregate attached IN the
    lineage, so the funnel report (input -> quality_pass ->
    exact_unique -> fuzzy_unique rows) costs ZERO extra scans — the
    numbers materialize with whatever single action consumes the
    result (`jobs/run_curation.py` reads them after its write).

    Scale notes: the exact-survivor frame is persisted because the
    fuzzy stage consumes it three ways (shingle/signature side, both
    verify sides, and the final survivor join); connected components
    localCheckpoints per iteration (plan truncation);
    everything else is linear.  At 100 TB the only wide ops are the
    md5-keyed survivor window, the LSH band shuffle, and the CC joins
    — all keyed by uniform hashes.
    """
    from pyspark.sql import Observation

    from .cluster import cluster_survivors, connected_components
    from .dedup import dedup_survivors, minhash_lsh_dedup, train_split_column
    from .quality_rules import gopher_filter
    from .textstats import scrub_pii

    obs: dict[str, Observation] = {}

    def observed(df: DataFrame, stage: str) -> DataFrame:
        obs[stage] = Observation()
        return df.observe(obs[stage], F.count(F.lit(1)).alias("n"))

    docs = observed(docs, "input")
    if quality == "gopher":
        gated = gopher_filter(docs, text_col)
    elif quality == "score":
        from .textstats import text_features
        scores = text_features(docs.select(F.col(id_col), F.col(text_col)),
                               text_col)
        gated = (docs.join(
            scores.where(F.col("quality_score") >= min_quality)
            .select(id_col), id_col))
    elif quality == "none":
        gated = docs
    else:
        raise ValueError(f"unknown quality gate {quality!r}")
    gated = observed(gated, "quality_pass")
    exact = (dedup_survivors(gated, text_col, id_col, policy="longest")
             .drop("dup_count"))
    # serialized MEMORY_AND_DISK, not the deserialized default: the
    # frame carries full document texts, and deserialized row caching
    # costs ~3-5x the serialized bytes — at 8 GB executor heap that
    # difference is what lets a 500k-doc corpus fit (measured in
    # tools/bench_curation.py; the broadcast builds of the CC loop
    # need the headroom).
    exact = observed(exact, "exact_unique").persist(
        StorageLevel.MEMORY_AND_DISK)
    # candidates="star": within each LSH band bucket only hub edges
    # (member -> bucket-min) are emitted — linear in bucket size, so a
    # boilerplate-heavy corpus (one mega-bucket of templated docs)
    # can't go quadratic; the CC stage right below restores the
    # transitive closure the dropped (a, b) edges would have carried.
    pairs = minhash_lsh_dedup(exact, threshold=jaccard_threshold,
                              text_col=text_col, id_col=id_col,
                              candidates="star")
    clusters = connected_components(
        exact.select(F.col(id_col).alias("id")),
        pairs.select("id_a", "id_b"))
    fuzzy = observed(cluster_survivors(exact, clusters, id_col),
                     "fuzzy_unique")
    scrubbed = scrub_pii(fuzzy, text_col, out_col="clean_text")
    out = scrubbed.withColumn(
        "split", train_split_column(id_col, val_permille))
    return out, obs


# ---------------------------------------------------------------------------
# stage-checkpointed cascade (resumable: the offsets_file analog at
# stage granularity — a multi-day 100-TB cascade that dies mid-CC must
# not lose the exact-dedup and pair-generation work already done)
# ---------------------------------------------------------------------------

CURATION_STAGES = ("exact", "pairs", "clusters", "final")


def curation_pipeline_staged(docs: DataFrame, run_dir: str,
                             jaccard_threshold: float = 0.5,
                             val_permille: int = 100,
                             quality: str = "gopher",
                             min_quality: float = 0.0,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             stop_after: str | None = None) -> dict:
    """Resumable twin of :func:`curation_pipeline`: each expensive stage
    materializes to ``run_dir/<stage>`` and appends a manifest row
    (``run_dir/manifest.jsonl`` — the same jsonl recipe as
    plans/manifest.py, stage names as units); a restarted run skips
    every stage with a ``done`` row and reads its parquet instead.

    Crash safety is write-then-record: a kill mid-write leaves a
    partial stage directory but NO manifest row, so the rerun
    overwrites it (mode=overwrite) — completed stages are never
    recomputed OR rewritten, and resumed output is value-identical to
    an uninterrupted run (every stage is deterministic).

    Stages (costs at 100 TB):
      exact    — quality gate + exact-dup survivors (the big frame:
                 ~unique-docs x full text; this is also what the
                 all-in-one form persists to cluster disk anyway)
      pairs    — MinHash-LSH star candidates + Jaccard verify
                 (O(pairs) — tiny)
      clusters — connected components over the pair graph (O(nodes))
      final    — transitive survivors + PII scrub + split, written
                 partitioned by split to ``run_dir/curated``

    ``stop_after`` ends the run after that stage completes (the test
    hook simulating a mid-cascade death).  Returns the funnel dict;
    counts for stages skipped on resume come from their manifest rows.
    """
    import json
    import os
    import time

    from pyspark.sql import Observation

    from ..plans.manifest import RunManifest
    from .cluster import cluster_survivors, connected_components
    from .dedup import dedup_survivors, minhash_lsh_dedup, train_split_column
    from .quality_rules import gopher_filter
    from .textstats import scrub_pii

    if stop_after is not None and stop_after not in CURATION_STAGES:
        raise ValueError(f"unknown stage {stop_after!r}")
    spark = docs.sparkSession
    man = RunManifest(run_dir, run_id="curation")
    done = man.completed_units()
    funnel: dict[str, int] = {}
    for e in man.entries():
        for k, v in json.loads(e.get("counts", "{}")).items():
            funnel[k] = v

    def finish(stage: str, counts: dict[str, int], t0: float) -> bool:
        """Record the stage; True = caller should stop (test hook)."""
        funnel.update(counts)
        man.record(stage, {"counts": json.dumps(counts),
                           "wall_ms": int((time.time() - t0) * 1000)})
        return stop_after == stage

    p = {s: os.path.join(run_dir, s) for s in CURATION_STAGES}

    if "exact" not in done:
        t0 = time.time()
        obs_in, obs_q = Observation(), Observation()
        d = docs.observe(obs_in, F.count(F.lit(1)).alias("n"))
        if quality == "gopher":
            gated = gopher_filter(d, text_col)
        elif quality == "score":
            from .textstats import text_features
            scores = text_features(
                d.select(F.col(id_col), F.col(text_col)), text_col)
            gated = d.join(
                scores.where(F.col("quality_score") >= min_quality)
                .select(id_col), id_col)
        elif quality == "none":
            gated = d
        else:
            raise ValueError(f"unknown quality gate {quality!r}")
        gated = gated.observe(obs_q, F.count(F.lit(1)).alias("n"))
        exact = (dedup_survivors(gated, text_col, id_col, policy="longest")
                 .drop("dup_count"))
        exact.write.mode("overwrite").parquet(p["exact"])
        n_exact = spark.read.parquet(p["exact"]).count()
        if finish("exact", {"input": int(obs_in.get["n"]),
                            "quality_pass": int(obs_q.get["n"]),
                            "exact_unique": n_exact}, t0):
            return funnel
    exact = spark.read.parquet(p["exact"])

    if "pairs" not in done:
        t0 = time.time()
        pairs = minhash_lsh_dedup(exact, threshold=jaccard_threshold,
                                  text_col=text_col, id_col=id_col,
                                  candidates="star").select("id_a", "id_b")
        pairs.write.mode("overwrite").parquet(p["pairs"])
        if finish("pairs",
                  {"pairs": spark.read.parquet(p["pairs"]).count()}, t0):
            return funnel

    if "clusters" not in done:
        t0 = time.time()
        clusters = connected_components(
            exact.select(F.col(id_col).alias("id")),
            spark.read.parquet(p["pairs"]))
        clusters.write.mode("overwrite").parquet(p["clusters"])
        if finish("clusters",
                  {"nodes": spark.read.parquet(p["clusters"]).count()}, t0):
            return funnel

    if "final" not in done:
        t0 = time.time()
        clusters = spark.read.parquet(p["clusters"])
        fuzzy = cluster_survivors(exact, clusters, id_col)
        out = (scrub_pii(fuzzy, text_col, out_col="clean_text")
               .withColumn("split", train_split_column(id_col, val_permille)))
        curated = os.path.join(run_dir, "curated")
        out.write.mode("overwrite").partitionBy("split").parquet(curated)
        finish("final",
               {"fuzzy_unique": spark.read.parquet(curated).count()}, t0)
    return funnel
