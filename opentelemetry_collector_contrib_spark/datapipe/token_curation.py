"""Tokens-NATIVE curation cascade: the full LLM-data curation flow over
the north-rule input (``tokens: array<int32>``) without EVER
detokenizing —

    token-quality gate (token_quality.py: diversity/repetition flags)
    -> exact dedup over the token ARRAYS (keep-first survivor per
       identical sequence; window keyed by the array digest)
    -> fuzzy dedup (minhash_tokens_lsh star candidates -> connected
       components -> transitive min-id survivors)
    -> cross-doc duplicated-SPAN removal (Lee et al. 2021 exact-
       substring dedup applied to the surviving sequences)
    -> deterministic train/val split

The text cascade (``curation.py::curation_pipeline``) needs the
decoded body for its Gopher/PII stages; on pre-tokenized corpora every
stage above reads token ids only, so the whole pipeline runs BEFORE
any decode and its per-stage costs are the tokens-native ones
(one Arrow hop for quality, Catalyst gram hashes, digest windows and
8-byte-hash shuffles for dedup, one Arrow hop for the span mask —
never gram text, never document text).

Funnel counts ride ``Observation`` aggregates in the lineage (zero
extra scans), same as the text cascade.  Every stage is individually
oracle-checked (`token_quality`, `minhash_tokens`, `dedup_clusters`
recursion, `span_removal`) AND the composed cascade itself is under
the driver's oracle gate end-to-end (`tokens_curation` — quality gate,
exact+fuzzy survivors, span removal and split replayed in one DuckDB
query).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tokens_digest(tokens_col) -> "F.Column":
    """Exact-duplicate key for a token array: md5 of the comma-joined
    ids (the same serialization every tokens-table oracle uses, so
    DuckDB computes the identical digest)."""
    return F.md5(F.concat_ws(",", F.col(tokens_col).cast("array<string>")))


def tokens_curation_pipeline(toks: DataFrame,
                             minhash_threshold: float = 0.4,
                             k_gram: int = 4,
                             span_n: int = 13,
                             remove_spans: bool = True,
                             val_permille: int = 100,
                             id_col: str = "doc_id",
                             tokens_col: str = "tokens",
                             quality_kwargs: dict | None = None):
    """Returns ``(curated DataFrame, observations dict)``.  Output
    columns: the input's, with ``tokens`` replaced by the span-cleaned
    array (when ``remove_spans``), plus ``n_removed`` and ``split``.

    Scale notes: the exact-survivor frame is persisted serialized
    (consumed by the LSH shingle side, both Jaccard verify sides, the
    CC node list, and the survivor join); connected components
    solves on the driver when the edge list fits its memory.  The wide
    ops are all keyed by uniform hashes (array digest, 32-bit gram
    hashes, band signatures, doc ids) — no natural skew key anywhere,
    the property that lets the same DAG run at 10^12 sequences."""
    from pyspark.sql import Observation

    from .cluster import cluster_survivors, connected_components
    from .dedup import (minhash_tokens_lsh, remove_dup_spans,
                        train_split_column)
    from .token_quality import token_quality

    obs: dict[str, "Observation"] = {}

    def observed(df: DataFrame, stage: str) -> DataFrame:
        obs[stage] = Observation()
        return df.observe(obs[stage], F.count(F.lit(1)).alias("n"))

    toks = observed(toks, "input")
    tq = token_quality(toks.select(F.col(id_col), F.col(tokens_col)),
                       tokens_col=tokens_col, id_col=id_col,
                       **(quality_kwargs or {}))
    gated = toks.join(tq.where(F.col("keep"))
                      .select(F.col("id").alias(id_col)), id_col)
    gated = observed(gated, "quality_pass")

    w = (Window.partitionBy(tokens_digest(tokens_col))
         .orderBy(F.col(id_col).asc()))
    exact = (gated.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn"))
    exact = observed(exact, "exact_unique").persist(
        StorageLevel.MEMORY_AND_DISK)

    pairs = minhash_tokens_lsh(exact, threshold=minhash_threshold,
                               k=k_gram, tokens_col=tokens_col,
                               id_col=id_col, candidates="star")
    clusters = connected_components(
        exact.select(F.col(id_col).alias("id")),
        pairs.select("id_a", "id_b"))
    fuzzy = observed(cluster_survivors(exact, clusters, id_col),
                     "fuzzy_unique")

    if remove_spans:
        spans = remove_dup_spans(fuzzy, n=span_n, id_col=id_col,
                                 tokens_col=tokens_col)
        out = (fuzzy.drop(tokens_col)
               .join(spans.select(F.col("id").alias(id_col),
                                  "n_removed",
                                  F.col("kept").alias(tokens_col)),
                     id_col))
    else:
        out = fuzzy.withColumn("n_removed", F.lit(0))
    return (out.withColumn("split",
                           train_split_column(id_col, val_permille)),
            obs)
