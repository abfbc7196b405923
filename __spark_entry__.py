"""Driver contract for the spark-graft builder (PySpark target).

The pipeline queries run over the deterministic synthetic tokens table
(BASELINE.json input_hint shape) generated by
``opentelemetry_collector_contrib_spark.datagen`` under /root/repo/data;
the DuckDB oracles read the same parquet via read_parquet().  Training-
data ops run over the driver's pre-registered views (documents,
embeddings, events).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark import datagen
from opentelemetry_collector_contrib_spark.sources import read_tokens
from opentelemetry_collector_contrib_spark.functions.tokens import DECODE_SQL_DUCKDB
from opentelemetry_collector_contrib_spark.operators.regex_parser import (
    RegexParser, kv_extract,
)
from opentelemetry_collector_contrib_spark.operators.enrich import (
    broadcast_enrich, prepare_pods_dim,
)
from opentelemetry_collector_contrib_spark.operators.routing import (
    DEFAULT_ROUTES, exploded,
)
from opentelemetry_collector_contrib_spark.operators.groupbyattrs import (
    group_by_attrs, group_by_attrs_metrics,
)
from opentelemetry_collector_contrib_spark.operators.json_parser import json_parser

# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------

ORACLE_SF_DIR = "/root/testdata/sf0.01"      # the driver's correctness sf


def _tok_path(sf_dir: str) -> str:
    return os.path.join(datagen.tokens_dir_for(sf_dir), "tokens.parquet")


def _pods_path(sf_dir: str) -> str:
    return os.path.join(datagen.tokens_dir_for(sf_dir), "pods.parquet")


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE Arrow hop does detokenize + RE2 named-group extract
    return RegexParser().apply(read_tokens(spark, _tok_path(sf_dir)))


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = kv_extract(_parsed(spark, sf_dir), "pod_ip")
    pods = prepare_pods_dim(spark.read.parquet(_pods_path(sf_dir)))
    return broadcast_enrich(df, pods, "pod_ip")


_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _event_ts_str():
    return F.date_format(F.col("event_ts"), _TS_FMT).alias("event_ts_s")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_parse_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regex_parser + severity + timestamp sub-parsers (per-row golden)."""
    return _parsed(spark, sf_dir).select(
        "doc_id", "source", "n_tok", "parsed", "ts", "sev", "msg",
        "severity_text", "severity_number", _event_ts_str())


def q_parse_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_parsed(spark, sf_dir)
            .groupBy("source", "severity_text")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_tok").alias("sum_tok")))


def q_severity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_parsed(spark, sf_dir)
            .select("sev", "severity_text", "severity_number")
            .where(F.col("sev").isNotNull())
            .distinct())


def q_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enriched(spark, sf_dir).select(
        "doc_id", "pod_ip", "pod_name", "namespace", "node_name",
        "deployment", "git_sha")


def q_enrich_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _enriched(spark, sf_dir)
    return group_by_attrs(df, ["namespace", "deployment"])


def q_route_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed-row sets per sink, tokens carried untouched (the per-row
    token-array-equality invariant).  The token array is serialized to a
    string because the driver's canon sorts rows via pandas sort_values,
    which cannot factorize list cells (round-1 harness err)."""
    df = read_tokens(spark, _tok_path(sf_dir))   # body not needed to route
    return exploded(df, DEFAULT_ROUTES).select(
        "doc_id", "sink",
        F.concat_ws(",", F.col("tokens").cast("array<string>"))
        .alias("tokens_s"))


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full parse -> enrich -> route -> aggregate."""
    df = exploded(_enriched(spark, sf_dir), DEFAULT_ROUTES)
    return (df.groupBy("sink", "source", "severity_text")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_tok").alias("sum_tok")))


def q_pipeline_staged_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTABLE pipeline under the oracle gate: ``run_pipeline``
    with the staged (write-once ``partitionBy(sink)``) fan-out into a
    scratch dir, then an aggregate over the sumologic sink's WRITTEN
    parquet.  Unlike ``pipeline_e2e`` (the same lineage composed
    declaratively), this covers the manifest units, the staged fan-out
    write+prune, per-sink serialization, and the sink writer — the
    driver's hash check runs over bytes that actually landed on
    storage (exporter/sumologicexporter/sender.go:139-154 send path)."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        PipelineConfig, run_pipeline)
    from opentelemetry_collector_contrib_spark.scratchdir import run_scratch
    with run_scratch("pipeline_staged") as out_dir:
        cfg = PipelineConfig(tokens_path=_tok_path(sf_dir),
                             pods_path=_pods_path(sf_dir),
                             out_dir=out_dir, n_units=2,
                             fanout_strategy="staged")
        run_pipeline(spark, cfg)
        sunk = spark.read.parquet(os.path.join(out_dir, "sinks",
                                               "sumologic"))
        return (sunk.groupBy("severity_text")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("n_tok").alias("sum_tok"))
                .localCheckpoint(eager=True))


def q_pipeline_incremental_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental INGEST machinery under the oracle gate: the
    tokens table is ingested as TWO ledger-committed cycles (half the
    files, then the appended rest — stanza file_input discovery +
    offsets resume re-expressed, receiver/stanzareceiver/config.go:26),
    and the union of the cycle-partitioned sumologic sink is hashed
    against the oracle's whole-table route count.  Green means cycle
    splitting, the file ledger, per-cycle appends, and snapshot commits
    reproduce exactly the single-batch result."""
    from opentelemetry_collector_contrib_spark.plans.incremental import (
        run_pipeline_incremental)
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        PipelineConfig)
    from opentelemetry_collector_contrib_spark.scratchdir import run_scratch
    with run_scratch("pipeline_inc") as scratch:
        tok = spark.read.parquet(_tok_path(sf_dir))
        half = F.pmod(F.xxhash64("doc_id"), F.lit(2))
        in_dir = os.path.join(scratch, "tokens")
        tok.filter(half == 0).write.parquet(in_dir)
        cfg = PipelineConfig(tokens_path=in_dir,
                             pods_path=_pods_path(sf_dir),
                             out_dir=os.path.join(scratch, "out"),
                             n_units=2)
        run_pipeline_incremental(spark, cfg)
        tok.filter(half == 1).write.mode("append").parquet(in_dir)
        run_pipeline_incremental(spark, cfg)
        sunk = spark.read.parquet(cfg.sink_cfg("sumologic").path)
        return (sunk.groupBy("severity_text")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("n_tok").alias("sum_tok"))
                .localCheckpoint(eager=True))


def q_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated incremental corpus dedup under the oracle gate
    (datapipe/incremental_dedup.py): the tokens table arrives as TWO
    ledger-committed cycles (a deterministic portable-hash half, then
    the appended rest); each cycle drops within-cycle exact dups
    (keep-first by id) and docs whose array digest any committed cycle
    already appended — the history check is a Bloom pre-filter whose
    HITS get an exact anti-join against the digest ledger.  The
    deduped corpus read back must hash-equal the oracle's direct
    two-phase survivor computation."""
    from opentelemetry_collector_contrib_spark.datapipe.hashing import (
        portable_hash)
    from opentelemetry_collector_contrib_spark.datapipe.incremental_dedup \
        import read_corpus, run_dedup_ingest_cycle
    from opentelemetry_collector_contrib_spark.scratchdir import run_scratch
    with run_scratch("dedup_ingest") as scratch:
        tok = spark.read.parquet(_tok_path(sf_dir))
        half = portable_hash(F.concat(F.lit("half:"), F.col("doc_id"))) % 2
        in_dir = os.path.join(scratch, "tokens")
        tok.filter(half == 0).write.parquet(in_dir)
        out_dir = os.path.join(scratch, "corpus")
        run_dedup_ingest_cycle(spark, in_dir, out_dir)
        tok.filter(half == 1).write.mode("append").parquet(in_dir)
        run_dedup_ingest_cycle(spark, in_dir, out_dir)
        return (read_corpus(spark, out_dir)
                .select("doc_id", "source", "n_tok")
                .localCheckpoint(eager=True))


def q_pipeline_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's SELF-METRICS under the oracle gate: per-sink
    routed counts as recorded by the run's Observation aggregates in
    the manifest (never a re-scan of outputs), checked against the
    oracle's independent route count — the reference's golden pdata
    tests assert exactly these per-exporter counts
    (processor/routingprocessor/routing_test.go style)."""
    import ast
    from opentelemetry_collector_contrib_spark.plans.manifest import (
        RunManifest)
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        PipelineConfig, run_pipeline)
    from opentelemetry_collector_contrib_spark.scratchdir import run_scratch
    with run_scratch("pipeline_counts") as out_dir:
        cfg = PipelineConfig(tokens_path=_tok_path(sf_dir),
                             pods_path=_pods_path(sf_dir),
                             out_dir=out_dir, n_units=2)
        run_pipeline(spark, cfg)
        totals: dict[str, int] = {}
        for e in RunManifest(f"{out_dir}/_manifest").entries():
            for sink, n in ast.literal_eval(e["sink_counts"]).items():
                totals[sink] = totals.get(sink, 0) + n
    return spark.createDataFrame(sorted(totals.items()),
                                 "sink string, n bigint")


def q_groupbyattrs_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _enriched(spark, sf_dir)
    return group_by_attrs_metrics(df, ["namespace", "deployment"])


def q_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = json_parser(ev, "k int", parse_from="props", prefix="p_")
    return out.select("event_id", "event_type", "p_k", "parsed")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pipeline_e2e(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from opentelemetry_collector_contrib_spark.queries_ext import extra_queries
    out = {
        "parse_fields": q_parse_fields,
        "parse_agg": q_parse_agg,
        "severity_matrix": q_severity_matrix,
        "enrich": q_enrich,
        "enrich_agg": q_enrich_agg,
        "route_rows": q_route_rows,
        "pipeline_e2e": q_pipeline_e2e,
        "pipeline_staged_sink": q_pipeline_staged_sink,
        "pipeline_sink_counts": q_pipeline_sink_counts,
        "pipeline_incremental_sink": q_pipeline_incremental_sink,
        "dedup_ingest": q_dedup_ingest,
        "groupbyattrs_metrics": q_groupbyattrs_metrics,
        "json_events": q_json_events,
    }
    out.update(extra_queries(datagen.tokens_dir_for))
    return out


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_LINE_RX = r"^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) ([A-Z]+) (.*)$"

# ensure the sf0.01 synthetic tables exist before the driver's oracle runs
_ORACLE_DIR = None


def _oracle_dir() -> str:
    global _ORACLE_DIR
    if _ORACLE_DIR is None:
        _ORACLE_DIR = datagen.tokens_dir_for(ORACLE_SF_DIR)
    return _ORACLE_DIR


def _sev_case(which: str) -> str:
    from opentelemetry_collector_contrib_spark.functions.severity import severity_case_sql
    return severity_case_sql("upper(g.sev)", which)


def _decoded_cte() -> str:
    d = _oracle_dir()
    return f"""
WITH raw AS (
  SELECT doc_id, tokens, n_tok, source,
         {DECODE_SQL_DUCKDB.format(col='tokens')} AS body
  FROM read_parquet('{d}/tokens.parquet')
), parsedg AS (
  SELECT *, regexp_extract(body, '{_LINE_RX}', ['ts','sev','msg']) AS g,
         regexp_matches(body, '{_LINE_RX}') AS parsed
  FROM raw
), parsed AS (
  SELECT doc_id, tokens, n_tok, source, body, parsed,
         CASE WHEN parsed THEN g.ts END AS ts,
         CASE WHEN parsed THEN g.sev END AS sev,
         CASE WHEN parsed THEN g.msg END AS msg,
         CASE WHEN parsed THEN {_sev_case('text')} ELSE 'Undefined' END AS severity_text,
         CASE WHEN parsed THEN {_sev_case('number')} ELSE 0 END AS severity_number,
         CASE WHEN parsed
              THEN strftime(strptime(g.ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
         END AS event_ts_s
  FROM parsedg
)"""


def _pods_cte() -> str:
    d = _oracle_dir()
    return f"""
pods AS (
  -- newest StartTime wins per pod_ip (kube client conflict resolution)
  SELECT pod_ip, pod_name, namespace, node_name, start_time,
         regexp_extract(pod_name, '^(.*)-[0-9a-zA-Z]*-[0-9a-zA-Z]*$', 1) AS deployment,
         regexp_extract(labels_raw, 'GIT_SHA=(\\w+)', 1) AS git_sha
  FROM read_parquet('{d}/pods.parquet') WHERE NOT ignore
  QUALIFY row_number() OVER (PARTITION BY pod_ip
                             ORDER BY start_time DESC, pod_name) = 1
), with_ip AS (
  SELECT p.*, NULLIF(regexp_extract(body, '(?:^|\\s)pod_ip=(\\S+)', 1), '') AS pod_ip
  FROM parsed p
), enriched AS (
  SELECT w.doc_id, w.tokens, w.n_tok, w.source, w.parsed, w.severity_text,
         w.severity_number, w.pod_ip,
         pods.pod_name, pods.namespace, pods.node_name,
         pods.deployment, pods.git_sha
  FROM with_ip w LEFT JOIN pods USING (pod_ip)
)"""


_ROUTE_CASE = """
CASE source
  WHEN 'hot-source' THEN ['sumologic']
  WHEN 'app-a' THEN ['sumologic','loki']
  WHEN 'k8s' THEN ['loki']
  ELSE ['default-sink'] END
"""


def oracle_sql() -> dict[str, str]:
    from opentelemetry_collector_contrib_spark.queries_ext import extra_oracles
    dec = _decoded_cte()
    pods = _pods_cte()
    out = extra_oracles(_oracle_dir())
    out.update(_base_oracles(dec, pods))
    return out


def _base_oracles(dec: str, pods: str) -> dict[str, str]:
    from opentelemetry_collector_contrib_spark.datapipe.hashing import (
        portable_hash_sql as _ph_sql)
    return {
        "parse_fields": f"""{dec}
SELECT doc_id, source, n_tok, parsed, ts, sev, msg,
       severity_text, severity_number, event_ts_s
FROM parsed""",
        "parse_agg": f"""{dec}
SELECT source, severity_text, count(*)::BIGINT AS n,
       sum(n_tok)::BIGINT AS sum_tok
FROM parsed GROUP BY source, severity_text""",
        "severity_matrix": f"""{dec}
SELECT DISTINCT sev, severity_text, severity_number
FROM parsed WHERE sev IS NOT NULL""",
        "enrich": f"""{dec}, {pods}
SELECT doc_id, pod_ip, pod_name, namespace, node_name, deployment, git_sha
FROM enriched""",
        "enrich_agg": f"""{dec}, {pods}
SELECT namespace, deployment, count(*)::BIGINT AS record_count
FROM enriched GROUP BY namespace, deployment""",
        "route_rows": f"""{dec}
SELECT doc_id, unnest({_ROUTE_CASE}) AS sink,
       array_to_string(list_transform(tokens, t -> CAST(t AS VARCHAR)), ',')
           AS tokens_s
FROM parsed""",
        "pipeline_e2e": f"""{dec}, {pods}, routed AS (
  SELECT *, unnest({_ROUTE_CASE}) AS sink FROM enriched
)
SELECT sink, source, severity_text, count(*)::BIGINT AS n,
       sum(n_tok)::BIGINT AS sum_tok
FROM routed GROUP BY sink, source, severity_text""",
        "pipeline_staged_sink": f"""{dec}, {pods}, routed AS (
  SELECT *, unnest({_ROUTE_CASE}) AS sink FROM enriched
)
SELECT severity_text, count(*)::BIGINT AS n,
       sum(n_tok)::BIGINT AS sum_tok
FROM routed WHERE sink = 'sumologic' GROUP BY severity_text""",
        "pipeline_sink_counts": f"""{dec}, {pods}, routed AS (
  SELECT *, unnest({_ROUTE_CASE}) AS sink FROM enriched
)
SELECT sink, count(*)::BIGINT AS n FROM routed GROUP BY sink""",
        "pipeline_incremental_sink": f"""{dec}, {pods}, routed AS (
  SELECT *, unnest({_ROUTE_CASE}) AS sink FROM enriched
)
SELECT severity_text, count(*)::BIGINT AS n,
       sum(n_tok)::BIGINT AS sum_tok
FROM routed WHERE sink = 'sumologic' GROUP BY severity_text""",
        "dedup_ingest": f"""WITH t AS (
  SELECT doc_id, source, n_tok,
         md5(array_to_string(tokens, ',')) AS digest,
         ({_ph_sql("'half:' || doc_id")}) % 2 AS half
  FROM read_parquet('{_oracle_dir()}/tokens.parquet')
), s0 AS (
  SELECT digest, min(doc_id) AS doc_id FROM t WHERE half = 0
  GROUP BY digest
), s1 AS (
  SELECT digest, min(doc_id) AS doc_id FROM t
  WHERE half = 1
    AND digest NOT IN (SELECT digest FROM t WHERE half = 0)
  GROUP BY digest
), surv AS (
  SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1
)
SELECT t.doc_id, t.source, t.n_tok FROM t JOIN surv USING (doc_id)""",
        "groupbyattrs_metrics": f"""{dec}, {pods}
SELECT sum(CASE WHEN namespace IS NOT NULL OR deployment IS NOT NULL
               THEN 1 ELSE 0 END)::BIGINT AS num_grouped,
       sum(CASE WHEN namespace IS NOT NULL OR deployment IS NOT NULL
               THEN 0 ELSE 1 END)::BIGINT AS num_non_grouped,
       count(DISTINCT (coalesce(namespace, chr(1)),
                       coalesce(deployment, chr(1))))::BIGINT AS num_groups
FROM enriched""",
        "json_events": """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS INT) AS p_k,
       (json_valid(props)) AS parsed
FROM events""",
    }
