"""YAML config-driven pipeline assembly — the collector's
``receivers/processors/exporters + service.pipelines`` surface.

Reference: the YAML pipeline config (receiver/stanzareceiver/testdata/
config.yaml:1-31) wired through a component factory registry
(cmd/otelcontribcol/components.go:71-171).  Here each component kind is
a registered builder ``(spark, conf) -> (DataFrame -> DataFrame)``;
``service.pipelines.logs`` lists the stage order, exactly like the
reference's consumer chain — except the chain is a single Catalyst
lineage, so the whole parse -> enrich -> route config fuses into one
scan.

The ``filter`` processor takes a Spark SQL expression string — the
OTTL / stanza-expression-language analog (README.md:34): predicates are
data, compiled by Catalyst, pushed down where possible.

Example::

    receivers:
      tokens: {path: data/sf0.001/tokens.parquet}
    processors:
      parse:   {kind: regex_parser}
      ip:      {kind: kv_extract, key: pod_ip}
      enrich:  {kind: k8s_enrich, pods_path: data/sf0.001/pods.parquet,
                key: pod_ip}
      env:     {kind: resource_detection, attributes: {cluster: c1}}
      errors:  {kind: filter, expr: "severity_number >= 17"}
      route:   {kind: routing, from_attribute: source,
                table: {app-a: [loki]}, default: [sumologic]}
    exporters:
      loki:      {path: /tmp/out/loki, label_allowlist: [doc_id, body]}
      sumologic: {path: /tmp/out/sumo, log_format: json}
    service:
      pipelines:
        logs:
          receivers: [tokens]
          processors: [parse, ip, enrich, env, route]
          exporters: [loki, sumologic]
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import broadcast_enrich, prepare_pods_dim
from ..operators.json_parser import json_parser
from ..operators.regex_parser import DEFAULT_LOG_PATTERN, RegexParser, kv_extract
from ..operators.resource_detection import resource_detection
from ..operators.routing import RoutingTable, with_route
from ..sinks.writers import (SinkConfig, quarantine_path, serialize_records,
                             split_valid, write_sink)
from ..sources.tokens_source import read_tokens

Stage = Callable[[DataFrame], DataFrame]


# -- processor factory registry (components.go:71-171 analog) ---------------

def _regex_parser(spark: SparkSession, conf: dict) -> Stage:
    parser = RegexParser(
        pattern=conf.get("pattern", DEFAULT_LOG_PATTERN),
        timestamp_from=conf.get("timestamp", {}).get("parse_from", "ts"),
        timestamp_layout=conf.get("timestamp", {}).get("layout",
                                                       "%Y-%m-%d %H:%M:%S"),
        severity_from=conf.get("severity", {}).get("parse_from", "sev"))
    return parser.apply


def _json_parser(spark: SparkSession, conf: dict) -> Stage:
    return lambda df: json_parser(df, conf["schema"],
                                  parse_from=conf.get("parse_from", "body"),
                                  prefix=conf.get("prefix", ""))


def _kv_extract(spark: SparkSession, conf: dict) -> Stage:
    return lambda df: kv_extract(df, conf["key"],
                                 from_col=conf.get("from", "body"))


def _k8s_enrich(spark: SparkSession, conf: dict) -> Stage:
    pods = prepare_pods_dim(spark.read.parquet(conf["pods_path"]))
    key = conf.get("key", "pod_ip")
    mode = conf.get("mode", "insert")
    return lambda df: broadcast_enrich(df, pods, key, mode=mode)


def _resource_detection(spark: SparkSession, conf: dict) -> Stage:
    return lambda df: resource_detection(df, conf["attributes"],
                                         override=conf.get("override", False))


def _filter(spark: SparkSession, conf: dict) -> Stage:
    # OTTL-style predicate as a Spark SQL expression (Catalyst-compiled)
    return lambda df: df.filter(F.expr(conf["expr"]))


def _transform(spark: SparkSession, conf: dict) -> Stage:
    from ..operators.transform import transform as _tf
    statements = list(conf["statements"])
    return lambda df: _tf(df, statements)


def _routing(spark: SparkSession, conf: dict) -> Stage:
    routes = RoutingTable(from_attribute=conf["from_attribute"],
                          table={k: list(v) for k, v in
                                 conf.get("table", {}).items()},
                          default_sinks=list(conf.get("default", [])))
    return lambda df: with_route(df, routes)


def _sfx_translation(spark: SparkSession, conf: dict) -> Stage:
    from ..operators.sfx_translation import SfxRule, translate_datapoints
    rules = [SfxRule(**{k: (set(v) if k in ("dimension_values",
                                            "metric_names") else v)
                        for k, v in r.items()})
             for r in conf["rules"]]
    return lambda df: translate_datapoints(df, rules)


def _csv_parser(spark: SparkSession, conf: dict) -> Stage:
    from ..operators.json_parser import csv_parser
    return lambda df: csv_parser(df, conf["schema"],
                                 parse_from=conf.get("parse_from", "body"),
                                 prefix=conf.get("prefix", ""),
                                 sep=conf.get("sep", ","))


def _syslog_parser(spark: SparkSession, conf: dict) -> Stage:
    from ..operators.syslog import parse_syslog
    return lambda df: parse_syslog(df, line_col=conf.get("parse_from",
                                                         "body"))


def _recombine(spark: SparkSession, conf: dict) -> Stage:
    from ..operators.recombine import recombine
    return lambda df: recombine(
        df, F.expr(conf["is_first_entry"])
        if "is_first_entry" in conf else F.expr(conf["is_last_entry"]),
        key_cols=list(conf.get("keys", ["source"])),
        order_col=conf.get("order", "offset"),
        tiebreak=conf.get("tiebreak", "doc_id"),
        line_col=conf.get("combine_field", "body"),
        mode="first" if "is_first_entry" in conf else "last",
        sep=conf.get("combine_with", "\n"),
        max_lines=conf.get("max_batch_size"))


def _rate_limit(spark: SparkSession, conf: dict) -> Stage:
    from ..operators.filters import rate_limit
    return lambda df: rate_limit(
        df, rate=int(conf["rate"]),
        interval_ms=int(conf.get("interval_ms", 1000)),
        key_cols=list(conf.get("keys", ["source"])),
        time_col=conf.get("time", "event_ts"),
        tiebreak=conf.get("tiebreak", "doc_id"))


PROCESSORS: dict[str, Callable[[SparkSession, dict], Stage]] = {
    "regex_parser": _regex_parser,
    "json_parser": _json_parser,
    "csv_parser": _csv_parser,
    "syslog_parser": _syslog_parser,
    "recombine": _recombine,
    "rate_limit": _rate_limit,
    "kv_extract": _kv_extract,
    "k8s_enrich": _k8s_enrich,
    "resource_detection": _resource_detection,
    "filter": _filter,
    "transform": _transform,
    "routing": _routing,
    "sfx_translation": _sfx_translation,
}


# -- receiver factory registry ----------------------------------------------
# "tokens" is the flagship scan; "scrape" instantiates one of the pull
# scrapers over a payload table; "receiver_creator" is the observer +
# rule-dispatch analog (receivercreator/rules.go:33-62).

def _rx_tokens(spark: SparkSession, conf: dict) -> DataFrame:
    return read_tokens(spark, conf["path"], fmt=conf.get("format", "parquet"))


def _rx_table(spark: SparkSession, conf: dict) -> DataFrame:
    return spark.read.format(conf.get("format", "parquet")) \
        .load(conf["path"])


def _rx_scrape(spark: SparkSession, conf: dict) -> DataFrame:
    from ..operators import dockerstats, kubeletstats, scrapers
    parsers = {
        "redis": scrapers.parse_redis_info,
        "zookeeper": scrapers.parse_zookeeper_mntr,
        "nginx": scrapers.parse_nginx_stub_status,
        "memcached": scrapers.parse_memcached_stats,
        "dockerstats": dockerstats.parse_docker_stats,
        "kubeletstats": kubeletstats.parse_kubelet_summary,
    }
    parser = conf["parser"]
    if parser not in parsers:
        raise ValueError(f"unknown scrape parser: {parser}")
    df = _rx_table(spark, conf)
    kwargs = {}
    if "body_col" in conf and parser in ("redis", "zookeeper", "nginx",
                                         "memcached"):
        kwargs["body_col"] = conf["body_col"]
    return parsers[parser](df, **kwargs)


def _rx_winperf(spark: SparkSession, conf: dict) -> DataFrame:
    """windowsperfcounters analog: the table carries raw PDH readings
    (scrape_id, object, instance_cfg, counter, instance_name, value)."""
    from ..operators.winperf import winperf_gauges
    return winperf_gauges(_rx_table(spark, conf))


def _rx_signalfx(spark: SparkSession, conf: dict) -> DataFrame:
    """signalfxreceiver analog: decoded v2 datapoint rows -> metrics
    (``mode: events`` selects the event->log translation instead)."""
    from ..operators.sfx_receive import (sfx_datapoints_to_metrics,
                                         sfx_events_to_logs)
    df = _rx_table(spark, conf)
    if conf.get("mode", "datapoints") == "events":
        return sfx_events_to_logs(df)
    return sfx_datapoints_to_metrics(df)


def _rx_receiver_creator(spark: SparkSession, conf: dict) -> DataFrame:
    from ..operators.scrapers import (ReceiverTemplate,
                                      receiver_creator_dispatch)
    templates = [ReceiverTemplate(t["type"], t["rule"])
                 for t in conf["templates"]]
    return receiver_creator_dispatch(_rx_table(spark, conf), templates)


def _rx_k8s_cluster(spark: SparkSession, conf: dict) -> DataFrame:
    """k8sclusterreceiver analog: conf maps snapshot kinds to table
    paths, e.g. ``snapshots: {pods: /x/pods, nodes: /x/nodes}`` plus
    optional ``node_conditions: [Ready, MemoryPressure]``
    (receiver/k8sclusterreceiver/config.go node_conditions_to_report)."""
    from ..operators.k8scluster import cluster_metrics
    snaps = {kind: _rx_table(spark, {"path": path,
                                     "format": conf.get("format", "parquet")})
             for kind, path in conf["snapshots"].items()}
    conds = tuple(conf.get("node_conditions", ["Ready"]))
    return cluster_metrics(node_conditions=conds, **snaps)


def _rx_wire(spark: SparkSession, conf: dict) -> DataFrame:
    """Wire receiver: a table of raw protobuf+gzip frames (binary
    ``wire`` column, sources/wire.py) decoded to the canonical tokens
    schema — the application/x-protobuf body path as a config-level
    receiver (signalfxreceiver/receiver.go:59,186-210)."""
    from ..sources.wire import decode_wire
    return decode_wire(_rx_table(spark, conf),
                       wire_col=conf.get("wire_col", "wire"),
                       codec=conf.get("codec", "auto"))


RECEIVERS: dict[str, Callable[[SparkSession, dict], DataFrame]] = {
    "tokens": _rx_tokens,
    "table": _rx_table,
    "wire": _rx_wire,
    "scrape": _rx_scrape,
    "receiver_creator": _rx_receiver_creator,
    "k8s_cluster": _rx_k8s_cluster,
    "winperf": _rx_winperf,
    "signalfx": _rx_signalfx,
}


def load_config(source: str) -> dict:
    """Parse a YAML config string or file path."""
    import os
    import yaml
    if os.path.exists(source):
        with open(source) as f:
            return yaml.safe_load(f)
    return yaml.safe_load(source)


def build_from_config(spark: SparkSession, cfg: dict,
                      pipeline: str = "logs") -> DataFrame:
    """Assemble the configured lineage (receivers -> processors);
    returns the routed DataFrame (with ``sinks`` when a routing
    processor is configured)."""
    pipe = cfg["service"]["pipelines"][pipeline]
    (rx_name,) = pipe["receivers"]       # one scan per lineage
    rx = dict(cfg["receivers"][rx_name])
    explicit = "type" in rx
    rx_type = rx.pop("type", "tokens")
    if rx_type not in RECEIVERS:
        if explicit:
            raise ValueError(f"unknown receiver type: {rx_type!r}")
        rx_type = "tokens"
    df = RECEIVERS[rx_type](spark, rx)
    for name in pipe["processors"]:
        conf = dict(cfg["processors"][name])
        kind = conf.pop("kind", name)
        df = PROCESSORS[kind](spark, conf)(df)
    return df


def run_from_config(spark: SparkSession, cfg: dict,
                    pipeline: str = "logs") -> dict[str, int]:
    """Build, fan out to the configured exporters, write, and return
    per-sink routed-row counts (the groupbyattrs-style manifest)."""
    routed = build_from_config(spark, cfg, pipeline)
    pipe = cfg["service"]["pipelines"][pipeline]
    counts: dict[str, int] = {}
    for sink_name in pipe["exporters"]:
        e = dict(cfg["exporters"][sink_name])
        sink = SinkConfig(
            name=sink_name, path=e["path"],
            log_format=e.get("log_format", "text"),
            metadata_regexes=list(e.get("metadata_regexes", [])),
            label_allowlist=e.get("label_allowlist"),
            source_templates=dict(e.get("source_templates", {})),
            max_records_per_file=e.get("max_records_per_file", 1_048_576),
            max_payload_bytes=e.get("max_payload_bytes"),
            required_attrs=list(e.get("required_attrs", [])))
        branch = routed
        if "sinks" in routed.columns:
            branch = routed.filter(F.array_contains(F.col("sinks"), sink_name))
        attr_cols = [c for c in ("source", "severity_text", "namespace",
                                 "deployment", "pod_name")
                     if c in branch.columns]
        branch = serialize_records(branch.drop("sinks"), sink,
                                   attr_cols=attr_cols)
        if sink.max_payload_bytes is not None or sink.required_attrs:
            branch, bad = split_valid(branch, sink)
            bad.write.mode("overwrite").parquet(quarantine_path(sink))
        # observe the routed count on the write itself — no read-back
        # (which also crashed on zero-row sinks: only _SUCCESS on disk)
        from pyspark.sql import Observation
        obs = Observation()
        branch = branch.observe(obs, F.count(F.lit(1)).alias("n"))
        write_sink(branch, sink)
        counts[sink_name] = int(obs.get["n"])
    return counts
