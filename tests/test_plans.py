"""Physical-plan shape assertions — the scale story, checked in CI.

These parse ``explain(formatted)`` output (planning only, no job runs):
- filters and column pruning reach the parquet scan (PushedFilters /
  ReadSchema — the server-side-selector-pushdown analog, SURVEY §4);
- enrichment is a BroadcastHashJoin (zero shuffle on the fact side);
- groupBy aggregations are two-phase (map-side partial before the
  exchange), so the shuffle carries O(groups), not O(rows);
- the parse -> enrich -> route lineage contains NO Exchange at all
  (everything narrow until the final aggregate).
"""

import re

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.enrich import (
    broadcast_enrich, prepare_pods_dim)
from opentelemetry_collector_contrib_spark.operators.regex_parser import (
    RegexParser, kv_extract)
from opentelemetry_collector_contrib_spark.operators.routing import (
    DEFAULT_ROUTES, with_route)
from opentelemetry_collector_contrib_spark.sources.tokens_source import read_tokens


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _lineage(spark, sf_dir):
    df = RegexParser().apply(read_tokens(spark, f"{sf_dir}/tokens.parquet"))
    df = kv_extract(df, "pod_ip")
    pods = prepare_pods_dim(spark.read.parquet(f"{sf_dir}/pods.parquet"))
    return with_route(broadcast_enrich(df, pods, "pod_ip"), DEFAULT_ROUTES)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (read_tokens(spark, f"{sf_dir}/tokens.parquet")
          .filter(F.col("source") == "hot-source")
          .select("doc_id", "n_tok"))
    plan = plan_of(df)
    assert re.search(r"PushedFilters: \[.*EqualTo\(source,hot-source\)", plan)
    # column pruning: body/tokens are not read for a 3-column projection
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "tokens" not in m.group(1)


def test_enrich_is_broadcast_join_no_shuffle(spark, sf_dir):
    plan = plan_of(_lineage(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the FACT side is never exchanged: the only allowed exchanges are
    # the broadcast of the tiny dimension and the dimension-side
    # pod_ip dedup window (O(pods) rows, pre-broadcast)
    for m in re.finditer(r"(?<!Broadcast)Exchange (\w+)\(([^,)]*)", plan):
        kind, first_key = m.group(1), m.group(2)
        assert kind == "hashpartitioning" and first_key.startswith("pod_ip"), \
            (kind, first_key)


def test_ignored_pods_filter_pushed_to_dim_scan(spark, sf_dir):
    pods = prepare_pods_dim(spark.read.parquet(f"{sf_dir}/pods.parquet"))
    plan = plan_of(pods)
    # the anti-ignore filter is applied at the dimension scan, BEFORE
    # broadcast (kube/client.go:331-357 pushdown analog)
    assert re.search(r"PushedFilters: \[.*Not\(EqualTo\(ignore,true\)\)|"
                     r"PushedFilters: \[.*EqualTo\(ignore,false\)", plan)


def test_groupby_has_partial_aggregation(spark, sf_dir):
    agg = (_lineage(spark, sf_dir)
           .groupBy("source", "severity_text")
           .agg(F.count(F.lit(1)).alias("n")))
    plan = plan_of(agg)
    # two-phase hash agg: partial_count before the exchange, count after
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("HashAggregate")


def test_pii_scrub_is_pure_jvm(spark, sf_dir):
    """The scrub path (decode + redact + counts) must contain zero
    Python nodes — it's regexp_replace/extract_all inside codegen."""
    from opentelemetry_collector_contrib_spark.datapipe.textstats import (
        scrub_pii)
    from opentelemetry_collector_contrib_spark.sources.tokens_source import (
        with_body)
    df = scrub_pii(with_body(
        read_tokens(spark, f"{sf_dir}/tokens.parquet")), "body")
    plan = plan_of(df)
    assert "Python" not in plan


def test_token_freq_has_partial_aggregation(spark, sf_dir):
    """Explode + count shuffles O(vocab), not O(tokens): the partial
    count must sit below the exchange."""
    df = (read_tokens(spark, f"{sf_dir}/tokens.parquet")
          .select(F.explode("tokens").alias("tok"))
          .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    plan = plan_of(df)
    assert "partial_count" in plan


def test_route_filter_prunes_partitions_on_partitioned_sink(spark, sf_dir, tmp_path):
    """A per-sink branch written partitionBy(source) is read back with
    partition pruning when filtered on source."""
    out = str(tmp_path / "by_source")
    (read_tokens(spark, f"{sf_dir}/tokens.parquet")
     .write.partitionBy("source").parquet(out))
    back = spark.read.parquet(out).filter(F.col("source") == "app-a")
    plan = plan_of(back)
    assert re.search(r"PartitionFilters: \[.*source.*app-a", plan)


def test_parse_is_single_python_stage(spark, sf_dir):
    """The whole parse (detokenize + extract) is ONE Python-boundary
    node, a MapInArrow — regression guard against the decode
    re-inlining that made the naive plan ~6x slower."""
    df = RegexParser().apply(read_tokens(spark, f"{sf_dir}/tokens.parquet"))
    agg = df.groupBy("source", "severity_text").count()
    plan = plan_of(agg)
    # formatted explain shows each node once in the tree and once in the
    # detail section — one physical node == one "(n) <Node>"
    n_arrow = len(re.findall(r"\(\d+\) (?:ArrowEvalPython|MapInArrow)", plan))
    assert n_arrow == 1


def test_scraper_parse_is_jvm_broadcast_only(spark):
    """The scraper parsers must stay pure-Catalyst: no Python stage, the
    metric table joined by broadcast (no shuffled join on the line
    path).  The only exchange is the redis keyspace-contiguity window,
    keyed by scrape_id."""
    from opentelemetry_collector_contrib_spark.operators.scrapers import (
        parse_redis_info, parse_zookeeper_mntr)
    df = spark.createDataFrame([("s1", "uptime_in_seconds:1")],
                               "scrape_id string, body string")
    plan = plan_of(parse_redis_info(df))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "SortMergeJoin" not in plan
    plan_zk = plan_of(parse_zookeeper_mntr(df))
    assert "EvalPython" not in plan_zk


def test_docker_and_kubelet_translations_are_shuffle_free(spark):
    """JSON receiver translations are narrow: explodes + projections,
    no exchange, no Python stage."""
    import json as _json
    from opentelemetry_collector_contrib_spark.operators.dockerstats import (
        parse_docker_stats)
    from opentelemetry_collector_contrib_spark.operators.kubeletstats import (
        parse_kubelet_summary)
    d1 = spark.createDataFrame([("s1", "{}")],
                               "scrape_id string, stats_json string")
    plan = plan_of(parse_docker_stats(d1))
    assert "Exchange" not in plan and "EvalPython" not in plan
    d2 = spark.createDataFrame([("s1", "{}")],
                               "scrape_id string, summary_json string")
    plan2 = plan_of(parse_kubelet_summary(d2))
    assert "Exchange" not in plan2 and "EvalPython" not in plan2


def test_xray_translation_is_narrow(spark):
    from opentelemetry_collector_contrib_spark.operators.xray import (
        make_xray_segments)
    cols = ("trace_id span_id parent_span_id kind span_name status_code "
            "peer_service aws_service db_name rpc_service http_host "
            "net_peer_name enduser_id service_name cloud_provider "
            "infra_service ecs_launchtype k8s_cluster service_instance "
            "container_name host_id").split()
    schema = (", ".join(f"{c} string" for c in cols)
              + ", start_ns long, end_ns long, http_status long")
    df = spark.createDataFrame([], schema)
    plan = plan_of(make_xray_segments(df, now_epoch=1598500000))
    assert "Exchange" not in plan and "EvalPython" not in plan


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_token_gram_ops_have_no_python_stage(spark):
    """Token-gram hashing is Catalyst: the executed plans of the
    MinHash and span-profile ops hold no Python-boundary node."""
    from opentelemetry_collector_contrib_spark.datapipe.dedup import (
        minhash_tokens_lsh, token_ngram_profile)
    df = spark.createDataFrame(
        [("d", [1, 2, 3, 4, 5]), ("e", [1, 2, 3, 4, 6])],
        "doc_id string, tokens array<int>")
    profile = token_ngram_profile(df, n=2)
    # dup detection is two-phase: partial count before the exchange
    assert "partial_count" in plan_of(profile)
    for op in (minhash_tokens_lsh(df, threshold=0.1, k=2), profile):
        plan = _executed_plan(op)
        assert "EvalPython" not in plan and "MapInArrow" not in plan, plan


def test_stratified_sample_is_shuffle_free(spark):
    from opentelemetry_collector_contrib_spark.datapipe.dedup import (
        stratified_sample)
    df = spark.createDataFrame([("d", "a")], "doc_id string, source string")
    plan = plan_of(stratified_sample(df, {"a": 2.5}))
    assert "Exchange" not in plan
    assert "Generate" in plan          # the bounded copy explode


def test_sentry_assembly_single_group_exchange(spark):
    from opentelemetry_collector_contrib_spark.sinks.sentry import (
        convert_spans, sentry_transactions)
    df = spark.createDataFrame(
        [("t", "s", "", "n", None, 0, 1, 1, "", {})],
        "trace_id string, span_id string, parent_span_id string, "
        "name string, kind string, start_ns long, end_ns long, "
        "status_code int, status_message string, attrs map<string,string>")
    plan = plan_of(sentry_transactions(convert_spans(df)))
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    # the no-root guard rides a broadcast, never a driver collect
    assert "BroadcastNestedLoopJoin" in plan
    # the only hash exchanges are the trace grouping
    for m in re.finditer(r"Exchange hashpartitioning\(([^,)]*)", plan):
        assert m.group(1).startswith("trace_id"), m.group(1)


def test_sfx_rules_branch_inputs_are_cached(spark):
    """Branching rules (union/self-join diamonds) must read their input
    from cache, not recompute the upstream chain per branch — the plan
    shows InMemoryTableScan and no duplicate source scan."""
    from opentelemetry_collector_contrib_spark.operators.sfx_translation import (
        SfxRule, translate_datapoints)
    df = spark.createDataFrame(
        [("s", "m.a", "gauge", {"k": "v"}, 1, None, 0)],
        "scrape_id string, metric string, metric_type string, "
        "dims map<string,string>, value_i long, value_d double, ts long")
    rules = [
        SfxRule("calculate_new_metric", metric_name="m.c",
                operand1_metric="m.a", operand2_metric="m.b",
                operator="/"),
        SfxRule("aggregate_metric", metric_name="m.c",
                aggregation_method="sum", without_dimensions=["k"]),
    ]
    plan = plan_of(translate_datapoints(df, rules))
    assert "InMemoryTableScan" in plan
    # (no reuse=False counter-assert: CacheManager matches canonical
    # sub-plans, so once persisted even a reuse=False rebuild of the
    # same frame reads the cache)


def test_winperf_single_window_exchange(spark):
    """The _Total rules need one count-over-window — the only exchange,
    keyed by (scrape_id, metric_name); everything else codegen."""
    from opentelemetry_collector_contrib_spark.operators.winperf import (
        winperf_gauges)
    df = spark.createDataFrame(
        [("s", "O", "", "C", "", 1.0)],
        "scrape_id string, object string, instance_cfg string, "
        "counter string, instance_name string, value double")
    plan = plan_of(winperf_gauges(df))
    # formatted explain puts the node name and its hashpartitioning
    # arguments on separate lines — count Exchange nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert plan.count("hashpartitioning(scrape_id") == 1
    assert "EvalPython" not in plan


def test_sfx_receive_and_config_planes_are_narrow(spark):
    from opentelemetry_collector_contrib_spark.operators.sfx_receive import (
        sfx_datapoints_to_metrics)
    df = spark.createDataFrame(
        [("d", "m", "GAUGE", None, 1.0, 0, {"k": "v"})],
        "dp_id string, metric string, metric_type string, int_value long, "
        "double_value double, timestamp_ms long, "
        "dimensions map<string,string>")
    plan = plan_of(sfx_datapoints_to_metrics(df))
    assert "Exchange" not in plan and "EvalPython" not in plan
