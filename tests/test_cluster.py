"""Connected-components dedup clustering: transitivity, singletons,
chain graphs, survivor selection, and both solve paths (driver numpy,
distributed propagation) against the DuckDB recursive twin."""

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.datapipe.cluster import (
    cluster_survivors, connected_components)


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _pairs(spark, pairs):
    return spark.createDataFrame(list(pairs), "id_a long, id_b long")


def test_transitive_merge_and_singletons(spark):
    # (1,2)+(2,3) must collapse 1,2,3 though (1,3) was never emitted;
    # 7 is a singleton; (10,11) a separate cluster
    nodes = _nodes(spark, [1, 2, 3, 7, 10, 11])
    pairs = _pairs(spark, [(1, 2), (2, 3), (10, 11)])
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(nodes, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # worst-case diameter: a 12-node path; propagation must still reach
    # the fixpoint (min id = 0 everywhere)
    n = 12
    nodes = _nodes(spark, range(n))
    pairs = _pairs(spark, [(i, i + 1) for i in range(n - 1)])
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(nodes, pairs).collect()}
    assert all(v == 0 for v in got.values())


def test_cc_edge_cache_partitioning_reused(spark):
    """Plan pin for the iteration loop's cost model: the symmetric edge
    list is shuffled by src ONCE (inside the persisted relation), so
    the per-iteration propagation join consumes the cache scan with NO
    Exchange between them — only the labels side and the groupBy(dst)
    propagation shuffle move per round.  Re-derives the loop's first
    nbr frame white-box (the loop itself doesn't expose per-iteration
    plans)."""
    from pyspark import StorageLevel
    pairs = (spark.range(2000)
             .select(F.col("id").alias("id_a"),
                     (F.col("id") + 1).alias("id_b")))
    sym = (pairs.select(F.col("id_a").alias("src"),
                        F.col("id_b").alias("dst"))
           .unionByName(pairs.select(F.col("id_b").alias("src"),
                                     F.col("id_a").alias("dst")))
           .repartition(F.col("src"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    sym.count()
    labels = (spark.range(2001)
              .select("id", F.col("id").alias("label"))
              .localCheckpoint(eager=True))
    nbr = (sym.join(labels.select(F.col("id").alias("src"),
                                  F.col("label").alias("src_label")), "src")
           .groupBy(F.col("dst").alias("id"))
           .agg(F.min("src_label").alias("nbr_label")))
    nbr.collect()
    plan = nbr._jdf.queryExecution().executedPlan().toString()
    sym.unpersist()
    # the cache scan feeds the join directly: any Exchange between the
    # join and InMemoryTableScan would mean the edge list re-shuffles
    # every iteration
    join_block = plan[plan.index("Join"):plan.index("InMemoryTableScan")]
    assert "Exchange" not in join_block
    # exactly one repartition of the edges exists, inside the cached
    # relation (REPARTITION_BY_COL), paid at persist time
    assert plan.count("REPARTITION_BY_COL") >= 1


def test_cluster_survivors_keep_min_id(spark):
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (7, "x")], "doc_id long, text string")
    clusters = connected_components(
        _nodes(spark, [1, 2, 3, 7]), _pairs(spark, [(1, 2), (2, 3)]))
    kept = sorted(r["doc_id"]
                  for r in cluster_survivors(docs, clusters).collect())
    assert kept == [1, 7]


# --- both paths against the DuckDB twin ------------------------------

@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, monkeypatch):
    """Force one path: a zero memory share leaves no edge budget (the
    propagation loop runs); a huge one fits any test graph on the
    driver."""
    from opentelemetry_collector_contrib_spark.datapipe import cluster
    monkeypatch.setattr(cluster, "_LOCAL_MEM_SHARE",
                        0 if request.param == "distributed" else 10**6)
    return request.param


GRAPHS = {
    # (1,2)+(2,3) collapse 1,2,3; 7 is a singleton; a self-loop and a
    # duplicate reversed edge change nothing
    "transitive": ("long", [1, 2, 3, 7, 10, 11],
                   [(1, 2), (2, 3), (10, 11), (11, 10), (7, 7)],
                   {1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10}),
    # string ids: Spark's UTF-8 min is code-point order ('B' < 'b',
    # 'z' < 'é')
    "strings": ("string",
                ["doc-0003", "doc-0001", "doc-0002", "doc-0010", "b", "B",
                 "z", "é"],
                [("doc-0003", "doc-0002"), ("doc-0002", "doc-0001"),
                 ("b", "B"), ("é", "z")],
                {"doc-0001": "doc-0001", "doc-0002": "doc-0001",
                 "doc-0003": "doc-0001", "doc-0010": "doc-0010",
                 "B": "B", "b": "B", "z": "z", "é": "z"}),
    # an edge with a NULL end joins nothing; a NULL node keeps NULL
    "null_ids": ("long", [1, 2, 3, None],
                 [(1, None), (None, 3), (2, 3), (None, None)],
                 {1: 1, 2: 2, 3: 2, None: None}),
    # ids outside nodes never bridge: 1-99-3 stays apart, and 4 takes
    # 2, not the outside 0
    "outside": ("long", [1, 2, 3, 4], [(1, 99), (99, 3), (0, 4), (2, 4)],
                {1: 1, 2: 2, 3: 3, 4: 2}),
    "no_edges": ("long", [5, 6], [], {5: 5, 6: 6}),
}


def _oracle_labels(ids, pairs):
    import duckdb
    import pandas as pd

    from opentelemetry_collector_contrib_spark.datapipe.cluster import (
        cluster_oracle_sql)
    con = duckdb.connect()
    con.register("nodes", pd.DataFrame({"id": pd.Series(ids, dtype=object)}))
    con.register("pairs", pd.DataFrame(
        {"id_a": pd.Series([a for a, _ in pairs], dtype=object),
         "id_b": pd.Series([b for _, b in pairs], dtype=object)}))
    cc = cluster_oracle_sql("SELECT id FROM nodes",
                            "SELECT id_a, id_b FROM pairs")
    return dict(con.execute(f"""WITH RECURSIVE {cc}
SELECT id, min(label) AS cluster_id FROM reach GROUP BY id""").fetchall())


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_cc_paths_match_oracle(spark, cc_path, graph):
    typ, ids, pairs, want = GRAPHS[graph]
    nodes = spark.createDataFrame([(i,) for i in ids], f"id {typ}")
    edges = spark.createDataFrame(pairs, f"id_a {typ}, id_b {typ}")
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(nodes, edges).collect()}
    assert got == _oracle_labels(ids, pairs)
    assert got == want


def test_cc_deep_chain_driver_solves_distributed_raises(spark, monkeypatch):
    """A 40-node path (shuffled edge order) needs 39 propagation rounds:
    the driver solve finds the fixpoint, the distributed loop still
    refuses to return unconverged labels at max_iter=25."""
    import random

    from opentelemetry_collector_contrib_spark.datapipe import cluster
    n = 40
    edges = [(i + 1, i) for i in range(n - 1)]
    random.Random(3).shuffle(edges)
    nodes = _nodes(spark, range(n))
    pairs = _pairs(spark, edges)
    monkeypatch.setattr(cluster, "_LOCAL_MEM_SHARE", 10**6)
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(nodes, pairs, max_iter=25).collect()}
    assert got == {i: 0 for i in range(n)}
    monkeypatch.setattr(cluster, "_LOCAL_MEM_SHARE", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, pairs, max_iter=25)


def test_min_labels_matches_networkx():
    """The numpy solve on a random sparse multigraph equals networkx's
    components, labelled by their minimum rank."""
    import networkx as nx
    import numpy as np

    from opentelemetry_collector_contrib_spark.datapipe.cluster import (
        _min_labels)
    rng = np.random.default_rng(11)
    n, m = 3000, 2400
    a, b = rng.integers(0, n, m), rng.integers(0, n, m)
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(a.tolist(), b.tolist()))
    want = np.empty(n, dtype=np.int64)
    for comp in nx.connected_components(g):
        want[list(comp)] = min(comp)
    assert np.array_equal(_min_labels(n, a, b), want)


def test_cc_keeps_caller_observations_on_empty_nodes(spark, cc_path):
    """A caller's persisted node frame carries funnel Observations.
    When every node is filtered out, the edge query over it must not be
    the first action: AQE would prune the empty subtree, and the
    Observation would complete without a row."""
    from pyspark.sql import Observation
    obs = Observation()
    docs = (spark.range(50).where("id < 0")
            .observe(obs, F.count(F.lit(1)).alias("n")).persist())
    b = docs.select(F.col("id").alias("id_b"))
    pairs = (docs.select(F.col("id").alias("id_a"))
             .join(b, F.col("id_a") < F.col("id_b")))
    try:
        assert connected_components(docs, pairs).count() == 0
        assert obs.get["n"] == 0
    finally:
        docs.unpersist()
