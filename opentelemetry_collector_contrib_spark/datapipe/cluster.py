"""Duplicate-cluster assembly: connected components over near-dup
pairs.

A real dedup pipeline doesn't stop at pairs — it groups transitively
connected documents into clusters and keeps one survivor per cluster
(pair (A,B) + pair (B,C) must collapse A,B,C together even when (A,C)
was never emitted).  Every node ends with the minimum id of its
component (deterministic cluster ids, any engine agrees).

Two paths compute the same labels:

- **Driver solve** (the edge list fits a share of
  ``spark.driver.memory``): the edges are collected ONCE as Arrow, ids
  are mapped to dense ranks with ``np.unique`` (ints and strings alike;
  numpy's code-point order is Spark's UTF-8 ``min``), and numpy runs
  min-label hooking + pointer jumping (``lab = lab[lab]``) to the
  fixpoint.  The labels come back as a broadcast join onto the node
  list.  A handful of Spark jobs, whatever the component diameter.
- **Distributed propagation** (above the budget): min-label propagation
  as DataFrame joins,

      label(v) <- min(label(v), min over neighbors u of label(u))

  iterated to fixpoint.  Each iteration is ONE shuffle keyed by node id
  (join edges->labels + min-aggregate), and the iteration count is the
  component diameter; frames are localCheckpointed per iteration so
  lineage stays O(1) deep.  Past ``max_iter`` rounds it raises.

Scale notes (10^9 docs): near-dup edge lists are usually small next to
the corpus (one star edge per duplicate), so the driver solve covers
most real runs — its cost is one edge collect, one node-list scan
against the broadcast endpoint set, and the final broadcast join.  For
edge lists beyond the driver, the propagation loop needs one round per
hop of diameter; the alternating small-star/large-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
2014) would drop that to O(log d) rounds.

Both paths ignore edges with a NULL endpoint and edges touching an id
outside ``nodes`` (propagation never carries a label through such an
id, so the driver solve must not let it bridge two components).

The DuckDB oracle twin is a recursive CTE computing the same min label
over the reachability set (cluster_oracle_sql).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..session import _parse_mem

# Share of spark.driver.memory the driver solve may spend: the JVM
# buffers the whole Arrow result before it streams to Python, and the
# Python side holds the ids plus numpy rank/label arrays.
_LOCAL_MEM_SHARE = 1 / 8
# driver bytes per collected edge, sized for ~16-char string ids: two
# ids in the JVM Arrow buffers and again as Python objects, plus the
# int64 inverse/label arrays and np.unique's sort copies
_BYTES_PER_EDGE = 256


def _local_edge_budget(spark) -> int:
    mem = _parse_mem(spark.conf.get("spark.driver.memory", "1g"))
    # Dataset.limit takes a Java int, and budget+1 rows are pulled
    return min(int(mem * _LOCAL_MEM_SHARE) // _BYTES_PER_EDGE, 2**31 - 2)


def connected_components(nodes: DataFrame, pairs: DataFrame,
                         max_iter: int = 25) -> DataFrame:
    """nodes: (id), pairs: (id_a, id_b) undirected.  Returns
    (id, cluster_id) where cluster_id = min id of the component
    (singletons keep their own id).  ``max_iter`` bounds the
    distributed path only; the driver solve always converges."""
    # Scan the node list before any edge query.  Callers pass a
    # persisted frame that carries their funnel Observations; when an
    # edge query is the first to build that cache and AQE prunes the
    # subtree as empty, the Observations complete without a row.
    nodes.count()
    edges = (pairs.select("id_a", "id_b")
             .where(F.col("id_a").isNotNull() & F.col("id_b").isNotNull()))
    budget = _local_edge_budget(nodes.sparkSession)
    # pull at most budget+1 rows: one more than the budget proves the
    # edge list is too big without collecting all of it
    tbl = edges.limit(budget + 1).toArrow()
    if tbl.num_rows <= budget:
        return _solve_on_driver(nodes, tbl)
    return _propagate(nodes, edges, max_iter)


def _min_labels(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dense-rank CC: ``lab[v]`` = smallest rank in v's component.

    Each round hooks every root to the smallest root across its
    remaining edges (``np.minimum.at``), then pointer-jumps until every
    node points at a root.  An edge whose ends share a root keeps it
    for good (roots only merge), so it is dropped from later rounds."""
    lab = np.arange(n)
    while True:
        la, lb = lab[a], lab[b]
        open_ = la != lb
        if not open_.any():
            return lab
        a, b, la, lb = a[open_], b[open_], la[open_], lb[open_]
        lo = np.minimum(la, lb)
        np.minimum.at(lab, la, lo)
        np.minimum.at(lab, lb, lo)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def _solve_on_driver(nodes: DataFrame, tbl: pa.Table) -> DataFrame:
    spark = nodes.sparkSession
    id_type = nodes.schema["id"].dataType

    def frame(**cols) -> DataFrame:
        return spark.createDataFrame(
            pa.table(cols), StructType([StructField(c, id_type) for c in cols]))

    m = tbl.num_rows
    out = nodes.select("id")
    if m == 0:
        return out.withColumn("cluster_id", F.col("id"))
    ends = np.concatenate([tbl.column("id_a").to_numpy(),
                           tbl.column("id_b").to_numpy()])
    uniq, inv = np.unique(ends, return_inverse=True)
    # which endpoints are nodes: one scan of the node list against the
    # broadcast endpoint set; only matching endpoints come back
    found = (out.join(F.broadcast(frame(id=uniq)), "id", "left_semi")
             .toArrow().column("id").to_numpy())
    present = np.isin(uniq, found)
    a, b = inv[:m], inv[m:]
    keep = present[a] & present[b]
    lab = _min_labels(len(uniq), a[keep], b[keep])
    # only ids whose label differs from themselves travel back;
    # everything else keeps its own id through the coalesce
    moved = np.flatnonzero(lab != np.arange(len(uniq)))
    labels = frame(id=uniq[moved], label=uniq[lab[moved]])
    return (out.join(F.broadcast(labels), "id", "left")
            .select("id", F.coalesce(F.col("label"), F.col("id"))
                    .alias("cluster_id")))


def _propagate(nodes: DataFrame, pairs: DataFrame,
               max_iter: int) -> DataFrame:
    """Distributed min-label propagation (one join round per hop)."""
    # The edge list is consumed by a join keyed on src EVERY iteration:
    # shuffle it by src ONCE here and persist — the per-iteration join
    # then reuses this partitioning instead of re-exchanging the
    # (largest) side each round.  Serialized storage: edges are
    # long-lived and never row-accessed between joins.
    sym = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
           .unionByName(
               pairs.select(F.col("id_b").alias("src"),
                            F.col("id_a").alias("dst")))
           .repartition(F.col("src"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    # localCheckpoint (not just persist) each iteration: it TRUNCATES
    # the logical plan, keeping analysis cost and plan depth O(1) across
    # iterations — with bare persist the plan nests one join deeper per
    # iteration and Catalyst analysis blows up after ~10 rounds.  On a
    # cluster that cares about executor loss, swap for a reliable
    # checkpoint dir (sc.setCheckpointDir + .checkpoint()).
    labels = nodes.select("id", F.col("id").alias("label")) \
        .localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        nbr = (sym.join(labels.select(F.col("id").alias("src"),
                                      F.col("label").alias("src_label")),
                        "src")
               .groupBy(F.col("dst").alias("id"))
               .agg(F.min("src_label").alias("nbr_label")))
        # carry the previous label through the checkpoint so convergence
        # is a filter-count over the ALREADY-MATERIALIZED frame — one
        # action per iteration (the eager checkpoint) plus a cheap
        # in-memory scan, instead of a second join of old vs new labels.
        new_labels = (labels.join(nbr, "id", "left")
                      .select("id",
                              F.col("label").alias("_old"),
                              F.least(F.col("label"),
                                      F.coalesce(F.col("nbr_label"),
                                                 F.col("label")))
                              .alias("label"))
                      .localCheckpoint(eager=True))
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        # returning silently here would hand back WRONG cluster ids
        # (labels not yet propagated across the component diameter) that
        # downstream survivor selection would trust
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations — component diameter exceeds max_iter; raise "
            "max_iter (or switch to small-star/large-star for deep graphs)")
    return labels.withColumnRenamed("label", "cluster_id")


def cluster_survivors(docs: DataFrame, clusters: DataFrame,
                      id_col: str = "doc_id") -> DataFrame:
    """One survivor per cluster: the cluster_id row itself (min id) —
    the deterministic keep-first policy applied transitively."""
    return (docs.join(clusters.withColumnRenamed("id", id_col), id_col)
            .filter(F.col(id_col) == F.col("cluster_id")))


def cluster_oracle_sql(nodes_sql: str, pairs_sql: str) -> str:
    """DuckDB twin: recursive min-label reachability.  ``nodes_sql``
    must yield (id), ``pairs_sql`` (id_a, id_b); embed under a
    WITH RECURSIVE prefix.  Like connected_components, it keeps only
    edges whose both ends are nodes (``IN`` also drops NULL ends)."""
    return f"""cc_pairs AS (
  SELECT id_a, id_b FROM ({pairs_sql})
  WHERE id_a IN (SELECT id FROM ({nodes_sql}))
    AND id_b IN (SELECT id FROM ({nodes_sql}))
), edges AS (
  SELECT id_a AS a, id_b AS b FROM cc_pairs
  UNION ALL
  SELECT id_b, id_a FROM cc_pairs
), reach(id, label) AS (
    SELECT id, id FROM ({nodes_sql})
  UNION
    SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.id
)"""
