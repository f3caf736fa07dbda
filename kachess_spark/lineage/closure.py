"""Transitive lineage closure + impact analysis — distributed.

Fills the reference's summary tables (db_setup_ddl.sql: ``table_lineage``
:164-176, ``column_lineage`` with hop-count ``distance`` :178-190 — the
schema notes they "may be populated later", i.e. computed downstream of the
parser; validate_0010.sql builds the same closure ad hoc with scratch
tables).

At enterprise scale the edge set is the one lineage artifact that is
data-sized (10⁶–10⁸ edges), so closure runs as a DataFrame self-join by
path doubling, not a driver-side walk:

* each round joins the closure with itself (``l.descendant = r.ancestor``)
  and keeps the minimum summed distance per pair, so the reach doubles
  (1, 2, 4, …) and ``max_hops`` takes ⌈log2 max_hops⌉ rounds, not one
  round per hop;
* localCheckpoint truncates the logical plan per round so later rounds
  don't re-plan the earlier ones;
* convergence by an unchanged pair count (exact: after round k the
  closure is every pair within 2^k hops, at its minimum distance);
* ``max_hops`` caps pathological cycles (self-referencing scripts); a
  closure cut off by the cap logs a warning that names it.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# below this many edges the graph is metadata-sized: a driver-side BFS
# beats paying per-round job/checkpoint overhead (the distributed
# rounds only win when the edge set itself needs a cluster)
SMALL_GRAPH_EDGES = 50_000

_log = logging.getLogger(__name__)


def _warn_truncated(max_hops: int) -> None:
    _log.warning(
        "lineage closure truncated at max_hops=%d: some pairs lie farther "
        "apart and are missing",
        max_hops,
    )


def _closure_bfs_local(
    spark, rows: list[tuple[int, int]], max_hops: int
) -> DataFrame:
    from collections import deque

    adj: dict[int, list[int]] = {}
    for a, b in rows:
        if a != b:
            adj.setdefault(a, []).append(b)
    out: list[tuple[int, int, int]] = []
    truncated = False
    for src in adj:
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                truncated = truncated or any(v not in dist for v in adj.get(u, []))
                continue
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        out.extend((src, v, d) for v, d in dist.items() if v != src)
    if truncated:
        _warn_truncated(max_hops)
    return spark.createDataFrame(
        out, "ancestor_id BIGINT, descendant_id BIGINT, distance INT"
    )


def transitive_closure(
    edges: DataFrame,
    src_col: str = "parent_select_item_id",
    dst_col: str = "child_select_item_id",
    max_hops: int = 20,
) -> DataFrame:
    """All (ancestor, descendant, distance) pairs within ``max_hops``.

    Returns columns ``(ancestor_id, descendant_id, distance)`` with the
    minimum hop count per pair (column_lineage.distance,
    db_setup_ddl.sql:187).

    Hybrid execution: metadata-sized graphs (≤ SMALL_GRAPH_EDGES) run a
    driver BFS — per-round Spark job overhead would dominate;
    enterprise-scale edge sets run distributed path doubling.  A round
    composes every pair with every pair that continues it, so after
    round k the closure holds each pair within min(2^k, max_hops) hops at
    its minimum distance (a shortest path splits into two shortest
    halves, each within 2^(k-1)); capping at ``max_hops`` in every round
    is therefore safe.  The loop stops once the reach covers
    ``max_hops`` or a round adds no pair.
    """
    base = (
        edges.select(
            F.col(src_col).alias("ancestor_id"),
            F.col(dst_col).alias("descendant_id"),
        )
        .where(F.col("ancestor_id") != F.col("descendant_id"))
        .distinct()
    )
    sample = base.limit(SMALL_GRAPH_EDGES + 1).collect()
    if len(sample) <= SMALL_GRAPH_EDGES:
        return _closure_bfs_local(
            edges.sparkSession, [(r[0], r[1]) for r in sample], max_hops
        )
    closure = base.withColumn("distance", F.lit(1)).localCheckpoint(eager=True)
    pairs = closure.count()
    reach, converged = 1, False
    while reach < max_hops:
        composed = (
            closure.alias("l")
            .join(
                closure.alias("r"), F.col("l.descendant_id") == F.col("r.ancestor_id")
            )
            .select(
                F.col("l.ancestor_id").alias("ancestor_id"),
                F.col("r.descendant_id").alias("descendant_id"),
                (F.col("l.distance") + F.col("r.distance")).alias("distance"),
            )
            .where(
                (F.col("ancestor_id") != F.col("descendant_id"))
                & (F.col("distance") <= max_hops)
            )
        )
        closure = (
            closure.unionByName(composed)
            .groupBy("ancestor_id", "descendant_id")
            .agg(F.min("distance").alias("distance"))
            .localCheckpoint(eager=True)  # truncate plan
        )
        reach *= 2
        grown = closure.count()
        if grown == pairs:
            converged = True
            break
        pairs = grown
    if not converged:
        # cut off iff a pair at the cap has a one-edge continuation the
        # closure lacks: that pair lies exactly max_hops + 1 apart
        step = closure.where(F.col("distance") == 1).select(
            F.col("ancestor_id").alias("_via"), F.col("descendant_id").alias("_next")
        )
        beyond = (
            closure.where(F.col("distance") == max_hops)
            .join(step, F.col("descendant_id") == F.col("_via"))
            .select("ancestor_id", F.col("_next").alias("descendant_id"))
            .where(F.col("ancestor_id") != F.col("descendant_id"))
            .join(closure, ["ancestor_id", "descendant_id"], "left_anti")
        )
        if not beyond.isEmpty():
            _warn_truncated(max_hops)
    return closure


def column_lineage(select_item_rel: DataFrame, max_hops: int = 20) -> DataFrame:
    """column_lineage(ancestor, descendant, distance)
    (db_setup_ddl.sql:178-190)."""
    return transitive_closure(
        select_item_rel, "parent_select_item_id", "child_select_item_id", max_hops
    ).select(
        F.col("ancestor_id").alias("parent_select_item_id"),
        F.col("descendant_id").alias("child_select_item_id"),
        "distance",
    )


def table_lineage(dataset_rel: DataFrame, max_hops: int = 20) -> DataFrame:
    """table_lineage closure over dataset edges (db_setup_ddl.sql:164-176)."""
    return transitive_closure(
        dataset_rel, "parent_dataset_id", "child_dataset_id", max_hops
    ).select(
        F.col("ancestor_id").alias("parent_dataset_id"),
        F.col("descendant_id").alias("child_dataset_id"),
        "distance",
    )


def impacted_by(
    select_item_rel: DataFrame, item_ids: list[int], max_hops: int = 20
) -> DataFrame:
    """Downstream impact set of the given columns (validate_0010's
    "user/team discovery" pattern as a library call)."""
    cl = column_lineage(select_item_rel, max_hops)
    return cl.where(F.col("parent_select_item_id").isin(item_ids)).select(
        F.col("child_select_item_id").alias("impacted_item_id"), "distance"
    )


def feeds_into(
    select_item_rel: DataFrame, item_ids: list[int], max_hops: int = 20
) -> DataFrame:
    """Upstream provenance set of the given columns."""
    cl = column_lineage(select_item_rel, max_hops)
    return cl.where(F.col("child_select_item_id").isin(item_ids)).select(
        F.col("parent_select_item_id").alias("source_item_id"), "distance"
    )
