"""k-core decomposition by iterative peeling.

The k-core of an undirected graph is the maximal subgraph in which
every node has degree >= k; it is computed by repeatedly deleting
nodes of degree < k until a fixpoint (the order of deletions does not
matter — the result is unique). A fixpoint with per-round aggregation
is not expressible in a single SQL query (recursive CTEs forbid
aggregates over the recursive term), so the loop runs on the driver
with scalar counts per round; edges are pinned (`session.pin`) so the
plan stays flat (same pattern as operators/dedup_pipeline.py's connected
components).

Scale design (round-11 fix for the r10-measured 16.4x decade ratio):
the naive peel pays ~4 survivor-sized shuffles per round (full degree
re-aggregation + two repartition joins), and the ROUND COUNT grows
with graph density — so cost was rounds x shuffles. Delta peeling
makes the common round shuffle-free:

  - the per-round removed set (nodes with d < k) is usually tiny after
    round 1, so edges are filtered by BROADCAST anti-joins (a map-side
    scan of e, no exchange), and
  - degrees are maintained incrementally: a surviving node loses one
    degree per incident edge whose other endpoint was removed; that
    delta aggregate is sized by the LOST edges, not the graph.

When a round's removed set (or its incident-edge delta) exceeds
`broadcast_cap`, that round falls back to the shuffle path (repartition
joins + full degree re-aggregation) — driver memory stays bounded no
matter the graph. On a 1000-executor cluster the same cap logic holds:
early mass-peel rounds shuffle, the long convergence tail broadcasts.

Used by q299 (queries/analytics3.py); property-twinned against a
brute-force Python peel on synthetic graphs in tests/test_properties.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin


def _degrees(e: DataFrame) -> DataFrame:
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 64,
    broadcast_cap: int = 500_000,
) -> DataFrame:
    """Return (node, core_degree) for every node in the k-core.

    `edges` must have columns (a, b) with a < b and no duplicates —
    one row per undirected edge. Convergence is monotone (the survivor
    set only shrinks), so the loop is bounded by the peel depth;
    `max_rounds` is a lineage backstop, not a correctness knob.
    `broadcast_cap` bounds the driver-collected per-round state for the
    delta path (removed nodes / degree-delta rows); larger rounds take
    the shuffle path instead.
    """
    e = pin(edges.select("a", "b"))
    deg = pin(_degrees(e))
    for _ in range(max_rounds):
        removed = deg.where(F.col("d") < k).select("node")
        r = removed.count()  # bounded driver action: one scalar per round
        if r == 0:
            break
        if r <= broadcast_cap:
            rem = F.broadcast(pin(removed))
            rem_a = rem.withColumnRenamed("node", "a")
            rem_b = rem.withColumnRenamed("node", "b")
            # degree deltas for SURVIVING endpoints of lost edges: an
            # edge in lost_a (a removed) decrements its b endpoint, an
            # edge in lost_b decrements its a; edges with BOTH endpoints
            # removed only ever credit removed nodes, which the anti-join
            # below discards — each surviving node is decremented exactly
            # once per lost incident edge.
            lost_a = e.join(rem_a, "a", "semi").select(F.col("b").alias("node"))
            lost_b = e.join(rem_b, "b", "semi").select(F.col("a").alias("node"))
            delta = (
                lost_a.unionAll(lost_b)
                .groupBy("node")
                .agg(F.count("*").alias("dd"))
                .transform(pin)
            )
            if delta.count() <= broadcast_cap:
                e = (
                    e.join(rem_a, "a", "left_anti")
                    .join(rem_b, "b", "left_anti")
                    .transform(pin)
                )
                deg = (
                    deg.join(rem, "node", "left_anti")
                    .join(F.broadcast(delta), "node", "left")
                    .select(
                        "node",
                        (F.col("d") - F.coalesce(F.col("dd"), F.lit(0))).alias("d"),
                    )
                    .transform(pin)
                )
                continue
        # shuffle path: a mass-peel round (or a removed hub with more
        # incident edges than the cap) — repartition joins on the
        # survivor set, then recompute degrees from scratch.
        keep = deg.where(F.col("d") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a")
            .join(keep.withColumnRenamed("node", "b"), "b")
            .select("a", "b")
            .transform(pin)
        )
        deg = pin(_degrees(e))
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
        .where(F.col("core_degree") >= k)
    )
