"""Degree-oriented triangle counting.

Orient every canonical edge (u < v by id) from its lower-(degree, id)
endpoint toward the higher one. Each triangle then has exactly one
vertex with two out-edges into it (its lowest corner in the total
order), so counting (wedge, closing-edge) matches counts each triangle
exactly once — and out-degree under this orientation is bounded by
~sqrt(2m), which is what keeps the wedge join from exploding on hub
nodes (the O(m^1.5) algorithm of Schank/Wagner; the shape GraphX and
every MPP triangle counter use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin

#: node ids must be < this for the (deg, id) packing to stay injective
_ID_SPACE = 100000000


def cooccurrence_pairs(m: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Per-group canonical item pairs (u < v) from a membership frame:
    one row per (group, unordered item pair), items deduped within the
    group. ONE map-side-combined collect_set per group + codegen pair
    expansion (two chained Generates over the sorted set — the
    interpreted higher-order transform form measured slower), replacing
    the distinct -> self-join pair derivation whose join re-shuffles
    the whole membership frame (guide §2.4; the r10/r11 decade
    measurements put the graph queries' cost in exactly that
    derivation). A hot group costs O(fan²) pairs in either formulation
    — the caller's fan bound is unchanged."""
    sets = m.groupBy(F.col(group_col)).agg(
        F.sort_array(F.collect_set(F.col(item_col))).alias("_is")
    )
    return (
        sets.select(F.posexplode("_is").alias("_i", "u"), "_is")
        .select(
            "u",
            F.explode(F.expr("slice(_is, _i + 2, size(_is))")).alias("v"),
        )
    )


def cooccurrence_edges(m: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Distinct canonical co-occurrence edges (u, v with u < v): the
    cooccurrence_pairs stream collapsed to the edge set — 2 wide
    shuffles total vs the 3 of distinct -> self-join -> distinct."""
    return cooccurrence_pairs(m, group_col, item_col).distinct()


def _oriented(e: DataFrame):
    """Checkpoint the canonical edge frame and derive its (deg, id)
    orientation. Returns (e_checkpointed, eo) where eo has columns
    (src, dst, kdst) directed low-key -> high-key. Shared by
    triangle_count and triangle_list.

    The edge frame is referenced from four places (degree count ×2, the
    orientation join, the edge count) and the oriented frame from three
    (both wedge legs + the closing semi-join) — without a checkpoint
    Spark re-derives the caller's full edge lineage per reference (a
    measured 8× recompute, 112 aggregates in the q229 plan). Graph
    algorithms pin their edge list; same rule as
    operators/dedup_pipeline.py.

    The orientation joins take SHUFFLE_HASH builds of the |V|-row keyed
    frame, and _closed_wedges hash-builds eo for its closing semi-join —
    at sf1 the wedge stream is 50.5M rows and the sort-merge sort of it
    was the residual cost (guide §3.1; measured with both hint sets:
    5.8-12.1 s vs 15.5-19.4 s)."""
    e = pin(e)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # total order by (deg, id) packed into one bigint key. The packing
    # is injective only for ids in [0, _ID_SPACE); out-of-range ids
    # (partkeys reach 1e8 around sf500) would silently corrupt the
    # order, so the bound is enforced in the dataflow itself:
    # assert_true returns NULL on success (coalesced to +0) and fails
    # the query otherwise, and living inside the okey expression it
    # cannot be pruned away.
    guard = F.coalesce(
        F.assert_true(
            (F.col("node") >= 0) & (F.col("node") < F.lit(_ID_SPACE)),
            F.lit(
                f"triangle_count: node id outside [0, {_ID_SPACE}) breaks "
                "the (deg, id) packing — remap ids densely first"
            ),
        ).cast("bigint"),
        F.lit(0),
    )
    keyed = deg.select(
        "node", (F.col("deg") * _ID_SPACE + F.col("node") + guard).alias("okey")
    ).hint("shuffle_hash")
    eo = (
        e.join(keyed.withColumnRenamed("node", "u").withColumnRenamed("okey", "ku"), "u")
        .join(keyed.withColumnRenamed("node", "v").withColumnRenamed("okey", "kv"), "v")
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.greatest("ku", "kv").alias("kdst"),
        )
    )
    eo = pin(eo)
    return e, eo


def _closed_wedges(eo: DataFrame) -> DataFrame:
    """(a, b, c) per triangle, exactly once: a = the wedge source (the
    triangle's lowest (deg, id) corner), (b, c) its oriented endpoints."""
    # hash-build the y side: the SMJ form sorted the checkpointed edge
    # frame by src on BOTH legs before producing the wedge stream
    # (back-to-back tri-count at sf1: SMJ 12.7/14.8 s vs SHJ 5.9/9.7 s)
    x, y = eo.alias("x"), eo.hint("shuffle_hash").alias("y")
    wedges = x.join(
        y,
        (F.col("x.src") == F.col("y.src")) & (F.col("x.kdst") < F.col("y.kdst")),
    ).select(
        F.col("x.src").alias("a"),
        F.col("x.dst").alias("w_src"),
        F.col("y.dst").alias("w_dst"),
    )
    return wedges.join(
        eo.select(F.col("src").alias("w_src"), F.col("dst").alias("w_dst"))
        .hint("shuffle_hash"),
        ["w_src", "w_dst"],
        "left_semi",
    ).select("a", F.col("w_src").alias("b"), F.col("w_dst").alias("c"))


def triangle_count(e: DataFrame) -> DataFrame:
    """Count triangles in an undirected graph given CANONICAL edges
    (columns u, v with u < v, no duplicates). Returns one row
    (n_edges BIGINT, n_triangles BIGINT). All-integer arithmetic."""
    e, eo = _oriented(e)
    tri = _closed_wedges(eo).agg(F.count("*").cast("bigint").alias("n_triangles"))
    edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    return edges.crossJoin(F.broadcast(tri))


def triangle_list(e: DataFrame) -> DataFrame:
    """Enumerate every triangle exactly once as (a, b, c) node ids
    (a = lowest (deg, id) corner; b, c in oriented order). Same wedge
    bound as triangle_count — out-degree <= ~sqrt(2m) — so the list is
    produced without hub blowup; per-node triangle counts are one
    explode + groupBy away (q380)."""
    _, eo = _oriented(e)
    return _closed_wedges(eo)
