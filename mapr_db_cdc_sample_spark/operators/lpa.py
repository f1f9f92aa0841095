"""Synchronous label propagation over an undirected graph.

Semi-supervised labeling: seed nodes carry fixed labels; each round,
every node adopts the majority label among its LABELED neighbors
(ties -> smallest label; seeds are clamped and never change). A FIXED
round count (not a fixpoint) keeps the algorithm deterministic —
synchronous LPA can oscillate on bipartite structures, so "run R
rounds" is the reproducible contract.

Scale posture mirrors operators/kcore.py: per-round work is one
edges x labels join plus a (node, label) count aggregate — both keyed
shuffles bounded by the labeled frontier. The adjacency is
pinned ONCE so the (possibly expensive) edge derivation runs a single
time; the R rounds are not pinned — each round's output feeds the next
exactly once, so the final action evaluates a linear chain of ~3R
shuffles in one job instead of R checkpoint jobs that each re-run
their upstream (r12, guide §2/§5: q320 spent 5x its time re-deriving
the SRP kNN graph every round). No driver-side
data beyond the loop counter.

Used by q320 (queries/analytics3.py); property-twinned against a
hand-rolled Python propagation in tests/test_properties.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin


def label_propagation(edges: DataFrame, seeds: DataFrame, rounds: int = 5) -> DataFrame:
    """Return (node, label, is_seed) after `rounds` synchronous updates.

    `edges`: (a, b) undirected, deduplicated. `seeds`: (node, label)
    with integer labels. Unlabeled nodes with no labeled neighbor stay
    absent until a label reaches them.
    """
    adj = (
        edges.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionAll(edges.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        # rounds below reference adj R times and must not re-run the
        # edge derivation
        .transform(pin)
    )
    seeds = pin(seeds.select("node", "label"))
    labels = seeds
    for _ in range(rounds):
        msgs = adj.join(
            labels.withColumnRenamed("node", "nbr"), "nbr"
        ).select("node", "label")
        votes = msgs.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        # majority with smallest-label tiebreak: min over (-cnt, label)
        best = (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("cnt")).alias("neg"), "label")).alias("s"))
            .select("node", F.col("s.label").alias("label"))
        )
        # not pinned: labels_k is consumed exactly once (by round k+1),
        # so the chain is linear and one final action runs all rounds
        labels = seeds.unionAll(
            best.join(seeds.select("node"), "node", "left_anti")
        )
    return labels.join(
        seeds.select("node", F.lit(1).alias("is_seed")), "node", "left"
    ).select("node", "label", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
