"""End-to-end corpus deduplication: the composition a training-data
pipeline actually runs — not "list candidate pairs" but "give me the
corpus with duplicates removed".

Stages (each individually verified elsewhere):
1. candidates — MinHash/LSH banding (queries/llm.py q44 shape): linear
   signatures, uniform band shuffle, within-bucket pairs.
2. verify — n-gram Jaccard on candidates only (q46 shape); pairs above
   the threshold become edges of the duplicate graph.
3. cluster — connected components by iterative min-label propagation
   (duplicate clusters are tiny — star/clique shaped — so a handful of
   iterations reaches fixpoint; each iteration is one join + one
   aggregate).
4. keep — one canonical doc per component (min doc_id), everything not
   in any component kept as-is.

Scale: stages 1-2 are the LSH pipeline (quadratic only within buckets);
stage 3 touches only documents that appear in an edge — at real-world dup
rates that is a few percent of the corpus.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin, scoped_confs
from . import banding

#: Shuffle width of the iterative label/frontier loops (connected
#: components here, BFS in queries/analytics2). Their tables hold only
#: edge endpoints — a few percent of the corpus at real dup rates — so
#: the global shuffle default is pure scheduler overhead; at 100 TB size
#: it to ~edge-rows/10M.
CC_PARTITIONS = "4"


def duplicate_edges(corpus: DataFrame, jaccard_threshold: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, jaccard) for verified near-duplicate pairs.
    corpus: (doc_id, text). Band buckets above banding.DEFAULT_BUCKET_CAP
    are excluded from candidate generation (see operators/banding.py);
    audit the exclusions with banding.oversized_buckets on the same
    corpus.

    Candidates and their gram sets come from banding.candidate_grams:
    one tokenize+shingle+md5 pass feeds the signatures AND the
    exact-Jaccard gram sets. Jaccard on hashed shingles equals Jaccard
    on shingles (injective up to 60-bit collisions).

    The corpus is repartitioned first: the tokenize+md5 pass is the CPU
    bulk of the whole pipeline and must use every core, but a small
    parquet input is often one row-group = ONE partition (measured 6.3s
    single-core vs 0.4s repartitioned on 5k docs)."""
    corpus = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    _sig, pairs = banding.candidate_grams(corpus)
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    uni = F.size("ga") + F.size("gb") - inter
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.when(uni > 0, F.round(inter.cast("double") / uni, 4)).otherwise(0.0).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def connected_components(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """(doc_id, component) for every doc appearing in an edge; component =
    min doc_id reachable. Min-label propagation with pointer doubling:
    each iteration takes the min over neighbors' labels (one hop) and
    then re-labels through the label table itself (component <- label of
    component), so label distance-to-root roughly doubles per iteration —
    convergence in O(log longest-chain) instead of O(chain). Warns loudly
    if the fixpoint isn't reached within max_iters (never silently
    returns split components)."""
    # Size the iteration shuffles to the label volume (CC_PARTITIONS),
    # not the global default.
    with scoped_confs(edges.sparkSession, {"spark.sql.shuffle.partitions": CC_PARTITIONS}):
        return _cc_loop(edges, max_iters)


def _cc_loop(edges: DataFrame, max_iters: int) -> DataFrame:
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    sym = pin(sym)  # cut the LSH/verify lineage out of the loop
    # Seed labels with min(self, neighbors) instead of self: the same
    # one-shuffle cost as the former distinct() (groupBy src), but
    # star/clique clusters — the typical dup-cluster shape — are already
    # at their fixpoint label, so the loop converges one full iteration
    # (two joins + checkpoint + collect) earlier. The fixpoint itself is
    # unchanged: labels still only ever decrease toward min-reachable.
    labels = (
        sym.groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("dst").alias("nmin"))
        .select(
            "doc_id", F.least(F.col("doc_id"), F.col("nmin")).alias("component")
        )
        .transform(pin)
    )
    # Labels only ever decrease (least/min everywhere), so sum(component)
    # strictly decreases iff any label moved — convergence is one cheap
    # aggregate per iteration instead of a join against the old labels.
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("component").alias("n_min"))
        )
        hopped = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["src"], "left")
            .select(
                "doc_id",
                F.least(F.col("component"), F.coalesce(F.col("n_min"), F.col("component"))).alias(
                    "component"
                ),
            )
        )
        # Pointer doubling: a label is itself a doc_id in the table, so
        # jump each label to that doc's (already lower-or-equal) label.
        ptr = hopped.select(
            F.col("doc_id").alias("c_id"), F.col("component").alias("c_comp")
        )
        labels = (
            hopped.join(ptr, hopped["component"] == ptr["c_id"], "left")
            .select(
                "doc_id",
                F.coalesce(F.col("c_comp"), F.col("component")).alias("component"),
            )
            # pinned: keeps every iteration's plan O(1) deep — without it
            # analysis cost grows with the iteration count
            .transform(pin)
        )
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        warnings.warn(
            f"connected_components: labels still changing after {max_iters} "
            "iterations; components may be split",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def dedup_corpus(corpus: DataFrame, jaccard_threshold: float = 0.5) -> DataFrame:
    """The kept corpus: canonical (min doc_id) per duplicate component +
    all documents that aren't near-duplicates of anything."""
    edges = duplicate_edges(corpus, jaccard_threshold)
    comp = connected_components(edges)
    drop = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
    return corpus.join(drop, "doc_id", "left_anti")
