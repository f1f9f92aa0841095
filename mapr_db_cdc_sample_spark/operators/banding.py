"""MinHash LSH candidate generation with a bucket-size cap — the shared
candidate stage behind the near-dup queries and
operators/dedup_pipeline.

One feed: signature (mh0..mh7) → ``minhash_bands`` (4 bands of 2) →
``band_buckets`` (capped) → ``bucket_pairs`` (distinct doc_a < doc_b).
Two entry points build it:

- ``candidate_pairs``: the pairs alone, signatures from the
  explode-and-aggregate ``minhash_signatures``;
- ``candidate_grams``: the candidate-verify feed. ONE persisted
  ``gram_sets`` pass yields the signatures as a cache-local projection
  and joins both docs' gram sets onto each pair, so exact verification
  (Jaccard, containment) runs on candidates only.

Why the cap: a boilerplate cluster (millions of near-identical docs —
routine in web corpora) lands every member in ONE band bucket. Naive
`groupBy(band).collect_set(doc_id)` then builds a multi-million-element
array on a single executor and the within-bucket pair expansion is
O(n^2) — a guaranteed OOM at the 100 TB posture. pyspark.ml's LSH and
production dedup pipelines all bound bucket size.

Why the cap is applied BEFORE collecting ids: filtering on
`size(ids)` after collect_set still materializes the mega-array inside
the aggregation buffer. Instead the per-band member count is computed
as a window count over the SAME hash partitioning the collect_set
aggregation needs: one shuffle of the slim (doc_id, band) table, then
the count, the 2..cap filter, and the id collection all run inside
that partitioning (the groupBy after the window is exchange-free —
EnsureRequirements sees hashpartitioning(band) already satisfied).
Mega-bucket rows are buffered only by WindowExec's spillable row array
(ExternalAppendOnlyUnsafeRowArray), never by an aggregation buffer, so
the memory bound holds, and the signature subtree is evaluated once.

Truncation is never silent: `oversized_buckets` reports every dropped
band with its member count, and the q86 registry entry exposes the
bucket-size distribution + dropped count through the driver's
correctness gate.

At 100 TB: the single shuffle keys on the uniform band hash (md5
derived — no skew beyond genuine mega-buckets, which the cap drops),
so AQE coalesces fine, and everything downstream of the exchange is
window -> filter -> exchange-free aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T

#: Max docs per band bucket before the bucket is dropped from candidate
#: generation (boilerplate mega-cluster guard).
DEFAULT_BUCKET_CAP = 500

_N_BANDS = 4  # 8 minhashes -> 4 bands x 2 rows/band


def minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band) rows from an 8-column minhash signature frame
    (mh0..mh7): 4 bands of 2 hashes, band key = 'b:mh_lo:mh_hi'. One row
    per (doc, band); docs with no shingles (null mh0) are excluded."""
    band_exprs = [
        F.concat_ws(
            ":",
            F.lit(str(b)),
            F.col(f"mh{2 * b}").cast("string"),
            F.col(f"mh{2 * b + 1}").cast("string"),
        )
        for b in range(_N_BANDS)
    ]
    return sig.where(F.col("mh0").isNotNull()).select(
        "doc_id", F.explode(F.array(*band_exprs)).alias("band")
    )


def band_counts(bands: DataFrame) -> DataFrame:
    """(band, n_ids) — one small row per distinct band. (doc_id, band)
    rows are unique by construction, so count(*) == distinct docs."""
    return bands.groupBy("band").agg(F.count("*").alias("n_ids"))


def band_buckets(bands: DataFrame, cap: int = DEFAULT_BUCKET_CAP) -> DataFrame:
    """(band, ids) for every band with 2..cap members, ids sorted for
    deterministic pair order. Bands above the cap never reach
    collect_set — the cap filter runs on a window count INSIDE the same
    band partitioning the collection uses (one shuffle, one evaluation
    of the upstream signature pipeline; see module docstring)."""
    w = Window.partitionBy("band")
    return (
        bands.withColumn("n_ids", F.count("*").over(w))
        .where(F.col("n_ids").between(2, cap))
        .groupBy("band")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
    )


def oversized_buckets(bands: DataFrame, cap: int = DEFAULT_BUCKET_CAP) -> DataFrame:
    """(band, n_ids) for every band DROPPED by the cap — the audit trail
    that makes the truncation visible. Empty at healthy dup rates."""
    return band_counts(bands).where(F.col("n_ids") > cap)


def bucket_pairs(buckets: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) with doc_a < doc_b from bucket id arrays,
    expanded with higher-order functions (no self-join: a join would
    recompute the signature subtree for both sides and shuffle twice)."""
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )


def minhash_signatures(corpus: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7) MinHash signatures over word-3-gram shingles:
    explode -> ONE md5 per shingle -> groupBy(doc_id) with 8 XOR-min
    aggregates. One pass over shingles, one shuffle. (The naive form — 8
    md5 transforms in one projection — re-evaluates the shingle array per
    hash and measured ~20x slower at sf0.1.)"""
    sh = corpus.select(
        "doc_id", F.explode_outer(T.shingles(T.tokens(F.col("text")), 3)).alias("s")
    ).select("doc_id", T.shingle_hash60(F.col("s")).alias("h"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.col("h").bitwiseXOR(F.lit(seed))).alias(f"mh{j}")
            for j, seed in enumerate(T.MINHASH_SEEDS)
        ]
    )


def candidate_pairs(corpus: DataFrame, cap: int = DEFAULT_BUCKET_CAP) -> DataFrame:
    """corpus (doc_id, text) -> distinct candidate (doc_a, doc_b): the
    full signature -> band -> capped bucket -> pair pipeline."""
    return bucket_pairs(band_buckets(minhash_bands(minhash_signatures(corpus)), cap))


def gram_sets(corpus: DataFrame) -> DataFrame:
    """(doc_id, gs) with gs = DISTINCT 60-bit-hashed 3-gram shingles as a
    long array — ONE tokenize+shingle+md5 pass that can feed BOTH minhash
    signatures (min over XOR permutations of gs — min over the distinct
    set equals min over the multiset) and exact Jaccard verification
    (|A∩B|/|A∪B| is identical on hashed shingles, and long-array
    intersects are far cheaper to shuffle and compare than strings).
    Persist the result before fanning out, or each consumer re-runs the
    md5 pass (Catalyst collapses projections)."""
    return corpus.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                T.shingles(T.tokens(F.col("text")), 3),
                lambda s: T.shingle_hash60(s),
            )
        ).alias("gs"),
    )


def signatures_from_grams(grams: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7) as a pure projection over materialized gram
    arrays: 8 XOR+array_min passes over an in-memory long array — no
    explode, no shuffle, no md5 recompute. Only sound when `grams` is
    persisted/materialized (see gram_sets); an empty gram array yields
    null mh columns, matching the explode_outer+min form."""
    def _xor_min(seed: int):
        # NB: a default-arg lambda (lambda h, s=seed: ...) would be read
        # as a two-arg (value, index) lambda by PySpark — closure factory
        return F.array_min(F.transform(F.col("gs"), lambda h: h.bitwiseXOR(F.lit(seed))))

    return grams.select(
        "doc_id",
        *[_xor_min(seed).alias(f"mh{j}") for j, seed in enumerate(T.MINHASH_SEEDS)],
    )


def candidate_grams(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The MinHash candidate-verify feed: corpus (doc_id, text) ->
    (sig, pairs) from ONE persisted gram_sets pass. sig is (doc_id,
    mh0..mh7), a cache-local projection of the grams; pairs is every
    distinct capped-bucket candidate (doc_a < doc_b) with both docs'
    gram sets (ga, gb) joined on, so exact verification runs on
    candidates only."""
    grams = gram_sets(corpus)
    grams.persist()
    sig = signatures_from_grams(grams)
    cands = bucket_pairs(band_buckets(minhash_bands(sig)))
    a = grams.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("ga"))
    b = grams.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gb"))
    return sig, cands.join(a, "doc_a").join(b, "doc_b")
