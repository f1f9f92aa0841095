"""Round-5 late batch (q249+): feature-store point-in-time joins,
master-data fuzzy matching, training-data chunking, deterministic
dimensionality reduction, graph BFS, contrastive mining, passage-level
dedup, distributed CDFs, and mergeable-state statistics.

Determinism rules follow queries/relational.py's module docstring: exact
integer/decimal arithmetic wherever sums occur, ROUND(6) before any
double leaves the query, unique ORDER BY tiebreakers under every LIMIT,
and float embedding columns cast to DOUBLE before ANY arithmetic on both
engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions import vectors as V
from ..functions.exact import cents, cosine_duck, rhu
from ..operators import banding as B
from ..operators.dedup_pipeline import CC_PARTITIONS, connected_components
from ..session import pin, scoped_confs
from . import register
from .analytics import _CC_ORACLE
from .llm import _BANDS_CTE, _MINHASH_CTE, _minhash_corpus


# ---------- q249: point-in-time feature join (feature-store correctness)

# Leakage-free training joins: each order (the "training event") sees the
# customer feature snapshot built from STRICTLY EARLIER months only — the
# month-end snapshot of month m becomes effective at m+1, so an order in
# its customer's first active month gets (0, 0). Expressed as the
# union-and-carry-forward window (one shuffle on the customer key), NOT a
# per-event range join: at 100 TB the non-equi (cust, snap_month <
# event_month) join is a shuffle-range-join per event, while this form is
# a single partitioned window pass over snapshots+events together.
_PIT_ORACLE = """
WITH o AS MATERIALIZED (
    SELECT o_orderkey, o_custkey,
           CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT) AS mi,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM orders
), ma AS (
    SELECT o_custkey, mi, COUNT(*) AS mn, CAST(SUM(cents) AS BIGINT) AS mcents
    FROM o GROUP BY 1, 2
), snap AS (
    SELECT o_custkey, mi + 1 AS k, 0 AS kind,
           CAST(SUM(mn) OVER (PARTITION BY o_custkey ORDER BY mi
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
           CAST(SUM(mcents) OVER (PARTITION BY o_custkey ORDER BY mi
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
           CAST(NULL AS BIGINT) AS o_orderkey
    FROM ma
), ev AS (
    SELECT o_custkey, mi AS k, 1 AS kind,
           CAST(NULL AS BIGINT) AS cum_n, CAST(NULL AS BIGINT) AS cum_cents,
           o_orderkey
    FROM o
), u AS (
    SELECT * FROM snap UNION ALL SELECT * FROM ev
), f AS (
    SELECT o_orderkey, kind,
           LAST_VALUE(cum_n IGNORE NULLS) OVER (
               PARTITION BY o_custkey ORDER BY k, kind
               ROWS UNBOUNDED PRECEDING) AS fn,
           LAST_VALUE(cum_cents IGNORE NULLS) OVER (
               PARTITION BY o_custkey ORDER BY k, kind
               ROWS UNBOUNDED PRECEDING) AS fc
    FROM u
)
SELECT o_orderkey,
       CAST(COALESCE(fn, 0) AS BIGINT) AS feat_orders,
       CAST(COALESCE(fc, 0) AS BIGINT) AS feat_cents
FROM f WHERE kind = 1 ORDER BY o_orderkey
"""


@register("q249_pit_feature_join", oracle=_PIT_ORACLE)
def q249(orders):
    """Point-in-time-correct feature join: per-order customer features
    (prior order count + prior spend in cents) from month-end snapshots
    effective the FOLLOWING month, so same-month activity never leaks
    into the feature. Snapshots and events are unioned and carried
    forward with last(ignorenulls) over one customer-partitioned window
    — no range join, one shuffle key end to end."""
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("mi"),
        cents("o_totalprice").alias("cents"),
    )
    ma = o.groupBy("o_custkey", "mi").agg(
        F.count("*").alias("mn"), F.sum("cents").alias("mcents")
    )
    wc = (
        Window.partitionBy("o_custkey")
        .orderBy("mi")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    snap = ma.select(
        "o_custkey",
        (F.col("mi") + 1).alias("k"),
        F.lit(0).alias("kind"),
        F.sum("mn").over(wc).cast("bigint").alias("cum_n"),
        F.sum("mcents").over(wc).cast("bigint").alias("cum_cents"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
    )
    ev = o.select(
        "o_custkey",
        F.col("mi").alias("k"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("bigint").alias("cum_n"),
        F.lit(None).cast("bigint").alias("cum_cents"),
        "o_orderkey",
    )
    wf = (
        Window.partitionBy("o_custkey")
        .orderBy("k", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f = snap.unionByName(ev).select(
        "o_orderkey",
        "kind",
        F.last("cum_n", ignorenulls=True).over(wf).alias("fn"),
        F.last("cum_cents", ignorenulls=True).over(wf).alias("fc"),
    )
    return (
        f.where(F.col("kind") == 1)
        .select(
            "o_orderkey",
            F.coalesce("fn", F.lit(0)).cast("bigint").alias("feat_orders"),
            F.coalesce("fc", F.lit(0)).cast("bigint").alias("feat_cents"),
        )
        .orderBy("o_orderkey")
    )


# ---------- q250: fuzzy master-data matching (edit-distance candidates)

# Dimension standardization: for every distinct part name, its nearest
# OTHER name by Levenshtein distance (tie -> lexicographically smallest
# candidate). The Spark side runs the lossless length-banded plan
# (operators/editdist.py): constant-probe upper bound, then candidates
# only within |len-cand_len| <= ub — pair count bounded by the band,
# not |names|^2 (round-5 verdict #2). The oracle stays the naive
# all-pairs definition, which is exactly what the banding must equal.
_FUZZY_ORACLE = """
WITH d AS MATERIALIZED (SELECT DISTINCT p_name FROM part),
p AS (
    SELECT a.p_name AS name, b.p_name AS cand,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM d a JOIN d b ON a.p_name <> b.p_name
), r AS (
    SELECT name, cand, dist,
           ROW_NUMBER() OVER (PARTITION BY name ORDER BY dist, cand) AS rn
    FROM p
)
SELECT name, cand AS best_match, CAST(dist AS INT) AS dist
FROM r WHERE rn = 1 ORDER BY name
"""


@register("q250_fuzzy_name_match", oracle=_FUZZY_ORACLE)
def q250(part):
    """Fuzzy dimension matching: nearest-neighbor part name by exact
    Levenshtein distance over the distinct-name dimension, via the
    length-banded bounded-pair plan (operators/editdist.py — the
    levenshtein >= |len difference| lower bound makes the band lossless,
    so the result is identical to the all-pairs oracle). Integer
    distances rank exactly (no FP); the unique (dist, cand) tiebreaker
    makes the argmin engine-independent."""
    from ..operators.editdist import nearest_name_match

    d = part.select(
        F.col("p_name").alias("name")
    )
    return nearest_name_match(d).orderBy("name")


# ---------- q251: character-window chunking (byte-budget sharding)

# Fixed-size CHARACTER chunks (200 chars, stride 150 -> 50-char overlap)
# — the raw-text companion to q115's token-window chunking: no tokenizer
# in the loop, so this is the op used when the budget is bytes/chars
# (shard splitting, embedding-context packing), not tokens. Pure
# projection + generator: one scan, no shuffle until the presentation
# sort; the md5 chunk hash feeds the exact-dedup family (q37) at chunk
# granularity.
_CHUNK_ORACLE = """
WITH d AS (SELECT doc_id, text, LENGTH(text) AS n FROM documents),
s AS (
    SELECT doc_id, text,
           UNNEST(range(0, GREATEST(n, 1), 150)) AS start
    FROM d
)
SELECT doc_id,
       CAST(start // 150 AS INT) AS chunk_idx,
       CAST(start AS BIGINT) AS start,
       CAST(LENGTH(SUBSTR(text, CAST(start AS INT) + 1, 200)) AS INT) AS chunk_len,
       MD5(SUBSTR(text, CAST(start AS INT) + 1, 200)) AS chunk_hash
FROM s ORDER BY doc_id, chunk_idx
"""


@register("q251_char_chunking", oracle=_CHUNK_ORACLE)
def q251(documents):
    """Overlapping fixed-size character chunking (vs q115's token
    windows): sequence+posexplode generates chunk starts JVM-side, the
    chunk hash is the cross-engine md5 anchor. Stride 150 / size 200
    gives a 50-char overlap so no boundary content is lost to a split."""
    d = documents.select(
        "doc_id", "text", F.length("text").alias("n")
    )
    s = d.select(
        "doc_id",
        "text",
        F.posexplode(
            F.sequence(
                F.lit(0), F.greatest(F.lit(0), F.col("n") - 1), F.lit(150)
            )
        ).alias("chunk_idx", "start"),
    )
    chunk = F.substring(F.col("text"), F.col("start") + 1, F.lit(200))
    return s.select(
        "doc_id",
        F.col("chunk_idx").cast("int"),
        F.col("start").cast("bigint"),
        F.length(chunk).cast("int").alias("chunk_len"),
        F.md5(chunk).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


# ---------- q252: deterministic random projection (dim reduction)

# Signed random projection of the 64-d embeddings down to 8 dims with a
# +/-1 matrix derived from md5 (the cross-engine random anchor). Exact
# arithmetic: embedding -> DOUBLE -> DECIMAL(18,9) FACTORS, multiplied by
# an integer sign, summed as decimals — associative, so partial
# aggregation order can't split the engines. The sign matrix is dim x 8
# rows, built once and broadcast; the fact side is one posexplode +
# groupBy(vec_id) — no all-pairs, no Python.
_RP_ORACLE = """
WITH dims AS MATERIALIZED (
    SELECT DISTINCT UNNEST(range(0, len(embedding))) AS i FROM embeddings
), signs AS (
    SELECT d.i, j.j,
           1 - 2 * (ASCII(SUBSTR(MD5(d.i || '_' || j.j), 1, 1)) % 2) AS s
    FROM dims d, (SELECT UNNEST(range(0, 8)) AS j) j
), e AS MATERIALIZED (
    SELECT m.vec_id, d.i,
           CAST(CAST(m.embedding[CAST(d.i AS INT) + 1] AS DOUBLE)
                AS DECIMAL(18,9)) AS v
    FROM embeddings m, dims d
), p AS (
    SELECT e.vec_id, s.j, SUM(e.v * s.s) AS pr
    FROM e JOIN signs s ON s.i = e.i
    GROUP BY 1, 2
)
SELECT vec_id,
       ((CAST(SUM(CASE WHEN j = 0 THEN pr END) * 1000000000 AS BIGINT)
         + 1000000000000500) // 1000 - 1000000000000) / CAST(1000000 AS DOUBLE) AS p0,
       ((CAST(SUM(CASE WHEN j = 1 THEN pr END) * 1000000000 AS BIGINT)
         + 1000000000000500) // 1000 - 1000000000000) / CAST(1000000 AS DOUBLE) AS p1,
       ((CAST(SUM(CASE WHEN j = 2 THEN pr END) * 1000000000 AS BIGINT)
         + 1000000000000500) // 1000 - 1000000000000) / CAST(1000000 AS DOUBLE) AS p2,
       ((CAST(SUM(CASE WHEN j = 3 THEN pr END) * 1000000000 AS BIGINT)
         + 1000000000000500) // 1000 - 1000000000000) / CAST(1000000 AS DOUBLE) AS p3,
       ((CAST(SUM(CASE WHEN j = 4 THEN pr END) * 1000000000 AS BIGINT)
         + 1000000000000500) // 1000 - 1000000000000) / CAST(1000000 AS DOUBLE) AS p4,
       ((CAST(SUM(CASE WHEN j = 5 THEN pr END) * 1000000000 AS BIGINT)
         + 1000000000000500) // 1000 - 1000000000000) / CAST(1000000 AS DOUBLE) AS p5,
       ((CAST(SUM(CASE WHEN j = 6 THEN pr END) * 1000000000 AS BIGINT)
         + 1000000000000500) // 1000 - 1000000000000) / CAST(1000000 AS DOUBLE) AS p6,
       ((CAST(SUM(CASE WHEN j = 7 THEN pr END) * 1000000000 AS BIGINT)
         + 1000000000000500) // 1000 - 1000000000000) / CAST(1000000 AS DOUBLE) AS p7
FROM p GROUP BY vec_id ORDER BY vec_id
"""


@register("q252_random_projection", oracle=_RP_ORACLE)
def q252(spark, embeddings):
    """8-d signed random projection of the embedding corpus. The +/-1
    coefficients come from md5 parity so both engines derive the SAME
    matrix; products keep decimal factors x integer signs, so the sum is
    exact and order-free. Output is one row per vector (pivot on the
    projection index)."""
    e = embeddings.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("i", "vf")
    ).select(
        "vec_id",
        F.col("i").cast("bigint").alias("i"),
        F.col("vf").cast("double").cast("decimal(18,9)").alias("v"),
    )
    js = spark.range(8).select(F.col("id").cast("bigint").alias("j"))
    # dim indices from a LIMIT-1 pruned probe of the vector width — the
    # distinct-over-explode alternative re-scans the whole corpus just to
    # learn "64"
    dims = (
        embeddings.select(F.size("embedding").alias("d"))
        .limit(1)
        .select(F.explode(F.sequence(F.lit(0), F.col("d") - 1)).alias("i"))
        .select(F.col("i").cast("bigint").alias("i"))
    )
    signs = (
        dims.crossJoin(js)
        .select(
            "i",
            "j",
            (
                1
                - 2
                * (
                    F.ascii(
                        F.substring(
                            F.md5(F.concat_ws("_", F.col("i"), F.col("j"))), 1, 1
                        )
                    )
                    % 2
                )
            ).alias("s"),
        )
    )
    p = (
        e.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("v") * F.col("s")).alias("pr"))
    )
    wide = p.groupBy("vec_id").pivot("j", list(range(8))).agg(F.first("pr"))
    # Exact decimal sums sit on a 1e-9 grid, so ROUND(.,6) ties at the
    # .5e-6 midpoints split the engines (half-up vs half-even — the q244
    # lesson). Round in INTEGER arithmetic instead: shift positive, drop
    # 3 digits half-up, unshift; the final /1e6 is one exact-input IEEE
    # division on both engines.
    return wide.select(
        "vec_id",
        *[
            F.expr(
                f"((CAST(`{j}` * 1000000000 AS BIGINT) + 1000000000000500)"
                f" DIV 1000 - 1000000000000) / CAST(1000000 AS DOUBLE)"
            ).alias(f"p{j}")
            for j in range(8)
        ],
    ).orderBy("vec_id")


# ---------- q253: BFS hop distances (iterative frontier expansion)

# The third distributed-graph primitive next to pointer-doubling CC
# (q152) and rank push (q160): level-synchronous BFS from each dup
# cluster's root (its min doc_id). Per level: one equi-join of the
# CURRENT FRONTIER (not the full distance table) against the edge list +
# one anti-join dedup — so per-iteration shuffle volume is frontier-
# sized, and the loop runs diameter times, capped at 20 on BOTH engines
# (nodes deeper than the cap drop out of both results identically).
_BFS_ORACLE = _CC_ORACLE.replace(
    """SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM cc GROUP BY component ORDER BY component""",
    """, roots AS (
    SELECT DISTINCT component AS node FROM cc
), bfs(node, dist) AS (
    SELECT node, 0 FROM roots
    UNION
    SELECT u.dst, b.dist + 1 FROM bfs b JOIN und u ON u.src = b.node
    WHERE b.dist < 20
), d AS (
    SELECT node, MIN(dist) AS hops FROM bfs GROUP BY node
)
SELECT CAST(hops AS INT) AS hops,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(node) AS BIGINT) AS max_doc
FROM d GROUP BY hops ORDER BY hops""",
)


def _bfs_hops(edges, max_depth: int = 20):
    """(node, hops) = BFS level from each component's min-label root over
    the undirected edge list. Frontier-sized joins, pinned per level to
    cut lineage, and iteration shuffles sized to the label
    volume, not the global default (same discipline — and same
    CC_PARTITIONS — as operators/dedup_pipeline.connected_components)."""
    with scoped_confs(edges.sparkSession, {"spark.sql.shuffle.partitions": CC_PARTITIONS}):
        return _bfs_loop(edges, max_depth)


def _bfs_loop(edges, max_depth: int):
    und = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .transform(pin)
    )
    dist = (
        connected_components(edges)
        .select(F.col("component").alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("hops"))
        .transform(pin)
    )
    frontier = dist
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(und, frontier["node"] == und["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(depth).alias("hops"))
            .transform(pin)
        )
        if nxt.count() == 0:  # scalar driver action, bounded by diameter
            break
        # dist is a union of already-checkpointed level frames — its
        # lineage is one union node per level, so no re-checkpoint needed
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist


@register("q253_bfs_hops", oracle=_BFS_ORACLE)
def q253(documents):
    """Hop-distance histogram from dup-cluster roots over the MinHash-LSH
    candidate graph: component roots come from connected_components
    (pointer doubling), levels from frontier BFS. The capped recursive-
    walk oracle enumerates (node, dist<=20) states and takes the min —
    exact for every reached node."""
    pairs = (
        B.candidate_pairs(_minhash_corpus(documents))
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    dist = _bfs_hops(pairs)
    return (
        dist.groupBy(F.col("hops").cast("int").alias("hops"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("node").cast("bigint").alias("max_doc"),
        )
        .orderBy("hops")
    )


# ---------- q254: hard-negative mining (contrastive training pairs)

# For each query vector (every 1000th id), the 3 most cosine-similar
# vectors carrying a DIFFERENT label — the hard negatives a contrastive
# trainer wants. The query side is a broadcast (bounded by the sampling
# rate); ranking is on the ROUNDED similarity with the neighbor id as
# the unique tiebreaker. At 100 TB candidate generation goes through
# IVF/LSH (q52/q135) first; this exact linear form is the recall oracle
# for that path, same contract as q38.
_HARDNEG_ORACLE = f"""
WITH q AS MATERIALIZED (
    SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qe
    FROM embeddings WHERE vec_id % 1000 = 0
), s AS (
    SELECT q.qid, e.vec_id,
           ROUND({cosine_duck('e.embedding::DOUBLE[]', 'q.qe')}, 4) AS sim
    FROM embeddings e JOIN q ON e.label <> q.qlabel
), r AS (
    SELECT qid, vec_id, sim,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
    FROM s
)
SELECT qid, CAST(rnk AS INT) AS rnk, vec_id AS neighbor_id, sim
FROM r WHERE rnk <= 3 ORDER BY qid, rnk
"""


@register("q254_hard_negatives", oracle=_HARDNEG_ORACLE)
def q254(embeddings):
    """Label-constrained exact top-k cosine: hard-negative mining for
    contrastive training. Broadcast query side carries precomputed norms
    (V.cosine_pre); the per-query top-3 ranks on the rounded sim."""
    q = embeddings.where(F.col("vec_id") % 1000 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        V.norm(F.col("embedding")).alias("qn"),
    )
    s = embeddings.join(F.broadcast(q), F.col("label") != F.col("qlabel")).select(
        "qid",
        "vec_id",
        V.cosine_pre(F.col("embedding"), F.col("qe"), F.col("qn")).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        s.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "qid",
            F.col("rnk").cast("int"),
            F.col("vec_id").alias("neighbor_id"),
            "sim",
        )
        .orderBy("qid", "rnk")
    )


# ---------- q255: passage-block dedup (sub-document exact dedup)

# Exact dedup at 20-word passage granularity: documents are cut into
# aligned word blocks JVM-side (sequence -> slice -> array_join, order
# preserved by construction — never collect_list), block hashes dedup
# corpus-wide with first-occurrence-wins. Exact duplicate docs (unioned
# mutated corpus, q37's convention) surface as fully-duplicated block
# sets. One scan + one hash-partitioned window on the block hash.
_PASSAGE_ORACLE = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
), w AS (
    SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM corpus
), b AS (
    SELECT doc_id, words,
           UNNEST(range(0, (LEN(words) + 19) // 20)) AS bi
    FROM w
), blk AS (
    SELECT doc_id, bi,
           MD5(ARRAY_TO_STRING(
               LIST_SLICE(words, CAST(bi * 20 + 1 AS INT), CAST(bi * 20 + 20 AS INT)),
               ' ')) AS h
    FROM b
), r AS (
    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, bi) AS rn
    FROM blk
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_blocks
FROM r GROUP BY doc_id ORDER BY doc_id
"""


@register("q255_passage_dedup", oracle=_PASSAGE_ORACLE)
def q255(documents):
    """Per-document passage-level dup profile: 20-word aligned blocks,
    md5 block hashes, first occurrence (by doc_id, block idx) keeps the
    block, every later identical block counts as duplicated."""
    corpus = documents.select("doc_id", "text").unionAll(
        documents.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    words = F.split(F.col("text"), " ")
    nblocks = F.floor((F.size(words) + 19) / 20).cast("int")
    blk = corpus.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nblocks - 1),
                lambda b: F.md5(
                    F.array_join(F.slice(words, b * 20 + 1, F.lit(20)), " ")
                ),
            )
        ).alias("bi", "h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "bi")
    r = blk.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_blocks"),
            F.sum((F.col("rn") > 1).cast("bigint")).cast("bigint").alias("dup_blocks"),
        )
        .orderBy("doc_id")
    )


# ---------- q256: cumulative distinct users (first-seen decomposition)

# Growth reporting without a running COUNT(DISTINCT): each user collapses
# to their FIRST day (one hash aggregate), daily new-user counts roll up
# over the tiny day dimension. The global window runs over |days| rows —
# aggregate-first, so the single-partition sort is calendar-sized, never
# event-sized (the q206/q207 rule).
_CUMU_ORACLE = """
WITH fs AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
), nu AS (
    SELECT first_day AS day, COUNT(*) AS new_users FROM fs GROUP BY 1
), days AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
)
SELECT CAST(d.day AS VARCHAR) AS day,
       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (
           ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
FROM days d LEFT JOIN nu n ON n.day = d.day
ORDER BY day
"""


@register("q256_cumulative_distinct", oracle=_CUMU_ORACLE)
def q256(events):
    """Cumulative distinct users per day via first-seen decomposition —
    the scale-safe form of a running COUNT(DISTINCT)."""
    ev = events.select(
        "user_id", F.to_date("ts").alias("day")
    )
    fs = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    nu = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    days = ev.select("day").distinct()
    joined = days.join(nu, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        joined.select(
            F.col("day").cast("string").alias("day"),
            F.col("new_users").cast("bigint"),
            F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
        )
        .orderBy("day")
    )


# ---------- q257: two-sample KS statistic (distributed CDF)

# Kolmogorov-Smirnov distance between the BUILDING and MACHINERY order-
# value distributions. The CDF prefix sum is decomposed two-level so NO
# event-volume single-partition sort exists (the q206/q207 rule): value
# counts roll into ~100 coarse buckets, the bucket offsets come from a
# window over the tiny bucket frame, and the within-bucket running sums
# are hash-partitioned by bucket. The max |F1-F2| comparison runs on
# EXACT integers (cum1*n2 - cum2*n1) and the final statistic is
# round-half-up in integer arithmetic (micro-units) — no FP ties.
_KS_ORACLE = """
WITH s AS (
    SELECT CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS g
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
), v AS MATERIALIZED (
    SELECT cents,
           CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
    FROM s GROUP BY 1
), cum AS (
    SELECT CAST(SUM(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
           CAST(SUM(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
    FROM v
), t AS MATERIALIZED (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM v
)
SELECT t.n1, t.n2,
       CAST(MAX(ABS(cum1 * t.n2 - cum2 * t.n1)) AS BIGINT) AS d_num,
       CAST((2 * MAX(ABS(cum1 * t.n2 - cum2 * t.n1)) * 1000000 + t.n1 * t.n2)
            // (2 * t.n1 * t.n2) AS BIGINT) AS ks_micro
FROM cum, t GROUP BY t.n1, t.n2
"""


@register("q257_ks_statistic", oracle=_KS_ORACLE)
def q257(customer, orders):
    """Two-sample KS distance via a distributed CDF: bucketed prefix-sum
    decomposition keeps every sort partition bucket-local; the sup is
    exact integer arithmetic, reported in micro-units (round-half-up)."""
    seg = customer.select("c_custkey", "c_mktsegment")
    s = (
        orders
        .join(F.broadcast(seg), F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            cents("o_totalprice").alias("cents"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(2).alias("g"),
        )
    )
    v = s.groupBy("cents").agg(
        F.sum((F.col("g") == 1).cast("long")).alias("c1"),
        F.sum((F.col("g") == 2).cast("long")).alias("c2"),
    ).withColumn("bucket", F.floor(F.col("cents") / 500000))
    bt = v.groupBy("bucket").agg(
        F.sum("c1").alias("b1"), F.sum("c2").alias("b2")
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    off = bt.select(
        "bucket",
        F.coalesce(F.sum("b1").over(wb), F.lit(0)).alias("o1"),
        F.coalesce(F.sum("b2").over(wb), F.lit(0)).alias("o2"),
    )
    wi = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = v.join(F.broadcast(off), "bucket").select(
        (F.col("o1") + F.sum("c1").over(wi)).alias("cum1"),
        (F.col("o2") + F.sum("c2").over(wi)).alias("cum2"),
    )
    tot = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")))
        .alias("d_num"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
    )
    return d.select(
        F.col("n1").cast("bigint"),
        F.col("n2").cast("bigint"),
        F.col("d_num").cast("bigint"),
        F.expr(
            f"CAST({rhu('d_num * 1000000', 'n1 * n2')} AS BIGINT)"
        ).alias("ks_micro"),
    )


# ---------- q258: one-way ANOVA F (exact sufficient statistics)

# Between/within variance decomposition of order value across the 5
# customer regions. The sufficient statistics (n, sum, sum-of-squares)
# are EXACT (bigint cents, decimal(38,0) squares), so partial
# aggregation order cannot split the engines; the one genuinely
# order-sensitive double sum — the 5 between-group terms s_g^2/n_g — is
# accumulated through an ORDERED window over the 5-row group frame so
# both engines add in region-key order. Everything fact-sized is a
# single hash aggregate; windows touch 5 rows.
_ANOVA_ORACLE = """
WITH s AS MATERIALIZED (
    SELECT n.n_regionkey AS rk,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
), g AS (
    SELECT rk, CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(cents) AS BIGINT) AS sg,
           CAST(SUM(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS qg
    FROM s GROUP BY rk
), t AS MATERIALIZED (
    SELECT rk, ng, sg, qg,
           SUM(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng)
               OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS cum_t
    FROM g
), a AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
           CAST(SUM(sg) AS BIGINT) AS s, CAST(SUM(qg) AS DECIMAL(38,0)) AS q,
           MAX(cum_t) AS t
    FROM t
), b AS (
    SELECT k, n,
           (t - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS ssb,
           (CAST(q AS DOUBLE) - t) AS ssw
    FROM a
)
SELECT k, n,
       ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat,
       ROUND(ssb / (ssw + ssb), 6) AS eta_sq
FROM b
"""


@register("q258_anova_f", oracle=_ANOVA_ORACLE)
def q258(orders, customer, nation):
    """One-way ANOVA across customer regions from exact sufficient
    statistics; the only FP-order-sensitive reduction runs through an
    ordered 5-row window so the engines agree to the last ulp."""
    s = (
        orders
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select(
            F.col("n_regionkey").alias("rk"),
            cents("o_totalprice").alias("cents"),
        )
    )
    cd = F.col("cents").cast("decimal(19,0)")
    g = s.groupBy("rk").agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum("cents").cast("bigint").alias("sg"),
        F.sum(cd * cd).cast("decimal(38,0)").alias("qg"),
    )
    wt = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    sgd = F.col("sg").cast("double")
    tg = g.withColumn("cum_t", F.sum(sgd * sgd / F.col("ng")).over(wt))
    a = tg.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sg").cast("bigint").alias("s"),
        F.sum("qg").cast("decimal(38,0)").alias("q"),
        F.max("cum_t").alias("t"),
    )
    sd = F.col("s").cast("double")
    b = a.select(
        "k",
        "n",
        (F.col("t") - sd * sd / F.col("n")).alias("ssb"),
        (F.col("q").cast("double") - F.col("t")).alias("ssw"),
    )
    return b.select(
        "k",
        "n",
        F.round(
            (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssw") + F.col("ssb")), 6).alias("eta_sq"),
    )


# ---------- q260: mergeable moment statistics (two-level aggregation)

# Per-type mean/variance computed from MERGEABLE exact partials: each
# (type, day) partition contributes (n, sum, sum-of-squares) in integer
# micro-units, a second aggregate merges partials into the global
# moments. Because the partials are exact integers/decimals, the merged
# result is bit-identical to a direct single-pass computation — which is
# precisely what the single-level DuckDB oracle proves. This is the
# incremental-stats pattern: daily partials persist, the merge is cheap.
_MOMENTS_ORACLE = """
WITH e AS (
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micros
    FROM events
), m AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(micros) AS BIGINT) AS s,
           CAST(SUM(CAST(micros AS DECIMAL(19,0)) * CAST(micros AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS q
    FROM e GROUP BY event_type
)
SELECT event_type, n,
       ROUND(CAST(s AS DOUBLE) / n / 1000000.0, 6) AS mean_value,
       ROUND((CAST(q AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1000000000000.0,
             6) AS var_value
FROM m ORDER BY event_type
"""


@register("q260_mergeable_moments", oracle=_MOMENTS_ORACLE)
def q260(events):
    """Mean/variance per event type through per-day mergeable partials
    (n, sum, sumsq in exact micro-units) merged by a second aggregate —
    hash-identical to the oracle's direct single pass, proving the merge
    is lossless."""
    ev = events.select(
        "event_type",
        F.to_date("ts").alias("day"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("bigint")
        .alias("micros"),
    )
    md = F.col("micros").cast("decimal(19,0)")
    partials = ev.groupBy("event_type", "day").agg(
        F.count("*").alias("pn"),
        F.sum("micros").alias("ps"),
        F.sum(md * md).alias("pq"),
    )
    m = partials.groupBy("event_type").agg(
        F.sum("pn").cast("bigint").alias("n"),
        F.sum("ps").cast("bigint").alias("s"),
        F.sum("pq").cast("decimal(38,0)").alias("q"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    return m.select(
        "event_type",
        "n",
        F.round(sd / F.col("n") / 1000000.0, 6).alias("mean_value"),
        F.round((qd * nd - sd * sd) / (nd * nd) / 1000000000000.0, 6).alias(
            "var_value"
        ),
    ).orderBy("event_type")


# ---------- q259: containment join (asymmetric near-subset detection)

# Directed containment |A∩B| / |A| over 3-gram shingle sets — the
# asymmetric companion to q46's Jaccard: a doc pasted inside a larger
# one scores containment ~1 while its Jaccard can be arbitrarily low.
# Candidate-driven like q46 (signature -> band -> capped bucket feeds
# the verifier; never all-pairs). Scores are round-half-up in INTEGER
# 1e-4 units: shingle-set sizes are often powers of two, putting the
# raw ratio exactly on dyadic ROUND tie midpoints where the engines'
# half-up vs half-even disagree (the q244 lesson).
_CONTAIN_ORACLE = _MINHASH_CTE + _BANDS_CTE + """
, cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands_capped a JOIN bands_capped b ON a.band = b.band AND a.doc_id < b.doc_id
), grams AS MATERIALIZED (
    SELECT doc_id, LIST_DISTINCT(hs) AS gs FROM hv
)
SELECT doc_a, doc_b,
       CAST((2 * LEN(LIST_INTERSECT(ga.gs, gb.gs)) * 10000 + LEN(ga.gs))
            // (2 * LEN(ga.gs)) AS BIGINT) AS cont_a,
       CAST((2 * LEN(LIST_INTERSECT(ga.gs, gb.gs)) * 10000 + LEN(gb.gs))
            // (2 * LEN(gb.gs)) AS BIGINT) AS cont_b
FROM cand
JOIN grams ga ON ga.doc_id = cand.doc_a
JOIN grams gb ON gb.doc_id = cand.doc_b
WHERE LEN(ga.gs) > 0 AND LEN(gb.gs) > 0
ORDER BY doc_a, doc_b
"""


@register("q259_containment_join", oracle=_CONTAIN_ORACLE)
def q259(documents):
    """Directed shingle containment on the LSH candidate feed: one
    persisted tokenize+shingle pass serves signatures and verification
    (q46's sharing pattern); scores are exact integers in 1e-4 units."""
    _sig, pairs = B.candidate_grams(_minhash_corpus(documents))
    out = (
        pairs.withColumn("k", F.size(F.array_intersect(F.col("ga"), F.col("gb"))))
        .withColumn("na", F.size("ga"))
        .withColumn("nb", F.size("gb"))
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"CAST({rhu('k * 10000', 'na')} AS BIGINT)").alias(
                "cont_a"
            ),
            F.expr(f"CAST({rhu('k * 10000', 'nb')} AS BIGINT)").alias(
                "cont_b"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )
    return out


# ---------- q261: abandonment windows (bounded-time absence detection)

# Clicks with NO purchase by the same user within the following 7 days.
# The scale-safe form is join-free: one user-partitioned window sorted
# by time DESCENDING carries the next-purchase timestamp backward, so
# per-user cost is linear even for users with thousands of clicks (the
# naive clicks x purchases equi-join is per-user quadratic). The oracle
# is the DEFINITIONAL correlated EXISTS — an independent formulation, so
# the hash checks semantics, not the window trick. Equal-microsecond
# purchase/click collisions sort with the purchase AFTER the click
# (kind tiebreak), matching the oracle's strict p.t > c.t on both sides.
_ABANDON_ORACLE = """
WITH e AS MATERIALIZED (
    SELECT user_id, event_id, EPOCH_US(ts) AS t, event_type
    FROM events WHERE event_type IN ('click', 'purchase')
), c AS MATERIALIZED (
    SELECT user_id, t FROM e WHERE event_type = 'click'
), a AS (
    SELECT c.user_id,
           CASE WHEN EXISTS (
               SELECT 1 FROM e p
               WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
                 AND p.t > c.t AND p.t <= c.t + 604800000000
           ) THEN 0 ELSE 1 END AS ab
    FROM c
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST(SUM(ab) AS BIGINT) AS n_abandoned,
       CAST((2 * SUM(ab) * 1000000 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS rate_micro
FROM a GROUP BY user_id ORDER BY user_id
"""


@register("q261_abandoned_clicks", oracle=_ABANDON_ORACLE)
def q261(events):
    """7-day abandonment per user, join-free: next-purchase carry-back
    through one descending user window; rate round-half-up in integer
    micro-units."""
    e = (
        events
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("kind"),
        )
        .withColumn(
            "pts", F.when(F.col("kind") == 1, F.col("t")).cast("bigint")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("t"), F.asc("kind"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = (
        e.withColumn("next_pt", F.min("pts").over(w))
        .where(F.col("kind") == 0)
        .select(
            "user_id",
            (
                F.col("next_pt").isNull()
                | (F.col("next_pt") > F.col("t") + F.lit(604800000000))
            )
            .cast("long")
            .alias("ab"),
        )
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_clicks"),
            F.sum("ab").cast("bigint").alias("n_abandoned"),
        )
        .select(
            "user_id",
            "n_clicks",
            "n_abandoned",
            F.expr(
                f"CAST({rhu('n_abandoned * 1000000', 'n_clicks')} AS BIGINT)"
            ).alias("rate_micro"),
        )
        .orderBy("user_id")
    )


# ---------- q262: deterministic negative sampling (contrastive/recsys)

# k=3 negative items per user for implicit-feedback training: 8 md5-
# derived candidate slots per user, observed (user, item) interactions
# anti-joined away, first 3 survivors kept in slot order. Everything is
# hash-derived so both engines draw the SAME "random" candidates; at
# 100 TB the candidate frame is |users| x 8 and the anti-join shuffles
# on (user, item) — no per-item fan-out, no rejection loop.
_NEGSAMPLE_ORACLE = """
WITH inter AS MATERIALIZED (
    SELECT DISTINCT user_id,
           CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS item
    FROM events WHERE event_type = 'purchase'
), users AS (
    SELECT DISTINCT user_id FROM inter
), cand AS (
    SELECT u.user_id, s.slot,
           ('0x' || SUBSTR(MD5(u.user_id || '_' || s.slot), 1, 15))::BIGINT % 100
               AS item
    FROM users u, (SELECT UNNEST(range(0, 8)) AS slot) s
), dedup AS (
    SELECT user_id, item, MIN(slot) AS slot FROM cand GROUP BY 1, 2
), neg AS (
    SELECT d.user_id, d.item, d.slot
    FROM dedup d ANTI JOIN inter i
      ON i.user_id = d.user_id AND i.item = d.item
), r AS (
    SELECT user_id, item, slot,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slot, item) AS rnk
    FROM neg
)
SELECT user_id, CAST(rnk AS INT) AS rnk, item
FROM r WHERE rnk <= 3 ORDER BY user_id, rnk
"""


@register("q262_negative_sampling", oracle=_NEGSAMPLE_ORACLE)
def q262(spark, events):
    """Hash-deterministic negative sampling: md5 slots -> candidate
    items, observed interactions removed by anti-join, top-3 in slot
    order."""
    inter = (
        events.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        )
        .distinct()
    )
    users = inter.select("user_id").distinct()
    slots = spark.range(8).select(F.col("id").cast("bigint").alias("slot"))
    cand = users.crossJoin(F.broadcast(slots)).select(
        "user_id",
        "slot",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", F.col("user_id"), F.col("slot"))), 1, 15
                ),
                16,
                10,
            ).cast("bigint")
            % 100
        ).alias("item"),
    )
    dedup = cand.groupBy("user_id", "item").agg(F.min("slot").alias("slot"))
    neg = dedup.join(inter, ["user_id", "item"], "left_anti")
    w = Window.partitionBy("user_id").orderBy("slot", "item")
    return (
        neg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("user_id", F.col("rnk").cast("int"), "item")
        .orderBy("user_id", "rnk")
    )


# ---------- q263: per-source MinHash sketch overlap (mergeable sketch)

# Cross-source corpus overlap from MERGED MinHash sketches: the merged
# signature of a source is the elementwise min over its docs — but min
# of mins is just min, so the whole source sketches in ONE pass over
# shingle hashes (groupBy(source), 8 XOR-min aggregates, map-side
# combinable) without ever materializing per-doc signatures. The
# pairwise stage compares |sources|^2/2 signature rows — dimension-
# sized, both sides broadcast. Output is the exact integer match count
# (0..8) per source pair: the Jaccard estimate without a division.
_SRC_SKETCH_ORACLE = """
WITH toks AS (
    SELECT source,
           LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), t -> LENGTH(t) > 0) AS tk
    FROM documents
), sh AS (
    SELECT source,
           LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - 1, 1)),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sg
    FROM toks
), x AS (
    SELECT source, ('0x' || SUBSTR(MD5(UNNEST(sg)), 1, 15))::BIGINT AS h FROM sh
), sig AS MATERIALIZED (
    SELECT source,
           {mins}
    FROM x GROUP BY source
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST({cmps} AS INT) AS n_match
FROM sig a JOIN sig b ON a.source < b.source
ORDER BY src_a, src_b
""".format(
    mins=",\n           ".join(
        f"MIN(XOR(h, {seed})) AS mh{j}" for j, seed in enumerate(T.MINHASH_SEEDS)
    ),
    cmps=" + ".join(
        f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)"
        for j in range(len(T.MINHASH_SEEDS))
    ),
)


@register("q263_source_sketch_overlap", oracle=_SRC_SKETCH_ORACLE)
def q263(documents):
    """Pairwise source-overlap estimates from one-pass merged MinHash
    sketches (min-of-mins), compared as exact integer match counts."""
    # plain explode (not _outer): a source whose docs all shingle to
    # empty must vanish on BOTH engines (the oracle's UNNEST drops it)
    sh = documents.select(
        "source", F.explode(T.shingles(T.tokens(F.col("text")), 3)).alias("s")
    ).select("source", T.shingle_hash60(F.col("s")).alias("h"))
    sig = sh.groupBy("source").agg(
        *[
            F.min(F.col("h").bitwiseXOR(F.lit(seed))).alias(f"mh{j}")
            for j, seed in enumerate(T.MINHASH_SEEDS)
        ]
    )
    a = sig.select(
        F.col("source").alias("src_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(len(T.MINHASH_SEEDS))],
    )
    b = sig.select(
        F.col("source").alias("src_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(len(T.MINHASH_SEEDS))],
    )
    match = None
    for j in range(len(T.MINHASH_SEEDS)):
        t = (F.col(f"a{j}") == F.col(f"b{j}")).cast("int")
        match = t if match is None else match + t
    return (
        a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
        .select("src_a", "src_b", match.cast("int").alias("n_match"))
        .orderBy("src_a", "src_b")
    )


# ---------- q264: custom Python Data Source (Spark 4 extension point)

# The round-trip proves the source, not just the API call: a slice of
# events is serialized to a line-oriented format Spark has no reader
# for, read back through sources/pyds.LineRecDataSource (one split per
# file, parsed inside executor Python workers), and aggregated — the
# oracle computes the same aggregate from the parquet directly, so a
# lost line, bad split, or parse drift hash-mismatches.
_PYDS_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM events WHERE event_id % 20 = 0
GROUP BY event_type ORDER BY event_type
"""


@register("q264_python_datasource", oracle=_PYDS_ORACLE)
def q264(spark, events):
    """Custom format round-trip through the Spark 4 Python Data Source
    API: write `event_id|user_id|event_type|cents` lines, scan them back
    with per-file splits executing in Python workers, aggregate."""
    from ..scratch import scratch_dir
    from ..sources import pyds

    sl = events.where(F.col("event_id") % 20 == 0).select(
        F.concat_ws(
            "|",
            "event_id",
            "user_id",
            "event_type",
            cents("value"),
        ).alias("value")
    )
    d = scratch_dir("q264_linerec")  # keyed: bench/sweep reps overwrite in place
    sl.write.mode("overwrite").text(d)
    pyds.register(spark)
    rec = spark.read.format("linerec").option("path", d).load()
    return (
        rec.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------- q265: correlated LATERAL subquery (top-k per dim row)

# The SQL-surface twin of q25's window top-k: per-nation top-2 customer
# balances through a correlated LATERAL derived table with ORDER BY +
# LIMIT. Catalyst decorrelates this into the same per-group limit
# machinery, so the declarative SQL and the window formulation meet in
# one plan family — both engines run the IDENTICAL SQL text.
_LATERAL_SQL = """
SELECT n.n_name, l.c_name, l.bal2
FROM nation n, LATERAL (
    SELECT c_name,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal2
    FROM customer WHERE c_nationkey = n.n_nationkey
    ORDER BY bal2 DESC, c_name LIMIT 2
) l
ORDER BY n.n_name, l.bal2 DESC, l.c_name
"""


@register("q265_lateral_topk", oracle=_LATERAL_SQL)
def q265(spark):
    """Correlated LATERAL (ORDER BY + LIMIT) top-2 balances per nation —
    same SQL text runs on both engines; unique (bal2, name) tiebreak."""
    return spark.sql(_LATERAL_SQL)


# ---------- q266: SQL pipe syntax + parameterized SQL (Spark 4)

# Q93's pricing summary restated in Spark 4 pipe syntax (FROM |> WHERE
# |> AGGREGATE ... GROUP BY |> ORDER BY) with the cutoff supplied as a
# NAMED PARAMETER (spark.sql(..., args=...)) — no string interpolation
# in the query text. Same logical plan as the ANSI form, which is
# exactly what the plain-SQL oracle proves.
_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q266_pipe_sql", oracle=_PIPE_ORACLE)
def q266(spark):
    """Pipe-syntax aggregation with a named parameter for the shipdate
    cutoff — Spark 4 SQL surface; decimal-cast factor sums as always."""
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= :cutoff
        |> AGGREGATE
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
             COUNT(*) AS n
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, sum_qty, sum_base, CAST(n AS BIGINT) AS n
        |> ORDER BY l_returnflag, l_linestatus
        """,
        args={"cutoff": "1998-09-02 00:00:00"},
    )


# ---------- q267: collation-aware grouping (Spark 4 COLLATE)

# Case-insensitive entity resolution WITHOUT normalizing the stored
# values: the group key carries UTF8_LCASE collation, so 'BLUE BOLT' and
# 'blue bolt' land in one group while the original variants stay
# countable. The emitted key is LOWER() of whichever representative the
# engine picked — deterministic even though the representative is not.
# The oracle proves UTF8_LCASE equivalence == LOWER() equality on this
# (ASCII) domain.
_COLLATE_ORACLE = """
WITH src AS (
    SELECT CASE WHEN p_partkey % 2 = 0 THEN UPPER(p_name) ELSE p_name END AS name
    FROM part
)
SELECT LOWER(name) AS lkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT name) AS BIGINT) AS n_variants
FROM src GROUP BY 1 ORDER BY lkey
"""


@register("q267_collated_groupby", oracle=_COLLATE_ORACLE)
def q267(spark):
    """GROUP BY under UTF8_LCASE collation (Spark 4 surface): binary-
    distinct case variants counted inside each case-insensitive group."""
    return spark.sql(
        """
        WITH src AS (
            SELECT CASE WHEN p_partkey % 2 = 0 THEN UPPER(p_name)
                        ELSE p_name END AS name
            FROM part
        )
        SELECT LOWER(CAST(key AS STRING)) AS lkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT name) AS BIGINT) AS n_variants
        FROM (SELECT name, COLLATE(name, 'UTF8_LCASE') AS key FROM src)
        GROUP BY key ORDER BY lkey
        """
    )


# ---------- q268: ANSI-safe arithmetic (try_divide — no crash, no 8)

# Spark 4 runs ANSI mode by default: a plain division by zero THROWS.
# The migration-safe form is try_divide, which yields NULL for the
# zero-denominator rows instead of failing the job — here per-user
# conversion (purchases/clicks: NULL for users who never clicked) and
# basket size (cents/purchases: NULL for never-purchasers). Ratios are
# emitted as RAW IEEE doubles — both engines divide the same exact
# integers once, so the bits match without ROUND (and ROUND would
# reintroduce dyadic ties: 1/128 = 0.0078125 sits exactly on a
# 7th-digit midpoint).
_TRYDIV_ORACLE = """
WITH u AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchases,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clicks,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS cents
    FROM events GROUP BY user_id
)
SELECT user_id, n_events, n_purchases, n_clicks, cents,
       CAST(n_purchases AS DOUBLE) / NULLIF(n_clicks, 0) AS conv,
       CAST(cents AS DOUBLE) / NULLIF(n_purchases, 0) AS avg_purchase
FROM u ORDER BY user_id
"""


@register("q268_try_arithmetic", oracle=_TRYDIV_ORACLE)
def q268(events):
    """try_divide under ANSI mode: NULL instead of a thrown job on
    zero denominators; raw bit-identical IEEE ratios of exact integers."""
    u = events.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("bigint")
        .alias("n_purchases"),
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("bigint")
        .alias("n_clicks"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                cents("value"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("cents"),
    )
    return u.select(
        "user_id",
        "n_events",
        "n_purchases",
        "n_clicks",
        "cents",
        F.try_divide(F.col("n_purchases").cast("double"), F.col("n_clicks")).alias(
            "conv"
        ),
        F.try_divide(F.col("cents").cast("double"), F.col("n_purchases")).alias(
            "avg_purchase"
        ),
    ).orderBy("user_id")


# ---------- q269: NDCG@10 retrieval-quality metric (exact integers)

# The ranking-metric member of the eval family (q207 AUC, q242
# calibration, q206 lift): per query vector, rank the corpus by rounded
# cosine, score label-match relevance with DISCRETIZED log weights —
# w(r) = round(1e6/log2(r+1)) precomputed as integer LITERALS in both
# query texts — so no transcendental is evaluated at runtime and
# DCG/IDCG/NDCG are exact integer arithmetic end to end (engine log2
# implementations can differ in the last ulp; baked-in weights cannot).
# IDCG uses min(n_relevant, 10) ideal slots via the prefix-sum literals.
_DCG_W = [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465, 301030, 289065]
_DCG_P = [1000000, 1630930, 2130930, 2561607, 2948460, 3304667, 3638000, 3953465, 4254495, 4543560]

_W_CASE = "CASE rnk " + " ".join(
    f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_DCG_W)
) + " END"
_P_CASE = "CASE LEAST(n_rel, 10) " + " ".join(
    f"WHEN {i + 1} THEN {p}" for i, p in enumerate(_DCG_P)
) + " END"

_NDCG_ORACLE = f"""
WITH q AS MATERIALIZED (
    SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qe
    FROM embeddings WHERE vec_id % 1000 = 0
), s AS (
    SELECT q.qid, q.qlabel, e.vec_id, e.label,
           ROUND({cosine_duck('e.embedding::DOUBLE[]', 'q.qe')}, 4) AS sim
    FROM embeddings e JOIN q ON e.vec_id <> q.qid
), r AS (
    SELECT qid, qlabel, label, sim,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
    FROM s
), dcg AS (
    SELECT qid,
           CAST(SUM(CASE WHEN label = qlabel THEN {_W_CASE} ELSE 0 END)
                AS BIGINT) AS dcg_micro
    FROM r WHERE rnk <= 10 GROUP BY qid
), nr AS (
    SELECT q.qid, CAST(COUNT(*) AS BIGINT) AS n_rel
    FROM q JOIN embeddings e ON e.label = q.qlabel AND e.vec_id <> q.qid
    GROUP BY q.qid
)
SELECT d.qid, nr.n_rel, d.dcg_micro,
       CAST((2 * d.dcg_micro * 1000000 + {_P_CASE})
            // (2 * ({_P_CASE})) AS BIGINT) AS ndcg_micro
FROM dcg d JOIN nr ON nr.qid = d.qid
WHERE nr.n_rel > 0
ORDER BY d.qid
"""


@register("q269_ndcg_at_k", oracle=_NDCG_ORACLE)
def q269(embeddings):
    """NDCG@10 over label-relevance retrieval: broadcast query side,
    rounded-cosine ranking, integer-literal log weights — the metric is
    exact integer arithmetic, reported round-half-up in micro-units."""
    q = embeddings.where(F.col("vec_id") % 1000 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        V.norm(F.col("embedding")).alias("qn"),
    )
    s = embeddings.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "qlabel",
        "vec_id",
        "label",
        V.cosine_pre(F.col("embedding"), F.col("qe"), F.col("qn")).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    ranked = s.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 10)
    dcg = ranked.groupBy("qid").agg(
        F.sum(
            F.when(F.col("label") == F.col("qlabel"), F.expr(_W_CASE)).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_micro")
    )
    lc = embeddings.groupBy("label").agg(F.count("*").alias("cnt"))
    nr = (
        q.join(F.broadcast(lc), F.col("label") == F.col("qlabel"))
        .select("qid", (F.col("cnt") - 1).cast("bigint").alias("n_rel"))
    )
    return (
        dcg.join(nr, "qid")
        .where(F.col("n_rel") > 0)
        .select(
            "qid",
            "n_rel",
            "dcg_micro",
            F.expr(
                f"CAST({rhu('dcg_micro * 1000000', f'({_P_CASE})')} AS BIGINT)"
            ).alias("ndcg_micro"),
        )
        .orderBy("qid")
    )
