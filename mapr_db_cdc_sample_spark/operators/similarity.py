"""Vectorized (Arrow/NumPy) cosine similarity kernels: one scorer, one
top-k cell, one top-k reduce.

Scorer: ``_cos_s4`` turns two vector blocks into round(cosine, 4) as
int64 in 1e-4 units, ties half away from zero (Spark's HALF_UP ROUND and
DuckDB's ROUND agree on that tie class; np.round is half-to-even). A
zero-norm vector's NaN cosine scores ``_NAN_S4``, above every real
cosine, as NaN sorts in Spark and DuckDB. ``_sim`` turns scores into the
double ``sim`` column (NaN for the sentinel). Rankings compare exact
ints, so partitioning can never reorder ties.

Cell kernels run as one ``applyInPandas`` group per bounded (anchor ×
candidate) cell of a grid, unpacked by ``_cell_sides``:

- ``knn_block_topk``: ``_block_grid`` → ``_topk_cell`` → ``_topk_reduce``;
- ``ann_hard_negatives``: ``_ivf_probe_grid`` → the same top-k cell with
  k=1 across labels → the same reduce;
- ``sim_block_pairs``: ``_block_grid`` → a threshold selection.

``topk_cosine_pandas`` scores one query vector through the same scorer.
Results equal the all-pairs SQL twins' after round(4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import pin

#: score of a NaN cosine (a zero-norm vector): real 1e4-scaled cosines
#: lie in [-10000, 10000], and both SQL engines rank NaN greatest
_NAN_S4 = 10001


def _cos_s4(a: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(len(a), len(c)) int64 scores: round(cosine(a_i, c_j), 4) · 1e4,
    exact-midpoint ties away from zero, NaN → ``_NAN_S4``."""
    with np.errstate(invalid="ignore", divide="ignore"):
        raw = (a @ c.T) / (
            np.sqrt((a * a).sum(axis=1))[:, None]
            * np.sqrt((c * c).sum(axis=1))[None, :]
        )
        s4 = np.trunc(raw * 1e4 + np.copysign(0.5, raw))
    return np.where(np.isfinite(s4), s4, _NAN_S4).astype(np.int64)


def _sim(s4: np.ndarray) -> pd.api.extensions.ExtensionArray:
    """The ``sim`` output column of scores from ``_cos_s4``: NaN for
    ``_NAN_S4``, as an Arrow-backed array. PySpark's pandas→Arrow
    conversion turns a NumPy column's NaN into NULL, and NULL sorts
    LAST under ``sim DESC`` where NaN sorts first."""
    return pd.arrays.ArrowExtensionArray(
        pa.array(np.where(s4 == _NAN_S4, np.nan, s4 / 1e4))
    )


def cosine_to_query_udf(query_vec: list[float]):
    """Build a pandas_udf computing cosine(embedding, query) in float64.
    The query vector is closed over → serialized once per task, not per
    row; batches arrive as Arrow arrays."""
    q = np.asarray(query_vec, dtype=np.float64)[None, :]

    @pandas_udf("double")
    def cos(batch: pd.Series) -> pd.Series:
        m = np.vstack(batch.map(lambda a: np.asarray(a, dtype=np.float64)))
        return pd.Series(_sim(_cos_s4(m, q)[:, 0]))

    return cos


def topk_cosine_pandas(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Exact top-k cosine via the Arrow kernel (same semantics as
    q38_cosine_topk; one driver-side 64-float fetch for the query)."""
    qrow = embeddings.where(F.col("vec_id") == query_vec_id).select("embedding").head()
    cos = cosine_to_query_udf(list(qrow[0]))
    return (
        embeddings.where(F.col("vec_id") != query_vec_id)
        .select("vec_id", cos(F.col("embedding")).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(k)
    )


#: max vectors per block in the blocked kNN kernel — bounds a single
#: task's matmul to BLOCK×BLOCK (~128MB of float64 sims at 4096) and a
#: single group's Arrow payload to 2·BLOCK vectors, independent of
#: dataset size.
KNN_BLOCK_SIZE = 4096

#: anchors per slab inside a cell: every temporary stays ~STRIP×m and
#: freed slabs are recycled instead of faulting fresh pages (a
#: first-touch 128 MB NumPy alloc cost ~10 s on a demand-paging host, a
#: warm one 13 ms), so per-task memory stays ~16 MB at any block_size.
_STRIP = 512


def _cell_sides(pdf: pd.DataFrame):
    """(a_ids, a_lab, a_mat, c_ids, c_lab, c_mat) of one grid cell, the
    candidates sorted by id so that position order is id order; None
    when either side is empty."""
    sides = []
    for flag in (1, 0):
        p = pdf[pdf["is_anchor"] == flag]
        if p.empty:
            return None
        sides.append(
            (
                p["vec_id"].to_numpy(dtype=np.int64),
                p["label"].to_numpy(dtype=np.int64),
                np.vstack(
                    p["embedding"].map(lambda x: np.asarray(x, dtype=np.float64))
                ),
            )
        )
    (a_ids, a_lab, a_mat), (c_ids, c_lab, c_mat) = sides
    order = np.argsort(c_ids, kind="stable")
    return a_ids, a_lab, a_mat, c_ids[order], c_lab[order], c_mat[order]


_TOPK_SCHEMA = "anchor bigint, la bigint, neighbor bigint, lb bigint, sim double"


def _topk_cell(
    k: int,
    cross_label_only: bool = False,
    same_label_only: bool = False,
    metric: str = "cosine_r4",
):
    """The ``applyInPandas`` function ``cell``: per anchor of one grid
    cell, its top-k candidates (never itself) as ``_TOPK_SCHEMA`` rows.

    Ranking key: packed (score, position) int64. Candidates are sorted
    by id, so the low POS_BITS encode the id ASC tiebreak exactly, and
    argpartition/argsort run all-C along axis=1 (a per-anchor Python
    lexsort loop was ~90% of cell CPU at sf1: 35 s vs 2 s of matmul).
    POS_BITS=17 bounds cells to 131072 candidates; the score field then
    needs |score| < 2^46 ≈ 7e13, which holds for cosine scores and for
    sqeuclid milli distances (<= ~2e13 per the metric contract)."""
    POS_BITS = 17
    BAD = np.iinfo(np.int64).max

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        sides = _cell_sides(pdf)
        if sides is None:
            return pd.DataFrame({c: [] for c in ("anchor", "la", "neighbor", "lb", "sim")})
        a_ids, a_lab, a_mat, c_ids, c_lab, c_mat = sides
        m = len(c_ids)
        # block_size is a public parameter and hash skew is unguarded:
        # a cell with >= 2^POS_BITS candidates would silently overflow
        # the position bits into the score field and corrupt the top-k
        # ranking — fail loudly instead
        if m >= (1 << POS_BITS):
            raise ValueError(
                f"candidate block holds {m} vectors >= 2^{POS_BITS} "
                f"= {1 << POS_BITS}; packed (score, pos) ranking keys "
                "would overflow — lower block_size (or raise POS_BITS)"
            )
        pos = np.arange(m, dtype=np.int64)
        kk = min(k, m)
        if metric == "sqeuclid_milli":
            # round HALF AWAY FROM ZERO, as both SQL ROUNDs do on exact
            # .5 ties (float32 odd multiples of 1/16 land on them); keep
            # the quantized vectors in FLOAT64: every product and 64-term
            # dot stays an exact integer below 2^53 (milli values^2 · dim
            # <= ~2e13 per the metric contract), and the cross-term runs
            # through BLAS dgemm — an int64 matmul falls back to NumPy's
            # naive loop, ~20x slower per cell
            qa_all, qc = (np.trunc(x * 1000 + np.copysign(0.5, x)) for x in (a_mat, c_mat))
            qc_sq = (qc * qc).sum(axis=1)
        frames = []
        for s in range(0, len(a_ids), _STRIP):
            sl = slice(s, s + _STRIP)
            ids_s, lab_s = a_ids[sl], a_lab[sl]
            if metric == "sqeuclid_milli":
                qa = qa_all[sl]
                score = (
                    (qa * qa).sum(axis=1)[:, None]
                    + qc_sq[None, :]
                    - 2 * (qa @ qc.T)
                ).astype(np.int64)  # exact integer-valued doubles -> int64
                key = (score << POS_BITS) + pos[None, :]
            else:
                score = _cos_s4(a_mat[sl], c_mat)
                key = ((-score) << POS_BITS) + pos[None, :]  # sim DESC, id ASC
            bad = c_ids[None, :] == ids_s[:, None]
            if cross_label_only:
                bad |= c_lab[None, :] == lab_s[:, None]
            elif same_label_only:
                bad |= c_lab[None, :] != lab_s[:, None]
            key[bad] = BAD
            if kk < m:
                part = np.argpartition(key, kk - 1, axis=1)[:, :kk]
            else:
                part = np.broadcast_to(pos[None, :], key.shape)
            sub = np.take_along_axis(key, part, axis=1)
            ord2 = np.argsort(sub, axis=1, kind="stable")[:, :kk]
            idx = np.take_along_axis(part, ord2, axis=1)
            chosen = np.take_along_axis(key, idx, axis=1)
            rows, cols = np.nonzero(chosen != BAD)
            sel = idx[rows, cols]
            frames.append(
                pd.DataFrame(
                    {
                        "anchor": ids_s[rows],
                        "la": lab_s[rows],
                        "neighbor": c_ids[sel],
                        "lb": c_lab[sel],
                        "sim": score[rows, sel],
                    }
                )
            )
        out = pd.concat(frames, ignore_index=True)
        score = out["sim"].to_numpy()
        out["sim"] = score.astype(np.float64) if metric == "sqeuclid_milli" else _sim(score)
        return out

    return cell


def _topk_reduce(per_cell: DataFrame, k: int, metric: str = "cosine_r4") -> DataFrame:
    """Global top-k per anchor from the per-cell top-k rows. The ranking
    (score, then neighbor id ASC) is a total order, so every global
    top-k row is inside its own cell's top-k and the reduce is exact."""
    order = (
        [F.col("sim").asc(), F.col("neighbor")]
        if metric == "sqeuclid_milli"
        else [F.col("sim").desc(), F.col("neighbor")]
    )
    w = Window.partitionBy("anchor").orderBy(*order)
    return (
        per_cell.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def _block_grid(
    embeddings: DataFrame, block_size: int, per_label: bool, need_max: bool = True
):
    """Shared (anchor-block × candidate-block) grid for the blocked
    similarity kernels: every vector is hashed into one of nb blocks and
    replicated across the other side's blocks, so each group holds one
    bounded cell. With ``per_label`` the label joins the group key
    (cells never cross labels) and each label gets its OWN block count
    ceil(n_label/block_size) — a vector is replicated only across its
    own label's blocks, so skewed label distributions pay
    Σ n_label·nb_label duplicated rows, not n·nb_max (the r10 form
    sized every label from the LARGEST one). Otherwise nb comes from n.
    Returns (unioned frame, keys, max nb across groups)."""
    base = embeddings.select("vec_id", "label", "embedding")
    if per_label:
        keys = ["label", "a_blk", "c_blk"]
        nbl = (
            embeddings.groupBy("label")
            .count()
            .select(
                "label",
                F.greatest(
                    F.lit(1), F.ceil(F.col("count") / F.lit(block_size))
                )
                .cast("int")
                .alias("nb"),
            )
        )
        # the max-nb driver action is an EXTRA eager pass over the
        # embeddings (the per-label counts are recomputed lazily inside
        # the broadcast join anyway) — callers that never branch on nb
        # (sim_block_pairs) skip it (guide §1.2: don't compute what you
        # throw away)
        if need_max:
            mx = nbl.agg(F.max("nb")).head()[0] or 1
            nb = int(mx)
        else:
            nb = 2  # sentinel > 1; only the nb==1 shortcut consumers care
        base = base.join(F.broadcast(nbl), "label")
        nb_col = F.col("nb")
    else:
        keys = ["a_blk", "c_blk"]
        n = embeddings.count()
        nb = max(1, -(-n // block_size))  # ceil; same for both sides
        nb_col = F.lit(nb)
    grid = F.explode(F.sequence(F.lit(0), nb_col - 1))
    blk = F.pmod(F.hash("vec_id"), nb_col)  # deterministic murmur3
    anchors = base.select(
        blk.alias("a_blk"),
        grid.alias("c_blk"),
        F.lit(1).alias("is_anchor"),
        "vec_id",
        "label",
        "embedding",
    )
    cands = base.select(
        grid.alias("a_blk"),
        blk.alias("c_blk"),
        F.lit(0).alias("is_anchor"),
        "vec_id",
        "label",
        "embedding",
    )
    return anchors.unionByName(cands), keys, nb


def knn_block_topk(
    embeddings: DataFrame,
    k: int,
    cross_label_only: bool = False,
    same_label_only: bool = False,
    block_size: int = KNN_BLOCK_SIZE,
    metric: str = "cosine_r4",
) -> DataFrame:
    """Exact brute-force kNN as (anchor, la, neighbor, lb, sim) top-k
    rows per anchor — DISTRIBUTED block-nested-loop form.

    Anchors and candidates are each hashed into ceil(n/block_size)
    blocks by ``vec_id % B``; every (anchor-block × candidate-block)
    cell is ONE ``applyInPandas`` group that does a single NumPy matmul
    (≤ block_size² sims) and emits that cell's per-anchor top-k
    (``_topk_cell``); ``_topk_reduce`` then keeps the global top-k per
    anchor, so the hashes match the all-pairs SQL twins (q492/q512).

    ``metric`` selects the scoring contract: ``cosine_r4`` (default)
    ranks by round(cosine, 4) DESC then neighbor id — the q492/q512
    twins; ``sqeuclid_milli`` quantizes vectors to integer MILLI inside
    the cell and ranks by the EXACT int64 squared euclidean distance
    ASC then neighbor id (dot products <= ~2e13 stay exact in int64 and
    in the double-typed `sim` column) — the q576 LOF twin.

    Scale posture: no driver collect, no O(dataset) closure/broadcast.
    Shuffle volume is n·(B_a + B_c) vector rows into the grid plus
    n·B_c·k scored rows out of it, and per-task memory is bounded by
    ``block_size`` regardless of n. At fleet scale an IVF index
    (``ann_hard_negatives``) replaces this exact baseline; this kernel
    is the recall oracle for it.

    ``same_label_only`` restricts anchors and candidates to the SAME
    label (the q286 graph contract, the complement of
    ``cross_label_only``): the label joins the grid key, so each cell
    holds one label's block pair and the matmul never crosses labels —
    per-cell work drops from n² to Σ n_label²."""
    if cross_label_only and same_label_only:
        raise ValueError("cross_label_only and same_label_only are exclusive")
    gridded, keys, nb = _block_grid(embeddings, block_size, same_label_only)
    per_cell = gridded.groupBy(*keys).applyInPandas(
        _topk_cell(k, cross_label_only, same_label_only, metric), _TOPK_SCHEMA
    )
    if nb == 1:
        # single candidate block: each cell's top-k IS the global top-k
        return per_cell
    return _topk_reduce(per_cell, k, metric)


def sim_block_pairs(
    embeddings: DataFrame,
    threshold: float,
    same_label_only: bool = True,
    block_size: int = KNN_BLOCK_SIZE,
) -> DataFrame:
    """All pairs (vec_a < vec_b, sim) with round(cosine, 4) > threshold
    — the thresholded sibling of knn_block_topk on the same
    ``_block_grid``. Each cell is one bounded NumPy matmul and only the
    pairs ABOVE threshold (output-proportional) ever become rows; a
    row-expanded same-label self-join would shuffle Σ n_label² pair
    rows. A pair (u, v) with u < v is emitted exactly once — by the
    single cell (blk(u), blk(v)) whose anchor side holds u — so no
    cross-cell dedup is needed. Pair set and round(4) sims equal the
    self-join's, so the all-pairs oracles (q51/q280) prove exactness
    at every SF."""
    gridded, keys, _nb = _block_grid(
        embeddings, block_size, same_label_only, need_max=False
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        sides = _cell_sides(pdf)
        if sides is None:
            return pd.DataFrame({c: [] for c in ("vec_a", "vec_b", "sim")})
        a_ids, a_lab, a_mat, c_ids, c_lab, c_mat = sides
        frames = []
        for s in range(0, len(a_ids), _STRIP):
            sl = slice(s, s + _STRIP)
            s4 = _cos_s4(a_mat[sl], c_mat)
            # a NaN (zero-norm) sim ranks above any threshold: keep it
            ii, jj = np.nonzero((s4 / 1e4 > threshold) | (s4 == _NAN_S4))
            ids_s, lab_s = a_ids[sl], a_lab[sl]
            keep = ids_s[ii] < c_ids[jj]
            if same_label_only:
                keep &= lab_s[ii] == c_lab[jj]
            ii, jj = ii[keep], jj[keep]
            frames.append(
                pd.DataFrame(
                    {"vec_a": ids_s[ii], "vec_b": c_ids[jj], "sim": s4[ii, jj]}
                )
            )
        out = pd.concat(frames, ignore_index=True)
        out["sim"] = _sim(out["sim"].to_numpy())
        return out

    return gridded.groupBy(*keys).applyInPandas(
        cell, "vec_a bigint, vec_b bigint, sim double"
    )


# --------------------------- IVF-probed hard negatives (q492's scale path)


def _ivf_probe_grid(
    embeddings: DataFrame,
    cell_rows: int = 256,
    n_probe: int = 8,
    train_iters: int = 2,
    train_sample: int = 32768,
):
    """Build the (cell, sub)-keyed union frame the ANN hard-negative
    kernel groups over — exposed separately so tests can assert the
    per-group candidate bound directly.

    IVF layout: C = ceil(n / cell_rows) coarse centroids trained with
    Lloyd iterations (operators/kmeans._assign/_recompute, on a
    deterministic <= train_sample-row stride sample so training cost is
    bounded regardless of n); every vector's CELL is its most-cosine-
    similar centroid, and as an ANCHOR it probes its top-``n_probe``
    cells. Membership and probing share the cosine metric (the search
    metric), so an anchor's own cell is always probes[0]. Oversized
    cells are split into ceil(cnt / cell_rows) sub-blocks by vec_id
    hash — candidates split, anchor probes replicate across subs — so a
    single task's matmul stays bounded no matter how skewed the
    k-means assignment comes out (the per-label grid lesson,
    _block_grid). Returns (union_frame, n_cells, n_probe_effective)."""
    from .kmeans import _assign, _recompute

    base = embeddings.select(
        "vec_id", F.col("label").cast("bigint").alias("label"), "embedding"
    )
    n = base.count()
    n_cells = max(1, -(-n // cell_rows))
    p = min(n_probe, n_cells)

    # ---- train coarse centroids on a deterministic stride sample
    stride = max(1, n // max(train_sample, 4 * n_cells))
    sample = base.where(F.col("vec_id") % stride == 0).select(
        "vec_id", "embedding"
    )
    dim = len(base.select("embedding").head()[0])
    init = (
        sample.orderBy("vec_id")
        .limit(n_cells)
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("e"))
        .collect()
    )
    centroids = [(i, list(r.e)) for i, r in enumerate(init)]
    for _ in range(train_iters):
        centroids, _inertia = _recompute(_assign(sample, centroids), dim)

    # ---- one Arrow pass: top-p cells per vector by rounded cosine
    # (ties -> lowest cell id via lexsort), cell membership = probes[0]
    C = np.array([c for _, c in centroids], dtype=np.float64)
    cids = np.array([int(i) for i, _ in centroids], dtype=np.int64)

    @pandas_udf("array<int>")
    def probes(batch: pd.Series) -> pd.Series:
        X = np.vstack(batch.map(lambda a: np.asarray(a, dtype=np.float64)))
        # sim DESC, centroid id ASC — packed key, all-C argsort
        key = (-_cos_s4(X, C) << 20) + np.arange(len(cids))[None, :]
        top = np.argsort(key, axis=1, kind="stable")[:, : int(p)]
        return pd.Series(list(cids[top].astype(np.int32)))

    assigned = base.select(
        "vec_id", "label", "embedding", probes("embedding").alias("pc")
    ).transform(pin)

    # ---- sub-block split of oversized cells (bounded per-task matmul)
    cand0 = assigned.select(
        F.col("pc")[0].alias("cell"), "vec_id", "label", "embedding"
    )
    counts = cand0.groupBy("cell").agg(
        F.greatest(
            F.lit(1), F.ceil(F.count("*") / F.lit(cell_rows))
        )
        .cast("int")
        .alias("nbs")
    )
    cand = (
        cand0.join(F.broadcast(counts), "cell")
        .select(
            "cell",
            F.pmod(F.hash("vec_id"), F.col("nbs")).alias("sub"),
            F.lit(0).alias("is_anchor"),
            "vec_id",
            "label",
            "embedding",
        )
    )
    anchors = (
        assigned.select(
            F.explode("pc").alias("cell"), "vec_id", "label", "embedding"
        )
        .join(F.broadcast(counts), "cell")
        .select(
            "cell",
            F.explode(F.sequence(F.lit(0), F.col("nbs") - 1)).alias("sub"),
            F.lit(1).alias("is_anchor"),
            "vec_id",
            "label",
            "embedding",
        )
    )
    return cand.unionByName(anchors), n_cells, p



def ann_hard_negatives(
    embeddings: DataFrame,
    cell_rows: int = 256,
    n_probe: int = 8,
    train_iters: int = 2,
    train_sample: int = 32768,
) -> DataFrame:
    """IVF-probed hard-negative mining — the runnable SCALE path for
    q492's exact cross-label all-pairs contract (whose oracle IS
    quadratic: 10x data = 100x sims). Per anchor, the most-similar
    DIFFERENT-label vector among the candidates in its ``n_probe``
    nearest IVF cells; q492's exact kernel (knn_block_topk
    cross_label_only) is the recall oracle, asserted in
    tests/test_llm_ops.py the same way q54's BRP-LSH lane is gated on
    q38. Work is n·n_probe·cell_rows·dim — LINEAR in n with fixed
    probe count and cell size (C grows with n), vs the oracle's n²·dim.

    The exact kernel's top-k cell (k=1, cross-label) and reduce run
    over the IVF grid instead of the block grid, so scoring, ties and
    the zero-norm NaN rule are the exact kernel's. Returns (anchor, la,
    hard_neg, lb, sim) for every anchor with at least one cross-label
    candidate in a probed cell."""
    gridded, _n_cells, _p = _ivf_probe_grid(
        embeddings, cell_rows, n_probe, train_iters, train_sample
    )
    per_cell = gridded.groupBy("cell", "sub").applyInPandas(
        _topk_cell(1, cross_label_only=True), _TOPK_SCHEMA
    )
    return _topk_reduce(per_cell, 1).withColumnRenamed("neighbor", "hard_neg")
