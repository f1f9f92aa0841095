"""Scale rehearsal: run the most expensive queries at sf0.1 AND the
local sf1 slice (tools/make_sf1.py, 10x) and record the scaling ratio.

Round-8 verdict task 5: the 100 TB posture claims rested on plan shape;
this measures one decade of actual scaling. A query whose time grows
~linearly (ratio ~<= 12-15x at 10x data on a fixed 32-thread box,
allowing for reduced per-task overhead amortization) is behaving; a
ratio far above that flags a super-linear step (quadratic candidate
volume, driver choke, spill).

Writes BENCH_SF1.json: per-query {sf0.1, sf1, ratio} + notes.

Usage: python tools/bench_sf1.py [query ...]   (default: the pinned set)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_queries  # noqa: E402
from mapr_db_cdc_sample_spark.queries import load_all  # noqa: E402

# top-20 of BENCH_FULL_r8 + the iterative/graph family + the kNN kernel
# (q492/q512) the round-8 verdict flagged, deduped
QUERIES = [
    "q280_semantic_dedup",
    "q320_label_propagation",
    "q436_substring_dup_profile",
    "q215_srp_lsh_cosine",
    "q292_theil_sen",
    "q253_bfs_hops",
    "q298_link_prediction",
    "q324_fs_linkage",
    "q299_k_core",
    "q461_rwr_proximity",
    "q53_minhash_lsh_ml",
    "q310_hof_suite",
    "q59_grouped_map",
    "q338_linear_interpolation",
    "q408_triad_census",
    "q286_knn_graph",
    "q85_dedup_corpus",
    "q160_pagerank",
    "q328_dynamic_partition_overwrite",
    "q476_butterfly_count",
    "q486_harmonic_closeness",
    "q508_dup_cluster_histogram",
    "q492_hard_negative_mining",
    "q512_knn_label_noise",
    # round-11: the sqeuclid kernel lane (kernel ran 3x before the
    # checkpoint; int64 matmul bypassed BLAS) gets a scale gate too
    "q576_lof_outliers",
    # round-12: the IVF-probed hard-negative lane — q492's runnable
    # scale path (fixed probe count + cell size -> linear work)
    "q592_ann_hard_negatives",
]

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata/sf1"
)


LOG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".localdata/bench_sf1_progress.jsonl",
)


def _load_done() -> dict:
    done = {}
    if os.path.exists(LOG):
        with open(LOG) as f:
            for line in f:
                try:
                    r = json.loads(line)
                    done[(r["sf"], r["name"])] = r["sec"]
                except Exception:
                    pass
    return done


def run_set(registry, sf_dir: str, names: list[str], tag: str) -> dict[str, float]:
    """One run per query (the heavy sf1 entries take 400-900 s each), the
    session recycled every 6 queries (one long sf1 session inflated later
    entries: q486 125.7 s in-session vs 8.2 s fresh). Every result is
    appended to LOG as it lands, and queries already in LOG are skipped,
    so a killed run loses at most the in-flight query (the first sf1
    attempt died inside a grep|tail pipe and lost 90 minutes of
    timings)."""
    done = _load_done()
    out = {n: done[(tag, n)] for n in names if (tag, n) in done}
    todo = [n for n in names if n not in out]
    if not todo:
        return out

    def record(name: str, sec: float) -> None:
        with open(LOG, "a") as f:
            f.write(json.dumps({"sf": tag, "name": name, "sec": sec}) + "\n")
        print(f"  {name}: {sec}s", flush=True)

    timings, _ = time_queries(
        registry, sf_dir, todo, runs=1, recycle=6, app="bench-sf1", on_result=record
    )
    return {**out, **timings}


def main() -> None:
    names = sys.argv[1:] or QUERIES
    registry = load_all()
    if not os.path.exists(os.path.join(SF1, "lineitem.parquet")):
        sys.exit("run tools/make_sf1.py first")
    print("== sf0.1 ==", flush=True)
    t01 = run_set(registry, SF01, names, "sf0.1")
    print("== sf1 ==", flush=True)
    t1 = run_set(registry, SF1, names, "sf1")
    rows = {
        n: {
            "sf0.1_s": t01[n],
            "sf1_s": t1[n],
            "ratio": round(t1[n] / max(t01[n], 1e-9), 1),
        }
        for n in names
    }
    payload = {
        "metric": "sf1_scale_rehearsal",
        "rep": 11,
        "note": (
            "local sf1 slice = tools/make_sf1.py 10x key-strided upsample of "
            "sf0.1 (word-shuffled doc reps, dim-permuted embedding reps so "
            "dedup/ANN candidate volume scales linearly); fixed local[32] "
            "box, one run per query; "
            "ratio ~<=15 at 10x data = scaling linearly. Two caveats "
            "(r11): the EXACT-kNN family (q492/q512/q576/q286) is "
            "declared quadratic — its oracle IS all-pairs, so 10x data "
            "= 100x sims and the linear envelope does not apply (the "
            "scale path is the IVF/LSH index: q52/q135 for retrieval "
            "and, since r12, q592_ann_hard_negatives for hard-negative "
            "mining — fixed probe count + cell size, measured 1.1x at "
            "10x, recall-gated on q492 in tests/test_llm_ops.py); and "
            "this sandbox demand-pages "
            "fresh memory at ~300us/page (see memory "
            "spark-graft-coldpage-vm), so absolute sf1 numbers swing "
            "2-3x with worker cold-start position — the ratio column "
            "computed same-day is the signal, not cross-round absolute "
            "deltas"
        ),
        "queries": rows,
        "total_sf0.1_s": round(sum(t01.values()), 1),
        "total_sf1_s": round(sum(t1.values()), 1),
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_SF1.json"), "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({n: rows[n]["ratio"] for n in names}))


if __name__ == "__main__":
    main()
