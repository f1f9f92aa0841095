"""Semantic guarantees of the corpus-prep operators (queries/corpus.py)
that the oracle hash can't express: redaction completeness, packing
budget invariants, decontamination recall/precision, sampler accuracy."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from mapr_db_cdc_sample_spark.queries import load_all
from mapr_db_cdc_sample_spark.queries.corpus import (
    _EMAIL_RE,
    _IP_RE,
    _PHONE_RE,
    _pii_corpus,
)

REGISTRY = load_all()


def test_pii_redaction_is_complete(spark, sf_dir):
    """After redaction NO pattern matches anywhere — the property a
    compliance pass actually needs (counting found-PII isn't enough)."""
    from mapr_db_cdc_sample_spark.io import load_tables

    c = _pii_corpus(load_tables(spark, sf_dir)["documents"])
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    residue = c.select(
        (
            F.regexp_count(red, F.lit(_EMAIL_RE))
            + F.regexp_count(red, F.lit(_PHONE_RE))
            + F.regexp_count(red, F.lit(_IP_RE))
        ).alias("n")
    ).agg(F.sum("n").alias("total"))
    assert residue.collect()[0].total == 0


def test_pii_counts_match_plant(spark, sf_dir):
    """Every 5th doc was planted with exactly one email+phone+IP; all
    other docs must report zero finds."""
    rows = REGISTRY["q88_pii_redaction"].fn(spark, sf_dir).collect()
    for r in rows:
        if r.doc_id % 5 == 0:
            assert (r.n_emails, r.n_phones, r.n_ips) == (1, 1, 1), r
        else:
            assert (r.n_emails, r.n_phones, r.n_ips) == (0, 0, 0), r


def test_sequence_packing_conserves_and_bounds(spark, sf_dir):
    """Packing must conserve docs/tokens exactly, and every sequence
    except a shard's last must have landed because the PREVIOUS content
    crossed the 1024 boundary — i.e. consecutive seq_ids per shard."""
    from mapr_db_cdc_sample_spark.io import load_tables
    from mapr_db_cdc_sample_spark.functions import text as T

    d = load_tables(spark, sf_dir)["documents"]
    exp = d.select(
        F.count("*").alias("docs"),
        F.sum(F.size(T.tokens(F.col("text")))).alias("toks"),
    ).collect()[0]
    rows = REGISTRY["q92_sequence_packing"].fn(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == exp.docs
    assert sum(r.sum_tokens for r in rows) == exp.toks
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[(r.lang, r.shard)].append(r.seq_id)
    for seqs in by_shard.values():
        seqs.sort()
        assert seqs == list(range(seqs[0], seqs[0] + len(seqs))), seqs
        assert seqs[0] == 0


def test_decontamination_recall_and_precision(spark, sf_dir):
    """Every planted doc (benchmark text appended) must be flagged
    against its source benchmark doc, and every flagged pair must
    GENUINELY share >= 10 distinct word-3-grams (re-verified in pure
    Python — the corpus has natural near-dups over its tiny vocab, so
    extra hits are legitimate but must never be hash artifacts)."""
    from mapr_db_cdc_sample_spark.io import load_tables

    d = load_tables(spark, sf_dir)["documents"]
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}
    planted = {
        (i + 2000000, (i % 6) * 97) for i in texts if i % 13 == 0
    }
    hits = {
        (r.doc_id, r.bench_id): r.n_shared
        for r in REGISTRY["q99_decontamination"].fn(spark, sf_dir).collect()
    }
    assert planted <= set(hits), f"missed {sorted(planted - set(hits))[:5]}"

    def grams(doc_id):
        if doc_id >= 2000000:
            base = doc_id - 2000000
            text = texts[base] + " " + texts[(base % 6) * 97]
        else:
            text = texts[doc_id]
        tk = [t for t in text.lower().split(" ") if t]
        return {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}

    for (a, b), n_shared in hits.items():
        true_shared = len(grams(a) & grams(b))
        assert true_shared == n_shared >= 10, (a, b, n_shared, true_shared)


def test_stratified_sample_hits_rates(spark, sf_dir):
    """Achieved per-lang rates must sit within a generous binomial
    envelope of the configured thresholds (md5 uniformity check)."""
    from mapr_db_cdc_sample_spark.io import load_tables
    from mapr_db_cdc_sample_spark.queries.corpus import _RATE24

    d = load_tables(spark, sf_dir)["documents"]
    totals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {
        r.lang: r.n
        for r in REGISTRY["q90_stratified_sample"]
        .fn(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang, n in totals.items():
        rate = _RATE24[lang] / 16777216.0
        got = kept.get(lang, 0) / n
        # 4-sigma binomial envelope (small strata are noisy)
        sigma = (rate * (1 - rate) / n) ** 0.5
        assert abs(got - rate) <= max(4 * sigma, 0.02), (lang, got, rate, n)


def test_training_order_is_seeded_permutation_prefix(spark, sf_dir):
    """q91 returns the lexicographically-first 256 hash keys; re-running
    must give the identical order (no RNG), and the keys must be the
    md5 of the seeded doc key."""
    import hashlib

    rows1 = REGISTRY["q91_training_order"].fn(spark, sf_dir).collect()
    rows2 = REGISTRY["q91_training_order"].fn(spark, sf_dir).collect()
    assert [r.doc_id for r in rows1] == [r.doc_id for r in rows2]
    for r in rows1[:10]:
        assert r.skey == hashlib.md5(f"epoch0-{r.doc_id}".encode()).hexdigest()
    keys = [r.skey for r in rows1]
    assert keys == sorted(keys)


def test_stream_quality_gate_matches_batch(spark, sf_dir):
    """q102's complete-mode streaming budget must equal the batch
    quality gate aggregated directly (stateless gate => stream==batch)."""
    from mapr_db_cdc_sample_spark.io import load_tables
    from mapr_db_cdc_sample_spark.queries.llm import quality_gated
    from mapr_db_cdc_sample_spark.queries.streamingq import _MAX_STREAM_EVENTS

    sliced = (
        load_tables(spark, sf_dir)["documents"]
        .orderBy("doc_id")
        .limit(_MAX_STREAM_EVENTS)
    )
    batch = {
        (r.lang, r.n_docs, r.sum_tokens)
        for r in quality_gated(sliced)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
        .collect()
    }
    streamed = {
        (r.lang, r.n_docs, r.sum_tokens)
        for r in REGISTRY["q102_stream_quality_gate"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_text_kernels_cross_engine_on_adversarial_strings(spark, duck):
    """Differential fuzz beyond the fixed corpus: normalize/tokens/PII
    regexes evaluated by BOTH engines on adversarial ASCII (regex
    metacharacters as literals, tab/CR/LF runs, TRIM edges, embedded
    emails/phones/IPs) must agree byte-for-byte — the engine contract
    the oracle gate rests on."""
    import random
    import string

    from mapr_db_cdc_sample_spark.queries.corpus import (
        _EMAIL_RE,
        _IP_RE,
        _PHONE_RE,
    )

    random.seed(7)
    alpha = (
        string.ascii_letters + string.digits + " \t.,-@%_+'\"()[]{}:;!?/\\#$&*=~^|<>\n\r"
    )
    cases = ["", " ", "  a  b ", "a\tb\nc", "\\s", ".*", "a" * 100,
             "mail x@y.zz or 555-1234 at 10.0.3.4", "x@@y..z 555-12345 10.0.999.1"]
    for _ in range(40):
        cases.append("".join(random.choice(alpha) for _ in range(random.randint(0, 50))))
    rows = [(i, c) for i, c in enumerate(cases)]
    from mapr_db_cdc_sample_spark.functions import text as T

    df = spark.createDataFrame(rows, "id int, t string")
    got = {
        r.id: (r.fp, r.ntok, r.ne, r.np, r.ni)
        for r in df.select(
            "id",
            F.md5(T.normalize(F.col("t"))).alias("fp"),
            F.size(T.tokens(F.col("t"))).alias("ntok"),
            F.regexp_count(F.col("t"), F.lit(_EMAIL_RE)).alias("ne"),
            F.regexp_count(F.col("t"), F.lit(_PHONE_RE)).alias("np"),
            F.regexp_count(F.col("t"), F.lit(_IP_RE)).alias("ni"),
        ).collect()
    }
    for i, c in rows:
        want = duck.execute(
            r"""SELECT MD5(regexp_replace(TRIM(LOWER(?)), '\s+', ' ', 'g')),
                       LEN(LIST_FILTER(STRING_SPLIT(LOWER(?), ' '), x -> LENGTH(x) > 0)),
                       LEN(regexp_extract_all(?, '{e}')),
                       LEN(regexp_extract_all(?, '{p}')),
                       LEN(regexp_extract_all(?, '{i}'))
            """.format(e=_EMAIL_RE, p=_PHONE_RE, i=_IP_RE),
            [c, c, c, c, c],
        ).fetchone()
        assert tuple(want) == got[i], (repr(c), want, got[i])


def test_rrf_fusion_semantics(spark, sf_dir):
    """A doc in both lists scores exactly 1/(60+r_sem)+1/(60+r_bm25);
    single-list docs score one term; output covers exactly the union of
    the two top-20s."""
    out = REGISTRY["q107_hybrid_rrf"].fn(spark, sf_dir).collect()
    assert out, "fusion returned no rows"
    ids = [r.doc_id for r in out]
    assert len(ids) == len(set(ids)), "duplicate doc in fusion output"
    for r in out:
        assert (r.r_sem > 0) or (r.r_bm25 > 0)
        want = (1.0 / (60 + r.r_sem) if r.r_sem else 0.0) + (
            1.0 / (60 + r.r_bm25) if r.r_bm25 else 0.0
        )
        assert abs(r.rrf - want) < 1e-6, (r, want)
    # fused order is rrf-desc with doc_id tiebreak
    keys = [(-r.rrf, r.doc_id) for r in out]
    assert keys == sorted(keys)


def test_token_entropy_bounds(spark):
    """Entropy is 0 for a constant doc, log2(n) for all-distinct tokens,
    and always within [0, log2(n_distinct)]."""
    import math

    rows = [
        (1, "spam spam spam spam"),
        (2, "a b c d e f g h"),
        (3, "x x y y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from mapr_db_cdc_sample_spark.functions import text as T

    tf = (
        df.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.col("c").cast("decimal(18,0)")
            * F.round(F.log2("c"), 6).cast("decimal(20,6)")
        ).alias("clog"),
    )
    ent = {
        r.doc_id: r.e
        for r in agg.select(
            "doc_id",
            F.round(
                F.round(F.log2(F.col("n").cast("double")), 6)
                - F.col("clog").cast("double") / F.col("n"),
                4,
            ).alias("e"),
        ).collect()
    }
    assert ent[1] == 0.0
    assert abs(ent[2] - 3.0) < 1e-4  # log2(8) over 8 distinct tokens
    assert abs(ent[3] - 1.0) < 1e-4  # two equiprobable tokens


def test_source_overlap_matrix_is_symmetric_free(spark, sf_dir):
    """Every pair appears once with source_a < source_b; Jaccard in
    (0, 1]; shared count never exceeds either side's total."""
    out = REGISTRY["q109_source_overlap"].fn(spark, sf_dir).collect()
    assert out, "no overlapping source pairs found"
    seen = set()
    for r in out:
        assert r.source_a < r.source_b
        assert (r.source_a, r.source_b) not in seen
        seen.add((r.source_a, r.source_b))
        assert 0 < r.n_shared <= min(r.n_a, r.n_b)
        assert 0 < r.jaccard <= 1.0


def test_perplexity_ranks_garbled_text_worse(spark):
    """A doc of corpus-typical bigrams must score lower NLL than a doc of
    bigrams the LM never saw — the property that makes the filter a
    quality signal. Built on a tiny inline corpus with one outlier."""
    rows = [(i, "the cat sat on the mat and the cat ran") for i in range(5)]
    rows.append((99, "zq xv qzx vxq zzq qvv xxz vqz zxq qqv"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    import mapr_db_cdc_sample_spark.queries.corpus as C

    out = {r.doc_id: r.avg_nll for r in C.q110(documents=df).collect()}
    assert out[99] > max(v for k, v in out.items() if k != 99)


def test_gap_fill_locf_semantics(spark):
    """Gap rows carry the last observed hourly sum forward; hours before
    a user's first event fill with 0; non-gap rows equal their own sum;
    every user covers the identical global hour spine."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 0, 30)
    rows = [
        (1, base, 1, 10.0),                              # u1 hour 0
        (2, base + dt.timedelta(hours=3), 2, 7.5),       # u2 hour 3 only
        (2, base + dt.timedelta(hours=3, minutes=10), 1, 2.5),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, v, "click", "{}") for i, (u, ts, _, v) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, value double, event_type string, props string",
    )

    import mapr_db_cdc_sample_spark.queries.relational as R

    out = R.q111(events=df).collect()
    by_user = defaultdict(dict)
    for r in out:
        by_user[r.user_id][r.hour_epoch] = r
    hours = sorted(next(iter(by_user.values())).keys())
    assert len(hours) == 4  # global span hour0..hour3
    for u, cells in by_user.items():
        assert sorted(cells.keys()) == hours
    u1 = [by_user[1][h] for h in hours]
    assert [r.filled_sum for r in u1] == [10.0, 10.0, 10.0, 10.0]
    assert [r.is_gap for r in u1] == [False, True, True, True]
    u2 = [by_user[2][h] for h in hours]
    assert [r.filled_sum for r in u2] == [0.0, 0.0, 0.0, 10.0]  # 7.5+2.5
    assert [r.n_events for r in u2] == [0, 0, 0, 2]


# --- round-3 operators: SCD2 / snapshot / chunking / estimator ----------


def test_scd2_intervals_partition_history(spark, sf_dir):
    """Per user: intervals are disjoint, contiguous (valid_to == next
    valid_from), and exactly one open (is_current) interval."""
    rows = REGISTRY["q113_scd2_dimension"].fn(spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    assert by_user
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: (r.valid_from, r.event_id))
        assert sum(r.is_current for r in ivs) == 1
        assert ivs[-1].is_current == 1 and ivs[-1].valid_to is None
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from  # contiguous, no overlap/gap


def test_cdc_snapshot_is_latest_event_per_user(spark, sf_dir):
    """The snapshot row per user matches the max-(ts, event_id) event."""
    from mapr_db_cdc_sample_spark.io import load_tables

    snap = {r.user_id: r for r in REGISTRY["q114_cdc_snapshot"].fn(spark, sf_dir).collect()}
    ev = load_tables(spark, sf_dir)["events"].collect()
    latest = {}
    for e in ev:
        k = (e.ts, e.event_id)
        if e.user_id not in latest or k > latest[e.user_id][0]:
            latest[e.user_id] = (k, e)
    assert set(snap) == set(latest)
    for uid, (_, e) in latest.items():
        s = snap[uid]
        assert (s.last_event_id, s.last_type, s.last_value) == (
            e.event_id,
            e.event_type,
            e.value,
        )


def test_chunking_covers_every_token_with_overlap(spark, sf_dir):
    """Chunks tile the document: starts advance by the stride, sizes are
    full except the tail, and total coverage equals the token count."""
    from mapr_db_cdc_sample_spark.io import load_tables
    from mapr_db_cdc_sample_spark.functions import text as T
    from mapr_db_cdc_sample_spark.queries.corpus import _CHUNK, _STRIDE

    d = load_tables(spark, sf_dir)["documents"]
    n_tokens = {
        r.doc_id: r.n
        for r in d.select("doc_id", F.size(T.tokens(F.col("text"))).alias("n")).collect()
    }
    chunks = REGISTRY["q115_doc_chunking"].fn(spark, sf_dir).collect()
    per_doc = defaultdict(list)
    for c in chunks:
        per_doc[c.doc_id].append(c)
    for doc_id, cs in per_doc.items():
        cs.sort(key=lambda c: c.chunk_idx)
        n = n_tokens[doc_id]
        assert [c.chunk_idx for c in cs] == list(range(len(cs)))
        for c in cs:
            start = c.chunk_idx * _STRIDE + 1
            assert c.n_tokens == min(_CHUNK, n - start + 1)
        # every token index is inside some chunk (stride < chunk = overlap)
        assert (len(cs) - 1) * _STRIDE + cs[-1].n_tokens == n


def test_jaccard_estimate_tracks_exact_on_planted_dups(spark, sf_dir):
    """Planted near-identical pairs (doc, doc+' zz') must show BOTH a
    high estimate and a high exact Jaccard; the mean absolute estimator
    error over all candidates stays under the 8-hash-binomial bound."""
    rows = REGISTRY["q116_jaccard_estimate"].fn(spark, sf_dir).collect()
    assert rows
    planted = [r for r in rows if r.doc_b == r.doc_a + 1000000]
    assert planted, "expected planted mutated-copy candidates"
    for r in planted:
        assert r.exact_jaccard > 0.8
        assert r.est_jaccard >= 0.75  # at most 2/8 hashes may disagree
    mean_err = sum(r.abs_err for r in rows) / len(rows)
    assert mean_err < 0.25


def test_hll_sketch_union_error_bounded(spark, sf_dir):
    """Per-type estimates within 5% of exact; the unioned ALL estimate
    within 5% of the true global distinct-user count."""
    from mapr_db_cdc_sample_spark.io import load_tables

    rows = {r.event_type: r for r in REGISTRY["q123_hll_sketch_union"].fn(spark, sf_dir).collect()}
    for t, r in rows.items():
        if t == "ALL":
            continue
        assert abs(r.est_users - r.exact_users) / max(r.exact_users, 1) < 0.05
    exact_all = (
        load_tables(spark, sf_dir)["events"].select("user_id").distinct().count()
    )
    assert abs(rows["ALL"].est_users - exact_all) / exact_all < 0.05


def test_fuzzy_match_symmetric_and_blocked(spark, sf_dir):
    """Every emitted pair shares the block key and has true edit distance
    <= 3; planted identical-name pairs within a brand are found."""
    from mapr_db_cdc_sample_spark.io import load_tables

    pairs = REGISTRY["q122_fuzzy_match"].fn(spark, sf_dir).collect()
    assert pairs
    block = {
        r.p_partkey: (r.p_brand, r.p_type)
        for r in load_tables(spark, sf_dir)["part"].collect()
    }
    for r in pairs:
        assert block[r.part_a] == block[r.part_b]
        assert r.dist <= 3 and r.part_a < r.part_b


def test_frequent_itemsets_supports_are_exact(spark, sf_dir):
    """FP-Growth reported frequencies equal brute-force basket counts
    for every 1- and 2-itemset it emits, and all meet minSupport."""
    import json as _json

    from mapr_db_cdc_sample_spark.io import load_tables

    rows = REGISTRY["q131_frequent_itemsets"].fn(spark, sf_dir).collect()
    assert rows
    baskets = [
        set(r.items)
        for r in load_tables(spark, sf_dir)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("items"))
        .collect()
    ]
    import math

    n = len(baskets)
    for r in rows:
        items = set(_json.loads(r.itemset))
        assert r.freq >= math.ceil(n / 512)
        if len(items) <= 2:
            exact = sum(1 for b in baskets if items <= b)
            assert exact == r.freq, (r.itemset, exact, r.freq)


def test_incremental_agg_merge_is_split_invariant(spark, sf_dir):
    """agg(old) merged with agg(delta) must equal the direct aggregation
    for ANY split point, not just q117's registered one — the property
    that makes incremental refresh trustworthy."""
    from mapr_db_cdc_sample_spark.io import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    direct = {
        r.user_id: (r.n, float(r.s))
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s"),
        )
        .collect()
    }

    def partial(df):
        return df.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )

    for split in ["2024-01-02", "2024-01-15", "2024-02-27"]:
        cut = F.lit(split).cast("timestamp")
        merged = {
            r.user_id: (r.n, float(r.s))
            for r in partial(ev.where(F.col("ts") < cut))
            .unionAll(partial(ev.where(F.col("ts") >= cut)))
            .groupBy("user_id")
            .agg(
                F.sum("n").alias("n"),
                F.sum("s").cast("double").alias("s"),
            )
            .collect()
        }
        assert merged == direct, split


def test_interval_join_counts_match_bruteforce(spark, sf_dir):
    """q132's per-window counts re-verified in pure Python from the raw
    events (boundary semantics: ws <= floor(epoch) < we)."""
    import math

    from mapr_db_cdc_sample_spark.io import load_tables

    rows = {r.w_id: (r.n_events, r.n_users) for r in REGISTRY["q132_interval_join"].fn(spark, sf_dir).collect()}
    ev = load_tables(spark, sf_dir)["events"].select("user_id", "ts").collect()
    epochs = [(r.user_id, math.floor(r.ts.timestamp())) for r in ev]
    t0 = (min(e for _, e in epochs) // 3600) * 3600
    brute = {}
    for i in range(120):
        ws, we = t0 + i * 21600, t0 + i * 21600 + 7200
        hits = [(u, e) for u, e in epochs if ws <= e < we]
        if hits:
            brute[i] = (len(hits), len({u for u, _ in hits}))
    assert rows == brute
