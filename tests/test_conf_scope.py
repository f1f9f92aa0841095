"""Session-conf scoping: `session.scoped_confs` is the one way a query or
operator changes a session conf for a block, and the queries that flip
confs while they build hand the session back as they found it."""

from __future__ import annotations

import os

import pytest

from mapr_db_cdc_sample_spark.queries import load_all
from mapr_db_cdc_sample_spark.session import scoped_confs

SET_KEY = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.graft.test.scoped_unset"


def test_scoped_confs_restores_set_and_unset_keys(spark):
    before = spark.conf.get(SET_KEY)
    assert spark.conf.get(UNSET_KEY, None) is None

    with scoped_confs(spark, {SET_KEY: "3", UNSET_KEY: "x"}):
        assert spark.conf.get(SET_KEY) == "3"
        assert spark.conf.get(UNSET_KEY) == "x"
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None

    with pytest.raises(RuntimeError):
        with scoped_confs(spark, {SET_KEY: "3", UNSET_KEY: "x"}):
            raise RuntimeError("block failed")
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


@pytest.mark.parametrize(
    "name",
    # kmeans_lite, connected_components, _bfs_hops and the streaming
    # memory drain each scope the shuffle width
    ["q83_kmeans", "q152_dup_components", "q253_bfs_hops", "q61_tumbling_window"],
)
def test_queries_leave_session_confs_as_found(spark, sf_dir, name):
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    # a shuffle width no query sets, so a missing restore cannot pass
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": "5"}):
        before = {k: spark.conf.get(k) for k in keys}
        load_all()[name].fn(spark, sf_dir).count()
        assert {k: spark.conf.get(k) for k in keys} == before


def test_driver_memory_default_fits_the_box():
    """The driver-heap default is half the box's memory: never above the
    box, never above 16g, and 16g only on boxes of 32 GB or more."""
    from mapr_db_cdc_sample_spark.session import _box_memory_bytes, default_driver_memory

    def heap_bytes(box):
        s = default_driver_memory(box)
        assert s.endswith("m"), s
        return int(s[:-1]) * 2**20

    box = _box_memory_bytes()
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < box <= phys
    for b in (2**30, 15_700_000_000, box, 32 * 2**30, 2**40):
        assert 0 < heap_bytes(b) <= b // 2
        assert heap_bytes(b) <= 16 * 2**30
    assert default_driver_memory(15_700_000_000) == "7486m"
    assert default_driver_memory(2**40) == "16384m"
