"""Differential test: every registered query vs its DuckDB oracle at
sf0.001 — the same comparison shape as the driver's t2 gate (row count +
column names + order-insensitive values)."""

from __future__ import annotations

import math

import pytest

from mapr_db_cdc_sample_spark.oracle import compare
from mapr_db_cdc_sample_spark.queries import load_all

REGISTRY = load_all()
ORACLED = [name for name, q in sorted(REGISTRY.items()) if q.oracle]


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, duck, sf_dir, name):
    q = REGISTRY[name]
    df = q.fn(spark, sf_dir)
    ok, msg = compare(df, duck, q.oracle)
    assert ok, f"{name}: {msg}"


def test_all_queries_return_rows(spark, sf_dir):
    for name, q in sorted(REGISTRY.items()):
        df = q.fn(spark, sf_dir)
        assert df.columns, f"{name}: no columns"



def test_load_tables_views_follow_sf_dir(spark):
    """load_tables registers the temp views only when the session's views
    point at another sf_dir: switching A -> B -> A in one session must
    repoint them every time, or the spark.sql queries read stale data."""
    import os

    import pyarrow.parquet as pq

    from mapr_db_cdc_sample_spark.io import load_tables

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.001"):
        load_tables(spark, sf_dir)
        want = pq.ParquetFile(os.path.join(sf_dir, "orders.parquet")).metadata.num_rows
        assert spark.sql("SELECT COUNT(*) FROM orders").first()[0] == want, sf_dir


def test_q294_regular_candidate_graph_matches_oracle(spark, tmp_path):
    """On generated data every node of q294's candidate graph has the same
    degree, so the degree variance is 0: r2_micro must be NULL, as the
    oracle's `//` gives, not an ANSI divide-by-zero error."""
    from perfbench import datagen

    from mapr_db_cdc_sample_spark.oracle import duck_connect

    sf_dir = datagen.write(str(tmp_path / "sf0.01"), 0.01, 1)
    q = REGISTRY["q294_degree_assortativity"]
    ok, msg = compare(q.fn(spark, sf_dir), duck_connect(sf_dir), q.oracle)
    assert ok, msg


def test_q536_t_stat_is_textbook_ols(spark, tmp_path):
    """q536's t-statistic is the OLS t of delta_t = x_t - x_{t-1} on
    x_{t-1} (with an intercept) over the daily revenue series: here
    recomputed in exact rational arithmetic from the residuals, and the
    query must also match its oracle on generated data."""
    from fractions import Fraction

    from perfbench import datagen

    from mapr_db_cdc_sample_spark.oracle import duck_connect
    from mapr_db_cdc_sample_spark.queries.analytics3 import _DAILY_CTE

    sf_dir = datagen.write(str(tmp_path / "sf0.01"), 0.01, 0)
    duck = duck_connect(sf_dir)
    q = REGISTRY["q536_dickey_fuller"]
    df = q.fn(spark, sf_dir)
    ok, msg = compare(df, duck, q.oracle)
    assert ok, msg

    x = [c for (c,) in duck.execute(_DAILY_CTE + "SELECT cents FROM daily ORDER BY day").fetchall()]
    xs = [Fraction(v) for v in x[:-1]]
    ys = [Fraction(b - a) for a, b in zip(x, x[1:])]
    m = len(xs)
    x_bar, y_bar = sum(xs) / m, sum(ys) / m
    sxx = sum((v - x_bar) ** 2 for v in xs)
    gamma = sum((u - x_bar) * (v - y_bar) for u, v in zip(xs, ys)) / sxx
    rss = sum((v - y_bar - gamma * (u - x_bar)) ** 2 for u, v in zip(xs, ys))
    t = float(gamma) / math.sqrt(float(rss / (m - 2) / sxx))

    row = df.first()
    assert row["n_pairs"] == m
    assert row["t_stat_r6"] == pytest.approx(t, rel=1e-6)
