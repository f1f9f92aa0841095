"""Differential test: every registered query vs its DuckDB oracle at
sf0.001 — the same comparison shape as the driver's t2 gate (row count +
column names + order-insensitive values)."""

from __future__ import annotations

import math
import re

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


#: every oracle that scores cosine similarity
COSINE_ORACLED = [name for name in ORACLED if "list_cosine_similarity" in REGISTRY[name].oracle]


def test_zero_norm_embedding_matches_every_cosine_oracle(spark, tmp_path):
    """One all-zero embedding (vec_id 137, no query's anchor: anchors are
    vec_id 0, 42, < 10 and multiples of 500) has cosine NaN in both
    engines, and NaN ranks greatest: each cosine query must still match
    its oracle."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mapr_db_cdc_sample_spark.oracle import duck_connect
    from tests.conftest import SF_ORACLE

    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SF_ORACLE.replace("sf0.01", "sf0.001"), sf_dir)
    path = f"{sf_dir}/embeddings.parquet"
    t = pq.read_table(path)
    emb = t.column("embedding").to_pylist()
    i = t.column("vec_id").to_pylist().index(137)
    emb[i] = [0.0] * len(emb[i])
    col = t.schema.get_field_index("embedding")
    t = t.set_column(col, t.schema.field(col), pa.array(emb, t.schema.field(col).type))
    assert pc.all(pc.equal(pc.list_value_length(t.column("embedding")), len(emb[0]))).as_py()
    pq.write_table(t, path)

    assert len(COSINE_ORACLED) == 15
    duck = duck_connect(sf_dir)
    bad = []
    for name in COSINE_ORACLED:
        q = REGISTRY[name]
        ok, msg = compare(q.fn(spark, sf_dir), duck, q.oracle)
        if not ok:
            bad.append(f"{name}: {msg}")
    assert not bad, "\n".join(bad)


# ---------- DuckDB re-inlines a CTE at every reference: a chain of
# multi-referenced CTEs re-expands exponentially (q487: 511 s -> 0.2 s
# once MATERIALIZED), so every CTE read from more than once is MATERIALIZED

_CTE_DEF = re.compile(
    r"(?:\bWITH(?:\s+RECURSIVE)?|,)\s*(\w+)\s*(?:\([\w\s,]*\))?\s+AS\s+"
    r"(NOT\s+MATERIALIZED\s+|MATERIALIZED\s+)?\(",
    re.IGNORECASE,
)
#: a FROM list (``FROM a x, b``) or a JOIN target: the positions that
#: read a CTE (bare-identifier counts would also hit columns named q, m)
_ITEM = (
    r"\w+(?:\s+(?:AS\s+)?(?!(?:JOIN|ON|USING|WHERE|GROUP|ORDER|LIMIT|UNION|LEFT|RIGHT"
    r"|INNER|FULL|CROSS|SEMI|ANTI|ASOF|POSITIONAL|NATURAL|QUALIFY|HAVING)\b)\w+)?"
)
_FROM_ITEMS = re.compile(
    rf"\b(FROM|JOIN)\s+({_ITEM}(?:\s*,\s*{_ITEM})*)", re.IGNORECASE
)


def _unmaterialized_shared_ctes(sql: str) -> list[tuple[str, int]]:
    """(name, reads) of each CTE read twice or more outside its own body
    and not MATERIALIZED."""
    sql = re.sub(r"'[^']*'", "''", re.sub(r"--[^\n]*", " ", sql))
    reads = []
    for m in _FROM_ITEMS.finditer(sql):
        items = m.group(2).split(",") if m.group(1).upper() == "FROM" else [m.group(2)]
        reads += [(item.split()[0].lower(), m.start()) for item in items]
    out = []
    for m in _CTE_DEF.finditer(sql):
        start, depth = m.end() - 1, 0
        for end in range(start, len(sql)):
            depth += {"(": 1, ")": -1}.get(sql[end], 0)
            if depth == 0:
                break
        n = sum(1 for r, at in reads if r == m.group(1).lower() and not start <= at <= end)
        if n >= 2 and not m.group(2):
            out.append((m.group(1), n))
    return out


def test_cte_reference_counter():
    sql = """WITH a AS (SELECT 1 AS q), b AS MATERIALIZED (SELECT q FROM a),
    c AS (SELECT q FROM b JOIN a USING (q))
    SELECT * FROM b, c x WHERE x.q IN (SELECT q FROM c) -- FROM a"""
    assert _unmaterialized_shared_ctes(sql) == [("a", 2), ("c", 2)]


def test_multi_referenced_ctes_are_materialized():
    bad = {
        name: found
        for name in ORACLED
        if (found := _unmaterialized_shared_ctes(REGISTRY[name].oracle))
    }
    assert not bad, bad
