"""Query bodies declare the tables they read (queries/__init__.py):
`register` binds them, so no module under queries/ but the binder calls
`load_tables`, every body's parameters are context or table names, and
the bound `fn` keeps its body's module (bench.py and perfbench pick the
streaming lane by `fn.__module__`)."""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

from mapr_db_cdc_sample_spark.io import TABLES
from mapr_db_cdc_sample_spark.oracle import compare, duck_connect
from mapr_db_cdc_sample_spark.queries import CONTEXT, load_all

QUERIES = Path(__file__).resolve().parent.parent / "mapr_db_cdc_sample_spark" / "queries"
BINDER = QUERIES / "__init__.py"
REGISTRY = load_all()


def _offenders(path: Path) -> list[str]:
    """`load_tables(...)` calls, bare or through a module attribute."""
    lines = sorted(
        n.lineno
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Call)
        and (getattr(n.func, "id", None) or getattr(n.func, "attr", None)) == "load_tables"
    )
    return [f"{path.name}:{n}" for n in lines]


def test_lint_catches_table_loads(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "a = load_tables(spark, sf_dir)['orders']\n"
        "# load_tables(spark, sf_dir) in prose is fine\n"
        "b = (\n"
        "    io.load_tables(spark, sf_dir)\n"
        ")\n"
        "c = orders.select('o_orderkey')\n"
    )
    assert _offenders(src) == ["m.py:1", "m.py:4"]


def test_no_query_loads_tables():
    found = [
        o for path in sorted(QUERIES.glob("*.py")) if path != BINDER for o in _offenders(path)
    ]
    assert not found, "declare the tables as parameters:\n" + "\n".join(found)


def test_bodies_declare_only_context_and_tables():
    allowed = {*CONTEXT, *TABLES}
    odd = {
        name: sorted(set(inspect.signature(q.fn.__wrapped__).parameters) - allowed)
        for name, q in REGISTRY.items()
    }
    assert not any(odd.values()), {n: p for n, p in odd.items() if p}


def test_bound_fn_keeps_the_body_module():
    body_module = {n: Path(q.fn.__wrapped__.__code__.co_filename).stem for n, q in REGISTRY.items()}
    moved = {
        n: q.fn.__module__
        for n, q in REGISTRY.items()
        if q.fn.__module__.rsplit(".", 1)[-1] != body_module[n]
    }
    assert not moved, moved
    lane = {n for n, q in REGISTRY.items() if q.fn.__module__.endswith("streamingq")}
    assert lane == {n for n, m in body_module.items() if m == "streamingq"}
    assert len(lane) == 15, sorted(lane)


def test_bound_views_follow_sf_dir(spark):
    """A `spark.sql` body reads the temp views the binder points at the
    sf_dir it is called with, also when one session switches sf_dir."""
    q = REGISTRY["q18_grouping_sets"]
    rows = []
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        df = q.fn(spark, sf_dir)
        ok, msg = compare(df, duck_connect(sf_dir), q.oracle)
        assert ok, f"{sf_dir}: {msg}"
        rows.append(sorted(map(str, df.collect())))
    assert rows[0] != rows[1]
