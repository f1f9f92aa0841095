"""Declared query surface (SURVEY.md §2.2): registry of named queries.

Each entry pairs a Spark implementation (callable (spark, sf_dir) ->
DataFrame) with an optional ANSI-SQL oracle string DuckDB can run over the
same parquet tables. Names/aliases are identical on both sides — the
driver's comparator sorts columns by name and hashes values.

A query body declares what it reads as parameters: `spark`, `sf_dir` or
a table name from `io.TABLES` (`def q420(documents)`,
`def q136(spark, events, customer)`). `register` reads the names once, at
import, and stores `QueryDef.fn(spark, sf_dir)`, which calls
`io.load_tables` once per build (that runs `session.tune` and points the
temp views that `spark.sql` bodies read at `sf_dir`) and passes the body
the frames it named. No body loads a table itself
(tests/test_query_binding.py). Since `tune` runs before every body, a
body's `scoped_confs` block can no longer be reset by a table load in the
middle of its build. `register` returns the body unchanged, so a query
that reuses another passes it frames: `q270(orders)`.
"""

from __future__ import annotations

import functools
import inspect
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .. import io

#: The non-table names a body may declare.
CONTEXT = ("spark", "sf_dir")


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query body to the registry, bound to its inputs."""

    def deco(body):
        params = tuple(inspect.signature(body).parameters)
        unknown = [p for p in params if p not in CONTEXT and p not in io.TABLES]
        if unknown:
            raise TypeError(
                f"{name}: {body.__name__} declares {unknown}; a query body reads "
                f"only {CONTEXT} and the tables in io.TABLES"
            )

        @functools.wraps(body)
        def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            inputs = {"spark": spark, "sf_dir": sf_dir, **io.load_tables(spark, sf_dir)}
            return body(*(inputs[p] for p in params))

        REGISTRY[name] = QueryDef(fn=fn, oracle=oracle, tags=tags)
        return body

    return deco


def load_all() -> dict[str, QueryDef]:
    """Import every query module so REGISTRY is fully populated."""
    from . import corpus  # noqa: F401
    from . import relational  # noqa: F401
    from . import llm  # noqa: F401
    from . import cdcq  # noqa: F401
    from . import streamingq  # noqa: F401
    from . import tpch  # noqa: F401
    from . import tpch2  # noqa: F401
    from . import udfs  # noqa: F401
    from . import analytics  # noqa: F401
    from . import analytics2  # noqa: F401
    from . import analytics3  # noqa: F401
    from . import analytics4  # noqa: F401
    from . import analytics5  # noqa: F401
    from . import analytics6  # noqa: F401
    from . import analytics7  # noqa: F401
    from . import analytics8  # noqa: F401

    return REGISTRY
