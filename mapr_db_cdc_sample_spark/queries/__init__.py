"""Declared query surface (SURVEY.md §2.2): registry of named queries.

Each entry pairs a Spark implementation (callable (spark, sf_dir) ->
DataFrame) with an optional ANSI-SQL oracle string DuckDB can run over the
same parquet tables. Names/aliases are identical on both sides — the
driver's comparator sorts columns by name and hashes values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query implementation to the registry."""

    def deco(fn):
        REGISTRY[name] = QueryDef(fn=fn, oracle=oracle, tags=tags)
        return fn

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
