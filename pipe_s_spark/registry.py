"""Aggregated query/oracle registry — the package-internal form of the
driver contract in ``__spark_entry__.py`` (which delegates here), and
what the JSON runner's "query" input resolves names against.

Each ``queries_*`` module lists its queries once, in one table
``QUERIES = {q_fn: oracle_sql}``: a query cannot be registered without
its DuckDB oracle. A query's name is its function's name without the
``q_`` prefix.

Parity note: this is the analytics-surface extension of the reference's
component registry idea (componentbuilder.go:170-234) — one flat
namespace of runnable, named computations.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: the query modules, ``pipe_s_spark.queries_<suffix>``, in registry order
_MODULES = (
    "cdc", "events", "analytics", "text", "sampling", "dedup", "sim", "pq",
    "sketch", "multimodal", "advanced", "tpch2", "tpch3",
)


def _registered() -> Iterator[tuple[str, QueryFn, str]]:
    for suffix in _MODULES:
        table = importlib.import_module(f"pipe_s_spark.queries_{suffix}").QUERIES
        for fn, sql in table.items():
            yield fn.__name__.removeprefix("q_"), fn, sql


def all_queries() -> dict[str, QueryFn]:
    """Every registered query: name -> (spark, sf_dir) -> DataFrame."""
    return {name: fn for name, fn, _ in _registered()}


def all_oracles() -> dict[str, str]:
    """Every DuckDB oracle SQL string, keyed like :func:`all_queries`."""
    return {name: sql for name, _, sql in _registered()}
