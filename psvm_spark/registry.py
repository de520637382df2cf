"""Query registry: single source of truth behind ``__spark_entry__``.

Each operator from SURVEY.md section 2 registers a (spark, sf_dir) ->
DataFrame callable plus, when SQL-expressible, its DuckDB oracle twin.
The driver hash-compares the two order-insensitively at sf0.01, sorting
columns by name — so every computed column is aliased identically on
both sides (SURVEY.md section 7 watch-list a).

Usage:

    @query("agg_pricing_summary", oracle=\"\"\"SELECT ...\"\"\")
    def agg_pricing_summary(spark, sf_dir):
        ...

Rows-only checks (approximate/ML/streaming ops) omit ``oracle``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so its decorators run (idempotent).

    ``QUERIES`` keeps registration order: the order in which these
    modules (and the query modules they import) run their decorators.
    """
    from psvm_spark.queries import (  # noqa: F401
        multimodal,
        warehouse,
        aggregates,
        analytics,
        graph,
        llm,
        windows,
        streaming,
        sources,
        udfs,
        ml,
        relational,
        joins,
        scalars,
    )
