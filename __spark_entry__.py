"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over :mod:`psvm_spark.registry` — the engine registers every
implemented operator from SURVEY.md section 2 there, with DuckDB oracle
twins where SQL-expressible.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from psvm_spark import registry  # noqa: E402
from psvm_spark.session import ensure_session_invariants  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001."""
    registry.load_all()
    ensure_session_invariants(spark)
    return registry.QUERIES["agg_pricing_summary"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry.load_all()

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_invariants(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in registry.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    registry.load_all()
    return dict(registry.ORACLES)
