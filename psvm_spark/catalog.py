"""Table catalog: the ten fixture tables (FIXTURES.md) loaded as DataFrames.

Parquet scans go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning for free; at 100 TB the same call reads a
partitioned directory tree and prunes partitions.  ``load_tables`` memoizes
per (session, sf_dir) so a multi-query run plans each scan once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables: always broadcast-joinable (region=5 rows ...
# customer=150 rows at sf0.001, ~15k at sf0.1 — still well under the 10MB
# default autoBroadcastJoinThreshold; at 100 TB scale customer would grow
# but region/nation/supplier/part stay dimension-sized).
BROADCAST_DIMS = ("region", "nation", "supplier", "part")

_cache: dict[tuple[int, str, str], DataFrame] = {}


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-TZ TIMESTAMP whatever physical
    type the fixture parquet uses.

    The fixtures have shipped ``ts`` two ways: int64 nanoseconds (read as
    bigint under ``nanosAsLong``) and ``timestamp[us]`` with
    ``isAdjustedToUTC=false``, which Spark 4 reads as TIMESTAMP_NTZ.  The
    session timezone is pinned UTC (session.py), so an NTZ->TIMESTAMP cast
    preserves wall-clock values exactly and DuckDB parity holds.  Every
    downstream consumer (``unix_micros``, watermarks, event-time windows)
    requires a true TIMESTAMP.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; memoized per (session, sf_dir, table).

    ``events.ts`` is normalized to TIMESTAMP (see ``normalize_event_ts``)
    so oracle comparisons on ``ts`` agree with DuckDB.
    """
    key = (id(spark), sf_dir.rstrip("/"), name)
    if key not in _cache:
        df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
        if name == "events":
            df = normalize_event_ts(df)
        _cache[key] = df
    return _cache[key]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def clear_cache() -> None:
    _cache.clear()


def load_events_range(spark: SparkSession, sf_dir: str, lo_iso: str, hi_iso: str) -> DataFrame:
    """Time-range scan of ``events`` with the range predicate pushed into
    the parquet scan.

    ``load_table`` derives the ``ts`` timestamp from the raw int64-ns
    column, and Catalyst cannot invert that expression — a filter on the
    derived column reaches the scan as ``IsNotNull`` only, which at
    100 TB means scanning every row-group.  Filtering the *raw* bigint
    column first (bounds converted to ns in Python) shows up as
    ``GreaterThanOrEqual/LessThan`` in ``PushedFilters`` and prunes
    row-groups by min/max statistics; the ns->us conversion happens
    after, so results are identical to filtering the derived column.
    """
    from datetime import datetime, timezone

    def _ns(iso: str) -> int:
        dt = datetime.fromisoformat(iso).replace(tzinfo=timezone.utc)
        return int(dt.timestamp()) * 1_000_000_000

    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.filter((F.col("ts") >= _ns(lo_iso)) & (F.col("ts") < _ns(hi_iso)))
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        # Filter the raw NTZ column against NTZ literals so the predicate
        # stays pushable into the parquet scan; cast to TIMESTAMP after
        # (session TZ is UTC, values unchanged).
        df = df.filter(
            (F.col("ts") >= F.lit(lo_iso).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(hi_iso).cast("timestamp_ntz"))
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.filter(
        (F.col("ts") >= F.lit(lo_iso).cast("timestamp"))
        & (F.col("ts") < F.lit(hi_iso).cast("timestamp"))
    )
