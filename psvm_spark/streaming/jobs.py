"""Structured Streaming plumbing over the events table (SURVEY.md B5,
B38-B44).

Batch and stream share one data model: ``stream_events`` re-reads the
same parquet through ``readStream`` with the batch-inferred schema (incl.
the ns->us timestamp conversion from catalog.py), so every windowed
operator can run in either mode and the driver's DuckDB oracle checks
the *streaming* result against batch SQL — stream/batch equivalence is
the correctness claim, not just a rows-only smoke.

``run_to_table`` drives a query to completion with the availableNow
trigger into a uniquely-named memory sink and returns the result as a
plain DataFrame.  At production scale the same code points at a
directory of arriving files (or Kafka) with a real checkpoint location;
state stores shard by the grouping key across executors.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psvm_spark.catalog import normalize_event_ts
from psvm_spark.queries._util import scratch_dir
from psvm_spark.session import ensure_session_invariants

_counter = itertools.count()

# Raw parquet schemas memoized per (session, path): plan METADATA only —
# never rows — so re-deriving it per streaming key (there are ~40) would
# just repeat the same footer read + inference job.  Same contract as
# catalog.load_table's DataFrame memo.
_schema_cache: dict[tuple[int, str], object] = {}


def _raw_schema(spark: SparkSession, path: str):
    key = (id(spark), path)
    if key not in _schema_cache:
        _schema_cache[key] = spark.read.parquet(path).schema
    return _schema_cache[key]


@contextmanager
def state_partitions_ctx(spark: SparkSession, n: int = 4):
    """Run a streaming query with its state sized to key cardinality.

    A stateful operator creates one state-store instance per shuffle
    partition, FIXED at the query's first run; store instances dominate
    the cost of low-cardinality demos (RocksDB native init, HDFS-backed
    delta files per store per batch).  The default of 4 was measured in
    r13: 8 -> 4 saves ~1.7 s on the staged-restart interval joins and
    0.2-0.4 s on memory-sink keys, results partitioning-invariant.
    Restores the session conf afterwards; only the streaming run inside
    the context is affected, so batch results are unchanged (values
    never depend on partitioning).
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _read_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``<sf_dir>/<table>.parquet`` as a stream, in either parquet layout.

    The driver fixtures ship each table as a single FILE (watch the
    parent dir, glob the one file), while engine-written tables — every
    production deployment, and the amplified scale fixtures — are
    DIRECTORIES of part files (watch the table dir itself).  The glob
    form alone silently matched ZERO leaf files on the directory
    layout, so every streaming query read an empty stream at the sf1
    whole-surface run (round-8 finding).
    """
    import os

    ensure_session_invariants(spark)
    root = sf_dir.rstrip("/")
    path = f"{root}/{table}.parquet"
    reader = spark.readStream.schema(_raw_schema(spark, path))
    if os.path.isdir(path):
        return reader.parquet(path)
    # the file source watches a directory; select just the one file
    return reader.option("pathGlobFilter", f"{table}.parquet").parquet(root)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a stream: same schema + ts semantics as the batch table."""
    return normalize_event_ts(_read_stream(spark, sf_dir, "events"))


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a stream with a synthesized deterministic event time.

    The batch table has no timestamp; streaming dedup/join operators
    need one for watermarking, so ingestion time is modeled as a fixed
    epoch plus ``doc_id`` seconds — deterministic, monotone in doc_id,
    and identical in the batch-replay oracle.
    """
    return _read_stream(spark, sf_dir, "documents").withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")),
    )


def run_to_table(
    df: DataFrame, mode: str, state_partitions: int | None = None, drain: bool = False
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) through a
    memory sink; return the final result as a batch DataFrame.

    ``drain=True`` uses processAllAvailable()+stop() instead of the
    availableNow trigger — required for custom Python streaming sources,
    whose availableNow snapshot is taken at the FIRST offset fetch (one
    batch) rather than after the source exhausts.

    ``state_partitions`` sizes the state store: a streaming aggregation
    creates one state-store instance per shuffle partition (fixed at the
    query's first run), so a low-cardinality keyed aggregation — a few
    thousand windows — wastes startup and checkpoint I/O on the default
    partition count.  Size it to state cardinality, not core count.
    Leave it None for operators whose per-batch *compute* needs the
    parallelism (e.g. applyInPandasWithState fans Python work across
    partitions).  The conf is restored after the run; at 100 TB the
    same knob is simply left at a number matched to key cardinality.
    """
    spark = df.sparkSession
    name = f"psvm_stream_{next(_counter)}"
    ckpt = scratch_dir("psvm_ckpt_")
    sized = (
        nullcontext()
        if state_partitions is None
        else state_partitions_ctx(spark, state_partitions)
    )
    with sized:
        writer = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
        )
        if drain:
            q = writer.start()
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
        else:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
    return spark.table(name)
