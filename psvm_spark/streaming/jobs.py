"""Structured Streaming plumbing over the events table (SURVEY.md B5,
B38-B44).

Batch and stream share one data model: ``stream_events`` re-reads the
same parquet through ``readStream`` with the batch-inferred schema (incl.
the ns->us timestamp conversion from catalog.py), so every windowed
operator can run in either mode and the driver's DuckDB oracle checks
the *streaming* result against batch SQL — stream/batch equivalence is
the correctness claim, not just a rows-only smoke.

Every streaming query in the engine starts through :func:`run_stream`
(``run_to_table`` is its memory-sink case), under one rule:

- the checkpoint is a fresh ``scratch_dir`` unless the caller passes
  one (a restart passes the same one twice);
- the trigger is availableNow, or processAllAvailable + stop when
  ``drain=True`` (custom Python sources);
- the state store gets ``STATE_PARTITIONS`` partitions, for the run only;
- the call returns once the query has run to completion.

At production scale the same code points at a directory of arriving
files (or Kafka) with a durable checkpoint location; state stores shard
by the grouping key across executors.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from psvm_spark.catalog import normalize_event_ts
from psvm_spark.queries._util import scratch_dir
from psvm_spark.session import ensure_session_invariants

# A stateful operator creates one state-store instance per shuffle
# partition, fixed at the query's first run, and store instances dominate
# the cost of low-cardinality demos (RocksDB native init, HDFS-backed
# delta files per store per batch).  Measured in r13: 8 -> 4 saves ~1.7 s
# on the staged-restart interval joins and 0.2-0.4 s on memory-sink keys;
# results are partitioning-invariant.  Sized to state cardinality, not to
# cores: the two applyInPandasWithState keys get no Python parallelism
# beyond it.
STATE_PARTITIONS = 4

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
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the body only: afterwards a key
    that was set has its old value again and one that was unset is
    unset again, also when the body raises."""
    saved = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, prev in saved.items():
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


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


def run_stream(
    writer: DataStreamWriter, ckpt: str | None = None, drain: bool = False
) -> StreamingQuery:
    """Start ``writer`` (format, path and output mode already given) under
    the module rule and return its query once it has run to completion.

    ``drain=True`` uses processAllAvailable()+stop() instead of the
    availableNow trigger — required for custom Python streaming sources,
    whose availableNow snapshot is taken at the FIRST offset fetch (one
    batch) rather than after the source exhausts.
    """
    writer = writer.option("checkpointLocation", ckpt or scratch_dir("psvm_ckpt_"))
    with scoped_confs(
        writer._spark, {"spark.sql.shuffle.partitions": str(STATE_PARTITIONS)}
    ):
        if drain:
            q = writer.start()
            q.processAllAvailable()
            q.stop()
        else:
            q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    return q


def run_to_table(
    df: DataFrame, mode: str, ckpt: str | None = None, drain: bool = False
) -> DataFrame:
    """Run a streaming DataFrame to completion through a uniquely named
    memory sink (:func:`run_stream`); return the result as a batch
    DataFrame.  A complete-mode sink restarted from ``ckpt`` under a new
    name recovers its state."""
    name = f"psvm_stream_{next(_counter)}"
    run_stream(df.writeStream.outputMode(mode).format("memory").queryName(name), ckpt, drain)
    return df.sparkSession.table(name)
