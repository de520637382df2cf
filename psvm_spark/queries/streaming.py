"""Streaming operators B38-B44: real Structured Streaming runs whose
final results are hash-checked against batch DuckDB SQL (stream/batch
equivalence), plus rows-only entries for watermark/dedup/arbitrary-state
semantics DuckDB can't express.

Every oracle'd query here executes an actual streaming job (file source
-> availableNow -> memory sink); determinism comes from complete/append
mode finals being independent of batch slicing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psvm_spark.catalog import load_table
from psvm_spark.registry import query
from psvm_spark.session import scoped_confs
from psvm_spark.streaming.jobs import (
    run_stream,
    run_to_table,
    stream_documents,
    stream_events,
)
from psvm_spark.streaming.stateful import ROCKSDB_PROVIDER
from psvm_spark.queries._util import local_df, scratch_dir


def _staged_stream(spark: SparkSession, stage: str, schema) -> DataFrame:
    """Every parquet file under ``stage`` (one sub-directory per staged
    run) as a stream: a restart sees only the sub-directories staged
    since its last run as new input."""
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )


def _sentinel_restart(ev: DataFrame, build, event_types: list[str]) -> DataFrame:
    """Run ``build(<ev as a stream>)`` into an append-mode parquet sink
    twice off one checkpoint; return what the sink holds.

    Run 1 streams the real rows, and append mode emits only what the
    watermark has closed.  Then one row per event type is staged 30 days
    after ``ev``'s last ``ts``, so run 2's watermark passes every real
    row and the state recovered across the restart flushes.  The sink is
    the parquet file sink because an append-mode restart needs a
    fault-tolerant one (the memory sink can't recover the checkpoint).
    The sentinel anchors to MAX(ts): anchoring to an arbitrary row (the
    original limit(1) + 30 days) left the stream's last minutes inside
    the final watermark and silently withheld their windows once the
    span approached the margin (round-10 review catch).
    """
    spark = ev.sparkSession
    stage, ckpt, out = (scratch_dir(f"psvm_flush_{d}_") for d in ("stage", "ckpt", "out"))
    ev.write.mode("overwrite").parquet(f"{stage}/real")
    src = _staged_stream(spark, stage, ev.schema)
    sink = build(src).writeStream.format("parquet").outputMode("append").option("path", out)
    run_stream(sink, ckpt)
    sentinel = ev.agg(F.max("ts").alias("mx")).select(
        F.explode(F.array(*[F.lit(t) for t in event_types])).alias("event_type"),
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("mx") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    ).select(*ev.columns)
    sentinel.coalesce(1).write.mode("overwrite").parquet(f"{stage}/flush")
    run_stream(sink, ckpt)
    return spark.read.parquet(out)


# --------------------------------------------------------------------------
# B38 — tumbling window aggregate (10-minute buckets x event_type).


@query(
    "stream_tumbling",
    oracle="""
SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS win_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
        )
    )
    return run_to_table(agg, "complete").select(
        F.col("w.start").alias("win_start"), "event_type", "n", "total"
    )


# --------------------------------------------------------------------------
# B39 — sliding window (10-minute width, 5-minute slide): each event
# lands in two windows.  Oracle replicates via the two shifted buckets.


@query(
    "stream_sliding",
    oracle="""
WITH contrib AS (
  SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                 time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS win_start,
         event_type, value
  FROM events
)
SELECT win_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM contrib
GROUP BY 1, 2
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
        )
    )
    return run_to_table(agg, "complete").select(
        F.col("w.start").alias("win_start"), "event_type", "n", "total"
    )


# --------------------------------------------------------------------------
# B40 — session windows (5-minute inactivity gap) per user.  Oracle:
# classic gaps-and-islands (lag + cumulative sum).


@query(
    "stream_session",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 5 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 5 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM islands
GROUP BY user_id, session_id
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
        )
    )
    return run_to_table(agg, "complete").select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "total",
    )


# --------------------------------------------------------------------------
# B44 — stream-static join: streaming events x static customer dim
# (broadcast), aggregated after the sink (append mode can't aggregate
# without a watermark; the join itself is the streaming operator).


@query(
    "stream_static_join",
    oracle="""
SELECT c.c_mktsegment, e.event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey).select(
        "c_mktsegment", "event_type", "value"
    )
    sunk = run_to_table(joined, "append")
    return sunk.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# B41 — watermark + late-data semantics.  Oracle-EXACT (round 6): the
# replay is one file -> one micro-batch (stream_events pathGlobFilter
# selects exactly events.parquet), so the watermark never advances past
# any row before it is processed — update mode emits every window key
# exactly once with its full count, and the memory-sink final equals the
# batch tumbling count.  Multi-batch late-arrival DROP semantics (where
# emission depends on slicing and no batch SQL twin exists) stay covered
# by the explicit two-batch scenario in tests/test_streaming.py.


@query(
    "stream_watermark",
    oracle="""
SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS win_start,
       event_type,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
""",
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return run_to_table(agg, "update").select(
        F.col("w.start").alias("win_start"), "event_type", "n"
    )


# --------------------------------------------------------------------------
# B42 — stateful streaming dedup within watermark.  Oracle-EXACT
# (round 6): which physical row survives per (user_id, event_type) key
# is batch-order-dependent, but the KEPT-COUNT per event_type is not —
# in the single-batch replay (see B41) the watermark drops nothing, so
# n_kept = COUNT(DISTINCT user_id) per event_type regardless of row
# order.  The query aggregates to exactly that slicing-independent
# statistic; per-row survival semantics stay rows-only in the tests.


@query(
    "stream_dedup",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_kept
FROM events
GROUP BY event_type
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    deduped = ev.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    out = run_to_table(deduped.select("event_id", "user_id", "event_type"), "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_kept"))


# --------------------------------------------------------------------------
# B43 — arbitrary stateful processing: per-user running spend tracker
# via applyInPandasWithState (GroupState), emitting one summary row per
# user per batch.  Oracle-EXACT (round 6): the state accumulates spend
# in INTEGER CENTS (floor(v*100 + 0.5) per row), so the running total
# is an exact commutative sum — independent of batch slicing AND row
# order — and in the single-batch replay (see B41) each user emits
# exactly one final row equal to the batch aggregate.  Storing a float
# running total here would make the state order-dependent; cents are
# also what a production ledger would keep.


@query(
    "stream_stateful",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 1e2 + 5e-1) AS BIGINT)) AS DOUBLE) / 1e2
         AS total_value
FROM events
GROUP BY user_id
""",
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir)

    # Self-contained closure: executors can't import psvm_spark.
    def track(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                np.floor(pdf["value"].to_numpy(dtype=np.float64) * 100.0 + 0.5)
                .astype(np.int64)
                .sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    out = (
        ev.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_table(out, "update")


# --------------------------------------------------------------------------
# Stream-stream join (beyond B44's stream-static): click -> purchase
# attribution — purchases joined to same-user clicks from the preceding
# two hours.  Both sides are watermarked streams; the time-range
# predicate is what lets Spark bound join state (click state expires
# once the purchase-side watermark passes click_ts + 2h + delay).
#
# Stream≡batch: with the availableNow file source the single parquet
# file is one micro-batch, and watermarks only advance *between*
# batches, so no in-bound match can be dropped — the inner-join result
# is exactly the batch band join the oracle runs.  At 100 TB the delay
# ("1 day" here) is the knob that trades late-click tolerance for state
# size: state per executor = clicks within (delay + 2h) for its share
# of the user_id hash space.


@query(
    "stream_stream_join",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       date_diff('microsecond', c.ts, p.ts) AS gap_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 day")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    j = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.expr("timestampdiff(MICROSECOND, click_ts, purchase_ts)").alias("gap_us"),
    )
    return run_to_table(j, "append")


# --------------------------------------------------------------------------
# foreachBatch CDC sink: the stream upserts each micro-batch into a
# parquet target with latest-wins semantics (merge = read target, union
# batch, keep max (ts, event_id) per user).  The swap is
# write-new-then-rename so a crashed batch never leaves a torn target —
# the batch-id makes the merge idempotent under retries.  The oracle is
# the batch arg-max over the whole stream: stream/batch equivalence for
# the merge loop.  At 100 TB foreachBatch is the standard escape hatch
# for sinks Structured Streaming lacks (JDBC merges, Delta upserts).


@query(
    "stream_upsert_foreachbatch",
    oracle="""
SELECT user_id, ts AS latest_ts, event_id AS latest_event_id,
       value AS v
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) ranked WHERE rn = 1
""",
)
def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    target = scratch_dir("psvm_upsert_target_")
    shutil.rmtree(target)  # start absent: first batch creates it

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cols = ["user_id", "ts", "event_id", "value"]
        incoming = batch_df.select(*cols)
        if os.path.isdir(target):
            incoming = sp.read.parquet(target).unionByName(incoming)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        merged = (
            incoming.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        tmp = f"{target}__b{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(target):
            shutil.rmtree(target)
        os.rename(tmp, target)

    run_stream(stream_events(spark, sf_dir).writeStream.foreachBatch(merge_batch))
    return spark.read.parquet(target).select(
        "user_id",
        F.col("ts").alias("latest_ts"),
        F.col("event_id").alias("latest_event_id"),
        F.col("value").alias("v"),
    )


# --------------------------------------------------------------------------
# Streaming OHLC bars: tumbling 1-hour open/high/low/close per
# event_type, with open/close as min_by/max_by over the same composite
# sortable key as the batch ts_downsample_ohlc — proving stream/batch
# equivalence for order-sensitive aggregates, not just sums/counts.
# min_by/max_by are declarative aggregates, so the streaming state per
# (window, type) is one candidate pair, O(1) per group — the state
# store never holds raw rows, which is what keeps a 100 TB/day stream's
# state bounded by window-count x key-cardinality.


@query(
    "stream_ohlc",
    oracle="""
WITH keyed AS (
  SELECT event_type,
         time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
         value,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
  FROM events
)
SELECT event_type, win_start,
       arg_min(value, k) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, k) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM keyed
GROUP BY event_type, win_start
""",
)
def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    k = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    agg = (
        ev.select("event_type", "ts", "value", k.alias("k"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", "k").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "k").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )
    return run_to_table(agg, "complete").select(
        "event_type", F.col("w.start").alias("win_start"), "open", "high", "low", "close", "n_ticks"
    )


# --------------------------------------------------------------------------
# Custom Python streaming source (Spark 4 SimpleDataSourceStreamReader):
# the events table replayed in 5 deterministic micro-batches, aggregated
# with real multi-batch state updates; the COMPLETE-mode final must
# equal the batch answer — stream/batch equivalence with an exact
# oracle, now with OUR OWN source implementing the offset protocol.


@query(
    "stream_pyds_replay",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events
WHERE event_id % 3 = 0
GROUP BY event_type
""",
)
def stream_pyds_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The simple reader serves rows from the driver-side planning
    # process; replay a deterministic 1/3 subset so the driver-side
    # Python row cost stays bounded while the multi-batch state
    # semantics (3 batches) are still exercised.
    from psvm_spark.sources.replay_stream import register

    register(spark)
    df = (
        spark.readStream.format("events_replay")
        .option("path", f"{sf_dir.rstrip('/')}/events.parquet")
        .option("batches", "3")
        .option("modulo", "3")
        .load()
    )
    agg = df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
    )
    return run_to_table(agg, "complete", drain=True)


# --------------------------------------------------------------------------
# B174 (round 5) — exactly-once file sink: the delivery guarantee the
# whole Structured Streaming design exists for, proven from the data.
# Run 1: availableNow over the events file source -> parquet sink with
# a checkpoint; the sink's commit log records which files each batch
# wrote.  Run 2: SAME checkpoint, source unchanged -> the offset log
# says everything is processed, so the run commits NOTHING.  The query
# re-reads the sink THROUGH the commit log (the same way any reader
# would) and returns counts after each run plus the invariant flags.
# rows-only: the oracle side has no streaming engine to replay; the
# equality of sink contents to the batch table is asserted in-result
# (n_sink_after_rerun == n_batch_rows) and in tests.


@query("stream_file_sink_exactly_once")
def stream_file_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).select("event_id", "user_id", "event_type")
    ckpt = scratch_dir("psvm_eo_ckpt_")
    sink = scratch_dir("psvm_eo_sink_") + "/out"

    def run_once():
        run_stream(ev.writeStream.format("parquet").option("path", sink), ckpt)
        return spark.read.parquet(sink).count()

    n_first = run_once()
    n_second = run_once()  # same checkpoint, nothing new -> no-op commit
    n_batch = load_table(spark, sf_dir, "events").count()
    return local_df(spark,
        [
            (
                int(n_first),
                int(n_second),
                int(n_batch),
                bool(n_first == n_second),
                bool(n_second == n_batch),
            )
        ],
        "n_sink_first long, n_sink_after_rerun long, n_batch_rows long, "
        "no_duplicates boolean, complete boolean",
    )


# --------------------------------------------------------------------------
# B183 (round 5) — state-store recovery across query restarts: the
# OTHER half of exactly-once (B174 proved sink idempotence; this
# proves AGGREGATION STATE survives a restart).  The events table is
# staged as two files; run 1 processes file 1 under a checkpoint and
# stops; run 2 starts from the SAME checkpoint, sees only file 2 as
# new input, and must emit complete-mode counts equal to a batch
# aggregation over BOTH halves — possible only if run 1's state was
# recovered from the state store.  The oracle is the plain batch
# rollup, so state recovery is differentially tested end to end.


@query(
    "stream_state_recovery",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
)
def stream_state_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    stage = scratch_dir("psvm_recov_stage_")
    ckpt = scratch_dir("psvm_recov_ckpt_")
    src = _staged_stream(spark, stage, ev.schema)
    agg = src.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # run 1 processes half 1, commits state and stops; run 2 restarts from
    # the same checkpoint with ONLY half 2 as new input: state must recover
    for half in (0, 1):
        part = ev.filter(F.col("event_id") % 2 == half).coalesce(1)
        part.write.mode("overwrite").parquet(f"{stage}/h{half + 1}")
        out = run_to_table(agg, "complete", ckpt)
    return out.select("event_type", F.col("n").cast("bigint").alias("n"))


# --------------------------------------------------------------------------
# B291 (round 9) — streaming per-window top-k: the live "trending
# event types" board — a sliding windowed count in Structured
# Streaming, then a rank over the FINISHED result (ranking is not an
# incremental aggregate, so the idiomatic split is stream-aggregate
# -> post-rank, exactly how a dashboard query reads a streaming
# sink).  The per-window rank partitions by window start — bounded
# rows per partition (one per event type), fully parallel.  Oracle:
# the two shifted 5-minute buckets + QUALIFY rank <= 3.


@query(
    "stream_sliding_topk",
    oracle="""
WITH contrib AS (
  SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                 time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS win_start,
         event_type
  FROM events),
cnt AS (
  SELECT win_start, event_type, COUNT(*) AS n
  FROM contrib GROUP BY 1, 2)
SELECT win_start, event_type, CAST(n AS BIGINT) AS n,
       CAST(ROW_NUMBER() OVER (PARTITION BY win_start
                               ORDER BY n DESC, event_type) AS INT) AS rk
FROM cnt
QUALIFY rk <= 3
""",
)
def stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    done = run_to_table(agg, "complete").select(
        F.col("w.start").alias("win_start"), "event_type", F.col("n").cast("bigint").alias("n")
    )
    rk = F.row_number().over(
        Window.partitionBy("win_start").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return done.withColumn("rk", rk.cast("int")).filter(F.col("rk") <= 3)


# --------------------------------------------------------------------------
# B502 (round 10) — watermarked stream-stream INTERVAL join: the
# streaming twin of the batch band join (B14 `join_range`, same
# semantics: clicks within +-5 minutes of each error by the same
# user).  Structured Streaming's stream-stream join REQUIRES exactly
# this shape — an equi key plus a two-sided event-time bound — because
# the bound is what lets the state store evict rows once the watermark
# passes (state held per side ~ watermark + band, not the whole
# stream).  The join emits raw pairs in append mode (inner joins emit
# each match exactly once as both sides arrive); the per-error rollup
# runs as a batch aggregate on the drained sink, so the final result
# is independent of micro-batch slicing.  Oracle: the batch band join.
# At 100 TB: state is bounded by (watermark window x per-user rate),
# and both sides shuffle once on user_id — the same single-shuffle
# plan as the batch operator.


@query(
    "stream_interval_join",
    oracle="""
SELECT e.event_id AS error_id, e.user_id,
       COUNT(*) AS n_nearby_clicks
FROM events e JOIN events c
  ON e.user_id = c.user_id
 AND c.event_type = 'click'
 AND abs(epoch_us(e.ts) - epoch_us(c.ts)) <= 300000000
WHERE e.event_type = 'error'
GROUP BY e.event_id, e.user_id
""",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 day")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 day")
    )
    j = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    ).select("error_id", "user_id")
    pairs = run_to_table(j, "append")
    return pairs.groupBy("error_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_nearby_clicks")
    )


# --------------------------------------------------------------------------
# B572 (round 11) — watermarked stream-stream LEFT SEMI interval join:
# the attribution-dedup shape ("which errors had ANY nearby click",
# emitted once per error, never multiplied by match count) — the third
# member of the streaming join family next to the inner (B502) and
# outer (B504/B505) interval joins.  Semi emission semantics differ
# from both siblings: Spark emits the left row AS SOON AS its first
# match arrives (no watermark-flush wait like outer's null extension),
# then drops it from state — so a single availableNow pass is complete
# and no restart protocol is needed; unmatched left rows age out of
# state silently when the watermark passes.  The raw sink IS the
# result (each error at most once), so the key proves at-most-once
# emission directly rather than through a rollup.  Oracle: the batch
# EXISTS subquery.  At 100 TB: left-side state is bounded by
# (watermark x error rate) and shrinks faster than the inner join's,
# because matched rows leave state immediately instead of lingering
# for later duplicates.


@query(
    "stream_semi_interval_join",
    oracle="""
SELECT e.event_id AS error_id, e.user_id
FROM events e
WHERE e.event_type = 'error'
  AND EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click'
      AND c.user_id = e.user_id
      AND abs(epoch_us(e.ts) - epoch_us(c.ts)) <= 300000000)
""",
)
def stream_semi_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 day")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 day")
    )
    j = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 5 MINUTES")),
        "left_semi",
    ).select("error_id", "user_id")
    return run_to_table(j, "append")


# --------------------------------------------------------------------------
# B588 (round 12) — stream-stream interval join with ASYMMETRIC
# per-side watermark delays (verdict r11 item 7a): errors tolerate a
# day of lateness (rare, routed through retry queues), clicks two
# hours (high-volume firehose, near-real-time).  Two semantics this
# key pins down, both properties of Spark's default
# multipleWatermarkPolicy=min:
#   1. The GLOBAL watermark is min over sides of (max event time seen
#      - that side's delay) — the loose side governs.  Asserted
#      against lastProgress eventTime.watermark in
#      tests/test_streaming.py.
#   2. Per-side STATE eviction follows the global watermark plus the
#      join bounds, NOT the side's own delay — so the tight 2 h click
#      delay does not shrink click state while the error side lags a
#      day.  Asymmetric delays are a latency/telemetry lever, not a
#      per-side state lever; state on both sides stays bounded by
#      (loose delay + band) x arrival rate.
# The band itself is also asymmetric — the CAUSAL forward window
# [e_ts, e_ts + 10 min] ("clicks following the error"), the
# attribution shape — so eviction bounds differ per side too: an
# error can evict once the global watermark passes e_ts + 10 min, a
# click once it passes c_ts.  Join emits raw pairs in append mode;
# the per-error rollup runs as a batch aggregate on the drained sink.
# Oracle: the batch forward-band join.


@query(
    "stream_asym_watermark_join",
    oracle="""
SELECT e.event_id AS error_id, e.user_id,
       COUNT(*) AS n_following_clicks
FROM events e JOIN events c
  ON e.user_id = c.user_id
 AND c.event_type = 'click'
 AND epoch_us(c.ts) >= epoch_us(e.ts)
 AND epoch_us(c.ts) <= epoch_us(e.ts) + 600000000
WHERE e.event_type = 'error'
GROUP BY e.event_id, e.user_id
""",
)
def stream_asym_watermark_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 day")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    j = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts"))
        & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("error_id", "user_id")
    pairs = run_to_table(j, "append")
    return pairs.groupBy("error_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_following_clicks")
    )


# --------------------------------------------------------------------------
# B503 (round 10) — streaming dedup-within-watermark over the content
# digest: the streaming twin of B45 `dedup_exact`.  Documents arrive
# as a stream (synthesized ingest time = epoch + doc_id seconds,
# deterministic — streaming/jobs.py stream_documents);
# dropDuplicatesWithinWatermark on (lang, md5(text)) keeps one doc per
# digest while holding state only for the watermark window — the
# production ingestion-gate shape, where a digest seen twice a year
# apart is two legitimate crawl snapshots but within-the-window
# repeats are the same fetch.  The dedup key includes lang so the
# per-lang rollup is deterministic regardless of which duplicate the
# state store keeps.  Oracle: batch COUNT(DISTINCT md5(text)) per
# lang — on this fixture every duplicate pair lands inside the window,
# so stream == batch exactly.  At 100 TB: state is (window x ingest
# rate) digests, sharded by digest hash across the state store.


@query(
    "stream_dedup_digest",
    oracle="""
SELECT lang, COUNT(DISTINCT md5(text)) AS n_kept
FROM documents
GROUP BY lang
""",
)
def stream_dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = stream_documents(spark, sf_dir)
    deduped = (
        d.withColumn("digest", F.md5("text"))
        .withWatermark("ingest_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["lang", "digest"])
    )
    kept = run_to_table(deduped.select("doc_id", "lang", "digest"), "append")
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


# --------------------------------------------------------------------------
# B506 (round 10) — CHAINED stateful operators in one streaming query:
# dedup -> windowed aggregation (Spark's multiple-stateful-operator
# support, 3.4+).  The dedup key includes the 10-minute window, so
# which physical duplicate survives is irrelevant — the downstream
# count per (window, event_type) is exactly COUNT(DISTINCT user_id)
# regardless of micro-batch slicing or partition order.  Append mode
# only emits a window once the watermark passes it, so the replay
# stages two runs off one checkpoint (the stream_state_recovery
# recipe): run 1 ingests the real events (windows accumulate state,
# nothing finalizes), run 2 ingests a single sentinel event 30 days
# out whose event time pushes the watermark past every real window —
# the state store recovers across the restart and every window
# finalizes.  At 100 TB this is the production shape: each stateful
# operator keeps its own watermark-bounded state store, and distinct-
# user windowed counts never materialize raw rows downstream.


@query(
    "stream_dedup_windowed_agg",
    oracle="""
SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS win_start,
       event_type,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def stream_dedup_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(src: DataFrame) -> DataFrame:
        dd = (
            src.withWatermark("ts", "0 seconds")
            .withColumn("win", F.window("ts", "10 minutes"))
            .dropDuplicates(["user_id", "event_type", "win"])
        )
        return dd.groupBy("win", "event_type").agg(F.count(F.lit(1)).alias("n_users"))

    # run 1: state accumulates, no window finalizes; the sentinel's run 2
    # pushes the watermark past every real window
    rows = _sentinel_restart(normalize_event_ts_cols(spark, sf_dir), build, ["__sentinel__"])
    return rows.filter(F.col("event_type") != "__sentinel__").select(
        F.col("win.start").alias("win_start"),
        "event_type",
        F.col("n_users").cast("bigint").alias("n_users"),
    )


def normalize_event_ts_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch events with normalized ts, column order pinned for the
    staged-file writers (sentinel rows must match the stage schema)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


# --------------------------------------------------------------------------
# B509 (round 10) — LEFT OUTER watermarked stream-stream interval
# join: the hard streaming case — an unmatched left row can only be
# emitted (null-extended) once the watermark proves no matching right
# row can still arrive, so outer results trail the watermark by the
# join window.  Same sentinel-flush restart as B506: run 1 streams the
# real events (inner matches emit, unmatched lefts are retained in
# state), run 2's sentinel advances the watermark 30 days, flushing
# every retained left row as a null-extended result.  Output: per-user
# error counts split into matched (had a click within +-5 min) and
# unmatched — the ops-facing "errors with no interaction context"
# feed.  Oracle: the batch left join.  At 100 TB the state bound is
# identical to the inner join's plus the retained-left buffer, both
# watermark-evicted.


@query(
    "stream_outer_interval_join",
    oracle="""
WITH pairs AS (
  SELECT e.event_id AS error_id, e.user_id,
         COUNT(c.ts) AS n_clicks
  FROM events e LEFT JOIN events c
    ON e.user_id = c.user_id
   AND c.event_type = 'click'
   AND abs(epoch_us(e.ts) - epoch_us(c.ts)) <= 300000000
  WHERE e.event_type = 'error'
  GROUP BY e.event_id, e.user_id)
SELECT user_id,
       CAST(SUM(CASE WHEN n_clicks > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched_errors,
       CAST(SUM(CASE WHEN n_clicks = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched_errors
FROM pairs
GROUP BY user_id
""",
)
def stream_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(src: DataFrame) -> DataFrame:
        errors = (
            src.filter(F.col("event_type").isin("error", "__sentinel__"))
            .select(
                F.col("event_id").alias("error_id"),
                "user_id",
                F.col("ts").alias("e_ts"),
                "event_type",
            )
            .withWatermark("e_ts", "0 seconds")
        )
        clicks = (
            src.filter(F.col("event_type") == "click")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
            .withWatermark("c_ts", "0 seconds")
        )
        return errors.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 5 MINUTES"))
            & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 5 MINUTES")),
            "leftOuter",
        ).select(
            "error_id",
            "user_id",
            "event_type",
            F.col("c_ts").isNotNull().alias("matched"),
        )

    # Run 1: inner matches emit, unmatched lefts are held.  The query's
    # GLOBAL watermark is the MIN across both sides' watermark operators,
    # so the flush needs a sentinel on EACH side: one '__sentinel__' row
    # advances the error side, one 'click' row (user -1, matches only the
    # sentinel error, filtered below) advances the click side — otherwise
    # errors within the band of the last real click are never proven
    # unmatched and never emit.  Run 2 flushes the lefts null-extended.
    rows = _sentinel_restart(
        normalize_event_ts_cols(spark, sf_dir), build, ["__sentinel__", "click"]
    )
    pairs = rows.filter(F.col("event_type") == "error")
    per_error = pairs.groupBy("error_id", "user_id").agg(
        F.max(F.col("matched").cast("int")).alias("any_match")
    )
    return per_error.groupBy("user_id").agg(
        F.sum(F.col("any_match")).cast("bigint").alias("n_matched_errors"),
        F.sum(1 - F.col("any_match")).cast("bigint").alias("n_unmatched_errors"),
    )


# --------------------------------------------------------------------------
# B529 (round 10) — DYNAMIC-GAP session windows: the gap is a per-event
# expression (purchases hold a session open 10 minutes, errors only 2,
# everything else 5) — the Spark 3.2+ session_window(ts, gapExpr) form
# real funnels use, because "inactivity" depends on what the user just
# did.  The batch twin is the interval-merge generalization of
# stream_session's lag trick: a lag against ONLY the previous row is
# wrong here (a long-gap purchase can bridge OVER a short-gap
# successor), so the oracle carries the RUNNING MAX of event-end
# ts+gap(event) and opens a session exactly when the next event starts
# at/after it — the half-open [start, max_end) merge Spark applies.
# Session end is MAX(ts + gap) within the island, matching Spark's
# dynamic-gap window end.  State scales with open sessions per user
# (watermark-evictable in production); complete-mode replay here, same
# machinery as stream_session.


@query(
    "stream_session_dynamic_gap",
    oracle="""
WITH g AS (
  SELECT user_id, ts, value,
         ts + CASE event_type WHEN 'purchase' THEN INTERVAL 10 MINUTE
                              WHEN 'error' THEN INTERVAL 2 MINUTE
                              ELSE INTERVAL 5 MINUTE END AS ev_end
  FROM events),
m AS (
  SELECT user_id, ts, value, ev_end,
         MAX(ev_end) OVER (PARTITION BY user_id ORDER BY ts, ev_end
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM g),
isl AS (
  SELECT user_id, ts, value, ev_end,
         SUM(CASE WHEN prev_max IS NULL OR ts >= prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, ev_end
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM m)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ev_end) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM isl
GROUP BY user_id, session_id
""",
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    gap = (
        F.when(F.col("event_type") == "purchase", F.lit("10 minutes"))
        .when(F.col("event_type") == "error", F.lit("2 minutes"))
        .otherwise(F.lit("5 minutes"))
    )
    agg = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
        )
    )
    return run_to_table(agg, "complete").select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "total",
    )


# --------------------------------------------------------------------------
# B530 (round 10) — custom Python STREAMING sink (Spark 4
# DataSourceStreamWriter): the streaming half of the DSv2 Python write
# path (B64 sink_libsvm_pyds proved the batch half).  Each micro-batch
# runs two-phase: executor tasks stream their iterator to
# batch-<epoch>-part-<pid>.jsonl shards (atomic rename publish), the
# driver's commit(batchId) then writes a _COMMIT-<batchId> marker —
# the same manifest protocol JVM file sinks implement, giving
# exactly-once read-back for marker-listed batches even across task
# retries (abort removes its shards, an uncommitted batch is invisible
# to the reader).  The round-trip re-reads ONLY committed files and
# aggregates, so the oracle is the plain batch rollup — sink fidelity
# is differentially tested end to end.


@query(
    "sink_pyds_stream_sink",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events GROUP BY event_type
""",
)
def sink_pyds_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.sources.jsonl_stream_sink import (
        SCHEMA as _SINK_SCHEMA,
        committed_files,
        register,
    )

    register(spark)
    # The events fixture is a single parquet split, so without an
    # explicit repartition the whole Python-side JSONL encode (and the
    # read-back, one task per committed shard) runs on ONE worker.
    # Spread the micro-batch across the session's parallelism.
    ev = (
        stream_events(spark, sf_dir)
        .select("event_id", "event_type", "value")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sink = scratch_dir("psvm_jsonl_sink_")
    run_stream(ev.writeStream.format("jsonl_stream_sink").option("path", sink))
    files = committed_files(sink)
    back = spark.read.schema(_SINK_SCHEMA).json(files)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# B535 (round 10) — FULL-outer watermarked stream-stream interval
# join, completing the outer family (B-series stream_interval_join is
# inner, stream_outer_interval_join is left): BOTH sides' unmatched
# rows must emit null-extended once the global watermark proves no
# partner can arrive — errors with no click within +-5 minutes AND
# clicks with no error.  Same dual-side sentinel flush (the global
# watermark is the MIN across sides); the read-back classifies rows by
# which side is null.  State on both sides is bounded by the band.


@query(
    "stream_full_outer_interval_join",
    oracle="""
WITH err AS (
  SELECT e.event_id AS error_id, e.user_id,
         COUNT(c.ts) AS n_clicks
  FROM events e LEFT JOIN events c
    ON e.user_id = c.user_id
   AND c.event_type = 'click'
   AND abs(epoch_us(e.ts) - epoch_us(c.ts)) <= 300000000
  WHERE e.event_type = 'error'
  GROUP BY e.event_id, e.user_id),
clk AS (
  SELECT c.event_id AS click_id, c.user_id,
         COUNT(e.ts) AS n_errors
  FROM events c LEFT JOIN events e
    ON c.user_id = e.user_id
   AND e.event_type = 'error'
   AND abs(epoch_us(e.ts) - epoch_us(c.ts)) <= 300000000
  WHERE c.event_type = 'click'
  GROUP BY c.event_id, c.user_id),
users AS (SELECT user_id FROM err UNION SELECT user_id FROM clk)
SELECT u.user_id,
       COALESCE((SELECT CAST(SUM(CASE WHEN n_clicks > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 FROM err WHERE err.user_id = u.user_id), 0) AS n_matched_errors,
       COALESCE((SELECT CAST(SUM(CASE WHEN n_clicks = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 FROM err WHERE err.user_id = u.user_id), 0) AS n_unmatched_errors,
       COALESCE((SELECT CAST(SUM(CASE WHEN n_errors = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 FROM clk WHERE clk.user_id = u.user_id), 0) AS n_unmatched_clicks
FROM users u
""",
)
def stream_full_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(src: DataFrame) -> DataFrame:
        errors = (
            src.filter(F.col("event_type").isin("error", "__sentinel__"))
            .select(
                F.col("event_id").alias("error_id"),
                F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"),
                F.col("event_type").alias("e_type"),
            )
            .withWatermark("e_ts", "0 seconds")
        )
        clicks = (
            src.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "0 seconds")
        )
        return errors.join(
            clicks,
            (F.col("e_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 5 MINUTES"))
            & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 5 MINUTES")),
            "fullOuter",
        ).select("error_id", "e_user", "e_type", "click_id", "c_user")

    # Dual-side sentinel (stream_outer_interval_join protocol): run 1
    # emits inner matches and retains both sides; one '__sentinel__'
    # error and one user -1 click then advance each side's watermark past
    # every real row, flushing the unmatched rows from BOTH state stores.
    rows = _sentinel_restart(
        normalize_event_ts_cols(spark, sf_dir), build, ["__sentinel__", "click"]
    )
    err_side = (
        rows.filter(F.col("e_type") == "error")
        .groupBy("error_id", F.col("e_user").alias("user_id"))
        .agg(F.max(F.col("c_user").isNotNull().cast("int")).alias("any_match"))
    )
    err_counts = err_side.groupBy("user_id").agg(
        F.sum("any_match").cast("bigint").alias("n_matched_errors"),
        F.sum(1 - F.col("any_match")).cast("bigint").alias("n_unmatched_errors"),
    )
    clk_only = (
        rows.filter(
            F.col("error_id").isNull()
            & F.col("click_id").isNotNull()
            & (F.col("c_user") != -1)
        )
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.countDistinct("click_id").cast("bigint").alias("n_unmatched_clicks"))
    )
    return (
        err_counts.join(clk_only, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_matched_errors", F.lit(0)).cast("bigint").alias("n_matched_errors"),
            F.coalesce("n_unmatched_errors", F.lit(0)).cast("bigint").alias("n_unmatched_errors"),
            F.coalesce("n_unmatched_clicks", F.lit(0)).cast("bigint").alias("n_unmatched_clicks"),
        )
    )


# --------------------------------------------------------------------------
# B542 (round 10) — RocksDB state store with changelog checkpointing:
# the state backend every 100 TB streaming deployment runs (the
# default HDFS-backed in-memory store holds ALL state on the executor
# heap; RocksDB spills to local disk and checkpoints CHANGELOGS
# instead of full snapshots, which is what makes billion-key
# windowed/dedup state feasible).  Same two-run restart protocol as
# stream_state_recovery, but the state lives in RocksDB: run 1
# processes half the events under the RocksDB provider and stops;
# run 2 restarts from the SAME checkpoint, sees only the second half,
# and must emit complete-mode per-type x per-day counts equal to the
# batch rollup over both halves — possible only if RocksDB state
# (including its changelog replay) survived the restart.  The
# provider conf is session-wide, so it is set/restored around the two
# runs; the keyed state (type x day) is wide enough to exercise real
# store traffic, tiny enough for the gate fixture.


@query(
    "stream_rocksdb_state_store",
    oracle="""
SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
""",
)
def stream_rocksdb_state_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = normalize_event_ts_cols(spark, sf_dir).select("event_id", "event_type", "ts")
    stage = scratch_dir("psvm_rocks_stage_")
    ckpt = scratch_dir("psvm_rocks_ckpt_")
    agg = _staged_stream(spark, stage, ev.schema).groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    with scoped_confs(spark, rocksdb):
        # run 1: half 1 into RocksDB state, stop; run 2: restart, the
        # RocksDB state must recover via its changelog
        for half in (0, 1):
            part = ev.filter(F.col("event_id") % 2 == half).coalesce(1)
            part.write.mode("overwrite").parquet(f"{stage}/h{half + 1}")
            out = run_to_table(agg, "complete", ckpt)
    return out.select("event_type", "day", F.col("n").cast("bigint").alias("n"))


# --------------------------------------------------------------------------
# B548 (round 10) — State Data Source (Spark 4 `statestore` format):
# read a streaming query's CHECKPOINTED STATE directly as a DataFrame
# — the ops primitive behind state debugging, state migration audits,
# and "what does the store think the counts are" incident forensics,
# without touching the running query.  The query here materializes a
# per-type running count into a checkpoint (availableNow), then reads
# the state store back (nested key/value structs flattened) — the
# state MUST equal the batch rollup, which is exactly what the oracle
# asserts.  At scale the reader shards by state-store partition, so
# inspecting billion-key state is itself a distributed scan.


@query(
    "scan_state_store_reader",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
)
def scan_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ckpt = scratch_dir("psvm_ssread_ckpt_")
    run_to_table(agg, "complete", ckpt)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n"),
    )


# --------------------------------------------------------------------------
# B557 (round 10) — StreamingQueryListener metrics: the observability
# bus every production stream is monitored through.  A Python listener
# subscribes to the session's listener bus, a windowed aggregation
# runs to completion (availableNow), and the op RETURNS WHAT THE
# LISTENER SAW — total numInputRows across progress events and the
# state store's numRowsTotal at the last committed batch — checked
# against the batch truth (row count / group count).  Per-batch slicing
# is nondeterministic, so only slicing-invariant totals are emitted.
# The listener bus delivers on a background thread; progress events for
# a query precede its terminated event on the bus, so draining until
# the terminated event is observed (bounded wait) is a complete read,
# not a sleep-and-hope.  Scale: listener traffic is O(batches) driver
# metadata — data volume never touches it.


@query(
    "stream_progress_listener",
    oracle="""
SELECT (SELECT COUNT(*) FROM events) AS rows_total,
       (SELECT COUNT(*) FROM (
          SELECT DISTINCT time_bucket(INTERVAL 10 MINUTE, ts), event_type
          FROM events)) AS n_state_groups
""",
)
def stream_progress_listener(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    seen: dict = {"progress": [], "terminated": set()}

    class _MetricsListener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: D102 — bus contract
            pass

        def onQueryProgress(self, event):  # noqa: D102
            p = event.progress
            state_total = (
                p.stateOperators[0].numRowsTotal if p.stateOperators else 0
            )
            seen["progress"].append(
                (str(p.id), p.batchId, p.numInputRows, state_total)
            )

        def onQueryIdle(self, event):  # noqa: D102
            pass

        def onQueryTerminated(self, event):  # noqa: D102
            seen["terminated"].add(str(event.id))

    import uuid

    listener = _MetricsListener()
    spark.streams.addListener(listener)
    try:
        agg = (
            stream_events(spark, sf_dir)
            .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        sink = f"psvm_listener_{uuid.uuid4().hex[:8]}"
        q = run_stream(agg.writeStream.outputMode("complete").format("memory").queryName(sink))
        qid = str(q.id)
        # drain the bus: terminated follows every progress for this id
        deadline = time.monotonic() + 60
        while qid not in seen["terminated"] and time.monotonic() < deadline:
            time.sleep(0.1)
        if qid not in seen["terminated"]:
            raise RuntimeError("listener bus did not deliver termination in 60s")
    finally:
        spark.streams.removeListener(listener)
    mine = [p for p in seen["progress"] if p[0] == qid]
    rows_total = sum(p[2] for p in mine)
    n_state = max(mine, key=lambda p: p[1])[3] if mine else 0
    return local_df(spark,
        [(rows_total, n_state)], "rows_total bigint, n_state_groups bigint"
    )
