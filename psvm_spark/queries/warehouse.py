"""Warehouse-maintenance operators: incremental rollup refresh, snapshot
diffing, data-quality expectations, and the skew-salted join path.

These are the operations that keep a 100 TB warehouse usable: nightly
rollups must refresh from one new partition instead of rescanning
history; snapshots must be diffable to produce CDC feeds; constraint
violations must be countable in O(scan); and hot-key joins must not
funnel a terabyte into one reducer.
"""

from __future__ import annotations

import os
import tempfile
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psvm_spark.catalog import load_events_range, load_table
from psvm_spark.registry import query
from psvm_spark.queries._util import checkpoint, local_df, scratch_dir
from psvm_spark.session import scoped_confs

# --------------------------------------------------------------------------
# Incremental rollup refresh: the daily (day x event_type) rollup for
# days 1..29 is persisted as *partial aggregates* (decimal sum + count);
# the refresh reads ONLY the new day's raw events (raw-ns pushdown) and
# merges it with the stored partials — no history rescan.  Decimal
# partials re-aggregate exactly, so the merged rollup is bit-identical
# to the full recompute the oracle runs.  At 100 TB this turns a daily
# O(total) job into O(one day) + O(|rollup|).


@query(
    "incremental_rollup",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM events
GROUP BY 1, 2
""",
)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut_lo, cut_hi = "2024-01-30", "2024-02-01"
    state_dir = os.path.join(
        tempfile.gettempdir(),
        f"psvm_rollup_state_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    # Nightly job (run here for self-containedness): persist partial
    # aggregates for the historical days.  decimal(20,2) leaves headroom
    # for re-aggregation at any scale.
    hist = load_events_range(spark, sf_dir, "2024-01-01", cut_lo)
    (
        hist.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("decimal(20,2)").alias("pt"),
        )
        .write.mode("overwrite")
        .parquet(state_dir)
    )
    # Refresh: new day only, merged with stored partials.
    new = (
        load_events_range(spark, sf_dir, cut_lo, cut_hi)
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("decimal(20,2)").alias("pt"),
        )
    )
    return (
        spark.read.parquet(state_dir)
        .unionByName(new)
        .groupBy("day", "event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("pt").cast("double").alias("total"),
        )
    )


# --------------------------------------------------------------------------
# Snapshot diff -> CDC feed: full-outer join two table snapshots on the
# key and classify every row as added / removed / changed (unchanged
# rows are dropped).  The snapshots here are deterministic projections
# of `orders` (subset + simulated status mutation) so the oracle can
# rebuild them.  One shuffle on the key; at 100 TB both snapshots would
# be bucketed on the key, making the diff shuffle-free.


@query(
    "snapshot_diff",
    oracle="""
WITH snap_a AS (
  SELECT o_orderkey AS k, o_orderstatus AS st FROM orders WHERE o_orderkey % 11 <> 0),
snap_b AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS st
  FROM orders WHERE o_orderkey % 13 <> 0)
SELECT COALESCE(a.k, b.k) AS o_orderkey,
       CASE WHEN a.k IS NULL THEN 'added'
            WHEN b.k IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type
FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
WHERE a.k IS NULL OR b.k IS NULL OR a.st <> b.st
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    snap_a = o.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("ka"), F.col("o_orderstatus").alias("sta")
    )
    snap_b = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("kb"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("stb"),
    )
    return (
        snap_a.join(snap_b, F.col("ka") == F.col("kb"), "full_outer")
        .filter(
            F.col("ka").isNull() | F.col("kb").isNull() | (F.col("sta") != F.col("stb"))
        )
        .select(
            F.coalesce("ka", "kb").alias("o_orderkey"),
            F.when(F.col("ka").isNull(), "added")
            .when(F.col("kb").isNull(), "removed")
            .otherwise("changed")
            .alias("change_type"),
        )
    )


# --------------------------------------------------------------------------
# Data-quality expectations: a rule catalog evaluated in O(scan) —
# range checks and uniqueness fold into per-table aggregate passes (one
# scan each), the FK orphan check is one anti join.  Violation counts
# are integers, trivially parity-exact.  At 100 TB the per-table rules
# share a single scan regardless of rule count.


@query(
    "dq_expectations",
    oracle="""
SELECT 'lineitem.quantity_in_range' AS rule_name,
       COUNT(*) FILTER (WHERE l_quantity NOT BETWEEN 1 AND 50) AS n_violations
FROM lineitem
UNION ALL
SELECT 'lineitem.orderkey_fk_orders',
       (SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
UNION ALL
SELECT 'orders.totalprice_positive',
       COUNT(*) FILTER (WHERE o_totalprice <= 0) FROM orders
UNION ALL
SELECT 'orders.orderkey_unique',
       COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
""",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    li_rules = li.agg(
        F.sum(
            F.when(~F.col("l_quantity").between(1, 50), 1).otherwise(0)
        ).alias("quantity_in_range")
    )
    orphans = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orderkey_fk_orders"))
    )
    o_rules = o.agg(
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "totalprice_positive"
        ),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("orderkey_unique"),
    )
    wide = li_rules.join(orphans).join(o_rules)
    return wide.select(
        F.expr(
            "stack(4, "
            "'lineitem.quantity_in_range', quantity_in_range, "
            "'lineitem.orderkey_fk_orders', orderkey_fk_orders, "
            "'orders.totalprice_positive', totalprice_positive, "
            "'orders.orderkey_unique', orderkey_unique) "
            "AS (rule_name, n_violations)"
        )
    )


# --------------------------------------------------------------------------
# Skew-salted join (operators/salt.py salted_join_small): lineitem joins
# its per-returnflag average discount — a 3-row key domain, the
# textbook hot-key join.  The helper salts the big side and explodes the
# small side once per salt value, spreading each flag over 32 reducers;
# results are identical to the plain join (salt never leaks into
# values).  At local fixture size Catalyst broadcasts the tiny salted
# side anyway — the helper is the documented fallback for when the
# small side exceeds broadcast limits AND a key is hot.


@query(
    "join_salted_skew",
    oracle="""
WITH flag_avg AS (
  SELECT l_returnflag AS rf,
         CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, COUNT(*) AS n_above,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price_above
FROM lineitem JOIN flag_avg ON l_returnflag = rf
WHERE l_discount > avg_disc
GROUP BY l_returnflag
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.operators.salt import salted_join_small

    li = load_table(spark, sf_dir, "lineitem")
    flag_avg = li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        (
            F.sum(F.col("l_discount").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_disc")
    )
    joined = salted_join_small(
        li.withColumnRenamed("l_returnflag", "rf"), flag_avg, on=["rf"], n_buckets=32
    )
    return (
        joined.filter(F.col("l_discount") > F.col("avg_disc"))
        .groupBy(F.col("rf").alias("l_returnflag"))
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("price_above"),
        )
    )


# --------------------------------------------------------------------------
# Small-file compaction: the steady-state maintenance job every 100 TB
# table needs — streaming/CDC sinks leave thousands of KB-sized files,
# and scan cost becomes per-file overhead instead of bytes.  The op:
# read the fragmented table, repartitionByRange on the sort key (range
# partitioning keeps files non-overlapping so min/max data skipping
# stays effective), write back, and verify CONTENT IDENTITY — the
# oracle aggregates the original table, the query aggregates the
# compacted copy, so any row lost/duplicated in the rewrite breaks the
# hash.  One shuffle, output file count = target partition count.


@query(
    "sink_compact_small_files",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
GROUP BY lang
""",
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    d = load_table(spark, sf_dir, "documents")
    base = scratch_dir("psvm_compact_")
    frag, compact = base + "/frag", base + "/compact"
    # simulate a fragmented CDC landing zone: 64 tiny files
    d.repartition(64).write.mode("overwrite").parquet(frag)
    n_frag = len(glob.glob(frag + "/part-*"))
    back = spark.read.parquet(frag)
    back.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(compact)
    n_compact = len(glob.glob(compact + "/part-*"))
    assert n_compact < n_frag, (n_compact, n_frag)
    return (
        spark.read.parquet(compact)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


# --------------------------------------------------------------------------
# B80 (round 4) — CDC MERGE apply: reconcile a changelog of
# insert/update/delete operations into a snapshot, latest-op-per-key
# wins (the MERGE INTO staple: WHEN MATCHED AND op='D' DELETE / AND
# op='U' UPDATE / WHEN NOT MATCHED AND op='I' INSERT).  The changelog
# derives deterministically from orders (seq = o_orderkey arbitrates
# later-wins; 'I' keys are offset past the snapshot key space so the
# not-matched branch is exercised).  One aggregation collapses the log
# to latest-per-key, then a single full-outer join on the key applies
# every branch — at 100 TB both sides shuffle once on the merge key,
# which is exactly the shape Delta/Iceberg MERGE compiles to.


@query(
    "cdc_merge_apply",
    oracle="""
WITH log AS (
  SELECT CASE WHEN o_orderkey % 20 = 2 THEN o_custkey + 1000000 ELSE o_custkey END AS key,
         o_orderkey AS seq,
         CASE o_orderkey % 20 WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op,
         CAST(o_totalprice AS DECIMAL(12,2)) AS new_bal
  FROM orders WHERE o_orderkey % 20 < 3),
latest AS (
  SELECT key, arg_max(op, seq) AS op, arg_max(new_bal, seq) AS new_bal
  FROM log GROUP BY key),
snap AS (
  SELECT c_custkey AS key, c_nationkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal
  FROM customer)
SELECT s.key AS key,
       CAST(CASE WHEN l.op = 'U' THEN l.new_bal ELSE s.bal END AS DOUBLE) AS bal,
       'kept' AS src
FROM snap s LEFT JOIN latest l ON s.key = l.key
WHERE l.op IS NULL OR l.op <> 'D'
UNION ALL
SELECT l.key, CAST(l.new_bal AS DOUBLE), 'inserted'
FROM latest l LEFT JOIN snap s ON s.key = l.key
WHERE s.key IS NULL AND l.op = 'I'
""",
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    log = o.filter(F.col("o_orderkey") % 20 < 3).select(
        F.when(F.col("o_orderkey") % 20 == 2, F.col("o_custkey") + 1_000_000)
        .otherwise(F.col("o_custkey"))
        .alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 20 == 0, F.lit("D"))
        .when(F.col("o_orderkey") % 20 == 1, F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("new_bal"),
    )
    latest = log.groupBy("key").agg(
        F.max_by("op", "seq").alias("op"), F.max_by("new_bal", "seq").alias("new_bal")
    )
    snap = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
    )
    merged = snap.join(latest, "key", "full")
    kept = (
        merged.filter(F.col("bal").isNotNull())
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "key",
            F.when(F.col("op") == "U", F.col("new_bal"))
            .otherwise(F.col("bal"))
            .cast("double")
            .alias("bal"),
            F.lit("kept").alias("src"),
        )
    )
    inserted = (
        merged.filter(F.col("bal").isNull() & (F.col("op") == "I"))
        .select("key", F.col("new_bal").cast("double").alias("bal"), F.lit("inserted").alias("src"))
    )
    return kept.unionAll(inserted)


# --------------------------------------------------------------------------
# B81 (round 4) — interval-concurrency peak (sweep line): each event
# opens an interval [ts, ts + value seconds]; the peak number of
# concurrently open intervals per event_type and the first instant it
# is reached.  Classic +1/-1 sweep: explode each interval to two delta
# points, running-sum over an ORDER BY (pt, delta DESC) RANGE window
# (simultaneous starts collapse into one jump in BOTH engines — RANGE
# peers make the result tie-insensitive), then argmax.  Two shuffles
# total (window + final agg), both on bounded keys.


@query(
    "ts_concurrency_peak",
    oracle="""
WITH iv AS (
  SELECT event_type, epoch_us(ts) AS s_us,
         epoch_us(ts) + CAST(round(value * 1000000) AS BIGINT) AS e_us
  FROM events),
pts AS (
  SELECT event_type, s_us AS pt, 1 AS delta FROM iv
  UNION ALL
  SELECT event_type, e_us, -1 FROM iv),
run AS (
  SELECT event_type, pt,
         CAST(SUM(delta) OVER (PARTITION BY event_type ORDER BY pt, delta DESC) AS BIGINT) AS conc
  FROM pts),
sel AS (
  SELECT event_type, pt, conc,
         MAX(conc) OVER (PARTITION BY event_type) AS mx
  FROM run)
SELECT event_type, mx AS peak_concurrency, MIN(pt) AS first_peak_us
FROM sel WHERE conc = mx GROUP BY event_type, mx
""",
)
def ts_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_type",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + F.round(F.col("value") * 1_000_000).cast("bigint")
        ).alias("e_us"),
    )
    pts = iv.select(
        "event_type", F.col("s_us").alias("pt"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("event_type", F.col("e_us").alias("pt"), F.lit(-1).alias("delta"))
    )
    w = Window.partitionBy("event_type").orderBy(F.col("pt"), F.col("delta").desc())
    run = pts.select(
        "event_type", "pt", F.sum("delta").over(w).alias("conc")
    )
    mx = Window.partitionBy("event_type")
    sel = run.select(
        "event_type", "pt", "conc", F.max("conc").over(mx).alias("mx")
    )
    return (
        sel.filter(F.col("conc") == F.col("mx"))
        .groupBy("event_type", F.col("mx").alias("peak_concurrency"))
        .agg(F.min("pt").alias("first_peak_us"))
        .select("event_type", "peak_concurrency", "first_peak_us")
    )


# --------------------------------------------------------------------------
# B86 (round 4) — schema-evolution scan: a table whose early files lack
# a column that later files carry (the normal life of a 100 TB parquet
# table).  Two physically different batches are written under one root
# and read back with mergeSchema=true; rows from pre-evolution files
# surface NULL for the new column, which the rollup makes visible as
# its own group.  At scale mergeSchema costs one footer read per file
# (schema union is metadata-only); the data path is unchanged.


@query(
    "scan_schema_evolution",
    oracle="""
WITH unioned AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
         NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)), o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1)
SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS prio,
       COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total
FROM unioned GROUP BY 1
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("psvm_evolve_") + "/orders_evolving"
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("price")
    ).write.mode("overwrite").parquet(root + "/epoch=1")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        "o_orderpriority",
    ).write.mode("overwrite").parquet(root + "/epoch=2")
    back = spark.read.option("mergeSchema", True).parquet(
        root + "/epoch=1", root + "/epoch=2"
    )
    return back.groupBy(
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias("prio")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price").cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# B96 (round 4) — Z-order clustered sink (the Delta/Iceberg OPTIMIZE
# ZORDER layout, done with plain Spark).  Two dimensions are quantized
# to 16 bits, bit-interleaved into a 32-bit Morton code, and the table
# is written partitioned by the code's high bits with files sorted by
# the full code — so parquet footer min/max on BOTH source columns
# shrink per file and a range predicate on EITHER dimension skips most
# files.  Completes the layout trio (compaction, range-clustering,
# multi-dim clustering).  The interleave is pure integer bit math, so
# the round-trip aggregate has an exact DuckDB twin on the base table.


_Z_X = "cast(floor((c_acctbal + 1000.0) * 3) as int)"
_Z_Y = "cast(pmod(c_custkey, 65536) as int)"


def write_zorder(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        F.expr(_Z_X).alias("x"),
        F.expr(_Z_Y).alias("y"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
    )
    coded = pts.withColumn(
        "z",
        F.expr(
            "aggregate(sequence(0, 15), cast(0 as bigint), (acc, i) -> acc"
            " + shiftleft(cast(shiftright(x, i) as bigint) & 1, 2 * i)"
            " + shiftleft(cast(shiftright(y, i) as bigint) & 1, 2 * i + 1))"
        ),
    ).withColumn("zb", F.expr("cast(z >> 26 as bigint)"))
    (
        coded.repartition("zb")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .partitionBy("zb")
        .parquet(out_dir)
    )


@query(
    "sink_zorder_cluster",
    oracle="""
WITH pts AS (
  SELECT c_custkey,
         CAST(floor((c_acctbal + 1000.0) * 3) AS INT) AS x,
         CAST(c_custkey % 65536 AS INT) AS y,
         CAST(c_acctbal AS DECIMAL(12,2)) AS bal
  FROM customer),
coded AS (
  SELECT *,
         CAST(list_sum([(CAST((x >> i) & 1 AS BIGINT) << (2 * i))
                        + (CAST((y >> i) & 1 AS BIGINT) << (2 * i + 1))
                        FOR i IN generate_series(0, 15)]) AS BIGINT) AS z
  FROM pts)
SELECT CAST(z >> 26 AS BIGINT) AS zb,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(x) AS INT) AS min_x, CAST(MAX(x) AS INT) AS max_x,
       CAST(MIN(y) AS INT) AS min_y, CAST(MAX(y) AS INT) AS max_y,
       CAST(SUM(bal) AS DOUBLE) AS total_bal
FROM coded GROUP BY 1
""",
)
def sink_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("psvm_sink_z_") + "/customer_zorder"
    write_zorder(spark, sf_dir, out)
    back = spark.read.parquet(out)
    return back.groupBy("zb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("x").cast("int").alias("min_x"),
        F.max("x").cast("int").alias("max_x"),
        F.min("y").cast("int").alias("min_y"),
        F.max("y").cast("int").alias("max_y"),
        F.sum("bal").cast("double").alias("total_bal"),
    ).select(F.col("zb").cast("bigint").alias("zb"), "n", "min_x", "max_x",
             "min_y", "max_y", "total_bal")


# --------------------------------------------------------------------------
# B574 (round 11) — Hilbert-curve clustered sink: the locality-better
# sibling of the Morton Z-order layout above (Delta OPTIMIZE moved its
# default from Z-order to Hilbert for exactly this reason — Hilbert
# has no Morton "seam jumps", so a 2D range query touches fewer
# files).  The xy->d index is the standard iterative rotate-and-fold
# (16 levels for two 16-bit dims), expressed as ONE Spark
# ``aggregate`` higher-order fold over descending bit positions with a
# (d, x, y) struct accumulator — pure codegen'd JVM expression, no
# UDF.  DuckDB has no typed-accumulator fold, so the oracle iterates
# the identical 16 steps via a recursive CTE.  The written layout
# partitions by the top-6-bit Hilbert bucket and sorts by d within
# files (the same contract the Z-order key proves); the aggregate is
# over the RE-READ table, so bucket membership, counts, bbox and the
# exact-decimal balance sum must all survive the layout.
# tests/test_warehouse.py additionally proves the fold IS the Hilbert
# bijection on a full 64x64 grid.


_HILBERT_D = """
aggregate(
  sequence(15, 0, -1),
  struct(cast(0 as bigint) as d, x as hx, y as hy),
  (acc, i) -> struct(
    acc.d + cast(shiftleft(1, i) as bigint) * cast(shiftleft(1, i) as bigint)
          * cast((3 * (shiftright(acc.hx, i) & 1)) ^ (shiftright(acc.hy, i) & 1)
                 as bigint),
    case when (shiftright(acc.hy, i) & 1) = 0
         then case when (shiftright(acc.hx, i) & 1) = 1
                   then shiftleft(1, i) - 1 - acc.hy else acc.hy end
         else acc.hx end,
    case when (shiftright(acc.hy, i) & 1) = 0
         then case when (shiftright(acc.hx, i) & 1) = 1
                   then shiftleft(1, i) - 1 - acc.hx else acc.hx end
         else acc.hy end),
  acc -> acc.d)
"""


def write_hilbert(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        F.expr(_Z_X).alias("x"),
        F.expr(_Z_Y).alias("y"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
    )
    coded = pts.withColumn("d", F.expr(_HILBERT_D)).withColumn(
        "hb", F.expr("cast(d >> 26 as bigint)")
    )
    # sort by (hb, d), not d alone: the dynamic-partition writer requires
    # ordering on the partition column and would insert its own UNSTABLE
    # sort on hb, destroying the within-file d order; a sort the required
    # ordering is already a prefix of is reused as-is
    (
        coded.repartition("hb")
        .sortWithinPartitions("hb", "d")
        .write.mode("overwrite")
        .partitionBy("hb")
        .parquet(out_dir)
    )


@query(
    "sink_hilbert_cluster",
    oracle="""
WITH RECURSIVE pts AS (
  SELECT c_custkey,
         CAST(floor((c_acctbal + 1000.0) * 3) AS BIGINT) AS x,
         CAST(c_custkey % 65536 AS BIGINT) AS y,
         CAST(c_acctbal AS DECIMAL(12,2)) AS bal
  FROM customer),
h AS (
  SELECT c_custkey, x, y, x AS hx, y AS hy, bal,
         CAST(0 AS BIGINT) AS d, 15 AS i
  FROM pts
  UNION ALL
  SELECT c_custkey, x, y,
         CASE WHEN ry = 0
              THEN CASE WHEN rx = 1 THEN s - 1 - hy ELSE hy END
              ELSE hx END,
         CASE WHEN ry = 0
              THEN CASE WHEN rx = 1 THEN s - 1 - hx ELSE hx END
              ELSE hy END,
         bal,
         d + s * s * xor(3 * rx, ry),
         i - 1
  FROM (SELECT *, CAST(1 AS BIGINT) << i AS s,
               (hx >> i) & 1 AS rx, (hy >> i) & 1 AS ry
        FROM h WHERE i >= 0)),
coded AS (SELECT c_custkey, x, y, bal, d FROM h WHERE i = -1)
SELECT CAST(d >> 26 AS BIGINT) AS hb,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(x) AS INT) AS min_x, CAST(MAX(x) AS INT) AS max_x,
       CAST(MIN(y) AS INT) AS min_y, CAST(MAX(y) AS INT) AS max_y,
       CAST(SUM(bal) AS DOUBLE) AS total_bal
FROM coded GROUP BY 1
""",
)
def sink_hilbert_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("psvm_sink_h_") + "/customer_hilbert"
    write_hilbert(spark, sf_dir, out)
    back = spark.read.parquet(out)
    return back.groupBy("hb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("x").cast("int").alias("min_x"),
        F.max("x").cast("int").alias("max_x"),
        F.min("y").cast("int").alias("min_y"),
        F.max("y").cast("int").alias("max_y"),
        F.sum("bal").cast("double").alias("total_bal"),
    ).select(F.col("hb").cast("bigint").alias("hb"), "n", "min_x", "max_x",
             "min_y", "max_y", "total_bal")


# --------------------------------------------------------------------------
# B109 (round 4) — parquet bloom-filter sink for secondary-key point
# lookups.  Range clustering (sink_sorted_clustered) and Z-order
# (sink_zorder_cluster) make footer min/max selective on the SORT
# dimensions; a bloom filter is the layout lever for every OTHER
# high-cardinality key — point lookups on o_custkey against a table
# laid out by o_orderdate can skip row groups the min/max can't.
# parquet-mr writes a split-block bloom per row group
# (parquet.bloom.filter.enabled#col); tests assert the bloom bytes are
# really in the file via the with/without size delta (this pyarrow
# build does not expose bloom offsets).  The round-trip point-lookup
# aggregate has an exact oracle on the base table.


def write_bloom(spark: SparkSession, sf_dir: str, out_dir: str,
                enabled: bool = True) -> None:
    # parquet-mr SKIPS the bloom when the column chunk stays fully
    # dictionary-encoded (the dictionary already answers membership
    # exactly), so the bloom option silently does nothing on a
    # low-cardinality-per-row-group key unless dictionary encoding is
    # disabled for that column.  Both branches disable it so the
    # with/without size delta isolates the bloom bytes.
    o = load_table(spark, sf_dir, "orders")
    w = (
        o.repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .option("parquet.enable.dictionary#o_custkey", "false")
    )
    if enabled:
        w = (
            w.option("parquet.bloom.filter.enabled#o_custkey", "true")
            .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        )
    w.parquet(out_dir)


@query(
    "sink_bloom_point_lookup",
    oracle="""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
WHERE o_custkey % 997 = 3
GROUP BY o_custkey
""",
)
def sink_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("psvm_sink_bloom_") + "/orders_bloom"
    write_bloom(spark, sf_dir, out)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("o_custkey") % 997 == 3)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total"),
        )
    )


# --------------------------------------------------------------------------
# B587 (round 12) — parquet PAGE-INDEX pruning: the page-granular
# sibling of sink_bloom_point_lookup (verdict r11 item 7c).  parquet-mr
# writes a ColumnIndex/OffsetIndex pair per column chunk (on by default
# since 1.11); when the data is SORTED on the filter key and the pages
# are kept small (parquet.page.row.count.limit), a range predicate
# prunes at page granularity — ~row-group-size/page-size times finer
# than footer min/max, the difference between decoding one 128 MB row
# group and three 8 KB pages for a point-range lookup at 100 TB.
# Spark's reader applies it via parquet.filter.columnindex.enabled
# (default true).  tests/test_warehouse.py proves the ColumnIndex is
# physically in the file through the parquet-mr footer reader (py4j)
# and that enabled/disabled reads agree; the round-trip range lookup
# has an exact oracle on the base table.

_PAGE_IDX_LO, _PAGE_IDX_HI = 200, 400  # inside the dense 0..n-1 keyspace at every SF


def write_page_indexed(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    o = load_table(spark, sf_dir, "orders")
    (
        o.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        # small pages => many ColumnIndex entries per chunk, so the
        # range predicate's page-level selectivity is actually visible
        .option("parquet.page.row.count.limit", "200")
        .option("parquet.page.size", "16384")
        .parquet(out_dir)
    )


@query(
    "sink_page_index_prune",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderkey BETWEEN {_PAGE_IDX_LO} AND {_PAGE_IDX_HI}
""",
)
def sink_page_index_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("psvm_sink_pgidx_") + "/orders_pgidx"
    write_page_indexed(spark, sf_dir, out)
    back = spark.read.parquet(out)
    return back.filter(
        F.col("o_orderkey").between(_PAGE_IDX_LO, _PAGE_IDX_HI)
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_custs"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total"),
    )


# --------------------------------------------------------------------------
# B110 (round 4) — coordination-free time-ordered ids (the snowflake
# scheme): 41 bits of epoch-millisecond, 10 bits of shard (md5 hash
# bucket — on a real cluster, the worker id), 12 bits of within-
# (shard, ms) sequence.  Everything is a pure function of existing
# columns plus ONE window over (shard, ms) — no global sort, no
# driver counter, no coordination: exactly how distributed id
# assignment has to work at 100 TB.  Uniqueness is checked in the
# result itself (n_ids == n_distinct) and the whole mapping has an
# exact oracle.


@query(
    "ids_snowflake",
    oracle="""
WITH sharded AS (
  SELECT event_id, ts,
         (('0x' || substr(md5('sh:' || user_id), 1, 8))::BIGINT % 1024) AS shard
  FROM events),
seq AS (
  SELECT event_id, ts, shard,
         ROW_NUMBER() OVER (PARTITION BY shard, epoch_ms(ts)
                            ORDER BY ts, event_id) - 1 AS sq
  FROM sharded)
SELECT event_id,
       CAST((epoch_ms(ts) << 22) | (shard << 12) | sq AS BIGINT) AS snow_id
FROM seq WHERE sq < 4096
""",
)
def ids_snowflake(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sharded = ev.select(
        "event_id",
        "ts",
        F.expr(
            "pmod(cast(conv(substring(md5(concat('sh:', user_id)), 1, 8), 16, 10)"
            " as bigint), 1024)"
        ).alias("shard"),
    )
    sq = F.row_number().over(
        Window.partitionBy("shard", F.unix_millis("ts")).orderBy("ts", "event_id")
    ) - 1
    seq = sharded.select("event_id", "ts", "shard", sq.alias("sq"))
    return seq.filter(F.col("sq") < 4096).select(
        "event_id",
        F.expr(
            "cast(shiftleft(unix_millis(ts), 22) | shiftleft(shard, 12) | sq"
            " as bigint)"
        ).alias("snow_id"),
    )


# --------------------------------------------------------------------------
# B118 (round 4) — nested-struct schema pruning: write orders with a
# nested info struct, read back ONLY one subfield and aggregate.
# Catalyst must prune the scan to the single leaf
# (ReadSchema: info.price — asserted in tests via the plan), which at
# 100 TB is the difference between reading one column chunk and
# deserializing the whole struct.  The aggregate has an exact oracle
# on the flat base table.


def write_nested(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    o = load_table(spark, sf_dir, "orders")
    (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.struct(
                F.col("o_orderdate").alias("odate"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("info"),
        )
        .write.mode("overwrite")
        .parquet(out_dir)
    )


@query(
    "scan_struct_pruning",
    oracle="""
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
""",
)
def scan_struct_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("psvm_nested_") + "/orders_nested"
    write_nested(spark, sf_dir, out)
    back = spark.read.parquet(out)
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("info.price")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# B121 (round 4) — hostile-CSV round-trip: fields containing embedded
# newlines, double quotes, commas, and backslashes — the cases that
# silently corrupt naive CSV pipelines.  The payload is synthesized
# deterministically from documents (so DuckDB can rebuild it), written
# through Spark's CSV sink (quoting + escaping on), and read back with
# multiLine=true (without it, the reader would split records at the
# embedded newlines and the md5s would scatter).  Content identity is
# md5 per row, aggregated order-insensitively; the oracle computes the
# same md5s from the base table without any CSV in the loop — so any
# quoting/escaping asymmetry in the sink/scan pair breaks the hash.


@query(
    "scan_csv_multiline_roundtrip",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       md5(string_agg(md5(
         'q="' || substr(text, 1, 20) || '", nl:' || chr(10)
         || lang || ',' || chr(10) || CAST(doc_id AS VARCHAR)
       ), '' ORDER BY doc_id)) AS content_md5
FROM documents
""",
)
def scan_csv_multiline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hostile = d.select(
        "doc_id",
        F.concat(
            F.lit('q="'),
            F.substring("text", 1, 20),
            F.lit('", nl:\n'),
            F.col("lang"),
            F.lit(",\n"),
            F.col("doc_id").cast("string"),
        ).alias("payload"),
    )
    out = scratch_dir("psvm_csv_") + "/hostile_csv"
    hostile.write.mode("overwrite").option("header", "true").csv(out)
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .schema("doc_id long, payload string")
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.md5(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(doc_id, "
                    "md5(payload) as h))), x -> x.h)"
                ),
                "",
            )
        ).alias("content_md5"),
    )


# --------------------------------------------------------------------------
# B131 (round 4) — Benford first-digit audit (the classic fraud/DQ
# screen): the leading digit of each order total, observed vs the
# Benford expectation log10(1 + 1/d).  The digit comes from the
# DECIMAL's string form (totals are >= 1, so no leading-zero cases),
# never from float log10 — cross-engine exact by construction; the
# divergence statistic sums 9-dp-rounded decimal terms.


@query(
    "dq_benford_first_digit",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), 1, 1)
              AS INT) AS d
  FROM orders),
obs AS (SELECT d, COUNT(*) AS o FROM digits GROUP BY d),
tot AS (SELECT SUM(o) AS n FROM obs)
SELECT obs.d AS digit,
       CAST(obs.o AS BIGINT) AS observed,
       CAST(round(log10(1.0 + 1.0 / obs.d), 9) AS DOUBLE) AS benford_p,
       CAST(obs.o AS DOUBLE) / tot.n AS observed_p
FROM obs CROSS JOIN tot
""",
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.col("o_totalprice").cast("decimal(12,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("o"))
    tot = obs.agg(F.sum("o").alias("n"))
    return obs.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("digit"),
        F.col("o").cast("bigint").alias("observed"),
        F.round(F.log10(1.0 + 1.0 / F.col("d")), 9).alias("benford_p"),
        (F.col("o").cast("double") / F.col("n")).alias("observed_p"),
    )


# --------------------------------------------------------------------------
# B132 (round 4) — corrupt-record recovery on a JSONL scan: every 17th
# line is deterministically truncated mid-record before writing; the
# PERMISSIVE reader must surface exactly those lines in
# _corrupt_record and parse everything else intact.  The oracle
# derives both populations from the same construction rule without
# any JSON in the loop — miscounted corruption (silently dropped or
# misparsed rows) breaks either count or the value sum.


@query(
    "scan_jsonl_corrupt_recovery",
    oracle="""
SELECT CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(CASE WHEN doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(SUM(CASE WHEN doc_id % 17 <> 0 THEN n_chars ELSE 0 END) AS BIGINT)
         AS good_chars
FROM documents
""",
)
def scan_jsonl_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    line = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "n_chars": '),
        F.col("n_chars").cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('"}'),
    )
    # truncate every 17th record mid-object -> structurally invalid JSON
    payload = F.when(
        F.col("doc_id") % 17 == 0, F.substring(line, 1, 14)
    ).otherwise(line)
    out = scratch_dir("psvm_jsonl_") + "/docs_jsonl"
    d.select(payload.alias("value")).write.mode("overwrite").text(out)
    back = (
        spark.read.schema(
            "doc_id long, n_chars long, lang string, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return back.agg(
        F.sum(F.col("_corrupt_record").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.col("_corrupt_record").isNull().cast("int"))
        .cast("bigint")
        .alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_chars")).otherwise(0)
        )
        .cast("bigint")
        .alias("good_chars"),
    )


# --------------------------------------------------------------------------
# B136 (round 4) — dynamic partition overwrite: the nightly-restate
# semantic every partitioned warehouse depends on.  Under
# partitionOverwriteMode=dynamic, an INSERT OVERWRITE replaces ONLY
# the partitions present in the incoming frame; static mode would
# truncate the whole table first.  Here January restates with a
# +10.00 price adjustment while February..December must survive
# untouched — the final aggregate has an exact relational oracle, so
# a mode regression (full truncate, or append instead of replace)
# breaks counts or sums immediately.


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
WITH base AS (
  SELECT CAST(substr(CAST(o_orderdate AS VARCHAR), 6, 2) AS INT) AS mth,
         CAST(o_totalprice AS DECIMAL(12,2)) AS p
  FROM orders),
final AS (
  SELECT mth,
         CASE WHEN mth = 1 THEN p + CAST(10.00 AS DECIMAL(12,2)) ELSE p END AS p
  FROM base)
SELECT mth, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(p) AS DOUBLE) AS total
FROM final GROUP BY mth
""",
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.substring(F.col("o_orderdate").cast("string"), 6, 2)
        .cast("int")
        .alias("mth"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
    )
    out = scratch_dir("psvm_dynow_") + "/orders_by_month"
    # repartition on the partition column first: a dynamic-partition
    # write from N input partitions otherwise opens one file per
    # (task x month) — N*12 tiny files and a single-threaded write when
    # the input is one split (guide §6 small-files).  One exchange of
    # the skinny projection buys per-partition parallel single files.
    o.repartition("mth").write.mode("overwrite").partitionBy("mth").parquet(out)
    # restate January only, under DYNAMIC overwrite.  Cast the adjusted
    # column BACK to decimal(12,2): decimal + decimal widens to
    # decimal(13,2), and writing that would leave January's parquet
    # footers with a different schema than every other partition —
    # readable only via version-specific decimal widening (or
    # mergeSchema), i.e. a latent cross-version break.
    jan = o.filter(F.col("mth") == 1).withColumn(
        "p",
        (F.col("p") + F.lit("10.00").cast("decimal(12,2)")).cast("decimal(12,2)"),
    )
    with scoped_confs(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        jan.write.mode("overwrite").partitionBy("mth").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("mth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("p").cast("double").alias("total"),
    ).select(F.col("mth").cast("int").alias("mth"), "n", "total")


# --------------------------------------------------------------------------
# B138 (round 4) — GDPR erasure with proof of absence: delete every
# event of the users on a deletion list (one broadcast anti-join — the
# only scalable shape for right-to-be-forgotten sweeps over a 100 TB
# event store) and emit the audit row compliance needs: how many
# listed users existed, how many events were removed, and — the part
# auditors actually check — a recount of surviving events that still
# reference a listed user, which must be zero by construction and is
# verified against the data, not assumed.


@query(
    "dq_gdpr_erasure",
    oracle="""
WITH del AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0),
removed AS (
  SELECT COUNT(*) AS n_removed FROM events e
  JOIN del ON e.user_id = del.user_id),
kept AS (
  SELECT COUNT(*) AS n_kept,
         SUM(CASE WHEN user_id % 37 = 0 THEN 1 ELSE 0 END) AS n_leak
  FROM events WHERE user_id NOT IN (SELECT user_id FROM del))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM del) AS n_users_deleted,
       CAST((SELECT n_removed FROM removed) AS BIGINT) AS n_events_removed,
       CAST(k.n_kept AS BIGINT) AS n_events_remaining,
       CAST(COALESCE(k.n_leak, 0) AS BIGINT) AS n_leaked_remaining
FROM kept k
""",
)
def dq_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    del_list = (
        ev.filter(F.col("user_id") % 37 == 0).select("user_id").distinct()
    )
    survivors = ev.join(F.broadcast(del_list), "user_id", "left_anti")
    removed = ev.join(F.broadcast(del_list), "user_id", "left_semi")
    audit_kept = survivors.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events_remaining"),
        F.coalesce(
            F.sum((F.col("user_id") % 37 == 0).cast("int")), F.lit(0)
        ).cast("bigint").alias("n_leaked_remaining"),
    )
    n_users = del_list.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users_deleted")
    )
    n_removed = removed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events_removed")
    )
    return n_users.crossJoin(n_removed).crossJoin(audit_kept)


# --------------------------------------------------------------------------
# B146 (round 4) — accumulating-snapshot fact build (the Kimball
# pattern for lifecycle tables): one row per order carrying its
# milestone timestamps (order date, first ship, last ship) and the
# derived cycle times.  One rollup on the fact's natural key, one
# broadcast-dim join; day arithmetic is exact ints.  At 100 TB this
# is the incremental-refresh target — the milestones are MIN/MAX
# partials, so new lineitems merge without rescanning the order's
# history (the incremental_rollup property).


@query(
    "warehouse_accumulating_snapshot",
    oracle="""
WITH ship AS (
  SELECT l_orderkey,
         MIN(l_shipdate) AS first_ship,
         MAX(l_shipdate) AS last_ship,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey)
SELECT o.o_orderkey, o.o_orderstatus,
       CAST(s.n_lines AS BIGINT) AS n_lines,
       CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                      CAST(s.first_ship AS DATE)) AS BIGINT)
         AS days_to_first_ship,
       CAST(date_diff('day', CAST(s.first_ship AS DATE),
                      CAST(s.last_ship AS DATE)) AS BIGINT)
         AS ship_window_days
FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey
""",
)
def warehouse_accumulating_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return o.join(ship, o.o_orderkey == ship.l_orderkey).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.datediff(F.col("first_ship").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("days_to_first_ship"),
        F.datediff(F.col("last_ship").cast("date"), F.col("first_ship").cast("date"))
        .cast("bigint")
        .alias("ship_window_days"),
    )


# --------------------------------------------------------------------------
# B150 (round 4) — late-arriving dimension handling: facts load before
# every dimension row exists, join what's there, bucket the misses
# under a placeholder, and RESTATE only the placeholder rows once the
# stragglers arrive — never re-joining the whole fact table.  The
# oracle is the direct full join: early+restate must equal
# had-everything-been-on-time exactly (the incremental == full
# equivalence, applied to dimension lateness).


@query(
    "warehouse_late_arriving_dim",
    oracle="""
SELECT c.c_nationkey AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
""",
)
def warehouse_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(12,2)").alias("p")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    early_dim = c.filter(F.col("c_custkey") % 11 != 0)
    late_dim = c.filter(F.col("c_custkey") % 11 == 0)
    # load-time join: misses land in the placeholder bucket (-1)
    first_pass = o.join(
        F.broadcast(early_dim), o.o_custkey == early_dim.c_custkey, "left"
    ).select(
        "o_custkey", "p",
        F.coalesce("c_nationkey", F.lit(-1)).alias("nation"),
    )
    resolved = first_pass.filter(F.col("nation") != -1)
    pending = first_pass.filter(F.col("nation") == -1).drop("nation")
    # restatement: ONLY the pending rows meet the late dimension rows
    restated = pending.join(
        F.broadcast(late_dim), pending.o_custkey == late_dim.c_custkey
    ).select("o_custkey", "p", F.col("c_nationkey").alias("nation"))
    final = resolved.unionByName(restated)
    return final.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("p").cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# B170 (round 5) — exact proration (largest-remainder allocation): split
# an order-level amount across its line items proportional to each
# line's extended price, in INTEGER CENTS, with the leftover cents from
# floor-division assigned one each to the largest remainders
# (l_linenumber breaks ties).  This is the cost-allocation /
# revenue-recognition workhorse, and the invariant that matters — the
# per-order allocations sum EXACTLY to the order total, no float dust —
# is carried as an audit column computed from the data.  All arithmetic
# is int64 (products bounded: total_cents <= ~6e7, ep_cents <= ~1e7,
# so total*ep <= 6e14 << 2^63); the only doubles are final /100
# displays of identical ints, so parity is bitwise.  Shape at 100 TB:
# one broadcast-join of the order slice + two windows over l_orderkey —
# a single shuffle key, no skew (order sizes are bounded).


@query(
    "warehouse_proration",
    oracle="""
WITH o AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS total_cents
  FROM orders WHERE o_orderkey % 10 = 0),
li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS ep_cents
  FROM lineitem WHERE l_orderkey % 10 = 0),
j AS (
  SELECT li.l_orderkey, li.l_linenumber, li.ep_cents, o.total_cents,
         SUM(li.ep_cents) OVER (PARTITION BY li.l_orderkey) AS s
  FROM li JOIN o ON li.l_orderkey = o.o_orderkey),
d AS (
  SELECT l_orderkey, l_linenumber, total_cents,
         (total_cents * ep_cents) // s AS base_cents,
         (total_cents * ep_cents) % s AS rem
  FROM j),
r AS (
  SELECT l_orderkey, l_linenumber, total_cents, base_cents,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY rem DESC, l_linenumber ASC) AS rk,
         total_cents - SUM(base_cents) OVER (PARTITION BY l_orderkey)
           AS leftover
  FROM d),
a AS (
  SELECT l_orderkey, l_linenumber, total_cents,
         base_cents + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc_cents
  FROM r)
SELECT l_orderkey, l_linenumber,
       CAST(alloc_cents AS DOUBLE) / 100.0 AS alloc,
       (SUM(alloc_cents) OVER (PARTITION BY l_orderkey) = total_cents)
         AS balanced
FROM a
""",
)
def warehouse_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("total_cents"),
        )
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("ep_cents"),
        )
    )
    worder = Window.partitionBy("l_orderkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "ep_cents", "total_cents"
    )
    d = j.select(
        "l_orderkey",
        "l_linenumber",
        "total_cents",
        F.expr("(total_cents * ep_cents) div sum(ep_cents) over "
               "(partition by l_orderkey)").alias("base_cents"),
        F.expr("(total_cents * ep_cents) % sum(ep_cents) over "
               "(partition by l_orderkey)").alias("rem"),
    )
    r = d.select(
        "l_orderkey",
        "l_linenumber",
        "total_cents",
        "base_cents",
        F.row_number()
        .over(Window.partitionBy("l_orderkey").orderBy(F.desc("rem"), F.asc("l_linenumber")))
        .alias("rk"),
        (F.col("total_cents") - F.sum("base_cents").over(worder)).alias("leftover"),
    )
    a = r.select(
        "l_orderkey",
        "l_linenumber",
        "total_cents",
        (
            F.col("base_cents")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc_cents"),
    )
    return a.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("alloc_cents").cast("double") / 100.0).alias("alloc"),
        (F.sum("alloc_cents").over(worder) == F.col("total_cents")).alias("balanced"),
    )


# --------------------------------------------------------------------------
# B173 (round 5) — anti-entropy range checksums (Merkle-style
# reconciliation): compare two table snapshots WITHOUT moving rows by
# reducing each key range to (row count, XOR of per-row content
# digests) and diffing the fingerprints — the Dynamo/Cassandra repair
# primitive, and the only sane way to find which slices of a 100 TB
# replica diverged before shipping any data.  XOR is order- and
# partition-independent, so the rollup is one map-side-combined
# shuffle per snapshot at any scale; out-of-sync ranges (and only
# those) would then be re-read row-level.  Digests are the established
# md5->conv bigint twin (15 hex digits = 60 bits, sign-safe in both
# engines).


@query(
    "dq_merkle_ranges",
    oracle="""
WITH snap_a AS (
  SELECT o_orderkey AS k, o_orderstatus AS st FROM orders WHERE o_orderkey % 11 <> 0),
snap_b AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS st
  FROM orders WHERE o_orderkey % 13 <> 0),
fa AS (
  SELECT k // 500 AS rng, COUNT(*) AS n_a,
         bit_xor(('0x' || substr(md5(k || '|' || st), 1, 15))::BIGINT) AS h_a
  FROM snap_a GROUP BY 1),
fb AS (
  SELECT k // 500 AS rng, COUNT(*) AS n_b,
         bit_xor(('0x' || substr(md5(k || '|' || st), 1, 15))::BIGINT) AS h_b
  FROM snap_b GROUP BY 1)
SELECT COALESCE(fa.rng, fb.rng) AS rng,
       CAST(COALESCE(fa.n_a, 0) AS BIGINT) AS n_a,
       CAST(COALESCE(fb.n_b, 0) AS BIGINT) AS n_b,
       (fa.n_a IS NOT NULL AND fb.n_b IS NOT NULL
        AND fa.n_a = fb.n_b AND fa.h_a = fb.h_b) AS in_sync
FROM fa FULL OUTER JOIN fb ON fa.rng = fb.rng
""",
)
def dq_merkle_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    snap_a = o.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("st")
    )
    snap_b = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("st"),
    )
    digest = "cast(conv(substring(md5(concat(k, '|', st)), 1, 15), 16, 10) as bigint)"

    def fingerprint(snap, n_name, h_name):
        return snap.groupBy(F.expr("k div 500").alias("rng")).agg(
            F.count(F.lit(1)).alias(n_name),
            F.expr(f"bit_xor({digest})").alias(h_name),
        )

    fa = fingerprint(snap_a, "n_a", "h_a")
    fb = fingerprint(snap_b, "n_b", "h_b")
    j = fa.join(fb, fa.rng == fb.rng, "full_outer")
    return j.select(
        F.coalesce(fa.rng, fb.rng).alias("rng"),
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        (
            F.col("n_a").isNotNull()
            & F.col("n_b").isNotNull()
            & (F.col("n_a") == F.col("n_b"))
            & (F.col("h_a") == F.col("h_b"))
        ).alias("in_sync"),
    )


# --------------------------------------------------------------------------
# B179 (round 5) — column-profile drift between two periods: the
# monitoring table every ingestion pipeline publishes — per event type,
# how did volume, audience, and value mass move from the first half of
# the month to the second?  Complements ml_psi_drift (score
# distributions) with the upstream COLUMN-level view that catches
# schema/source regressions before they reach a model.  Two single-scan
# profile rollups diffed on the type key; counts exact ints, value
# sums exact decimals, the drift ratios one double division each.


@query(
    "dq_profile_drift",
    oracle="""
WITH a AS (
  SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
         SUM(CAST(value AS DECIMAL(12,2))) AS val
  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
b AS (
  SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
         SUM(CAST(value AS DECIMAL(12,2))) AS val
  FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1)
SELECT COALESCE(a.event_type, b.event_type) AS event_type,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n_first,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS n_second,
       CAST(COALESCE(a.users, 0) AS BIGINT) AS users_first,
       CAST(COALESCE(b.users, 0) AS BIGINT) AS users_second,
       CAST(COALESCE(a.val, 0) AS DOUBLE) AS value_first,
       CAST(COALESCE(b.val, 0) AS DOUBLE) AS value_second,
       CAST(COALESCE(b.n, 0) AS DOUBLE) / COALESCE(a.n, 0) AS volume_ratio
FROM a FULL OUTER JOIN b ON a.event_type = b.event_type
""",
)
def dq_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")

    def profile(df, suffix):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias(f"n_{suffix}"),
            F.countDistinct("user_id").alias(f"users_{suffix}"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias(f"val_{suffix}"),
        )

    a = profile(ev.filter(F.col("ts") < cut), "a")
    b = profile(ev.filter(F.col("ts") >= cut), "b")
    j = a.join(b, "event_type", "full_outer")
    return j.select(
        "event_type",
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_first"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_second"),
        F.coalesce("users_a", F.lit(0)).cast("bigint").alias("users_first"),
        F.coalesce("users_b", F.lit(0)).cast("bigint").alias("users_second"),
        F.coalesce("val_a", F.lit(0).cast("decimal(12,2)")).cast("double").alias("value_first"),
        F.coalesce("val_b", F.lit(0).cast("decimal(12,2)")).cast("double").alias("value_second"),
        (
            F.coalesce("n_b", F.lit(0)).cast("double")
            / F.coalesce("n_a", F.lit(0))
        ).alias("volume_ratio"),
    )


# --------------------------------------------------------------------------
# B181 (round 5) — join-cardinality estimation from bucket histograms:
# predict |A join B| from per-bucket (row count, distinct-key count)
# statistics WITHOUT running the join — what an optimizer's stats
# pipeline does, surfaced as a query so the estimate can be audited
# against the true size.  Estimator per bucket: na*nb / max(da, db)
# (uniform-within-bucket, the textbook containment assumption).  The
# true size is the exact SUM over keys of cnt_a*cnt_b — computed as a
# distinct-key rollup join, never by materializing the join.  Both the
# estimate and the truth are integer arithmetic until the final
# divisions, so parity is exact.


@query(
    "dq_join_cardinality_estimate",
    oracle="""
WITH a AS (
  SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'),
b AS (
  SELECT l_orderkey AS k FROM lineitem),
ha AS (
  SELECT k % 64 AS bkt, COUNT(*) AS na, COUNT(DISTINCT k) AS da
  FROM a GROUP BY 1),
hb AS (
  SELECT k % 64 AS bkt, COUNT(*) AS nb, COUNT(DISTINCT k) AS db
  FROM b GROUP BY 1),
est AS (
  SELECT SUM(CAST(ha.na * hb.nb AS DOUBLE)
             / CASE WHEN ha.da > hb.db THEN ha.da ELSE hb.db END) AS est
  FROM ha JOIN hb ON ha.bkt = hb.bkt),
truth AS (
  SELECT SUM(ca.n * cb.n) AS actual
  FROM (SELECT k, COUNT(*) AS n FROM a GROUP BY k) ca
  JOIN (SELECT k, COUNT(*) AS n FROM b GROUP BY k) cb ON ca.k = cb.k)
SELECT round(est.est, 4) AS estimated_rows,
       CAST(truth.actual AS BIGINT) AS actual_rows,
       round(est.est / truth.actual, 6) AS est_over_actual
FROM est CROSS JOIN truth
""",
)
def dq_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("k"))
    )
    b = load_table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))

    def hist(df, n, d):
        return df.groupBy((F.col("k") % 64).alias("bkt")).agg(
            F.count(F.lit(1)).alias(n), F.countDistinct("k").alias(d)
        )

    est = (
        hist(a, "na", "da")
        .join(hist(b, "nb", "db"), "bkt")
        .agg(
            F.sum(
                (F.col("na") * F.col("nb")).cast("double")
                / F.greatest("da", "db")
            ).alias("est")
        )
    )
    truth = (
        a.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_a"))
        .join(b.groupBy("k").agg(F.count(F.lit(1)).alias("n_b")), "k")
        .agg(F.sum(F.col("n_a") * F.col("n_b")).alias("actual"))
    )
    return est.crossJoin(truth).select(
        F.round("est", 4).alias("estimated_rows"),
        F.col("actual").cast("bigint").alias("actual_rows"),
        F.round(F.col("est") / F.col("actual"), 6).alias("est_over_actual"),
    )


# --------------------------------------------------------------------------
# B189 (round 6) — referential-integrity audit: orphan counts for every
# declared FK edge of the star schema, the preflight every warehouse
# load runs before publishing.  Each edge is one left-anti join against
# the (broadcastable) parent key set — at 100 TB the fact-side scan
# reads only the FK column (columnar pruning), the parent key set is
# dimension-sized, and no edge ever shuffles the fact table: anti join
# with a broadcast build side is a map-side filter.


@query(
    "dq_referential_integrity",
    oracle="""
SELECT 'orders.o_custkey->customer' AS fk_edge,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN ok.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN orders ok ON l.l_orderkey = ok.o_orderkey
UNION ALL
SELECT 'lineitem.l_partkey->part',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'customer.c_nationkey->nation',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
""",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    def edge(
        label: str,
        child: DataFrame,
        fk: str,
        parent: DataFrame,
        pk: str,
        broadcast_parent: bool = True,
    ):
        # broadcast only true dimensions; a fact-sized parent key set
        # (orders, for the lineitem edge) goes through a shuffle join —
        # broadcasting it would ship the whole fact to every executor
        keys = parent.select(F.col(pk).alias("__pk")).distinct()
        if broadcast_parent:
            keys = F.broadcast(keys)
        joined = child.select(F.col(fk).alias("__fk")).join(
            keys, F.col("__fk") == F.col("__pk"), "left"
        )
        return joined.agg(
            F.lit(label).alias("fk_edge"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("__pk").isNull().cast("bigint")).cast("bigint").alias(
                "n_orphans"
            ),
        ).select("fk_edge", "n_rows", "n_orphans")

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    return (
        edge("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey")
        .unionByName(
            edge(
                "lineitem.l_orderkey->orders",
                lineitem,
                "l_orderkey",
                orders,
                "o_orderkey",
                broadcast_parent=False,
            )
        )
        .unionByName(
            edge("lineitem.l_partkey->part", lineitem, "l_partkey", part, "p_partkey")
        )
        .unionByName(
            edge("customer.c_nationkey->nation", customer, "c_nationkey", nation, "n_nationkey")
        )
    )


# --------------------------------------------------------------------------
# B196 (round 6) — primary-key uniqueness audit across the schema's
# declared keys, the sibling preflight to dq_referential_integrity:
# per table, total rows, distinct key values, and how many key values
# collide.  Each check is one map-side-combined count aggregation on
# the key column only (columnar pruning reads nothing else) — at
# 100 TB this is the cheapest possible full-table integrity scan.


@query(
    "dq_pk_uniqueness",
    oracle="""
SELECT 'orders.o_orderkey' AS pk, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_excess
FROM orders
UNION ALL
SELECT 'customer.c_custkey', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
FROM customer
UNION ALL
SELECT 'part.p_partkey', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT p_partkey) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT p_partkey) AS BIGINT)
FROM part
UNION ALL
SELECT 'events.event_id', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT event_id) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
FROM events
UNION ALL
SELECT 'lineitem.(l_orderkey,l_linenumber)', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT l_orderkey * 1000 + l_linenumber) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 1000 + l_linenumber) AS BIGINT)
FROM lineitem
""",
)
def dq_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    def check(label: str, df: DataFrame, key):
        return df.agg(
            F.lit(label).alias("pk"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(key).cast("bigint").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct(key)).cast("bigint").alias("n_excess"),
        )

    li = load_table(spark, sf_dir, "lineitem")
    out = check("orders.o_orderkey", load_table(spark, sf_dir, "orders"), F.col("o_orderkey"))
    out = out.unionByName(
        check("customer.c_custkey", load_table(spark, sf_dir, "customer"), F.col("c_custkey"))
    )
    out = out.unionByName(
        check("part.p_partkey", load_table(spark, sf_dir, "part"), F.col("p_partkey"))
    )
    out = out.unionByName(
        check("events.event_id", load_table(spark, sf_dir, "events"), F.col("event_id"))
    )
    return out.unionByName(
        check(
            "lineitem.(l_orderkey,l_linenumber)",
            li,
            F.col("l_orderkey") * 1000 + F.col("l_linenumber"),
        )
    )


# --------------------------------------------------------------------------
# Round 7 — bitemporal as-of: the two-axis temporal query SCD2 cannot
# answer.  The fact table is an append-only assertion log (key,
# valid_from, tx_time, value): tx_time is when the warehouse LEARNED
# the fact, valid_from is when it became TRUE in the world — late
# corrections arrive with old valid_from but new tx_time.  "What did
# we believe on snapshot date S about the balance in effect on date V"
# = among assertions with tx_time <= S and valid_from <= V, the one
# with the greatest valid_from, ties broken by latest tx_time then
# sequence.  Comparing two snapshot dates for the same V exposes every
# retroactively rewritten key.  Shape at 100 TB: the 2-row snapshot
# spine broadcasts, the log shuffles ONCE on (key, snapshot) for the
# row_number window — no self-join, no per-snapshot rescan.


@query(
    "warehouse_bitemporal_asof",
    oracle="""
WITH log AS (
  SELECT o_custkey % 500 AS key,
         o_orderdate - INTERVAL ((o_orderkey % 90)) DAY AS valid_from,
         o_orderdate AS tx_time,
         o_orderkey AS seq,
         CAST(o_totalprice AS DECIMAL(12,2)) AS bal
  FROM orders),
snaps AS (SELECT DATE '1995-06-01' AS s UNION ALL SELECT DATE '1997-06-01'),
vis AS (
  SELECT l.key, s.s, l.bal,
         row_number() OVER (PARTITION BY l.key, s.s
                            ORDER BY l.valid_from DESC, l.tx_time DESC, l.seq DESC) AS rn
  FROM log l JOIN snaps s
    ON l.tx_time <= s.s AND l.valid_from <= DATE '1996-01-01'),
best AS (SELECT key, s, bal FROM vis WHERE rn = 1)
SELECT key,
       CAST(MAX(CASE WHEN s = DATE '1995-06-01' THEN bal END) AS DOUBLE) AS bal_asof_1995,
       CAST(MAX(CASE WHEN s = DATE '1997-06-01' THEN bal END) AS DOUBLE) AS bal_asof_1997,
       CAST(MAX(CASE WHEN s = DATE '1995-06-01' THEN bal END)
            IS DISTINCT FROM MAX(CASE WHEN s = DATE '1997-06-01' THEN bal END)
            AS BOOLEAN) AS rewritten
FROM best GROUP BY key
""",
)
def warehouse_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    log = o.select(
        (F.col("o_custkey") % 500).alias("key"),
        F.date_sub(
            F.col("o_orderdate"), (F.col("o_orderkey") % 90).cast("int")
        ).alias("valid_from"),
        F.col("o_orderdate").alias("tx_time"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("bal"),
    )
    # snapshot spine as an exploded literal array: no join operator at
    # all (a 2-row non-equi broadcast would plan as a nested loop)
    vis = log.withColumn(
        "s",
        F.explode(
            F.array(
                F.lit("1995-06-01").cast("date"), F.lit("1997-06-01").cast("date")
            )
        ),
    ).filter(
        (F.col("tx_time") <= F.col("s"))
        & (F.col("valid_from") <= F.lit("1996-01-01").cast("date"))
    )
    w = Window.partitionBy("key", "s").orderBy(
        F.desc("valid_from"), F.desc("tx_time"), F.desc("seq")
    )
    best = vis.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    b95 = F.max(F.when(F.col("s") == F.lit("1995-06-01").cast("date"), F.col("bal")))
    b97 = F.max(F.when(F.col("s") == F.lit("1997-06-01").cast("date"), F.col("bal")))
    return best.groupBy("key").agg(
        b95.cast("double").alias("bal_asof_1995"),
        b97.cast("double").alias("bal_asof_1997"),
        b95.eqNullSafe(b97).__invert__().alias("rewritten"),
    )


# --------------------------------------------------------------------------
# Round 7 — write-audit-publish (WAP): the production data-lake gate.
# The transform lands in a STAGING location, an audit re-reads the
# staged bytes (never the in-memory frame) and checks row count +
# null contract + an order-insensitive content checksum against
# expectations computed independently from the source, and only a
# passing audit "publishes" (atomic rename — the same O(1) metadata
# flip a table format's snapshot commit performs).  A second staged
# write with a deliberately violated contract (nulled keys) must FAIL
# the audit and never publish.  The oracle recomputes both audits'
# expectations straight from `orders`, so parity proves the staged
# bytes, the checksum math, and the gate decision end to end.  At
# 100 TB: the data write is the distributed part; audit is one
# aggregate over the staged files; publish is metadata-only.

_WAP_NULL_EVERY = 97  # corrupt variant: null out every 97th key


@query(
    "warehouse_write_audit_publish",
    oracle=f"""
WITH src AS (
  SELECT o_orderpriority AS priority,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS total
  FROM orders GROUP BY o_orderpriority),
good AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(n_rows) AS BIGINT) AS n_src_rows,
         md5(string_agg(priority || ':' || n_rows || ':' || CAST(total AS VARCHAR),
                        '|' ORDER BY priority)) AS checksum
  FROM src),
bad AS (
  SELECT COUNT(*) AS n_nulls
  FROM orders WHERE o_orderkey % {_WAP_NULL_EVERY} = 0)
SELECT 'clean' AS batch, g.n_rows, g.n_src_rows, g.checksum,
       TRUE AS audit_pass, TRUE AS published
FROM good g
UNION ALL
SELECT 'corrupt' AS batch, g.n_rows,
       g.n_src_rows, g.checksum,
       FALSE AS audit_pass, FALSE AS published
FROM good g CROSS JOIN bad b
""",
)
def warehouse_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = scratch_dir("psvm_wap_")

    def transform(df):
        # total stays DECIMAL(22,2): its string form (and therefore the
        # checksum) is engine-identical, unlike double formatting
        return df.groupBy(F.col("o_orderpriority").alias("priority")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("decimal(22,2)")
            .alias("total"),
        )

    def stage_audit_publish(df, name, key_col):
        staging = os.path.join(base, f"_staging_{name}")
        final = os.path.join(base, name)
        transform(df).write.mode("overwrite").parquet(staging)
        staged = spark.read.parquet(staging)
        audit = staged.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_rows").cast("bigint").alias("n_src_rows"),
            F.md5(
                F.array_join(
                    F.expr(
                        "transform(array_sort(collect_list(struct(priority,"
                        " concat(priority, ':', n_rows, ':', cast(total as string))))),"
                        " x -> x.col2)"
                    ),
                    "|",
                )
            ).alias("checksum"),
            F.sum(F.when(F.col(key_col).isNull(), 1).otherwise(0)).alias("n_null_keys"),
        ).collect()[0]
        audit_pass = bool(audit.n_null_keys == 0 and audit.n_rows > 0)
        published = False
        if audit_pass:
            os.rename(staging, final)  # the atomic metadata flip
            published = os.path.isdir(final)
        return audit, audit_pass, published

    g_audit, g_pass, g_pub = stage_audit_publish(o, "clean", "priority")
    corrupt = o.withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % _WAP_NULL_EVERY == 0, F.lit(None)).otherwise(
            F.col("o_orderpriority")
        ),
    )
    b_audit, b_pass, b_pub = stage_audit_publish(corrupt, "corrupt", "priority")
    return local_df(spark,
        [
            ("clean", g_audit.n_rows, g_audit.n_src_rows, g_audit.checksum, g_pass, g_pub),
            ("corrupt", g_audit.n_rows, g_audit.n_src_rows, g_audit.checksum, b_pass, b_pub),
        ],
        "batch string, n_rows long, n_src_rows long, checksum string,"
        " audit_pass boolean, published boolean",
    )


# --------------------------------------------------------------------------
# B245 (round 8) — manifest-based file pruning: the core mechanism of
# every modern table format (Iceberg/Delta data skipping) demonstrated
# without table-format packages (none ship offline — the documented
# round-5 constraint).  Write orders partitioned by order month, build
# a MANIFEST of per-file (path, min/max o_orderdate, row count) — the
# Iceberg manifest-entry shape — then answer a date-range query by
# pruning the manifest FIRST and reading only the surviving files.
# Output proves the skipping: files_total vs files_scanned, plus the
# aggregate over the pruned read (hash-checked against a direct filter
# of the source — data skipping must never change answers).  At 100 TB
# this is exactly how a scan touches 6/84 months of a petabyte table;
# the manifest itself is O(files), read on the driver like a real
# format's metadata layer.

_MAN_LO, _MAN_HI = "1996-01-01", "1996-07-01"


@query(
    "warehouse_manifest_pruned_scan",
    oracle=f"""
WITH months AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
         MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi
  FROM orders GROUP BY 1),
pruned AS (
  SELECT mo FROM months
  WHERE hi >= DATE '{_MAN_LO}' AND lo < DATE '{_MAN_HI}'),
agg AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
  FROM orders
  WHERE o_orderdate >= DATE '{_MAN_LO}' AND o_orderdate < DATE '{_MAN_HI}')
SELECT CAST((SELECT COUNT(*) FROM months) AS BIGINT) AS files_total,
       CAST((SELECT COUNT(*) FROM pruned) AS BIGINT) AS files_scanned,
       CAST(a.n_rows AS BIGINT) AS n_rows,
       a.total
FROM agg a
""",
)
def warehouse_manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("psvm_manifest_")
    (
        o.withColumn("o_month", F.date_trunc("month", "o_orderdate").cast("date"))
        .repartition("o_month")  # one file per month, written in parallel
        .write.mode("overwrite")
        .partitionBy("o_month")
        .parquet(f"{root}/data")
    )
    # manifest build: per-file stats, the Iceberg manifest-entry shape
    manifest = [
        {
            "path": f"{root}/data/o_month={r.mo}",
            "min_date": str(r.lo),
            "max_date": str(r.hi),
            "n_rows": r.n,
        }
        for r in (
            o.groupBy(
                F.date_trunc("month", "o_orderdate").cast("date").alias("mo")
            )
            .agg(
                F.min("o_orderdate").alias("lo"),
                F.max("o_orderdate").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
    ]
    with open(f"{root}/manifest.json", "w") as fh:
        json.dump(manifest, fh)
    # prune on the driver from manifest stats alone (the metadata layer)
    with open(f"{root}/manifest.json") as fh:
        entries = json.load(fh)
    keep = [
        e["path"]
        for e in entries
        if e["max_date"] >= _MAN_LO and e["min_date"] < _MAN_HI
    ]
    pruned = (
        spark.read.parquet(*keep)
        .filter(
            (F.col("o_orderdate") >= F.lit(_MAN_LO).cast("date"))
            & (F.col("o_orderdate") < F.lit(_MAN_HI).cast("date"))
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total"),
        )
    )
    meta = local_df(spark,
        [(len(entries), len(keep))], "files_total long, files_scanned long"
    )
    return F.broadcast(meta).crossJoin(pruned).select(
        "files_total", "files_scanned", "n_rows", "total"
    )


# --------------------------------------------------------------------------
# B246 (round 8) — snapshot isolation + time travel over the manifest
# layer: the OTHER half of the table-format story (B245 is data
# skipping).  Commits never rewrite history — they add data files and a
# new snapshot manifest listing the files that are live AS OF that
# commit (the Iceberg snapshot model).  Here: commit 1 writes orders
# month-partitioned (snapshot 1 = all month files); commit 2 is a
# delete/compaction that REPLACES the 1996-06 file with an urgent-only
# rewrite (snapshot 2 = every other month's original file + the
# rewrite).  Querying "AS OF" a snapshot reads exactly that manifest's
# file list — the old June file still exists on disk, so snapshot 1
# reproduces the pre-delete answer bit-for-bit.  At 100 TB this is how
# a reproducible training run pins the corpus version while compaction
# and GDPR deletes continue to commit on top; the manifests are
# O(files) JSON read on the driver, the data reads touch only live
# files.

_TT_RW_MONTH = "1996-06-01"
_TT_RW_PRIO = "1-URGENT"


@query(
    "warehouse_snapshot_time_travel",
    oracle=f"""
WITH months AS (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo
  FROM orders),
s1 AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS tc
  FROM orders),
s2 AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS tc
  FROM orders
  WHERE NOT (CAST(date_trunc('month', o_orderdate) AS DATE)
               = DATE '{_TT_RW_MONTH}'
             AND o_orderpriority <> '{_TT_RW_PRIO}'))
SELECT CAST(snapshot_id AS INT) AS snapshot_id,
       CAST(n_files AS BIGINT) AS n_files,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(total_c AS BIGINT) AS total_c
FROM (
  SELECT 1 AS snapshot_id, (SELECT COUNT(*) FROM months) AS n_files,
         n_rows, tc AS total_c
  FROM s1
  UNION ALL
  SELECT 2, (SELECT COUNT(*) FROM months), n_rows, tc FROM s2)
""",
)
def warehouse_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("psvm_timetravel_")
    # commit 1: initial month-partitioned write + snapshot-1 manifest
    (
        o.withColumn("o_month", F.date_trunc("month", "o_orderdate").cast("date"))
        .repartition("o_month")  # one file per month, written in parallel
        .write.mode("overwrite")
        .partitionBy("o_month")
        .parquet(f"{root}/data")
    )
    months = sorted(
        str(r.mo)
        for r in o.select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("mo")
        )
        .distinct()
        .collect()
    )
    snap1 = [f"{root}/data/o_month={m}" for m in months]
    with open(f"{root}/snap1.json", "w") as fh:
        json.dump(snap1, fh)
    # commit 2: delete/compaction rewrite of the 1996-06 file (urgent
    # rows survive); history files are never touched
    rw = f"{root}/rewrite/o_month={_TT_RW_MONTH}"
    (
        o.filter(
            (F.date_trunc("month", "o_orderdate").cast("date")
             == F.lit(_TT_RW_MONTH).cast("date"))
            & (F.col("o_orderpriority") == _TT_RW_PRIO)
        )
        .write.mode("overwrite")
        .parquet(rw)
    )
    snap2 = [
        p if not p.endswith(f"o_month={_TT_RW_MONTH}") else rw for p in snap1
    ]
    with open(f"{root}/snap2.json", "w") as fh:
        json.dump(snap2, fh)

    def as_of(snap_path: str, sid: int) -> DataFrame:
        with open(snap_path) as fh:
            files = json.load(fh)
        return (
            spark.read.parquet(*files)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(
                    (F.col("o_totalprice").cast("decimal(12,2)") * 100)
                    .cast("bigint")
                )
                .cast("bigint")
                .alias("total_c"),
            )
            .select(
                F.lit(sid).cast("int").alias("snapshot_id"),
                F.lit(len(files)).cast("bigint").alias("n_files"),
                "n_rows",
                "total_c",
            )
        )

    return as_of(f"{root}/snap1.json", 1).unionAll(as_of(f"{root}/snap2.json", 2))


# --------------------------------------------------------------------------
# B255 (round 8) — vacuum of unreferenced data files: the third table-
# format maintenance op (B245 data skipping, B246 time travel).  After
# the June delete/compaction commit, the ORIGINAL June file is still
# on disk (snapshot 1 needs it); once the retention policy expires
# snapshot 1, vacuum walks the physical file listing, keeps every file
# referenced by the retained manifest, and deletes the rest.  Output
# proves the invariant that matters: files_removed counts only
# unreferenced files, and the retained snapshot's answer re-read AFTER
# the vacuum is unchanged (hash-checked against the source table).
# At 100 TB vacuum is a driver-side manifest diff (O(files)) plus
# parallel deletes — it never reads data.

_VAC_RW_MONTH = "1996-06-01"
_VAC_RW_PRIO = "1-URGENT"


@query(
    "warehouse_vacuum_unreferenced",
    oracle=f"""
WITH months AS (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo
  FROM orders),
s2 AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS tc
  FROM orders
  WHERE NOT (CAST(date_trunc('month', o_orderdate) AS DATE)
               = DATE '{_VAC_RW_MONTH}'
             AND o_orderpriority <> '{_VAC_RW_PRIO}'))
SELECT CAST((SELECT COUNT(*) FROM months) + 1 AS BIGINT) AS files_before,
       CAST(1 AS BIGINT) AS files_removed,
       CAST((SELECT COUNT(*) FROM months) AS BIGINT) AS files_live,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(tc AS BIGINT) AS total_c
FROM s2
""",
)
def warehouse_vacuum_unreferenced(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import shutil

    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("psvm_vacuum_")
    (
        o.withColumn("o_month", F.date_trunc("month", "o_orderdate").cast("date"))
        .repartition("o_month")  # one file per month, written in parallel
        .write.mode("overwrite")
        .partitionBy("o_month")
        .parquet(f"{root}/data")
    )
    months = sorted(
        str(r.mo)
        for r in o.select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("mo")
        )
        .distinct()
        .collect()
    )
    rw = f"{root}/rewrite/o_month={_VAC_RW_MONTH}"
    (
        o.filter(
            (F.date_trunc("month", "o_orderdate").cast("date")
             == F.lit(_VAC_RW_MONTH).cast("date"))
            & (F.col("o_orderpriority") == _VAC_RW_PRIO)
        )
        .write.mode("overwrite")
        .parquet(rw)
    )
    # retained manifest = snapshot 2 (snapshot 1 expired by retention)
    snap2 = [
        f"{root}/data/o_month={m}" if m != _VAC_RW_MONTH else rw for m in months
    ]
    with open(f"{root}/snap2.json", "w") as fh:
        json.dump(snap2, fh)
    # vacuum: physical listing diffed against the retained manifest
    on_disk = sorted(
        [f"{root}/data/o_month={m}" for m in months] + [rw]
    )
    with open(f"{root}/snap2.json") as fh:
        live = set(json.load(fh))
    removed = [p for p in on_disk if p not in live]
    for p in removed:
        shutil.rmtree(p)
    # retained snapshot re-read AFTER the vacuum — must be unchanged
    agg = (
        spark.read.parquet(*sorted(live))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("total_c"),
        )
    )
    meta = local_df(spark,
        [(len(on_disk), len(removed), len(live))],
        "files_before long, files_removed long, files_live long",
    )
    return F.broadcast(meta).crossJoin(agg).select(
        "files_before", "files_removed", "files_live", "n_rows", "total_c"
    )


# --------------------------------------------------------------------------
# B259 (round 8) — partition-spec evolution: the Iceberg capability
# that tables can change their partitioning WITHOUT rewriting history.
# Pre-1996 commits wrote spec-1 files (partitioned by month); later
# commits write spec-2 (month x order priority).  The manifest records
# each file's spec and partition values, so one query plans against
# BOTH specs: spec-2 files prune on month AND priority at the metadata
# layer, spec-1 files prune on month only and apply the priority
# predicate as a row filter — old data never blocks a better layout.
# Output proves per-spec pruning (files scanned per spec) and that the
# answer matches a direct filter of the source.  At 100 TB this is how
# yesterday's layout coexists with today's: re-layout is an economic
# choice, not a correctness migration.

_PE_LO, _PE_HI = "1995-10-01", "1996-04-01"
_PE_PRIO = "1-URGENT"
_PE_SPLIT = "1996-01-01"  # spec-1 before, spec-2 from here on


@query(
    "warehouse_partition_evolution",
    oracle=f"""
WITH m1 AS (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo
  FROM orders WHERE o_orderdate < DATE '{_PE_SPLIT}'),
m2 AS (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
         o_orderpriority AS prio
  FROM orders WHERE o_orderdate >= DATE '{_PE_SPLIT}'),
agg AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS tc
  FROM orders
  WHERE o_orderdate >= DATE '{_PE_LO}' AND o_orderdate < DATE '{_PE_HI}'
    AND o_orderpriority = '{_PE_PRIO}')
SELECT CAST((SELECT COUNT(*) FROM m1) + (SELECT COUNT(*) FROM m2) AS BIGINT)
         AS files_total,
       CAST((SELECT COUNT(*) FROM m1
             WHERE mo >= DATE '{_PE_LO}' AND mo < DATE '{_PE_HI}') AS BIGINT)
         AS files_scanned_spec1,
       CAST((SELECT COUNT(*) FROM m2
             WHERE mo >= DATE '{_PE_LO}' AND mo < DATE '{_PE_HI}'
               AND prio = '{_PE_PRIO}') AS BIGINT) AS files_scanned_spec2,
       CAST(a.n_rows AS BIGINT) AS n_rows,
       CAST(a.tc AS BIGINT) AS total_c
FROM agg a
""",
)
def warehouse_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_trunc("month", "o_orderdate").cast("date")
    )
    root = scratch_dir("psvm_specevo_")
    split = F.lit(_PE_SPLIT).cast("date")

    # The two spec writes and the manifest-derivation job are three
    # independent scans of orders — overlap them (guide section 2.6)
    # instead of paying three sequential job tails.
    def _write_spec1() -> None:
        (
            o.filter(F.col("o_orderdate") < split)
            .repartition("o_month")  # one file per spec-1 partition
            .write.mode("overwrite")
            .partitionBy("o_month")
            .parquet(f"{root}/spec1")
        )

    def _write_spec2() -> None:
        (
            o.filter(F.col("o_orderdate") >= split)
            .withColumn("o_prio", F.col("o_orderpriority"))
            .repartition("o_month", "o_prio")  # one file per spec-2 partition
            .write.mode("overwrite")
            .partitionBy("o_month", "o_prio")
            .parquet(f"{root}/spec2")
        )

    def _derive_specs():
        # ONE manifest-derivation job for both specs (was two
        # distinct+collect jobs over the same scan): spec-1 months are
        # deduplicated in Python from the (month, prio) grain.
        return (
            o.select(
                F.col("o_month").alias("mo"),
                F.when(F.col("o_orderdate") < split, F.lit(1))
                .otherwise(F.lit(2))
                .alias("spec"),
                F.col("o_orderpriority").alias("prio"),
            )
            .distinct()
            .collect()
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        w1 = pool.submit(_write_spec1)
        w2 = pool.submit(_write_spec2)
        sp = pool.submit(_derive_specs)
        w1.result(), w2.result()
        specs = sp.result()
    ent1 = [
        {"spec": 1, "path": f"{root}/spec1/o_month={m}", "month": m}
        for m in sorted({str(r.mo) for r in specs if r.spec == 1})
    ]
    ent2 = [
        {
            "spec": 2,
            "path": f"{root}/spec2/o_month={r.mo}/o_prio={r.prio}",
            "month": str(r.mo),
            "prio": r.prio,
        }
        for r in specs
        if r.spec == 2
    ]
    with open(f"{root}/manifest.json", "w") as fh:
        json.dump(ent1 + ent2, fh)
    with open(f"{root}/manifest.json") as fh:
        entries = json.load(fh)
    keep1 = [
        e["path"] for e in entries
        if e["spec"] == 1 and _PE_LO <= e["month"] < _PE_HI
    ]
    keep2 = [
        e["path"] for e in entries
        if e["spec"] == 2 and _PE_LO <= e["month"] < _PE_HI
        and e["prio"] == _PE_PRIO
    ]
    pred = (
        (F.col("o_orderdate") >= F.lit(_PE_LO).cast("date"))
        & (F.col("o_orderdate") < F.lit(_PE_HI).cast("date"))
        & (F.col("o_orderpriority") == _PE_PRIO)  # row filter: spec-1 files
    )
    agg = (
        spark.read.parquet(*(keep1 + keep2))
        .filter(pred)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("total_c"),
        )
    )
    meta = local_df(spark,
        [(len(entries), len(keep1), len(keep2))],
        "files_total long, files_scanned_spec1 long, files_scanned_spec2 long",
    )
    return F.broadcast(meta).crossJoin(agg).select(
        "files_total", "files_scanned_spec1", "files_scanned_spec2",
        "n_rows", "total_c",
    )


# --------------------------------------------------------------------------
# B262 (round 8) — equality delete files (Iceberg v2 row-level
# deletes): a DELETE commits a small file of KEY VALUES instead of
# rewriting data files; readers apply it as an anti-join on the fly,
# and compaction folds it in later.  This is the mechanism that makes
# GDPR erasure and CDC deletes O(delete) instead of O(table) — the
# write-side complement of dq_gdpr_erasure's rewrite path.  Here: June
# non-urgent orders are deleted by writing their o_orderkey values to
# a delete file; the read plans data files + BROADCAST anti-join
# against the (small) delete set.  Output: delete count, surviving
# rows/total — hash-checked against a direct predicate filter, because
# a delete file must be indistinguishable from a rewrite.

_EQD_MONTH = "1996-06-01"
_EQD_PRIO = "1-URGENT"


@query(
    "warehouse_equality_deletes",
    oracle=f"""
WITH del AS (
  SELECT o_orderkey FROM orders
  WHERE CAST(date_trunc('month', o_orderdate) AS DATE) = DATE '{_EQD_MONTH}'
    AND o_orderpriority <> '{_EQD_PRIO}'),
live AS (
  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del))
SELECT CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS n_deletes,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_c
FROM live
""",
)
def warehouse_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("psvm_eqdel_")
    o.write.mode("overwrite").parquet(f"{root}/data")
    # the DELETE commit: key values only, O(delete) not O(table)
    (
        o.filter(
            (F.date_trunc("month", "o_orderdate").cast("date")
             == F.lit(_EQD_MONTH).cast("date"))
            & (F.col("o_orderpriority") != _EQD_PRIO)
        )
        .select("o_orderkey")
        .write.mode("overwrite")
        .parquet(f"{root}/deletes")
    )
    data = spark.read.parquet(f"{root}/data")
    dels = spark.read.parquet(f"{root}/deletes")
    n_del = dels.count()
    live = data.join(F.broadcast(dels), "o_orderkey", "left_anti")
    agg = live.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_c"),
    )
    return agg.select(
        F.lit(n_del).cast("bigint").alias("n_deletes"), "n_rows", "total_c"
    )


# --------------------------------------------------------------------------
# B285 (round 9) — POSITION deletion vectors (Delta DVs / Iceberg
# position deletes): the merge-on-read complement of B262's equality
# deletes.  A DELETE commits a small (file_path, row_index) vector —
# REAL physical positions from Spark's `_metadata` hidden column, the
# exact mechanism a table format's DV encodes as a roaring bitmap —
# and readers subtract it with a broadcast anti-join on (file, pos);
# no data file is rewritten.  Deleted-set definition is a predicate
# (low-value June orders), so the OUTPUT is layout-independent and
# hash-checked against a direct filter: a DV read must be
# indistinguishable from copy-on-write.  At 100 TB the DV is
# O(deleted) and per-file — compaction folds it in lazily while GDPR
# deletes stay cheap.

_DV_MONTH = "1996-06-01"
_DV_CENTS = 500_000  # delete orders under $5k in the target month


@query(
    "warehouse_deletion_vectors",
    oracle=f"""
WITH del AS (
  SELECT o_orderkey FROM orders
  WHERE CAST(date_trunc('month', o_orderdate) AS DATE) = DATE '{_DV_MONTH}'
    AND CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) < {_DV_CENTS}),
live AS (
  SELECT * FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del))
SELECT CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS n_dv_entries,
       CAST(COUNT(*) AS BIGINT) AS n_rows_live,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_c
FROM live
""",
)
def warehouse_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("psvm_dv_")
    o.write.mode("overwrite").parquet(f"{root}/data")
    data = spark.read.parquet(f"{root}/data").select(
        "*",
        F.col("_metadata.file_path").alias("_file"),
        F.col("_metadata.row_index").alias("_pos"),
    )
    # the DELETE commit: physical positions only, O(deleted) not O(table)
    dv = data.filter(
        (F.date_trunc("month", "o_orderdate").cast("date")
         == F.lit(_DV_MONTH).cast("date"))
        & ((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
           < _DV_CENTS)
    ).select("_file", "_pos")
    dv.write.mode("overwrite").parquet(f"{root}/dv")
    vec = spark.read.parquet(f"{root}/dv")
    n_dv = vec.count()
    live = data.join(F.broadcast(vec), ["_file", "_pos"], "left_anti")
    agg = live.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_live"),
        F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_c"),
    )
    return agg.select(
        F.lit(n_dv).cast("bigint").alias("n_dv_entries"), "n_rows_live", "total_c"
    )


# --------------------------------------------------------------------------
# B589 (round 12) — MERGE executed BOTH ways on one snapshot:
# copy-on-write vs merge-on-read (verdict r11 item 7b; the two halves
# — _metadata position deletes and partitioned rewrites — are B285 and
# B262/B276 machinery).  One deterministic upsert batch (bump matched
# orders by $10, insert shifted twins of a second key set) is applied
# as (a) CoW: rewrite every FILE containing a matched row into a new
# snapshot dir, untouched files carried by manifest reference, and
# (b) MoR: commit an O(changed) deletion vector + delta file, readers
# subtract/union at scan time.  Both physical reads must aggregate to
# the SAME post-merge table (total_c_cow vs total_c_mor — the oracle
# emits one number for both, so the hash check proves CoW == MoR ==
# SQL MERGE), while the cost columns expose the trade every table
# format documents: CoW amplifies writes to whole touched files
# (n_rows_rewritten_cow >> n_dv_entries_mor when updates are sparse),
# MoR defers that cost to every read until compaction folds the DV.
# The snapshot is month-partitioned with one file per month
# (repartition("mo") before partitionBy), so "touched files" is
# layout-deterministic and the oracle can count it as distinct
# matched months.  Money moves as exact BIGINT cents end to end.

_MERGE_UPD_MOD, _MERGE_UPD_RES = 37, 5  # matched-update key set
_MERGE_INS_MOD, _MERGE_INS_RES = 997, 3  # insert-source key set
_MERGE_INS_OFFSET = 10_000_000  # inserted twin key shift
_MERGE_BUMP_C = 1_000  # +$10.00 per matched order


@query(
    "warehouse_merge_cow_vs_mor",
    oracle=f"""
WITH m AS (
  SELECT o_orderkey,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM orders),
final AS (
  SELECT cents + CASE WHEN o_orderkey % {_MERGE_UPD_MOD} = {_MERGE_UPD_RES}
                      THEN {_MERGE_BUMP_C} ELSE 0 END AS cents
  FROM m
  UNION ALL
  SELECT cents FROM m
  WHERE o_orderkey % {_MERGE_INS_MOD} = {_MERGE_INS_RES})
SELECT CAST((SELECT COUNT(DISTINCT mo) FROM m
             WHERE o_orderkey % {_MERGE_UPD_MOD} = {_MERGE_UPD_RES})
            AS BIGINT) AS n_files_touched_cow,
       CAST((SELECT COUNT(*) FROM m WHERE mo IN
             (SELECT DISTINCT mo FROM m
              WHERE o_orderkey % {_MERGE_UPD_MOD} = {_MERGE_UPD_RES}))
            AS BIGINT) AS n_rows_rewritten_cow,
       CAST((SELECT COUNT(*) FROM m
             WHERE o_orderkey % {_MERGE_UPD_MOD} = {_MERGE_UPD_RES})
            AS BIGINT) AS n_dv_entries_mor,
       CAST((SELECT COUNT(*) FROM m
             WHERE o_orderkey % {_MERGE_UPD_MOD} = {_MERGE_UPD_RES})
            + (SELECT COUNT(*) FROM m
               WHERE o_orderkey % {_MERGE_INS_MOD} = {_MERGE_INS_RES})
            AS BIGINT) AS n_delta_rows_mor,
       CAST((SELECT COUNT(*) FROM final) AS BIGINT) AS n_rows_final,
       CAST((SELECT SUM(cents) FROM final) AS BIGINT) AS total_c_cow,
       CAST((SELECT SUM(cents) FROM final) AS BIGINT) AS total_c_mor
""",
)
def warehouse_merge_cow_vs_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("psvm_merge_cvm_")
    snap = o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("mo"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    # one file per month => "touched files" is layout-deterministic
    snap.repartition("mo").write.partitionBy("mo").mode("overwrite").parquet(
        f"{root}/base"
    )
    # Materialize the base snapshot (rows + their _metadata coordinates)
    # ONCE: every downstream job (cow rewrite, dv, delta, both merge
    # reads, the stats rollup) previously re-scanned the base parquet —
    # 7 scans -> 1.  After the checkpoint _file/_pos are plain columns.
    base = checkpoint(
        spark.read.parquet(f"{root}/base")
        .select(
            "o_orderkey",
            "mo",
            "cents",
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
        )
    )
    is_upd = F.pmod("o_orderkey", F.lit(_MERGE_UPD_MOD)) == _MERGE_UPD_RES
    is_ins = F.pmod("o_orderkey", F.lit(_MERGE_INS_MOD)) == _MERGE_INS_RES
    inserts = base.filter(is_ins).select(
        (F.col("o_orderkey") + _MERGE_INS_OFFSET).alias("o_orderkey"),
        "mo",
        "cents",
    )

    # ONE per-file rollup feeds every scalar the merge report needs
    # (was: a touched-count job + a rewritten-count job + a stats job —
    # all aggregates of the same base scan): n_files = files with any
    # matched row, n_rewritten = rows in those files (CoW write
    # amplification), n_dv = matched rows, n_delta = matched + insert.
    # Deliberately SEQUENTIAL, not in the write pool below: submitting
    # it as a 4th concurrent job was measured slower (warm 4.8-7.0 s vs
    # 4.4-4.9 s) — the three writes already saturate local[32].
    per_file = (
        base.groupBy("_file")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(is_upd.cast("long")).alias("nu"),
            F.sum(is_ins.cast("long")).alias("ni"),
        )
        .agg(
            F.count(F.when(F.col("nu") > 0, True)).alias("nf"),
            F.sum(F.when(F.col("nu") > 0, F.col("rows"))).alias("nrw"),
            F.sum("nu").alias("nu"),
            F.sum("ni").alias("ni"),
        )
        .collect()[0]
    )
    n_files_touched = int(per_file.nf)
    n_rows_rewritten = int(per_file.nrw or 0)
    n_dv = int(per_file.nu)
    n_delta = int(per_file.nu) + int(per_file.ni)

    # ---- CoW: rewrite whole touched files into a new snapshot dir;
    # untouched files are carried by reference (the manifest move)
    touched = base.filter(is_upd).select("_file").distinct()
    rewritten = (
        base.join(F.broadcast(touched), "_file", "left_semi")
        .select(
            "o_orderkey",
            "mo",
            F.when(is_upd, F.col("cents") + _MERGE_BUMP_C)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
    )

    # The three commit writes and the stats rollup are independent
    # jobs over the checkpointed base — overlap them so the tail of one
    # back-fills the others (guide section 2.6).
    def _write_cow() -> None:
        rewritten.unionByName(inserts).write.mode("overwrite").parquet(
            f"{root}/cow_v2"
        )

    def _write_dv() -> None:
        base.filter(is_upd).select("_file", "_pos").write.mode(
            "overwrite"
        ).parquet(f"{root}/dv")

    def _write_delta() -> None:
        base.filter(is_upd).select(
            "o_orderkey", "mo", (F.col("cents") + _MERGE_BUMP_C).alias("cents")
        ).unionByName(inserts).write.mode("overwrite").parquet(f"{root}/delta")

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(_write_cow), pool.submit(_write_dv),
                  pool.submit(_write_delta)]:
            f.result()

    # ---- the two physical merge reads (must agree with each other and
    # with the oracle's SQL MERGE) — independent, overlapped as above
    vec = spark.read.parquet(f"{root}/dv")
    delta = spark.read.parquet(f"{root}/delta")
    cow_read = base.join(F.broadcast(touched), "_file", "left_anti").select(
        "o_orderkey", "cents"
    ).unionByName(
        spark.read.parquet(f"{root}/cow_v2").select("o_orderkey", "cents")
    )
    mor_read = base.join(
        F.broadcast(vec), ["_file", "_pos"], "left_anti"
    ).select("o_orderkey", "cents").unionByName(
        delta.select("o_orderkey", "cents")
    )

    def _agg_cow():
        return cow_read.agg(
            F.sum("cents").cast("bigint").alias("total_c_cow")
        ).collect()[0]

    def _agg_mor():
        return mor_read.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows_final"),
            F.sum("cents").cast("bigint").alias("total_c_mor"),
        ).collect()[0]

    with ThreadPoolExecutor(max_workers=2) as pool:
        cow_f, mor_f = pool.submit(_agg_cow), pool.submit(_agg_mor)
        cow, mor = cow_f.result(), mor_f.result()

    return local_df(spark,
        [
            (
                n_files_touched,
                n_rows_rewritten,
                n_dv,
                n_delta,
                mor.n_rows_final,
                cow.total_c_cow,
                mor.total_c_mor,
            )
        ],
        "n_files_touched_cow bigint, n_rows_rewritten_cow bigint,"
        " n_dv_entries_mor bigint, n_delta_rows_mor bigint,"
        " n_rows_final bigint, total_c_cow bigint, total_c_mor bigint",
    )


# --------------------------------------------------------------------------
# B286 (round 9) — compaction planner: turn a month-partitioned
# table's manifest (per-file row counts — the metadata layer, O(files))
# into target-sized compaction groups in clustering order, the
# OPTIMIZE/rewrite_data_files planning step every table format runs.
# Grouping is the deterministic rolling rule group = prefix_rows div
# target (contiguous in month order, so the rewrite preserves the
# table's clustering); all arithmetic is integer.  The planner reads
# NO data rows — the manifest aggregate is the only corpus pass, and
# the plan itself is bounded by file count.

_COMPACT_TARGET = 2_000  # rows per compaction group


@query(
    "warehouse_compaction_planner",
    oracle=f"""
WITH manifest AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
         COUNT(*) AS n_rows
  FROM orders GROUP BY 1),
planned AS (
  SELECT mo, n_rows,
         (SUM(n_rows) OVER (ORDER BY mo) - n_rows) // {_COMPACT_TARGET} AS grp
  FROM manifest)
SELECT CAST(grp AS BIGINT) AS group_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       CAST(MIN(mo) AS VARCHAR) AS mo_lo, CAST(MAX(mo) AS VARCHAR) AS mo_hi
FROM planned GROUP BY grp
""",
)
def warehouse_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    manifest = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mo")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    # prefix over the calendar-bounded manifest (~84 rows): the
    # bounded-pre-aggregation window class (WINDOW_WHITELIST).
    planned = manifest.select(
        "mo",
        "n_rows",
        F.expr(f"(sum(n_rows) over (order by mo rows between unbounded"
               f" preceding and current row) - n_rows) div {_COMPACT_TARGET}"
               ).alias("grp"),
    )
    return planned.groupBy(F.col("grp").cast("bigint").alias("group_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("rows_total"),
        F.min("mo").cast("string").alias("mo_lo"),
        F.max("mo").cast("string").alias("mo_hi"),
    )


# --------------------------------------------------------------------------
# B510 (round 10) — row lineage through MERGE (the Iceberg v3 row-id
# model): every row carries a stable `row_id` assigned at its first
# commit plus a `last_seq` (last-updated sequence number); an update
# PRESERVES row_id while bumping last_seq, an insert gets a fresh id.
# Snapshot 1 materializes the base (row_id := the unique key — the
# identity assignment of a keyed first commit), snapshot 2 applies a
# CDC batch (price bump for key % 7 == 3, plus synthetic inserts) as a
# real parquet rewrite; the audit proves the lineage invariants the
# cheap way a 100 TB table would: per-seq row counts + row_id
# checksums (updated rows' id-sum equals the SAME rows' id-sum in
# snapshot 1 — ids survived the MERGE) and global id uniqueness, all
# from two manifest-light aggregates, never an O(table^2) diff.

_RL_BUMP_C = 1_000  # cents added by the update batch


@query(
    "warehouse_row_lineage",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey AS row_id, o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_c
  FROM orders),
mx AS (SELECT MAX(row_id) AS mx FROM base),
merged AS (
  SELECT row_id, k,
         CASE WHEN k % 7 = 3 THEN price_c + {_RL_BUMP_C} ELSE price_c END
           AS price_c,
         CASE WHEN k % 7 = 3 THEN 2 ELSE 1 END AS last_seq
  FROM base
  UNION ALL
  SELECT mx.mx + b.k AS row_id, mx.mx + b.k AS k, b.price_c, 2 AS last_seq
  FROM base b, mx WHERE b.k % 11 = 5)
SELECT last_seq,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(row_id) AS BIGINT) AS row_id_sum,
       CAST(SUM(price_c) AS BIGINT) AS price_c_sum,
       CAST(COUNT(DISTINCT row_id) AS BIGINT) AS n_distinct_ids
FROM merged
GROUP BY last_seq
""",
)
def warehouse_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("psvm_rl_")
    base = o.select(
        F.col("o_orderkey").alias("row_id"),
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_c"),
        F.lit(1).alias("last_seq"),
    )
    base.write.mode("overwrite").parquet(f"{root}/snap1")
    snap1 = spark.read.parquet(f"{root}/snap1")
    mx = snap1.agg(F.max("row_id").alias("mx"))
    # the MERGE commit: updates keep row_id, inserts mint fresh ids
    updated = snap1.select(
        "row_id",
        "k",
        F.when(F.col("k") % 7 == 3, F.col("price_c") + _RL_BUMP_C)
        .otherwise(F.col("price_c"))
        .alias("price_c"),
        F.when(F.col("k") % 7 == 3, F.lit(2)).otherwise(F.lit(1)).alias("last_seq"),
    )
    inserts = (
        snap1.filter(F.col("k") % 11 == 5)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("mx") + F.col("k")).alias("row_id"),
            (F.col("mx") + F.col("k")).alias("k"),
            "price_c",
            F.lit(2).alias("last_seq"),
        )
    )
    updated.unionAll(inserts).write.mode("overwrite").parquet(f"{root}/snap2")
    snap2 = spark.read.parquet(f"{root}/snap2")
    return snap2.groupBy("last_seq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("row_id").cast("bigint").alias("row_id_sum"),
        F.sum("price_c").cast("bigint").alias("price_c_sum"),
        F.countDistinct("row_id").cast("bigint").alias("n_distinct_ids"),
    )


# --------------------------------------------------------------------------
# B514 (round 10) — clustering-depth metrics from the manifest: the
# decision input for OPTIMIZE/Z-ORDER — how many files OVERLAP in the
# query dimension (o_orderdate) under two physical layouts: files
# range-partitioned by o_custkey (random date ranges -> every file
# overlaps every other) vs by o_orderdate (contiguous ranges -> depth
# ~1 apart from boundary ties).  The file manifest is a per-range
# min/max aggregate (one corpus pass); the depth itself is the
# boundary-sweep over manifest rows ONLY — running (+1 at min, -1
# past max) per layout, the ts_concurrency_peak recipe — so the
# expensive part is O(files), not O(rows), exactly how a 100 TB table
# service computes it.  The layout window is manifest-bounded (file
# count, not corpus rows).

_CD_CUST_RANGE = 100  # custkeys per file in the custkey layout
_CD_DAY_RANGE = 30  # days per file in the date layout


@query(
    "warehouse_clustering_depth",
    oracle=f"""
WITH o AS (
  SELECT o_custkey,
         date_diff('day', DATE '1970-01-01', o_orderdate) AS d
  FROM orders),
manifest AS (
  SELECT 'by_custkey' AS layout, o_custkey // {_CD_CUST_RANGE} AS f,
         MIN(d) AS lo, MAX(d) AS hi
  FROM o GROUP BY 1, 2
  UNION ALL
  SELECT 'by_date', d // {_CD_DAY_RANGE}, MIN(d), MAX(d)
  FROM o GROUP BY 1, 2),
pts AS (
  SELECT layout, pt, SUM(delta) AS delta FROM (
    SELECT layout, lo AS pt, 1 AS delta FROM manifest
    UNION ALL
    SELECT layout, hi + 1, -1 FROM manifest)
  GROUP BY layout, pt),
run AS (
  SELECT layout, pt,
         SUM(delta) OVER (PARTITION BY layout ORDER BY pt) AS depth
  FROM pts)
SELECT m.layout,
       CAST(COUNT(DISTINCT m.f) AS BIGINT) AS n_files,
       CAST((SELECT MAX(depth) FROM run r WHERE r.layout = m.layout)
            AS BIGINT) AS max_overlap_depth
FROM manifest m
GROUP BY m.layout
""",
)
def warehouse_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("d"),
    )
    by_cust = o.groupBy(
        F.expr(f"o_custkey div {_CD_CUST_RANGE}").alias("f")
    ).agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.lit("by_custkey").alias("layout"), "f", "lo", "hi"
    )
    by_date = o.groupBy(
        F.expr(f"d div {_CD_DAY_RANGE}").alias("f")
    ).agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.lit("by_date").alias("layout"), "f", "lo", "hi"
    )
    # manifest feeds three consumers (both union branches of pts, files,
    # depth)
    manifest = checkpoint(by_cust.unionAll(by_date))
    pts = (
        manifest.select("layout", F.col("lo").alias("pt"), F.lit(1).alias("delta"))
        .unionAll(
            manifest.select(
                "layout", (F.col("hi") + 1).alias("pt"), F.lit(-1).alias("delta")
            )
        )
        .groupBy("layout", "pt")
        .agg(F.sum("delta").alias("delta"))
    )
    w = Window.partitionBy("layout").orderBy("pt")
    run = pts.select("layout", F.sum("delta").over(w).alias("depth"))
    depth = run.groupBy("layout").agg(F.max("depth").alias("max_overlap_depth"))
    files = manifest.groupBy("layout").agg(
        F.countDistinct("f").alias("n_files")
    )
    return files.join(depth, "layout").select(
        "layout",
        F.col("n_files").cast("bigint").alias("n_files"),
        F.col("max_overlap_depth").cast("bigint").alias("max_overlap_depth"),
    )


# --------------------------------------------------------------------------
# B516 (round 10) — dynamic partition pruning: the Catalyst feature
# that makes star-schema joins over partitioned facts viable at
# 100 TB — the dim-side filter's key set is computed at RUNTIME and
# injected as a partition filter on the fact scan, so only matching
# month partitions are read (a static planner can't know which months
# the filtered dim selects).  The fact table is written partitioned by
# order month to scratch; the dim side is the filtered URGENT orders
# of one quarter.  The test asserts the physical plan carries
# `dynamicpruning` on the fact scan; here the oracle verifies the
# joined aggregate.  The operator reads back through the partitioned
# layout, so partition elimination is real file-level pruning.


@query(
    "join_dynamic_partition_pruning",
    oracle="""
WITH dim AS (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS m
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'),
fact AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_c
  FROM orders)
SELECT CAST(f.m AS VARCHAR) AS m,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(f.price_c) AS BIGINT) AS total_c
FROM fact f JOIN dim d ON f.m = d.m
GROUP BY f.m
""",
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("psvm_dpp_")
    fact = o.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_c"),
    )
    fact.repartition("m").write.mode("overwrite").partitionBy("m").parquet(
        f"{root}/fact"
    )
    part = spark.read.parquet(f"{root}/fact")
    dim = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & F.col("o_orderdate").between("1995-01-01", "1995-03-31")
        )
        .select(F.date_trunc("month", "o_orderdate").cast("date").alias("dm"))
        .distinct()
    )
    joined = part.join(dim, part.m == dim.dm)
    # DATE partition values reach pandas as objects; string both sides
    # (the documented driver-compare convention for DATE outputs)
    return joined.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("price_c").cast("bigint").alias("total_c"),
    ).select(F.col("m").cast("string").alias("m"), "n_orders", "total_c")


# --------------------------------------------------------------------------
# B537 (round 10) — incremental JOIN-view maintenance: the revenue-by-
# nation materialized view over orders JOIN customer refreshes from
# the DELTA only — for a join view with a static dimension, dMV =
# group(delta JOIN dim), merged with the stored partials (the view-
# maintenance algebra production MV engines apply; incremental_rollup
# is the no-join special case).  Base snapshot = orders with
# o_orderkey % 13 != 0, delta = the % 13 == 0 rows; partials persist
# as (count, DECIMAL sum) so the merge re-aggregates exactly and the
# refreshed MV is bit-identical to the oracle's full recompute.  At
# 100 TB: the nightly refresh scans |delta| + |MV| instead of |fact|,
# with the dim broadcast.


@query(
    "warehouse_incremental_join_mv",
    oracle="""
SELECT c.c_nationkey AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
""",
)
def warehouse_incremental_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    state_dir = scratch_dir("psvm_join_mv_") + "/partials"

    def partials(orders: DataFrame) -> DataFrame:
        return (
            orders.join(F.broadcast(c), orders.o_custkey == c.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(
                F.count(F.lit(1)).alias("pn"),
                F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
                .cast("decimal(20,2)")
                .alias("pt"),
            )
        )

    # Nightly job: persist the base snapshot's partial aggregates.
    partials(o.filter(F.col("o_orderkey") % 13 != 0)).write.mode(
        "overwrite"
    ).parquet(state_dir)
    # Refresh: ONLY the delta joins the (broadcast) dimension.
    delta = partials(o.filter(F.col("o_orderkey") % 13 == 0))
    return (
        spark.read.parquet(state_dir)
        .unionByName(delta)
        .groupBy("nationkey")
        .agg(
            F.sum("pn").cast("bigint").alias("n_orders"),
            F.sum("pt").cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# B538 (round 10) — freshness / volume SLA audit: per event type, when
# did data last arrive (lag vs the corpus high-water mark) and is the
# final full day's volume inside the expected band (vs the per-type
# daily mean over the preceding days)?  The two checks every ingest
# dashboard alerts on, computed in two one-pass rollups — exact
# integer minutes and an exact DECIMAL mean (milli-rows) so the ratio
# is one identical double division per type.


@query(
    "dq_freshness_lag",
    oracle="""
WITH hw AS (SELECT MAX(ts) AS hw FROM events),
last_day AS (
  SELECT CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP) AS d0 FROM events),
per_type AS (
  SELECT event_type, MAX(ts) AS last_ts,
         COUNT(*) FILTER (WHERE ts >= (SELECT d0 FROM last_day)) AS n_last_day,
         COUNT(*) FILTER (WHERE ts < (SELECT d0 FROM last_day)) AS n_hist,
         COUNT(DISTINCT CASE WHEN ts < (SELECT d0 FROM last_day)
                             THEN CAST(date_trunc('day', ts) AS DATE) END)
           AS n_hist_days
  FROM events GROUP BY 1)
SELECT event_type,
       CAST(last_ts AS VARCHAR) AS last_ts,
       CAST((epoch_us((SELECT hw FROM hw)) - epoch_us(last_ts)) // 60000000
            AS BIGINT) AS lag_minutes,
       CAST(n_last_day AS BIGINT) AS n_last_day,
       round(CASE WHEN n_hist_days = 0 THEN NULL
                  ELSE CAST(n_last_day AS DOUBLE)
                       / (CAST(n_hist AS DOUBLE) / n_hist_days) END,
             9) AS volume_ratio
FROM per_type
""",
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    marks = ev.agg(
        F.max("ts").alias("hw"),
        F.date_trunc("day", F.max("ts")).alias("d0"),
    )
    per_type = (
        ev.crossJoin(F.broadcast(marks))
        .groupBy("event_type")
        .agg(
            F.max("ts").alias("last_ts"),
            F.max("hw").alias("hw"),
            F.sum(F.when(F.col("ts") >= F.col("d0"), 1).otherwise(0)).alias("n_last_day"),
            F.sum(F.when(F.col("ts") < F.col("d0"), 1).otherwise(0)).alias("n_hist"),
            F.countDistinct(
                F.when(
                    F.col("ts") < F.col("d0"),
                    F.date_trunc("day", "ts").cast("date"),
                )
            ).alias("n_hist_days"),
        )
    )
    return per_type.select(
        "event_type",
        F.col("last_ts").cast("string").alias("last_ts"),
        F.expr("(unix_micros(hw) - unix_micros(last_ts)) div 60000000")
        .cast("bigint")
        .alias("lag_minutes"),
        F.col("n_last_day").cast("bigint").alias("n_last_day"),
        # A type first seen on the final day has no history: the ratio
        # is NULL, never a 0/0 (ANSI Spark aborts where DuckDB NULLs —
        # the ml_fairness_gaps divergence class).
        F.round(
            F.when(
                F.col("n_hist_days") > 0,
                F.col("n_last_day").cast("double")
                / (F.col("n_hist").cast("double") / F.col("n_hist_days")),
            ),
            9,
        ).alias("volume_ratio"),
    )


# --------------------------------------------------------------------------
# B578 (round 11) — branch + fast-forward merge (the Iceberg v2
# branching/tagging surface, re-implemented relationally like the
# sibling time-travel/manifest keys — the real table-format libs are
# unavailable offline): a catalog maps named REFS to snapshot ids and
# snapshots to immutable file lists, so "create branch" is one ref
# entry, a branch commit appends a corrections file and advances ONLY
# the branch ref (writer isolation: main keeps serving the old
# snapshot), and the merge is a FAST-FORWARD — legal only after an
# explicit ancestry walk proves main's head is an ancestor of the
# branch head, the same check `manageSnapshots().fastForwardBranch`
# performs.  The key returns main-before / branch-head / main-after
# summaries; after the merge, main reads the branch's snapshot with no
# data copied — refs moved, files didn't.  At 100 TB that is the
# point: audit/backfill pipelines stage arbitrarily large changes on a
# branch for validation, then publish by moving one pointer.


@query(
    "warehouse_branch_merge",
    oracle="""
WITH base AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS tc
  FROM orders),
adj AS (
  -- COALESCE: with no corrections rows the branch still exists and the
  -- engine side sums base + an empty appended file = base, so the
  -- oracle's empty-subset SUM must read 0, not NULL (code-review r11)
  SELECT COUNT(*) AS n,
         COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)), 0) AS tc
  FROM orders WHERE o_orderkey % 97 = 0)
SELECT 'main@before' AS ref_state,
       CAST(base.n AS BIGINT) AS n_rows, CAST(base.tc AS BIGINT) AS total_c
FROM base
UNION ALL
SELECT 'audit@head', CAST(base.n + adj.n AS BIGINT),
       CAST(base.tc + adj.tc AS BIGINT)
FROM base, adj
UNION ALL
SELECT 'main@after_ff', CAST(base.n + adj.n AS BIGINT),
       CAST(base.tc + adj.tc AS BIGINT)
FROM base, adj
""",
)
def warehouse_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("psvm_branch_")
    cat_path = f"{root}/catalog.json"

    o.write.mode("overwrite").parquet(f"{root}/data/base")
    catalog = {
        "refs": {"main": "s1"},
        "snapshots": {"s1": [f"{root}/data/base"]},
        "parents": {"s1": None},
    }
    # CREATE BRANCH audit FROM main: one ref entry, zero data movement
    catalog["refs"]["audit"] = catalog["refs"]["main"]
    # branch commit: append the late-arriving corrections file; only
    # the audit ref advances — main's snapshot list is untouched
    o.filter(F.col("o_orderkey") % 97 == 0).write.mode("overwrite").parquet(
        f"{root}/data/adj"
    )
    head = catalog["refs"]["audit"]
    catalog["snapshots"]["s2"] = catalog["snapshots"][head] + [
        f"{root}/data/adj"
    ]
    catalog["parents"]["s2"] = head
    catalog["refs"]["audit"] = "s2"
    with open(cat_path, "w") as fh:
        json.dump(catalog, fh)

    def read_ref(ref: str) -> DataFrame:
        with open(cat_path) as fh:
            cat = json.load(fh)
        return spark.read.parquet(*cat["snapshots"][cat["refs"][ref]])

    def summarize(label: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_c"),
        ).select(F.lit(label).alias("ref_state"), "n_rows", "total_c")

    before = summarize("main@before", read_ref("main"))
    head_df = summarize("audit@head", read_ref("audit"))

    # FAST-FORWARD: main -> audit head, legal only if main's head is an
    # ancestor of the branch head (walk the parent chain; a diverged
    # main would need a real merge and must fail loudly here)
    with open(cat_path) as fh:
        cat = json.load(fh)
    node, main_head = cat["refs"]["audit"], cat["refs"]["main"]
    while node is not None and node != main_head:
        node = cat["parents"].get(node)
    if node != main_head:
        raise RuntimeError("fast-forward refused: main is not an ancestor")
    cat["refs"]["main"] = cat["refs"]["audit"]
    with open(cat_path, "w") as fh:
        json.dump(cat, fh)

    after = summarize("main@after_ff", read_ref("main"))
    return before.unionByName(head_df).unionByName(after)
