"""Product/ops analytics over the event stream and dimension tables.

Capabilities a warehouse user expects beyond core TPC-H shapes:
time-series gap-fill (resample + forward fill), funnel conversion,
weekly cohort retention, SCD2 interval building, column profiling,
wide->long reshaping, and blocked fuzzy matching.

Scale notes (100 TB): every query here shuffles at most once per
logical stage and always on a bounded key (user_id, nation, group key).
Grids and scalar aggregates are generated/broadcast, never collected to
the driver.  The fuzzy matcher is *blocked* — candidate pairs only form
inside an equi-join block, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psvm_spark.catalog import load_events_range, load_table
from psvm_spark.queries._util import checkpoint, local_df
from psvm_spark.registry import query
from psvm_spark.session import SCALE_CONFS, scale_conf

# --------------------------------------------------------------------------
# Time-series gap-fill: resample each user's event values onto a fixed
# hourly grid for one day and forward-fill holes.  The grid is
# `explode(sequence(...))` per observed user (generated executor-side);
# the fill is `last(ignorenulls)` over a running row frame — one shuffle
# on user_id total, since the hourly rollup, the grid join, and the
# window all share that partitioning.  The day filter pushes to the
# parquet scan via the raw-ns column (catalog.load_events_range).


@query(
    "ts_gapfill",
    oracle="""
WITH day AS (
  SELECT * FROM events
  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-02 00:00:00'),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, MAX(value) AS hv
  FROM day GROUP BY user_id, date_trunc('hour', ts)),
grid AS (
  SELECT u.user_id, g.hour
  FROM (SELECT DISTINCT user_id FROM day) u
  CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                            TIMESTAMP '2024-01-01 23:00:00',
                                            INTERVAL 1 HOUR)) AS hour) g)
SELECT grid.user_id, grid.hour,
       last_value(hv IGNORE NULLS) OVER (
         PARTITION BY grid.user_id ORDER BY grid.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
FROM grid LEFT JOIN hourly
  ON grid.user_id = hourly.user_id AND grid.hour = hourly.hour
""",
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = load_events_range(spark, sf_dir, "2024-01-01", "2024-01-02")
    hourly = day.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.max("value").alias("hv"))
    grid = (
        day.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.lit("2024-01-01 00:00:00").cast("timestamp"),
                    F.lit("2024-01-01 23:00:00").cast("timestamp"),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy(grid.user_id)
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("hv", ignorenulls=True).over(w).alias("v_filled"),
        )
    )


# --------------------------------------------------------------------------
# Funnel conversion: users who viewed, then clicked strictly after the
# first view, then purchased strictly after the first qualifying click.
# Each step is a per-user min-timestamp aggregate joined forward — all
# three stages hash-partition on user_id, so at 100 TB the funnel is one
# logical shuffle reused three times; step counts are one-row frames
# combined by (trivial) cross joins, never collected.


@query(
    "funnel_steps",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click,
       (SELECT COUNT(*) FROM p) AS n_purchase
""",
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .join(c.agg(F.count(F.lit(1)).alias("n_click")))
        .join(p.agg(F.count(F.lit(1)).alias("n_purchase")))
    )


# --------------------------------------------------------------------------
# Weekly cohort retention: users grouped by the ISO week of their first
# event; for each (cohort, week-offset) cell, distinct returning users.
# The first-event rollup and the activity join share user_id
# partitioning; offsets are integer Monday-to-Monday day counts / 7, so
# the matrix cell keys are exact in both engines.


@query(
    "cohort_retention",
    oracle="""
WITH first_ts AS (
  SELECT user_id, MIN(ts) AS f FROM events GROUP BY user_id)
SELECT CAST(date_trunc('week', f) AS TIMESTAMP) AS cohort_week,
       CAST(date_diff('day', date_trunc('week', f), date_trunc('week', e.ts)) / 7 AS BIGINT)
         AS week_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN first_ts ON e.user_id = first_ts.user_id
GROUP BY 1, 2
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first_ts = e.groupBy("user_id").agg(F.min("ts").alias("f"))
    return (
        e.join(first_ts, "user_id")
        .groupBy(
            F.date_trunc("week", "f").alias("cohort_week"),
            (
                F.datediff(F.date_trunc("week", "ts"), F.date_trunc("week", "f")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# --------------------------------------------------------------------------
# SCD2 interval building: turn a change stream (per-user 'error' events)
# into type-2 validity intervals — each value is valid from its own ts
# until the next change, the latest open-ended (NULL).  One shuffle on
# user_id; (ts, event_id) is the deterministic order, so lead() is
# parity-exact.  This is the standard warehouse pattern for building
# dimension history from CDC feeds.


@query(
    "scd2_intervals",
    oracle="""
SELECT user_id, value AS v,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
FROM events WHERE event_type = 'error'
""",
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        F.col("value").alias("v"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


# --------------------------------------------------------------------------
# Column profiling: null count, distinct count, and null fraction per
# column of `orders`, melted to long form.  Everything is computed in a
# single global aggregate pass (one scan), then reshaped with stack() —
# at 100 TB this is one treeAggregate-shaped job; distinct counts shuffle
# (col, value) pairs pre-deduplicated map-side.  Values stay integral /
# exact-ratio so the long rows hash identically in both engines.


@query(
    "profile_columns",
    oracle="""
SELECT * FROM (
  SELECT 'o_orderkey' AS col_name,
         COUNT(*) - COUNT(o_orderkey) AS n_nulls,
         COUNT(DISTINCT o_orderkey) AS n_distinct,
         CAST(COUNT(*) - COUNT(o_orderkey) AS DOUBLE) / COUNT(*) AS null_frac
  FROM orders
  UNION ALL
  SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
         CAST(COUNT(*) - COUNT(o_custkey) AS DOUBLE) / COUNT(*) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
         CAST(COUNT(*) - COUNT(o_orderstatus) AS DOUBLE) / COUNT(*) FROM orders
  UNION ALL
  SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
         CAST(COUNT(*) - COUNT(o_orderpriority) AS DOUBLE) / COUNT(*) FROM orders
) profile
""",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(c).alias(f"nd_{c}"))
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows - nn_{c}, nd_{c}" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct)"
        ),
        "n_rows",
    ).select(
        "col_name",
        "n_nulls",
        "n_distinct",
        (F.col("n_nulls").cast("double") / F.col("n_rows")).alias("null_frac"),
    )


# --------------------------------------------------------------------------
# Wide -> long reshape: pivot per-returnflag quantity sums into F/O
# columns, then unpivot back with the DataFrame melt API.  Exercises
# both directions of the reshape; NULL cells (combinations absent from
# the data) are dropped to match the group-by long form.  Reshape of an
# already-aggregated frame is driver-cheap at any scale.


@query(
    "reshape_unpivot",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_linestatus IN ('F', 'O')
GROUP BY l_returnflag, l_linestatus
""",
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double"))
    )
    return (
        wide.unpivot("l_returnflag", ["F", "O"], "l_linestatus", "sum_qty")
        .filter(F.col("sum_qty").isNotNull())
    )


# --------------------------------------------------------------------------
# Blocked fuzzy match: near-identical customer names within a nation —
# same length, Hamming distance <= 1.  Naive blocking (nation only) is
# O(block²) distance evaluations: 4.5M at sf0.1 and quadratic beyond —
# measured 32 s, the classic all-pairs trap.  Instead, candidates come
# from BANDED equi-joins (the dedup_simhash pigeonhole trick): the six
# suffix characters split into two INTERLEAVED 3-char bands (positions
# {1,3,5} and {2,4,6} from the end); one substitution corrupts at most
# one band, so every qualifying pair shares the other band exactly —
# candidate generation is lossless.  Interleaving matters: contiguous
# bands would inherit the low variance of high-order digits (nearly all
# rows share them), re-creating giant blocks; interleaved bands mix
# high- and low-variance positions, so block sizes stay bounded as the
# table grows.  Only candidates (<1% of pairs) pay the exact verify.
# The oracle states the plain quadratic semantics; the banded plan must
# and does produce identical results.


@query(
    "fuzzy_blocked_match",
    oracle="""
SELECT c1.c_nationkey AS nationkey, COUNT(*) AS n_pairs
FROM customer c1 JOIN customer c2
  ON c1.c_nationkey = c2.c_nationkey
 AND c1.c_custkey < c2.c_custkey
WHERE length(c1.c_name) = length(c2.c_name)
  AND hamming(c1.c_name, c2.c_name) <= 1
GROUP BY c1.c_nationkey
""",
)
def fuzzy_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    band_positions = ((-6, -4, -2), (-5, -3, -1))

    def sides(prefix: str) -> DataFrame:
        out = c.select(
            F.col("c_nationkey").alias(f"{prefix}nation"),
            F.col("c_custkey").alias(f"{prefix}k"),
            F.col("c_name").alias(f"{prefix}n"),
        )
        name, ln = F.col(f"{prefix}n"), F.length(f"{prefix}n")
        for i, positions in enumerate(band_positions):
            out = out.withColumn(
                f"{prefix}b{i}",
                F.concat(ln, *[F.substring(name, p, 1) for p in positions]),
            )
        return out

    c1, c2 = sides("l_"), sides("r_")
    cands = None
    for i in range(len(band_positions)):
        ci = c1.join(
            c2,
            (F.col("l_nation") == F.col("r_nation"))
            & (F.col(f"l_b{i}") == F.col(f"r_b{i}"))
            & (F.col("l_k") < F.col("r_k")),
        ).select("l_nation", "l_k", "r_k", "l_n", "r_n")
        cands = ci if cands is None else cands.unionByName(ci)
    ham = F.aggregate(
        F.zip_with(
            F.split("l_n", ""), F.split("r_n", ""), lambda x, y: (x != y).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cands.distinct()
        .filter((F.length("l_n") == F.length("r_n")) & (ham <= 1))
        .groupBy(F.col("l_nation").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# SCD2 point-in-time join: resolve each fact row (click) against the
# dimension version valid at its timestamp — the lookup side of
# `scd2_intervals`, and the single most common warehouse join after the
# star join.  Expressed as an equi-join on the entity key with the
# interval predicate as residual: one shuffle per side, residual
# evaluated in-partition (intervals per user are non-overlapping by
# construction, so each fact matches at most one version).  At 100 TB
# the alternative formulation is the as-of join (operators/asof.py) —
# union + running last — which avoids materializing wide dim rows per
# fact candidate; both are one shuffle on the key.


@query(
    "scd2_point_in_time",
    oracle="""
WITH dim AS (
  SELECT user_id, value AS v, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM events WHERE event_type = 'error'),
fact AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT f.event_id, f.user_id, f.ts, d.v, d.valid_from
FROM fact f JOIN dim d
  ON f.user_id = d.user_id AND f.ts >= d.valid_from
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
""",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")  # oracle's tie-break
    dim = (
        e.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("d_user"),
            F.col("value").alias("v"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    fact = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    return fact.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    ).select("event_id", "user_id", "ts", "v", "valid_from")


# --------------------------------------------------------------------------
# Rolling distinct actives (WAU): distinct users over a trailing 7-day
# window, per day.  COUNT(DISTINCT) over a sliding window has no
# incremental form, and the naive per-day re-scan is O(days x data);
# the scalable pattern: dedup to (user, day) once, then each user-day
# CONTRIBUTES to the 7 target days it keeps the user active for
# (explode of a 7-element date sequence — narrow), dedup (user,
# target_day), count per day.  Two map-side-combined shuffles total,
# independent of window length ratio; the same shape computes MAU with
# a 30-element sequence.  Days beyond the observed range are clipped
# with a broadcast one-row max — no driver collect.


@query(
    "metric_wau",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
mx AS (SELECT MAX(d) AS max_d FROM ud),
contrib AS (
  SELECT DISTINCT user_id, CAST(unnest(generate_series(d, d + 6, INTERVAL 1 DAY)) AS DATE) AS tday
  FROM ud),
clipped AS (
  SELECT c.user_id, c.tday FROM contrib c, mx WHERE c.tday <= mx.max_d)
SELECT CAST(tday AS TIMESTAMP) AS day, CAST(COUNT(*) AS BIGINT) AS wau
FROM clipped GROUP BY tday
""",
)
def metric_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    mx = ud.agg(F.max("d").alias("max_d"))
    contrib = ud.select(
        "user_id",
        F.explode(F.expr("sequence(d, date_add(d, 6))")).alias("tday"),
    ).distinct()
    return (
        contrib.crossJoin(F.broadcast(mx))
        .filter(F.col("tday") <= F.col("max_d"))
        .groupBy("tday")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
        .select(F.col("tday").cast("timestamp").alias("day"), "wau")
    )


# --------------------------------------------------------------------------
# Robust anomaly detection (median/MAD): per-user robust z-scores over
# event values — median and MAD resist the outliers that mean/stddev
# z-scores absorb.  Two grouped exact-percentile passes (both shuffle
# on user_id — the second reuses the first's partitioning) and a final
# per-row flag.  Parity: Spark `percentile` == DuckDB `quantile_cont`
# bitwise; |x - med| and the /1.4826-free MAD ratio are per-row IEEE
# ops rounded to 9.  At 100 TB exact per-group percentiles buffer each
# group (user) — bounded here; the corpus-wide variant would switch to
# approx_percentile partials.


@query(
    "anomaly_mad",
    oracle="""
WITH med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY user_id),
dev AS (
  SELECT e.user_id, e.event_id, e.value, m.med, ABS(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.user_id = m.user_id),
mad AS (
  SELECT user_id, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY user_id)
SELECT d.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (WHERE mad.mad > 0
              AND round(d.adev / mad.mad, 9) > 3.0) AS BIGINT) AS n_anomalies,
       round(MAX(mad.mad), 9) AS mad
FROM dev d JOIN mad ON d.user_id = mad.user_id
GROUP BY d.user_id
""",
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("user_id").agg(F.percentile("value", 0.5).alias("med"))
    dev = e.join(med, "user_id").select(
        "user_id", "event_id", "value", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("user_id").agg(F.percentile("adev", 0.5).alias("mad"))
    flagged = dev.join(mad, "user_id")
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(
                (F.col("mad") > 0) & (F.round(F.col("adev") / F.col("mad"), 9) > 3.0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_anomalies"),
        F.round(F.max("mad"), 9).alias("mad"),
    )


# --------------------------------------------------------------------------
# Time-series downsampling to OHLC bars: per (event_type, hour) open /
# high / low / close / count — the classic rollup that turns raw ticks
# into chart-resolution data.  open/close use min_by/max_by on a
# composite sortable string key (microsecond timestamp + zero-padded
# event_id) because neither engine guarantees stable first/last under
# ties; the key is exact and identical in both.  One map-side-combined
# shuffle on (event_type, hour); the value sum is an exact DECIMAL.


@query(
    "ts_downsample_ohlc",
    oracle="""
WITH keyed AS (
  SELECT event_type,
         date_trunc('hour', ts) AS bar_hour,
         value,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
  FROM events
)
SELECT event_type, bar_hour,
       arg_min(value, k) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, k) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS vol_sum
FROM keyed
GROUP BY event_type, bar_hour
""",
)
def ts_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar_hour"),
            "value",
            k.alias("k"),
        )
        .groupBy("event_type", "bar_hour")
        .agg(
            F.min_by("value", "k").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "k").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum(F.round("value", 6).cast("decimal(18,6)")).cast("double").alias("vol_sum"),
        )
    )


# --------------------------------------------------------------------------
# B76 (round 4) — EWMA smoothing with a truncated kernel.  True EWMA is
# a sequential recurrence (not parallelizable as a window without a
# prefix-scan); the standard large-scale form truncates the kernel:
# with alpha = 0.5 the weight of lag 6+ is < 2%, so
# ewma_t = sum_{i<=5} w_i x_{t-i} / sum_{i<=5, lag exists} w_i,
# w_i = 0.5^i.  One window per user — a single shuffle on user_id.
# Parity: 0.5^i is a FINITE decimal, values are 2-decimal, so numerator
# and denominator are exact DECIMAL sums in both engines; the final
# division is one double op on identical operands.


_EWMA_K = 6


def _ewma_terms(lag_fmt: str, weight_fmt: str) -> tuple[str, str]:
    num = " + ".join(
        f"coalesce({lag_fmt.format(i=i)} * {weight_fmt.format(w=0.5 ** i)}, 0)"
        for i in range(_EWMA_K)
    )
    den = " + ".join(
        f"(CASE WHEN {lag_fmt.format(i=i)} IS NOT NULL THEN {weight_fmt.format(w=0.5 ** i)} ELSE 0 END)"
        for i in range(_EWMA_K)
    )
    return num, den


_EWMA_NUM_SPARK, _EWMA_DEN_SPARK = _ewma_terms(
    "lag(cast(value as decimal(12,2)), {i}) over (partition by user_id order by ts, event_id)",
    "cast({w} as decimal(6,5))",
)
_EWMA_NUM_DUCK, _EWMA_DEN_DUCK = _ewma_terms(
    "lag(CAST(value AS DECIMAL(12,2)), {i}) OVER (PARTITION BY user_id ORDER BY ts, event_id)",
    "CAST({w} AS DECIMAL(6,5))",
)


@query(
    "ts_ewma",
    oracle=f"""
SELECT user_id, event_id, value,
       CAST(({_EWMA_NUM_DUCK}) AS DOUBLE) / CAST(({_EWMA_DEN_DUCK}) AS DOUBLE) AS ewma
FROM events
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        (
            F.expr(_EWMA_NUM_SPARK).cast("double")
            / F.expr(_EWMA_DEN_SPARK).cast("double")
        ).alias("ewma"),
    )


# --------------------------------------------------------------------------
# B77 (round 4) — event-transition matrix (first-order Markov): for each
# user's time-ordered stream, count (previous event_type -> event_type)
# transitions and the per-source transition probability.  One window
# shuffle on user_id + one skinny aggregation on the (from, to) pair;
# the probability is a single double division of exact longs.


@query(
    "event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events),
pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type)
SELECT prev_type, next_type, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type) AS p
FROM pairs
""",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("prev_type")).cast("double")
        ).alias("p"),
    )


# --------------------------------------------------------------------------
# B82 (round 4) — hierarchical transitive closure (recursive-CTE
# equivalent).  Written when Spark had no WITH RECURSIVE; Spark 4 now
# does (SPARK-24497) and B549 ``subquery_recursive_cte`` exercises the
# genuine SQL recursion over the same fixture — this key keeps the
# driver-bounded BFS loop, the form that predates 4.x and remains the
# way to interleave per-level logic (checkpointing, early pruning)
# recursion syntax can't express: a parent TABLE (child -> parent, derived
# deterministically as c_custkey div 7 over the contiguous key space)
# is joined against the frontier each round, unioning (node, ancestor,
# depth) rows until the frontier empties — exactly how
# bill-of-materials / org-chart traversals run at warehouse scale.
# Depth is log_7(n) (~5 at sf0.1), so the loop is short and each
# iteration is one small equi-join (parent maps are dimension-sized in
# practice; AQE broadcasts them).  A ``checkpoint`` per round keeps
# the lineage flat (components.py pattern).  Oracle: the genuine
# recursive CTE in DuckDB.


@query(
    "hierarchy_closure",
    oracle="""
WITH RECURSIVE up AS (
  SELECT c_custkey AS node, c_custkey // 7 AS anc, 1 AS depth
  FROM customer WHERE c_custkey % 11 = 0 AND c_custkey >= 1
  UNION ALL
  SELECT u.node, p.parent, u.depth + 1
  FROM up u JOIN (SELECT c_custkey AS child, c_custkey // 7 AS parent
                  FROM customer) p ON p.child = u.anc
  WHERE u.anc >= 1
)
SELECT node, anc, depth FROM up
""",
)
def hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    parents = c.select(
        F.col("c_custkey").alias("child"),
        F.expr("c_custkey div 7").alias("parent"),
    )
    frontier = checkpoint(
        c.filter((F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") >= 1))
        .select(
            F.col("c_custkey").alias("node"),
            F.expr("c_custkey div 7").alias("anc"),
            F.lit(1).alias("depth"),
        )
    )
    acc = frontier
    for _ in range(64):  # bound >> log_7(n); loop exits on empty frontier
        frontier = checkpoint(
            frontier.filter(F.col("anc") >= 1)
            .join(parents, frontier.anc == parents.child)
            .select("node", F.col("parent").alias("anc"), (F.col("depth") + 1).alias("depth"))
        )
        if frontier.isEmpty():
            break
        acc = acc.unionAll(frontier)
    return acc


# --------------------------------------------------------------------------
# B83 (round 4) — per-group OLS trend (regr_slope/intercept done
# parity-exact): monthly revenue per brand, then the least-squares line
# over (month-index, revenue).  slope = (n*Sxy - Sx*Sy) / (n*Sxx -
# Sx^2) where every S is an EXACT decimal/integer sum — both engines
# compute bit-identical numerators/denominators and the only float ops
# are the final divisions on identical operands.  (The built-in
# regr_slope aggregates stream doubles partition-order-dependently, so
# they can't be hash-compared across engines; this form can.)  Two
# map-side-combined aggregations, dims broadcast.


@query(
    "agg_regression_trend",
    oracle="""
WITH monthly AS (
  SELECT p_brand,
         (year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS x,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2),
sums AS (
  SELECT p_brand, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
         SUM(y) AS sy, SUM(x * y) AS sxy
  FROM monthly GROUP BY p_brand)
SELECT p_brand, n,
       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / n AS intercept
FROM sums
""",
)
def agg_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    monthly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            ((F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate") - 1).alias("x"),
        )
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("y"))
    )
    sums = monthly.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return sums.select(
        "p_brand",
        "n",
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n")
        ).alias("intercept"),
    )


# --------------------------------------------------------------------------
# B85 (round 4) — grid-blocked nearest neighbor (spatial NN): each probe
# customer finds its nearest supplier site in a synthetic coordinate
# space (salted md5 -> lat in [-80, 80), lon in [-180, 180)).  The
# scale shape is GRID BLOCKING: both sides land in 30-degree cells,
# each probe joins only its 3x3 cell neighborhood (explode of 9 cell
# keys — an equi-join, never all-pairs), and a per-probe argmin picks
# the winner.  Distance is squared-Euclidean in coordinate degrees:
# products and sums of identical doubles are correctly rounded in both
# engines, so results hash-match bitwise (haversine's sin/cos are NOT
# correctly rounded cross-engine; swapping it in would need rounded
# outputs).  Probes with an empty neighborhood drop out — the
# radius-bounded-NN contract.


def _coord(
    prefix: str, key: str, span: int, offset: int, res: int = 100
) -> tuple[str, str]:
    spark_e = (
        f"(cast(pmod(cast(conv(substring(md5(concat('{prefix}', {key})), 1, 8), 16, 10)"
        f" as bigint), {span * res}) as double) / {res}.0 - {offset})"
    )
    duck_e = (
        f"((('0x' || substr(md5('{prefix}' || {key}), 1, 8))::BIGINT % {span * res})"
        f" / {res}.0 - {offset})"
    )
    return spark_e, duck_e


_CLAT_S, _CLAT_D = _coord("glat:", "c_custkey", 160, 80)
_CLON_S, _CLON_D = _coord("glon:", "c_custkey", 360, 180)
_SLAT_S, _SLAT_D = _coord("glat:", "s_suppkey", 160, 80)
_SLON_S, _SLON_D = _coord("glon:", "s_suppkey", 360, 180)
_CELL = 30


@query(
    "geo_nearest_site",
    oracle=f"""
WITH probes AS (
  SELECT c_custkey, {_CLAT_D} AS plat, {_CLON_D} AS plon
  FROM customer WHERE c_custkey % 37 = 0),
sites AS (
  SELECT s_suppkey, {_SLAT_D} AS slat, {_SLON_D} AS slon FROM supplier),
cand AS (
  SELECT p.c_custkey, s.s_suppkey,
         (p.plat - s.slat) * (p.plat - s.slat)
         + (p.plon - s.slon) * (p.plon - s.slon) AS dist2
  FROM probes p JOIN sites s
    ON floor(s.slat / {_CELL}) BETWEEN floor(p.plat / {_CELL}) - 1 AND floor(p.plat / {_CELL}) + 1
   AND floor(s.slon / {_CELL}) BETWEEN floor(p.plon / {_CELL}) - 1 AND floor(p.plon / {_CELL}) + 1),
ranked AS (
  SELECT c_custkey, s_suppkey, dist2,
         ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY dist2, s_suppkey) AS rk
  FROM cand)
SELECT c_custkey, s_suppkey AS nearest_site, dist2 FROM ranked WHERE rk = 1
""",
)
def geo_nearest_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    probes = c.filter(F.col("c_custkey") % 37 == 0).select(
        "c_custkey",
        F.expr(_CLAT_S).alias("plat"),
        F.expr(_CLON_S).alias("plon"),
    )
    # each probe explodes to its 9 neighbor cells; sites key on their own
    # cell — the join is a pure equi-join on the (cell_lat, cell_lon) pair
    probe_cells = probes.select(
        "*",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-1, 1), di -> "
                f"transform(sequence(-1, 1), dj -> "
                f"struct(cast(floor(plat / {_CELL}) + di as bigint) as ci, "
                f"cast(floor(plon / {_CELL}) + dj as bigint) as cj))))"
            )
        ).alias("cell"),
    ).select("c_custkey", "plat", "plon", "cell.ci", "cell.cj")
    sites = s.select(
        "s_suppkey",
        F.expr(_SLAT_S).alias("slat"),
        F.expr(_SLON_S).alias("slon"),
    ).select(
        "*",
        F.expr(f"cast(floor(slat / {_CELL}) as bigint)").alias("ci"),
        F.expr(f"cast(floor(slon / {_CELL}) as bigint)").alias("cj"),
    )
    cand = probe_cells.join(sites, ["ci", "cj"]).select(
        "c_custkey",
        "s_suppkey",
        (
            (F.col("plat") - F.col("slat")) * (F.col("plat") - F.col("slat"))
            + (F.col("plon") - F.col("slon")) * (F.col("plon") - F.col("slon"))
        ).alias("dist2"),
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("c_custkey", F.col("s_suppkey").alias("nearest_site"), "dist2")
    )


# --------------------------------------------------------------------------
# B87 (round 4) — ordered sequence-pattern match (MATCH_RECOGNIZE-lite):
# per user, reduce the time-ordered event stream to an initials string
# and count/flag regex pattern hits — here "view then click then
# purchase, consecutively".  The reduction is sort_array(collect_list)
# over structs (deterministic total order), the match a single
# regexp_count on a short string: one shuffle on user_id, O(events)
# state, and the pattern language is full regex for free in both
# engines.


@query(
    "seq_pattern_match",
    oracle="""
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id)
SELECT user_id, length(s) AS n_events,
       CAST(len(regexp_extract_all(s, 'vcp')) AS BIGINT) AS n_funnels
FROM seq
WHERE len(regexp_extract_all(s, 'vcp')) > 0
""",
)
def seq_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(ts, event_id, "
                    "substring(event_type, 1, 1) as c))), x -> x.c)"
                ),
                "",
            ).alias("s")
        )
    )
    return (
        seq.select(
            "user_id",
            F.length("s").alias("n_events"),
            F.expr("regexp_count(s, 'vcp')").cast("bigint").alias("n_funnels"),
        )
        .filter(F.col("n_funnels") > 0)
    )


# --------------------------------------------------------------------------
# B88 (round 4) — 2D skyline (Pareto frontier) via running-max
# windows, not the naive O(n^2) dominance anti-join.  TWO-PHASE for
# scale: phase 1 computes a LOCAL skyline inside each bal-range bucket
# (partitioned window — fully parallel; anything dominated within its
# bucket is dominated globally, so pruning is safe); phase 2 runs the
# global running-max pass over the few survivors.  A single global
# ordered window would funnel all rows through one reducer at 100 TB;
# here the global pass sees only per-bucket frontier candidates.
# Dimension 2 is a deterministic md5-derived "rating" so the frontier
# is non-trivial; acctbal ties are broken by suppkey in the running
# max so both engines agree exactly (the oracle uses the equivalent
# one-pass form — the result is identical by the pruning argument).


@query(
    "agg_skyline_2d",
    oracle=f"""
WITH pts AS (
  SELECT s_suppkey, CAST(s_acctbal AS DECIMAL(12,2)) AS bal,
         (('0x' || substr(md5('rate:' || s_suppkey), 1, 8))::BIGINT % 1000) AS rating
  FROM supplier),
scanned AS (
  SELECT s_suppkey, bal, rating,
         max(rating) OVER (ORDER BY bal DESC, s_suppkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_above
  FROM pts)
SELECT s_suppkey, CAST(bal AS DOUBLE) AS bal, rating
FROM scanned WHERE best_above IS NULL OR rating > best_above
""",
)
def agg_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    pts = s.select(
        "s_suppkey",
        F.col("s_acctbal").cast("decimal(12,2)").alias("bal"),
        F.expr(
            "pmod(cast(conv(substring(md5(concat('rate:', s_suppkey)), 1, 8), 16, 10)"
            " as bigint), 1000)"
        ).alias("rating"),
    )
    # phase 1: local skylines per bal-range bucket (parallel)
    bucket = F.expr("cast(bal div 1000 as bigint)")
    w_local = (
        Window.partitionBy(bucket.alias("bk"))
        .orderBy(F.col("bal").desc(), "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    survivors = (
        pts.withColumn("bk", bucket)
        .select("*", F.max("rating").over(w_local).alias("local_best"))
        .filter(F.col("local_best").isNull() | (F.col("rating") > F.col("local_best")))
        .drop("bk", "local_best")
    )
    # phase 2: global pass over the small survivor set
    w_global = (
        Window.orderBy(F.col("bal").desc(), "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        survivors.select("*", F.max("rating").over(w_global).alias("best_above"))
        .filter(F.col("best_above").isNull() | (F.col("rating") > F.col("best_above")))
        .select("s_suppkey", F.col("bal").cast("double").alias("bal"), "rating")
    )


# --------------------------------------------------------------------------
# B90 (round 4) — CUSUM drift detection WITHOUT recursion.  The textbook
# one-sided CUSUM S_t = max(0, S_{t-1} + (x_t - k)) looks inherently
# sequential, but the closed form S_t = P_t - min(0, min_{j<=t} P_j)
# (P = running sum of deviations) turns it into two stacked running
# windows over the SAME (user_id, ts) partitioning — one shuffle total,
# fully parallel across users, and decimal-exact in both engines since
# every term is a sum/min/difference of DECIMAL(12,2) values.  At 100 TB
# the per-user state is a window frame, never driver state.


@query(
    "ts_cusum_drift",
    oracle="""
WITH dev AS (
  SELECT user_id, ts, event_id,
         CAST(value AS DECIMAL(12,2)) - CAST(5.00 AS DECIMAL(12,2)) AS y
  FROM events),
pre AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(y) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DECIMAL(18,2)) AS p
  FROM dev),
mins AS (
  SELECT user_id, p,
         MIN(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM pre),
cus AS (
  SELECT user_id,
         p - CASE WHEN m < CAST(0 AS DECIMAL(18,2)) THEN m
                  ELSE CAST(0 AS DECIMAL(18,2)) END AS s
  FROM mins)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(s) AS DOUBLE) AS peak_cusum,
       CAST(SUM(CASE WHEN s > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
FROM cus GROUP BY user_id
""",
)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dev = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.col("value").cast("decimal(12,2)")
            - F.lit("5.00").cast("decimal(12,2)")
        ).alias("y"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = dev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("y").over(w).cast("decimal(18,2)").alias("p"),
    )
    cus = pre.select(
        "user_id",
        (
            F.col("p")
            - F.when(
                F.min("p").over(w) < F.lit(0).cast("decimal(18,2)"),
                F.min("p").over(w),
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        ).alias("s"),
    )
    return cus.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("s").cast("double").alias("peak_cusum"),
        F.sum(F.when(F.col("s") > 20, 1).otherwise(0)).cast("bigint").alias("n_alarms"),
    )


# --------------------------------------------------------------------------
# B91 (round 4) — gaps-and-islands: longest consecutive-day activity
# streak per user.  The island key is the classic epoch_day - row_number
# difference (constant within a run of consecutive dates); everything
# after the initial distinct shuffles on user_id only, so the distinct,
# the island build, and the per-user ranking share one partitioning
# family.  All outputs are ints/strings — no float hazard at all.


@query(
    "window_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
isl AS (
  SELECT user_id, d,
         date_diff('day', DATE '1970-01-01', d)
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM days),
streaks AS (
  SELECT user_id, grp, COUNT(*) AS len, MIN(d) AS start_d
  FROM isl GROUP BY user_id, grp),
ranked AS (
  SELECT user_id, len, start_d,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY len DESC, start_d) AS rk,
         SUM(len) OVER (PARTITION BY user_id) AS n_days,
         COUNT(*) OVER (PARTITION BY user_id) AS n_runs
  FROM streaks)
SELECT user_id,
       CAST(n_days AS BIGINT) AS n_active_days,
       CAST(n_runs AS BIGINT) AS n_streaks,
       CAST(len AS BIGINT) AS longest_streak,
       CAST(start_d AS VARCHAR) AS longest_start
FROM ranked WHERE rk = 1
""",
)
def window_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    isl = days.select(
        "user_id",
        "d",
        (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) - rn).alias("grp"),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("start_d")
    )
    w_rank = Window.partitionBy("user_id").orderBy(F.col("len").desc(), "start_d")
    w_all = Window.partitionBy("user_id")
    ranked = streaks.select(
        "user_id",
        "len",
        "start_d",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("len").over(w_all).alias("n_days"),
        F.count(F.lit(1)).over(w_all).alias("n_runs"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "user_id",
        F.col("n_days").cast("bigint").alias("n_active_days"),
        F.col("n_runs").cast("bigint").alias("n_streaks"),
        F.col("len").cast("bigint").alias("longest_streak"),
        F.col("start_d").cast("string").alias("longest_start"),
    )


# --------------------------------------------------------------------------
# B97 (round 4) — per-window rate limiting (event-stream throttle):
# keep only the first 3 events per (user, hour), a standard ingest
# guard against hot producers.  One shuffle on (user_id, hour) for the
# rank; the per-user rollup reuses the user_id prefix of the same
# partitioning.  The kept set is order-deterministic ((ts, event_id)),
# so the md5 over the kept event-id sequence is cross-engine exact —
# content identity, not just counts.


@query(
    "sample_rate_limit",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_id,
         date_trunc('hour', ts) AS hr,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rk
  FROM events),
kept AS (
  SELECT user_id, event_id, hr FROM ranked WHERE rk <= 3)
SELECT r.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(*) FILTER (WHERE r.rk <= 3) AS BIGINT) AS n_kept,
       md5(string_agg(CASE WHEN r.rk <= 3 THEN CAST(r.event_id AS VARCHAR) END,
                      ',' ORDER BY r.hr, r.rk)) AS kept_md5
FROM ranked r GROUP BY r.user_id
""",
)
def sample_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", "ts")
    rk = F.row_number().over(
        Window.partitionBy("user_id", hr).orderBy("ts", "event_id")
    )
    ranked = ev.select(
        "user_id", "event_id", hr.alias("hr"), rk.alias("rk")
    )
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("rk") <= 3, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN rk <= 3 THEN "
                    "struct(hr, rk, cast(event_id as string)) END)), "
                    "x -> x.col3)"
                ),
                ",",
            )
        ).alias("kept_md5"),
    )


# --------------------------------------------------------------------------
# B99 (round 4) — seasonal-baseline anomaly ranking: the ops-analytics
# staple of "value vs what's normal for this hour".  The baseline is a
# decimal-exact mean per (event_type, hour-of-day) — a 5x24-cell
# aggregate that broadcasts back to the stream — and the residual is
# one IEEE subtraction on identical operands, so the global top-20 by
# |residual| ranks identically in both engines (event_id tie-break).
# At 100 TB: one map-side-combined rollup over <=120 cells, a broadcast
# join, and a TakeOrdered — no full shuffle of the fact stream at all.


@query(
    "ts_seasonal_baseline",
    oracle="""
WITH base AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hod,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS mu
  FROM events GROUP BY event_type, EXTRACT(hour FROM ts)),
resid AS (
  SELECT e.event_id, e.event_type, CAST(b.hod AS INT) AS hod, e.value,
         e.value - b.mu AS residual
  FROM events e
  JOIN base b ON e.event_type = b.event_type
             AND EXTRACT(hour FROM e.ts) = b.hod)
SELECT event_id, event_type, hod, value, residual
FROM resid ORDER BY abs(residual) DESC, event_id LIMIT 20
""",
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hod = F.hour("ts")
    base = ev.groupBy("event_type", hod.alias("hod")).agg(
        (
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    e = ev.select(
        "event_id",
        F.col("event_type").alias("et"),
        F.hour("ts").alias("ehod"),
        "value",
    )
    resid = e.join(
        F.broadcast(base),
        (F.col("et") == F.col("event_type")) & (F.col("ehod") == F.col("hod")),
    ).select(
        "event_id",
        F.col("et").alias("event_type"),
        F.col("hod").cast("int").alias("hod"),
        "value",
        (F.col("value") - F.col("mu")).alias("residual"),
    )
    return resid.orderBy(F.abs("residual").desc(), "event_id").limit(20)


# --------------------------------------------------------------------------
# B106 (round 4) — period-over-period deltas, the BI staple: daily
# revenue per event_type with previous-period value and percent
# change.  Daily sums are exact decimals; the percent change is one
# IEEE division of two identical decimal-cast doubles, so the floats
# hash-match bitwise.  One shuffle on event_type for both the rollup
# and the lag window (the day rollup pre-aggregates map-side).


@query(
    "window_period_over_period",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
lagged AS (
  SELECT event_type, day, revenue,
         lag(revenue) OVER (PARTITION BY event_type ORDER BY day) AS prev
  FROM daily)
SELECT event_type, day, revenue, prev,
       CASE WHEN prev IS NULL OR prev = 0 THEN NULL
            ELSE (revenue - prev) / prev END AS pct_change
FROM lagged
""",
)
def window_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").cast("string").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("revenue")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "day", "revenue", F.lag("revenue").over(w).alias("prev")
    )
    return lagged.select(
        "event_type",
        "day",
        "revenue",
        "prev",
        F.when(
            F.col("prev").isNull() | (F.col("prev") == 0), F.lit(None).cast("double")
        )
        .otherwise((F.col("revenue") - F.col("prev")) / F.col("prev"))
        .alias("pct_change"),
    )


# --------------------------------------------------------------------------
# B112 (round 4) — STREAMING CUSUM: the drift detector as an
# applyInPandasWithState job, so alarms fire while data arrives
# instead of in a nightly batch.  State per user is three integers in
# CENTS (prefix sum, running min, peak) plus counts — integer
# arithmetic is exact, so the final result is bit-identical to the
# batch ts_cusum_drift (the decimal(12,2) cents are the same numbers),
# which the test suite asserts stream-vs-batch.  Events are folded in
# (ts, event_id) order within each micro-batch; state carries across
# batches.  Oracle-EXACT (round 6): the state is integer cents folded
# in a total (ts, event_id) order, so in the one-file -> one-batch
# replay (see queries/streaming.py B41) the update-mode final is the
# exact batch computation — prefix sum, seeded running min, peak, and
# strict alarm count all reproduce as layered window functions.


@query(
    "stream_cusum",
    oracle="""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 1e2) AS BIGINT) - 500 AS d
  FROM events),
p1 AS (
  SELECT user_id, ts, event_id,
         SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS pre
  FROM c),
p2 AS (
  SELECT user_id, pre,
         LEAST(0, MIN(pre) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING)) AS m
  FROM p1)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(MAX(pre - m) AS DOUBLE) / 1e2 AS peak_cusum,
       CAST(SUM(CASE WHEN pre - m > 2000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms
FROM p2 GROUP BY user_id
""",
)
def stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from psvm_spark.streaming.jobs import run_to_table, stream_events

    ev = stream_events(spark, sf_dir)

    def track(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        # state: prefix p, running min m, peak s (all cents), n, alarms
        p, m, peak, n, alarms = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            # vectorized fold (guide §4.2): the cumulative sum replays
            # the per-event prefix, the running min replays the m
            # updates (np.rint is half-even like Python round), and the
            # excursion s_i = pre_i - min(m_i, 0) is elementwise exact
            # integer math — bit-identical to the former row loop.
            d = np.rint(pdf["value"].to_numpy(dtype=np.float64) * 100).astype(
                np.int64
            ) - 500
            if len(d):
                pre = p + np.cumsum(d)
                m_run = np.minimum.accumulate(np.minimum(pre, m))
                s = pre - np.minimum(m_run, 0)
                peak = max(peak, int(s.max()))
                alarms += int((s > 2000).sum())
                n += len(d)
                p = int(pre[-1])
                m = int(m_run[-1])
        state.update((p, m, peak, n, alarms))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "peak_cusum": [peak / 100.0],
                "n_alarms": [alarms],
            }
        )

    out = (
        ev.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType=(
                "user_id bigint, n_events bigint, peak_cusum double, n_alarms bigint"
            ),
            stateStructType="p bigint, m bigint, peak bigint, n bigint, alarms bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_table(out, "update")


# --------------------------------------------------------------------------
# B113 (round 4) — multi-touch attribution: each purchase's value is
# credited equally across the same user's clicks in the preceding two
# hours (linear attribution), the step beyond last-touch as-of.  Scale
# shape: the time predicate becomes a (user, 2h-bucket) EQUI-join —
# purchases probe their own bucket and the previous one (each click
# lives in exactly one bucket, so no dedup pass is needed) — and the
# exact window filter runs on blocked candidates only, the join_range
# pattern.  Per-credit amounts are rounded to 6 dp and summed as
# DECIMAL so per-user totals are order-independent.


@query(
    "attribution_multi_touch",
    oracle="""
WITH p AS (
  SELECT event_id, user_id, ts, CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
pairs AS (
  SELECT p.event_id AS pid, p.user_id, p.v, c.event_id AS cid
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 2 HOUR),
credits AS (
  SELECT pid, user_id,
         CAST(round(CAST(v AS DOUBLE) / COUNT(*) OVER (PARTITION BY pid), 6)
              AS DECIMAL(18,6)) AS credit
  FROM pairs)
SELECT user_id,
       CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_attributed,
       CAST(COUNT(*) AS BIGINT) AS n_credits,
       CAST(SUM(credit) AS DOUBLE) AS credited_total
FROM credits GROUP BY user_id
""",
)
def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = 7200  # seconds
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        F.col("value").cast("decimal(12,2)").alias("v"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
        F.floor(F.unix_timestamp("ts") / win).alias("cb"),
    )
    # probe own bucket and the previous one
    probes = p.select(
        "*", F.explode(F.array(F.lit(0), F.lit(1))).alias("off")
    ).withColumn("cb", F.floor(F.unix_timestamp("pts") / win) - F.col("off"))
    pairs = probes.join(
        c, (F.col("user_id") == F.col("c_user")) & (probes.cb == c.cb)
    ).filter(
        (F.col("cts") < F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 2 HOURS"))
    ).select("pid", "user_id", "v", "cid")
    wp = Window.partitionBy("pid")
    credits = pairs.select(
        "pid",
        "user_id",
        F.round(F.col("v").cast("double") / F.count(F.lit(1)).over(wp), 6)
        .cast("decimal(18,6)")
        .alias("credit"),
    )
    return credits.groupBy("user_id").agg(
        F.count_distinct("pid").cast("bigint").alias("n_purchases_attributed"),
        F.count(F.lit(1)).cast("bigint").alias("n_credits"),
        F.sum("credit").cast("double").alias("credited_total"),
    )


# --------------------------------------------------------------------------
# B114 (round 4) — TIME-BOUNDED funnel: view -> click within 30 min ->
# purchase within 30 min of the click.  Same three user_id-partitioned
# min-aggregates as the unbounded funnel, with an upper bound on each
# step — the form product analytics actually ships ("conversion within
# N minutes").  Step counts combine as 1-row relations.


@query(
    "funnel_time_bounded",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
    AND e.ts <= v.t1 + INTERVAL 30 MINUTE
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
    AND e.ts <= c.t2 + INTERVAL 30 MINUTE
  GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click_30m,
       (SELECT COUNT(*) FROM p) AS n_purchase_30m
""",
)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .join(c.agg(F.count(F.lit(1)).alias("n_click_30m")))
        .join(p.agg(F.count(F.lit(1)).alias("n_purchase_30m")))
    )


# --------------------------------------------------------------------------
# B115 (round 4) — incremental SCD2 MERGE: apply a CDC delta to an
# EXISTING type-2 dimension without rescanning history — close each
# touched user's open interval at that user's first delta change, and
# chain the delta's own intervals on top.  History rows already closed
# are untouched (the O(|delta|) property that makes nightly dimension
# maintenance feasible at 100 TB).  The oracle is the FULL REBUILD
# over all events: incremental merge == rebuild, the same equivalence
# the incremental-rollup query pins.


_SCD2_CUTOFF = "2024-01-21 00:00:00"


@query(
    "scd2_merge_update",
    oracle="""
SELECT user_id, value AS v,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
FROM events WHERE event_type = 'error'
""",
)
def scd2_merge_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    err = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    cutoff = F.lit(_SCD2_CUTOFF).cast("timestamp")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # the "stored" dimension: SCD2 built from pre-cutoff history only
    hist = (
        err.filter(F.col("ts") < cutoff)
        .select(
            "user_id",
            F.col("value").alias("v"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    delta = err.filter(F.col("ts") >= cutoff)
    first_delta = delta.groupBy("user_id").agg(
        F.min("ts").alias("first_delta_ts")
    )
    closed = hist.filter(F.col("valid_to").isNotNull())
    reopened = (
        hist.filter(F.col("valid_to").isNull())
        .join(first_delta, "user_id", "left")
        .select(
            "user_id", "v", "valid_from",
            F.col("first_delta_ts").alias("valid_to"),
        )
    )
    delta_iv = delta.select(
        "user_id",
        F.col("value").alias("v"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return closed.unionByName(reopened).unionByName(delta_iv)


# --------------------------------------------------------------------------
# B116 (round 4) — market-basket co-purchase projection: the bipartite
# (order, part) relation projected to part-part co-occurrence counts,
# the input every association-rule / collaborative-filter pipeline
# starts from.  Pair generation is a SELF-JOIN ON THE ORDER KEY, so
# work is sum over orders of basket_size^2 (baskets are short: avg 4,
# max 13 in this schema — at 100 TB the guard is a basket-size cap,
# which real retail data also needs); the pair rollup is one shuffle
# on the (a, b) key.  support >= 2 prunes the singleton tail.


@query(
    "graph_copurchase_pairs",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM pairs GROUP BY part_a, part_b
HAVING COUNT(*) >= 2
""",
)
def graph_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Materialize the distinct basket items once: the self-join otherwise
    # re-scans lineitem and re-runs the distinct for each side (guide §2.4).
    items = checkpoint(li.select("l_orderkey", "l_partkey").distinct())
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


# --------------------------------------------------------------------------
# B117 (round 4) — association rules over the co-purchase pairs:
# directional confidence and lift, the metrics that turn raw support
# counts into recommendations.  Everything upstream of the two final
# divisions is an exact integer (pair support, item support, basket
# count), and the divisions run on identical operands — cross-engine
# exact with no epsilon.  Supports join back via broadcast (the item
# catalog is dimension-sized); the rule table is both directions of
# each supported pair.


@query(
    "agg_association_rules",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
supp AS (
  SELECT l_partkey, COUNT(*) AS s FROM items GROUP BY l_partkey),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
pair AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, n_ab FROM pair
  UNION ALL
  SELECT pb, pa, n_ab FROM pair)
SELECT r.antecedent, r.consequent,
       CAST(r.n_ab AS BIGINT) AS n_ab,
       CAST(r.n_ab AS DOUBLE) / sa.s AS confidence,
       CAST(r.n_ab * nb.n_orders AS DOUBLE) / (sa.s * sb.s) AS lift
FROM rules r
JOIN supp sa ON r.antecedent = sa.l_partkey
JOIN supp sb ON r.consequent = sb.l_partkey
CROSS JOIN nb
""",
)
def agg_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # items feeds four consumers (supp, nb, both self-join sides); without
    # materialization each re-scans lineitem + re-runs the distinct.
    items = checkpoint(li.select("l_orderkey", "l_partkey").distinct())
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    nb = items.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    a = items.alias("a")
    b = items.alias("b")
    # The rules union references pair twice; materialize so the basket
    # self-join runs once, not once per direction.
    pair = checkpoint(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    rules = pair.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "n_ab"
    ).unionByName(
        pair.select(
            F.col("pb").alias("antecedent"), F.col("pa").alias("consequent"), "n_ab"
        )
    )
    sa = supp.select(F.col("l_partkey").alias("antecedent"), F.col("s").alias("s_a"))
    sb = supp.select(F.col("l_partkey").alias("consequent"), F.col("s").alias("s_b"))
    return (
        rules.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sb), "consequent")
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            (F.col("n_ab").cast("double") / F.col("s_a")).alias("confidence"),
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("s_a") * F.col("s_b"))
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# B119 (round 4) — autocorrelation function (ACF) at lags 1..3 over
# the hourly series per event type: the diagnostic behind seasonality
# detection and forecasting-model selection.  Hourly values are exact
# decimal sums; lagged pairs form by an (event_type, hour+k) EQUI-join
# on integer epoch-hours; all five Pearson power sums stay DECIMAL
# until the final r computation, which runs in double on identical
# operands (one sqrt per lag).  Work: one hourly rollup + three skinny
# self-joins over ~720 hours per type — trivially parallel, and at
# 100 TB the rollup is the only pass over raw data.


@query(
    "ts_autocorrelation",
    oracle="""
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS v
  FROM events GROUP BY 1, 2),
lags AS (SELECT unnest(generate_series(1, 3)) AS k),
pairs AS (
  SELECT a.event_type, l.k, a.v AS vx, b.v AS vy
  FROM hourly a
  JOIN lags l ON true
  JOIN hourly b ON a.event_type = b.event_type AND b.h = a.h + l.k),
sums AS (
  SELECT event_type, k,
         COUNT(*) AS n,
         CAST(SUM(vx) AS DOUBLE) AS sx,
         CAST(SUM(vy) AS DOUBLE) AS sy,
         CAST(SUM(CAST(vx * vy AS DECIMAL(30,4))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(vx * vx AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(vy * vy AS DECIMAL(30,4))) AS DOUBLE) AS syy
  FROM pairs GROUP BY 1, 2)
SELECT event_type, CAST(k AS INT) AS lag_hours, CAST(n AS BIGINT) AS n_pairs,
       (n * sxy - sx * sy)
         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS acf
FROM sums
""",
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("bigint")
        .alias("h"),
    ).agg(
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("v")
    )
    lags = F.explode(F.expr("sequence(1, 3)")).alias("k")
    a = hourly.select("event_type", "h", F.col("v").alias("vx"), lags)
    b = hourly.select(
        F.col("event_type").alias("bt"), F.col("h").alias("bh"), F.col("v").alias("vy")
    )
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("bt")) & (F.col("bh") == F.col("h") + F.col("k")),
    )
    sums = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vx").cast("double").alias("sx"),
        F.sum("vy").cast("double").alias("sy"),
        F.sum((F.col("vx") * F.col("vy")).cast("decimal(30,4)")).cast("double").alias("sxy"),
        F.sum((F.col("vx") * F.col("vx")).cast("decimal(30,4)")).cast("double").alias("sxx"),
        F.sum((F.col("vy") * F.col("vy")).cast("decimal(30,4)")).cast("double").alias("syy"),
    )
    n = F.col("n")
    acf = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        "event_type",
        F.col("k").cast("int").alias("lag_hours"),
        F.col("n").cast("bigint").alias("n_pairs"),
        acf.alias("acf"),
    )


# --------------------------------------------------------------------------
# B122 (round 4) — conversion-delay distribution: how long after the
# last view does a purchase happen?  The backward as-of pass (union +
# one window, no join) attaches the preceding view; integer minute
# deltas bucket into the standard product bands.  One shuffle on
# user_id, one skinny rollup — and the bands are exact ints, so the
# histogram hashes flat.


@query(
    "agg_conversion_delay",
    oracle="""
WITH u AS (
  SELECT user_id, ts, 0 AS kind, event_id, ts AS view_ts FROM events
  WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, 1 AS kind, event_id, CAST(NULL AS TIMESTAMP) FROM events
  WHERE event_type = 'purchase'),
w AS (
  SELECT *,
         last_value(view_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, kind, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts
  FROM u),
delays AS (
  SELECT (epoch_us(ts) - epoch_us(back_ts)) // 60000000 AS mins
  FROM w WHERE kind = 1 AND back_ts IS NOT NULL)
SELECT CASE WHEN mins < 1 THEN '0-1m' WHEN mins < 5 THEN '1-5m'
            WHEN mins < 15 THEN '5-15m' WHEN mins < 60 THEN '15-60m'
            ELSE '60m+' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n
FROM delays GROUP BY 1
""",
)
def agg_conversion_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(0).alias("kind"), "event_id",
        F.col("ts").alias("view_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("kind"), "event_id",
        F.lit(None).cast("timestamp").alias("view_ts"),
    )
    u = views.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    back = u.select(
        "*", F.last("view_ts", ignorenulls=True).over(w).alias("back_ts")
    )
    mins = F.floor(
        (F.unix_micros("ts") - F.unix_micros("back_ts")) / 60000000
    )
    band = (
        F.when(mins < 1, "0-1m")
        .when(mins < 5, "1-5m")
        .when(mins < 15, "5-15m")
        .when(mins < 60, "15-60m")
        .otherwise("60m+")
    )
    return (
        back.filter((F.col("kind") == 1) & F.col("back_ts").isNotNull())
        .groupBy(band.alias("band"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# --------------------------------------------------------------------------
# B133 (round 4) — LINEAR interpolation onto the hourly grid (the
# numeric upgrade of ts_gapfill's forward fill): each missing hour
# takes prev + (next - prev) * (t - pt) / (nt - pt) between its
# surrounding observations.  Surrounding points come from two
# last/first(ignorenulls) window passes over the same user_id
# partitioning as the grid join; hours are exact epoch ints, values
# 2-dp doubles, and the interpolation arithmetic runs on identical
# operands in both engines.  Edges (before first / after last
# observation) stay NULL rather than extrapolating.


@query(
    "ts_interpolate_linear",
    oracle="""
WITH day AS (
  SELECT * FROM events
  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-02 00:00:00'),
hourly AS (
  SELECT user_id, CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
         MAX(value) AS hv
  FROM day GROUP BY 1, 2),
grid AS (
  SELECT u.user_id, g.h
  FROM (SELECT DISTINCT user_id FROM day) u
  CROSS JOIN (SELECT unnest(generate_series(473352, 473375)) AS h) g),
joined AS (
  SELECT grid.user_id, grid.h, hourly.hv
  FROM grid LEFT JOIN hourly USING (user_id, h)),
ctx AS (
  SELECT user_id, h, hv,
         last_value(hv IGNORE NULLS) OVER w_back AS pv,
         last_value(CASE WHEN hv IS NOT NULL THEN h END IGNORE NULLS) OVER w_back AS ph,
         first_value(hv IGNORE NULLS) OVER w_fwd AS nv,
         first_value(CASE WHEN hv IS NOT NULL THEN h END IGNORE NULLS) OVER w_fwd AS nh
  FROM joined
  WINDOW w_back AS (PARTITION BY user_id ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w_fwd AS (PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT user_id, h,
       CASE WHEN hv IS NOT NULL THEN hv
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN pv + (nv - pv) * CAST(h - ph AS DOUBLE) / (nh - ph)
            ELSE NULL END AS v_interp
FROM ctx
""",
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = load_events_range(spark, sf_dir, "2024-01-01", "2024-01-02")
    hourly = day.groupBy(
        "user_id",
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("bigint")
        .alias("h"),
    ).agg(F.max("value").alias("hv"))
    grid = (
        day.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(F.expr("sequence(473352, 473375)")).alias("h"),
        )
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("hv").isNotNull(), F.col("h"))
    ctx = joined.select(
        "user_id",
        "h",
        "hv",
        F.last("hv", ignorenulls=True).over(w_back).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(w_back).alias("ph"),
        F.first("hv", ignorenulls=True).over(w_fwd).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(w_fwd).alias("nh"),
    )
    interp = (
        F.when(F.col("hv").isNotNull(), F.col("hv"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("h") - F.col("ph")).cast("double")
            / (F.col("nh") - F.col("ph")),
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return ctx.select("user_id", "h", interp.alias("v_interp"))


# --------------------------------------------------------------------------
# B134 (round 4) — Wald-Wolfowitz runs test for randomness of each
# user's above/below-median event sequence: runs are counted by
# lag-compare (exact ints) over the (ts, event_id) order; the
# z-statistic's mean/variance come from the exact n_plus/n_minus
# counts, with x*sqrt(x)-style care so the only float ops are on
# identical operands.  Output: per user, run count and z — the
# randomness screen for sensor/telemetry streams.


@query(
    "ts_runs_test",
    oracle="""
WITH med AS (
  SELECT CAST(5.00 AS DECIMAL(12,2)) AS m),
signs AS (
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(value AS DECIMAL(12,2)) >= (SELECT m FROM med)
              THEN 1 ELSE 0 END AS s
  FROM events),
flips AS (
  SELECT user_id, s,
         CASE WHEN lag(s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS DISTINCT FROM s THEN 1 ELSE 0 END AS flip
  FROM signs),
agg AS (
  SELECT user_id,
         SUM(flip) AS runs,
         SUM(s) AS np,
         SUM(1 - s) AS nn
  FROM flips GROUP BY user_id)
SELECT user_id,
       CAST(runs AS BIGINT) AS n_runs,
       CAST(np AS BIGINT) AS n_above,
       CAST(nn AS BIGINT) AS n_below,
       CASE WHEN np > 0 AND nn > 0 AND np + nn > 1 THEN
         (runs - (2.0 * np * nn / (np + nn) + 1))
         / sqrt(2.0 * np * nn * (2.0 * np * nn - np - nn)
                / ((np + nn) * (np + nn) * (np + nn - 1)))
       END AS z
FROM agg
""",
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = F.when(F.col("value").cast("decimal(12,2)") >= F.lit("5.00").cast("decimal(12,2)"), 1).otherwise(0)
    signs = ev.select("user_id", "ts", "event_id", s.alias("s"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flips = signs.select(
        "user_id",
        "s",
        F.when(
            ~F.lag("s").over(w).eqNullSafe(F.col("s")), 1
        ).otherwise(0).alias("flip"),
    )
    agg = flips.groupBy("user_id").agg(
        F.sum("flip").alias("runs"),
        F.sum("s").alias("np"),
        F.sum(1 - F.col("s")).alias("nn"),
    )
    np_, nn_, runs = F.col("np"), F.col("nn"), F.col("runs")
    tot = np_ + nn_
    z = (runs - (2.0 * np_ * nn_ / tot + 1)) / F.sqrt(
        2.0 * np_ * nn_ * (2.0 * np_ * nn_ - np_ - nn_)
        / (tot * tot * (tot - 1))
    )
    return agg.select(
        "user_id",
        runs.cast("bigint").alias("n_runs"),
        np_.cast("bigint").alias("n_above"),
        nn_.cast("bigint").alias("n_below"),
        F.when((np_ > 0) & (nn_ > 0) & (tot > 1), z).alias("z"),
    )


# --------------------------------------------------------------------------
# B140 (round 4) — exact rolling median over the last 5 events per
# user: the robust-smoothing primitive (rolling MEAN is one line; the
# exact rolling MEDIAN needs the frame's values materialized).  The
# frame collects at most 5 values — constant state per row — sorts
# them, and indexes the middle; values are 2-dp doubles so the sort
# and pick are deterministic in both engines.


@query(
    "window_rolling_median",
    oracle="""
WITH w AS (
  SELECT user_id, ts, event_id, value,
         list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS vals
  FROM events)
SELECT user_id, event_id,
       vals[(len(vals) + 1) // 2] AS rolling_median,
       CAST(len(vals) AS INT) AS frame_n
FROM w
""",
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    vals = F.array_sort(F.collect_list("value").over(w))
    return ev.select(
        "user_id",
        "event_id",
        F.element_at(vals, ((F.size(vals) + 1) / 2).cast("int")).alias(
            "rolling_median"
        ),
        F.size(vals).cast("int").alias("frame_n"),
    )


# --------------------------------------------------------------------------
# B141 (round 4) — per-group top-k WITH ties (dense_rank): the
# semantic difference from row_number top-k that analysts actually ask
# about — "top 3 order totals per priority, keeping every order tied
# at those totals".  Result cardinality is data-dependent, which is
# exactly what the oracle verifies.


@query(
    "topk_per_group_ties",
    oracle="""
WITH r AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(o_totalprice AS DECIMAL(12,2)) AS p,
         DENSE_RANK() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC) AS dr
  FROM orders)
SELECT o_orderpriority, o_orderkey, CAST(p AS DOUBLE) AS total,
       CAST(dr AS INT) AS price_rank
FROM r WHERE dr <= 3
""",
)
def topk_per_group_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(12,2)")
    dr = F.dense_rank().over(
        Window.partitionBy("o_orderpriority").orderBy(p.desc())
    )
    return (
        o.select("o_orderpriority", "o_orderkey", p.alias("p"), dr.alias("dr"))
        .filter(F.col("dr") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.col("p").cast("double").alias("total"),
            F.col("dr").cast("int").alias("price_rank"),
        )
    )


# --------------------------------------------------------------------------
# B145 (round 4) — Pareto (80/20) coverage: per nation, how many of
# the biggest customers cover 80% of revenue?  Spend ranks and
# cumulative sums stay DECIMAL inside per-nation windows (no global
# sort); the crossing row is the first whose running total reaches
# 80% of the exact nation total — an integer-and-decimal-only
# computation until the final share division.


@query(
    "agg_pareto_coverage",
    oracle="""
WITH spend AS (
  SELECT c.c_nationkey AS nation, c.c_custkey,
         SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS x
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
ranked AS (
  SELECT nation, c_custkey, x,
         SUM(x) OVER (PARTITION BY nation ORDER BY x DESC, c_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cx,
         SUM(x) OVER (PARTITION BY nation) AS tx,
         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY x DESC, c_custkey) AS rk,
         COUNT(*) OVER (PARTITION BY nation) AS n
  FROM spend),
hit AS (
  SELECT nation, rk, n, cx, tx,
         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY rk) AS h
  FROM ranked WHERE cx * 5 >= tx * 4)
SELECT nation,
       CAST(rk AS BIGINT) AS n_top_customers,
       CAST(n AS BIGINT) AS n_customers,
       CAST(rk AS DOUBLE) / n AS top_share_of_customers,
       CAST(cx AS DOUBLE) / CAST(tx AS DOUBLE) AS revenue_covered
FROM hit WHERE h = 1
""",
)
def agg_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nation"), "c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("x"))
    )
    w_run = (
        Window.partitionBy("nation")
        .orderBy(F.col("x").desc(), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("nation")
    ranked = spend.select(
        "nation",
        "c_custkey",
        "x",
        F.sum("x").over(w_run).alias("cx"),
        F.sum("x").over(w_all).alias("tx"),
        F.row_number()
        .over(Window.partitionBy("nation").orderBy(F.col("x").desc(), "c_custkey"))
        .alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    hit = ranked.filter(F.col("cx") * 5 >= F.col("tx") * 4).select(
        "nation", "rk", "n", "cx", "tx",
        F.row_number()
        .over(Window.partitionBy("nation").orderBy("rk"))
        .alias("h"),
    )
    return hit.filter(F.col("h") == 1).select(
        "nation",
        F.col("rk").cast("bigint").alias("n_top_customers"),
        F.col("n").cast("bigint").alias("n_customers"),
        (F.col("rk").cast("double") / F.col("n")).alias("top_share_of_customers"),
        (F.col("cx").cast("double") / F.col("tx").cast("double")).alias("revenue_covered"),
    )


# --------------------------------------------------------------------------
# B148 (round 4) — A/B test two-proportion z-test: users split into
# arms by id parity, conversion = did the user ever purchase; the
# z-statistic comes from exact integer conversion counts (pooled
# variance form), so the only float ops are the final divisions and
# one sqrt on identical operands.  The product-analytics staple for
# "is B actually better".


@query(
    "ab_test_proportions",
    oracle="""
WITH arms AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         MAX(CASE WHEN event_type = 'purchase'
                   AND CAST(value AS DECIMAL(12,2)) > CAST(9.00 AS DECIMAL(12,2))
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id),
agg AS (
  SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS ca,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
         SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS cb
  FROM arms)
SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
       CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
       CAST(ca AS DOUBLE) / na AS rate_a,
       CAST(cb AS DOUBLE) / nb AS rate_b,
       CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN
         (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
         / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                * (1.0 / na + 1.0 / nb)) END AS z
FROM agg
""",
)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    conv = (
        (F.col("event_type") == "purchase")
        & (F.col("value").cast("decimal(12,2)") > F.lit("9.00").cast("decimal(12,2)"))
    )
    arms = ev.groupBy("user_id").agg(
        F.max(conv.cast("int")).alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("int").alias("arm"), "converted"
    )
    agg = arms.agg(
        F.sum((F.col("arm") == 0).cast("int")).alias("na"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias("ca"),
        F.sum((F.col("arm") == 1).cast("int")).alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias("cb"),
    )
    na, ca, nb, cb = F.col("na"), F.col("ca"), F.col("nb"), F.col("cb")
    ra = ca.cast("double") / na
    rb = cb.cast("double") / nb
    pool = (ca + cb).cast("double") / (na + nb)
    z = F.when(
        ((ca + cb) > 0) & ((ca + cb) < (na + nb)),
        (ra - rb) / F.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)),
    )
    return agg.select(
        na.cast("bigint").alias("n_a"), ca.cast("bigint").alias("conv_a"),
        nb.cast("bigint").alias("n_b"), cb.cast("bigint").alias("conv_b"),
        ra.alias("rate_a"), rb.alias("rate_b"), z.alias("z"),
    )


# --------------------------------------------------------------------------
# B149 (round 4) — local-peak detection over each user's event series:
# a peak is a value strictly above BOTH neighbors in (ts, event_id)
# order — the lag/lead compare that underlies heartbeat/telemetry
# spike counting.  Values are exact decimals for the comparison, so
# the peak set is engine-independent; one shuffle on user_id.


@query(
    "ts_peak_detection",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id,
         CAST(value AS DECIMAL(12,2)) AS v,
         lag(CAST(value AS DECIMAL(12,2)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv,
         lead(CAST(value AS DECIMAL(12,2)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nv
  FROM events),
peaks AS (
  SELECT user_id, v FROM ordered
  WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v > nv)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_peaks,
       CAST(MAX(v) AS DOUBLE) AS max_peak
FROM peaks GROUP BY user_id
""",
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = F.col("value").cast("decimal(12,2)")
    ordered = ev.select(
        "user_id",
        "event_id",
        v.alias("v"),
        F.lag(v).over(w).alias("pv"),
        F.lead(v).over(w).alias("nv"),
    )
    peaks = ordered.filter(
        F.col("pv").isNotNull()
        & F.col("nv").isNotNull()
        & (F.col("v") > F.col("pv"))
        & (F.col("v") > F.col("nv"))
    )
    return peaks.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_peaks"),
        F.max("v").cast("double").alias("max_peak"),
    )


# --------------------------------------------------------------------------
# B154 (round 4) — M4 downsampling (the VLDB'14 visualization
# algorithm): per pixel-column time bucket keep exactly the first,
# last, min, and max points — the four values that make the rendered
# line pixel-identical to the full series at a fraction of the data.
# first/last resolve by (ts, event_id) min/max via struct ordering
# (min_by/max_by twins), min/max over exact decimals; one shuffle on
# the (series, bucket) key.


@query(
    "ts_m4_downsample",
    oracle="""
WITH pts AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 21600000000 AS BIGINT) AS bucket,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':'
           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ok,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events)
SELECT event_type, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(v) AS DOUBLE) AS v_min,
       CAST(MAX(v) AS DOUBLE) AS v_max,
       CAST(min_by(v, ok) AS DOUBLE) AS v_first,
       CAST(max_by(v, ok) AS DOUBLE) AS v_last
FROM pts GROUP BY event_type, bucket
""",
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # composite order key as a zero-padded sortable string: DuckDB 1.0's
    # min_by/max_by can't take a struct key, and lexicographic equals
    # numeric order under fixed-width padding in both engines
    pts = ev.select(
        "event_type",
        F.floor(F.unix_micros("ts") / 21600000000).cast("bigint").alias("bucket"),
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lit(":"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("ok"),
        F.col("value").cast("decimal(12,2)").alias("v"),
    )
    key = F.col("ok")
    return pts.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.min("v").cast("double").alias("v_min"),
        F.max("v").cast("double").alias("v_max"),
        F.min_by("v", key).cast("double").alias("v_first"),
        F.max_by("v", key).cast("double").alias("v_last"),
    )


# --------------------------------------------------------------------------
# B155 (round 4) — Herfindahl-Hirschman concentration index per
# nation (the antitrust-style companion to Gini): HHI = sum of
# squared revenue shares.  Shares are divisions of exact decimals on
# identical operands; each squared share rounds to 9 dp and sums in
# DECIMAL so the index is order-independent.


@query(
    "agg_hhi_concentration",
    oracle="""
WITH spend AS (
  SELECT c.c_nationkey AS nation, c.c_custkey,
         SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS x
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
tot AS (
  SELECT nation, SUM(x) AS tx, COUNT(*) AS n FROM spend GROUP BY nation),
terms AS (
  SELECT s.nation, t.n,
         CAST(round((CAST(s.x AS DOUBLE) / CAST(t.tx AS DOUBLE))
                    * (CAST(s.x AS DOUBLE) / CAST(t.tx AS DOUBLE)), 9)
              AS DECIMAL(18,9)) AS sq
  FROM spend s JOIN tot t ON s.nation = t.nation)
SELECT nation, CAST(MAX(n) AS BIGINT) AS n_customers,
       CAST(SUM(sq) AS DOUBLE) AS hhi
FROM terms GROUP BY nation
""",
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nation"), "c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("x"))
    )
    tot = spend.groupBy("nation").agg(
        F.sum("x").alias("tx"), F.count(F.lit(1)).alias("n")
    )
    share = F.col("x").cast("double") / F.col("tx").cast("double")
    terms = spend.join(F.broadcast(tot), "nation").select(
        "nation",
        "n",
        F.round(share * share, 9).cast("decimal(18,9)").alias("sq"),
    )
    return terms.groupBy("nation").agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.sum("sq").cast("double").alias("hhi"),
    )


# --------------------------------------------------------------------------
# B156 (round 4) — stationary distribution of the user-event Markov
# chain: where does a user's session settle in the long run?  The
# distributed work is the transition-count matrix (one (src, dst)
# rollup over lag pairs — the event_transitions shuffle); the
# stationary vector is 30 power-iteration steps on the collected
# 5x5 row-normalized matrix — a bounded driver reduction, the same
# k x d pattern as the ML trainers (psvm's AllReduce analogue).
# Oracle-EXACT despite the iteration (round 5): DuckDB runs the same
# 30 power-iteration steps as a recursive CTE over the (src, dst, p)
# relation.  Both engines apply a row-stochastic matrix 30 times from
# the uniform start (no per-step renormalization on either side — P is
# row-stochastic, so sum(pi) drifts only ~1e-15 over 30 steps), and the
# iterates agree to ~1e-13; round-9 absorbs the cross-engine float
# noise.  Tests additionally pin sum(pi) == 1, pi P == pi to 1e-9, and
# agreement with NumPy's eigenvector on the same matrix.


@query(
    "agg_markov_stationary",
    oracle="""
WITH RECURSIVE
seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events),
pairs AS (
  SELECT prev_type AS src, event_type AS dst, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2),
tm AS (
  SELECT src, dst, CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS p
  FROM pairs),
types AS (
  -- DISTINCT over UNION ALL, not UNION: inside WITH RECURSIVE DuckDB
  -- gives a UNION-bodied CTE recursive-union semantics and does NOT
  -- dedupe across the two branches
  SELECT DISTINCT t FROM (
    SELECT src AS t FROM pairs UNION ALL SELECT dst AS t FROM pairs)),
iter AS (
  SELECT 0 AS step, t, 1.0 / (SELECT COUNT(*) FROM types) AS pi FROM types
  UNION ALL
  SELECT i.step + 1, m.dst AS t, SUM(i.pi * m.p) AS pi
  FROM iter i JOIN tm m ON m.src = i.t
  WHERE i.step < 30
  GROUP BY i.step + 1, m.dst),
obs AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
tot AS (SELECT SUM(n) AS tn FROM obs)
SELECT ty.t AS event_type,
       ROUND(COALESCE(it.pi, 0.0), 9) AS stationary_prob,
       CAST(COALESCE(o.n, 0) AS BIGINT) AS n_observed,
       CAST(COALESCE(o.n, 0) AS DOUBLE) / (SELECT tn FROM tot) AS observed_freq
FROM types ty
LEFT JOIN (SELECT t, pi FROM iter WHERE step = 30) it ON it.t = ty.t
LEFT JOIN obs o ON o.event_type = ty.t
""",
)
def agg_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "event_type", F.lead("event_type").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cells = pairs.collect()  # <= n_types^2 rows: bounded driver reduction
    types = sorted({r.src for r in cells} | {r.dst for r in cells})
    idx = {t: i for i, t in enumerate(types)}
    k = len(types)
    mat = [[0.0] * k for _ in range(k)]
    for r in cells:
        mat[idx[r.src]][idx[r.dst]] = float(r.n)
    for i in range(k):
        tot = sum(mat[i])
        if tot:
            mat[i] = [v / tot for v in mat[i]]
    pi = [1.0 / k] * k
    for _ in range(30):
        # no per-step renormalization: P is row-stochastic so sum(pi)
        # drifts only in the last ulps, and the oracle's recursive CTE
        # applies the identical un-normalized step
        pi = [sum(pi[i] * mat[i][j] for i in range(k)) for j in range(k)]
    obs = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(obs.values())
    rows = [
        (t, round(pi[idx[t]], 9), obs.get(t, 0), obs.get(t, 0) / total)
        for t in types
    ]
    return local_df(spark,
        rows, "event_type string, stationary_prob double, n_observed long, observed_freq double"
    )


# --------------------------------------------------------------------------
# B164 (round 4) — adoption curve: cumulative distinct users by day,
# the growth chart every product review starts with.  Computing a
# running COUNT(DISTINCT) directly would rescan history per day; the
# scalable identity is first-event-per-user -> daily new-user counts
# -> one running sum over days — three shuffles, none of them larger
# than the user dimension.


@query(
    "metric_adoption_curve",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id),
daily AS (
  SELECT d0 AS day, COUNT(*) AS new_users FROM firsts GROUP BY d0)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM daily
""",
)
def metric_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    daily = firsts.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


# --------------------------------------------------------------------------
# B169 (round 5) — time-weighted average (TWAP): the correct mean of a
# step function sampled at irregular event times — a plain AVG
# over-weights bursts of rapid updates, so billing meters, position
# marks, and sensor rollups all weight each value by how long it was
# in force.  One window pass (lead per user) then one rollup; the
# shuffle is keyed on user_id, linear at any scale.  Cross-engine
# exactness: value is 2-dp clean, so value -> cents is an exact
# decimal->bigint hop, durations are exact integer seconds, and the
# final TWAP is ONE double division of identical bigints on both
# sides — no float accumulation anywhere.


@query(
    "ts_time_weighted_avg",
    oracle="""
WITH iv AS (
  SELECT user_id, value, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events),
seg AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         (epoch_us(nxt) - epoch_us(ts)) // 1000000 AS dur_s
  FROM iv WHERE nxt IS NOT NULL)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
       CAST(SUM(cents * dur_s) AS DOUBLE) / CAST(SUM(dur_s) * 100 AS DOUBLE)
         AS twap
FROM seg GROUP BY user_id
HAVING SUM(dur_s) > 0
""",
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "user_id", "value", "ts", F.lead("ts").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    seg = iv.select(
        "user_id",
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
        F.expr("(unix_micros(nxt) - unix_micros(ts)) div 1000000").alias("dur_s"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum("dur_s").cast("bigint").alias("total_dur_s"),
            (
                F.sum(F.col("cents") * F.col("dur_s")).cast("double")
                / (F.sum("dur_s") * 100).cast("double")
            ).alias("twap"),
        )
        .filter(F.col("total_dur_s") > 0)
    )


# --------------------------------------------------------------------------
# B175 (round 5) — sequence pattern with NEGATION: "view then purchase
# with NO error in between" — the CEP shape plain funnels cannot
# express (a funnel only asserts presence/order, not absence).  One
# window pass per user: running row index, then the last-view and
# last-error indexes over the strictly-preceding frame; a purchase is a
# clean conversion iff a prior view exists and no error landed after
# it.  Comparisons are on ROW indexes (ints from one shared ordering),
# so equal-timestamp ties resolve identically in both engines.  Single
# user_id-keyed shuffle, linear at any scale.


@query(
    "seq_pattern_negation",
    oracle="""
WITH idx AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
seq AS (
  SELECT user_id, event_type,
         MAX(CASE WHEN event_type = 'view' THEN rn END) OVER w2 AS last_view,
         MAX(CASE WHEN event_type = 'error' THEN rn END) OVER w2 AS last_error
  FROM idx
  WINDOW w2 AS (PARTITION BY user_id ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT user_id,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS n_purchases,
       CAST(COUNT(*) FILTER (
         WHERE event_type = 'purchase' AND last_view IS NOT NULL
           AND (last_error IS NULL OR last_error < last_view)) AS BIGINT)
         AS n_clean_conversions
FROM seq GROUP BY user_id
HAVING COUNT(*) FILTER (WHERE event_type = 'purchase') > 0
""",
)
def seq_pattern_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.row_number().over(w).alias("rn"),
    ).select(
        "user_id",
        "event_type",
        F.max(F.when(F.col("event_type") == "view", F.col("rn"))).over(wprev).alias("last_view"),
        F.max(F.when(F.col("event_type") == "error", F.col("rn"))).over(wprev).alias("last_error"),
    )
    is_p = F.col("event_type") == "purchase"
    clean = (
        is_p
        & F.col("last_view").isNotNull()
        & (F.col("last_error").isNull() | (F.col("last_error") < F.col("last_view")))
    )
    return (
        seq.groupBy("user_id")
        .agg(
            F.sum(is_p.cast("long")).alias("n_purchases"),
            F.sum(clean.cast("long")).alias("n_clean_conversions"),
        )
        .filter(F.col("n_purchases") > 0)
    )


# --------------------------------------------------------------------------
# B187 (round 6) — Holt linear (double-exponential) smoothing per user
# series: level + trend state folded over the time-ordered values, the
# forecasting baseline every monitoring stack runs.  The recurrence is
# inherently sequential PER SERIES, so the distributed shape is one
# executor-side fold per series key (aggregate() over the sorted value
# array after a single shuffle on user_id) — millions of small series
# run in parallel, none ever crosses an executor boundary.  Exactness:
# alpha = 0.5, beta = 0.25 are exact binary fractions, the fold order
# is pinned by (ts, event_id), and every float op in the recurrence is
# mirrored literally in the oracle's recursive CTE — identical op
# sequence on identical doubles, so round-9 parity is bitwise.  (The
# oracle deliberately avoids DuckDB's list_reduce: multi-field struct
# lambdas mis-evaluate fields referenced more than once there.)


@query(
    "ts_holt_linear",
    oracle="""
WITH RECURSIVE s AS (
  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs,
         COUNT(*) AS n
  FROM events GROUP BY user_id),
it AS (
  SELECT user_id, 1 AS i, xs[1] AS l, 0e0 AS t, n, xs FROM s
  UNION ALL
  SELECT user_id, i + 1,
         5e-1 * xs[i+1] + 5e-1 * (l + t),
         2.5e-1 * ((5e-1 * xs[i+1] + 5e-1 * (l + t)) - l) + 7.5e-1 * t,
         n, xs
  FROM it WHERE i < n
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       round(l, 9) AS level, round(t, 9) AS trend,
       round(l + t, 9) AS forecast1
FROM it WHERE i = n
""",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id, value))),"
            " e -> cast(e.value as double))"
        ).alias("xs"),
        F.count(F.lit(1)).alias("n_events"),
    )
    hw = F.expr(
        """
        aggregate(
          xs,
          named_struct('l', cast(0 as double), 't', cast(0 as double), 'n', 0),
          (acc, x) -> IF(acc.n = 0,
            named_struct('l', x, 't', cast(0 as double), 'n', 1),
            named_struct(
              'l', 0.5D * x + 0.5D * (acc.l + acc.t),
              't', 0.25D * ((0.5D * x + 0.5D * (acc.l + acc.t)) - acc.l)
                   + 0.75D * acc.t,
              'n', acc.n + 1)))
        """
    )
    return series.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(hw["l"], 9).alias("level"),
        F.round(hw["t"], 9).alias("trend"),
        F.round(hw["l"] + hw["t"], 9).alias("forecast1"),
    )


# --------------------------------------------------------------------------
# B192 (round 6) — DAU/MAU stickiness: the engagement ratio on every
# product dashboard.  Per calendar month: MAU = distinct users, avg DAU
# = mean of the per-day distinct-user counts (over days that have
# data), stickiness = avg DAU / MAU.  Two skinny distinct shuffles on
# (day, user) / (month, user); every intermediate is an exact integer,
# so the one final division is bitwise cross-engine.


@query(
    "metric_stickiness",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(date_trunc('month', ts) AS DATE) AS m
  FROM events),
dau AS (SELECT m, d, COUNT(*) AS dau FROM ud GROUP BY m, d),
mau AS (SELECT m, COUNT(DISTINCT user_id) AS mau FROM ud GROUP BY m)
SELECT CAST(dau.m AS TIMESTAMP) AS month,
       CAST(SUM(dau.dau) AS BIGINT) AS user_days,
       CAST(COUNT(*) AS BIGINT) AS n_active_days,
       CAST(ANY_VALUE(mau.mau) AS BIGINT) AS mau,
       round((CAST(SUM(dau.dau) AS DOUBLE) / COUNT(*)) / ANY_VALUE(mau.mau), 9)
         AS stickiness
FROM dau JOIN mau ON dau.m = mau.m
GROUP BY dau.m
""",
)
def metric_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("m"),
    ).distinct()
    dau = ud.groupBy("m", "d").agg(F.count(F.lit(1)).alias("dau"))
    mau = ud.groupBy("m").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(mau, "m")
        .groupBy("m")
        .agg(
            F.sum("dau").cast("bigint").alias("user_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_active_days"),
            F.first("mau").cast("bigint").alias("mau"),
            F.round(
                (F.sum("dau").cast("double") / F.count(F.lit(1))) / F.first("mau"), 9
            ).alias("stickiness"),
        )
        .select(
            F.col("m").alias("month"),
            "user_days",
            "n_active_days",
            "mau",
            "stickiness",
        )
    )


# --------------------------------------------------------------------------
# B212 (round 7) — single-changepoint detection by binary segmentation
# (the first split of the CUSUM/PELT family): over the monthly
# order-revenue series, find the boundary m that best explains the
# series as two constant segments, i.e. maximizes the between-segment
# sum of squares  BSS(m) = A^2/a + B^2/b  (equivalently minimizes
# SSE_left + SSE_right), with gain = BSS(m) - T^2/n relative to the
# no-split model.  Revenue is exact integer CENTS, so A, B, T are
# bit-identical across engines and the score is the identical
# mul/div/add double expression on both sides (the ml_stump_split
# precedent).  Shape: one monthly aggregation (tiny), prefix sums via
# window over the ~84-row month dim — at 100 TB the heavy part is the
# first groupBy (map-side combined); the split search itself touches
# only the month dimension.


@query(
    "ts_changepoint_sse",
    oracle="""
WITH monthly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) * 100
              + EXTRACT(month FROM o_orderdate) AS INT) AS ym,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
pref AS (
  SELECT ym, y,
         SUM(y) OVER (ORDER BY ym) AS cum,
         ROW_NUMBER() OVER (ORDER BY ym) AS idx,
         SUM(y) OVER () AS tot,
         COUNT(*) OVER () AS n
  FROM monthly
),
scored AS (
  SELECT ym, idx, n,
         CAST(cum AS DOUBLE) * CAST(cum AS DOUBLE) / CAST(idx AS DOUBLE)
         + CAST(tot - cum AS DOUBLE) * CAST(tot - cum AS DOUBLE)
           / CAST(n - idx AS DOUBLE)
         - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)
           AS gain
  FROM pref WHERE idx < n
)
SELECT ym AS split_after_ym,
       CAST(idx AS BIGINT) AS n_left,
       CAST(n - idx AS BIGINT) AS n_right,
       gain
FROM scored
ORDER BY gain DESC, ym
LIMIT 1
""",
)
def ts_changepoint_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("ym")
    ).agg(
        F.sum(
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        )
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("ym")
    full = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pref = monthly.select(
        "ym",
        F.sum("y").over(w).alias("cum"),
        F.row_number().over(w).alias("idx"),
        F.sum("y").over(full).alias("tot"),
        F.count(F.lit(1)).over(full).alias("n"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    scored = pref.filter(F.col("idx") < F.col("n")).select(
        "ym",
        "idx",
        "n",
        (
            d(F.col("cum")) * d(F.col("cum")) / d(F.col("idx"))
            + d(F.col("tot") - F.col("cum"))
            * d(F.col("tot") - F.col("cum"))
            / d(F.col("n") - F.col("idx"))
            - d(F.col("tot")) * d(F.col("tot")) / d(F.col("n"))
        ).alias("gain"),
    )
    return (
        scored.orderBy(F.desc("gain"), "ym")
        .limit(1)
        .select(
            F.col("ym").alias("split_after_ym"),
            F.col("idx").cast("bigint").alias("n_left"),
            (F.col("n") - F.col("idx")).cast("bigint").alias("n_right"),
            "gain",
        )
    )


# --------------------------------------------------------------------------
# B216 (round 7) — Theil–Sen robust trend: per-brand slope = the median
# of all pairwise monthly-revenue slopes (Theil 1950 / Sen 1968), the
# outlier-resistant counterpart to agg_regression_trend's OLS.  The
# pairwise stage is bounded by the CALENDAR, not the corpus: the monthly
# rollup compresses any data volume to <= ~84 points per brand first, so
# the per-brand pair join is O(months^2) ~ 3.5k rows — at 100 TB the
# only corpus-sized stage is the initial map-side-combined rollup
# shuffle.  Slopes are (exact cents delta) / (exact month delta) as the
# IDENTICAL two-op double expression on both engines; the median is the
# LOWER median (element selection at row_number = (n+1)/2 under a total
# (slope, x1, x2) order), so the reported value is an actual pairwise
# slope and no float averaging enters the parity path.


@query(
    "ts_theil_sen",
    oracle="""
WITH monthly AS (
  SELECT p_brand,
         CAST((EXTRACT(year FROM l_shipdate) - 1995) * 12
              + EXTRACT(month FROM l_shipdate) - 1 AS INT) AS x,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2),
pairs AS (
  SELECT a.p_brand, a.x AS x1, b.x AS x2,
         CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
  FROM monthly a JOIN monthly b
    ON a.p_brand = b.p_brand AND a.x < b.x),
ranked AS (
  SELECT p_brand, slope,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY slope, x1, x2) AS rk,
         COUNT(*) OVER (PARTITION BY p_brand) AS np
  FROM pairs)
SELECT p_brand, CAST(np AS BIGINT) AS n_pairs,
       slope AS ts_slope_cents_per_month
FROM ranked WHERE rk = (np + 1) // 2
""",
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    # One corpus pass: the rollup output is <= brands x months rows, but
    # the a/b self-join below references it twice — without materializing
    # it each side re-runs the lineitem⋈part rollup from parquet
    # (guide §2.4 / §3.3: materialize to dedupe expensive subtrees).
    monthly = checkpoint(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            ((F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate") - 1)
            .cast("int")
            .alias("x"),
        )
        .agg(
            (F.sum((F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint")))
            .cast("bigint")
            .alias("y")
        )
    )
    a = monthly.select("p_brand", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = monthly.select("p_brand", F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = (
        a.join(b, "p_brand")
        .filter(F.col("x1") < F.col("x2"))
        .select(
            "p_brand",
            "x1",
            "x2",
            (
                (F.col("y2") - F.col("y1")).cast("double")
                / (F.col("x2") - F.col("x1"))
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("p_brand").orderBy("slope", "x1", "x2")
    ranked = pairs.select(
        "p_brand",
        "slope",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("p_brand")).alias("np"),
    )
    return ranked.filter(F.col("rk") == F.expr("(np + 1) div 2")).select(
        "p_brand",
        F.col("np").cast("bigint").alias("n_pairs"),
        F.col("slope").alias("ts_slope_cents_per_month"),
    )


# --------------------------------------------------------------------------
# B220 (round 7) — Welch's unequal-variance t-test (reported as t^2 and
# the Welch–Satterthwaite df), completing the A/B toolkit next to the
# two-proportion z-test: proportions compare rates, this compares MEANS
# of a heavy-tailed metric (order value) without assuming equal
# variance.  The parity recipe is the moment-sum contract: per-group
# n / sum(cents) / sum(cents^2) accumulate EXACTLY (cents as BIGINT,
# squares summed in DECIMAL(25,0) on Spark / HUGEINT on DuckDB — cents^2
# overflows BIGINT beyond ~30k rows), are converted to double once, and
# every downstream op is the identical correctly-rounded double
# expression on both engines.  One conditional-aggregation scan; no
# shuffle wider than two cells.


@query(
    "ab_test_welch_t2",
    oracle="""
WITH g AS (
  SELECT o_orderpriority AS grp,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
s AS (
  SELECT
    CAST(COUNT(*) FILTER (grp = '1-URGENT') AS BIGINT) AS n1,
    CAST(COUNT(*) FILTER (grp = '5-LOW') AS BIGINT) AS n2,
    CAST(SUM(cents) FILTER (grp = '1-URGENT') AS DOUBLE) AS s1,
    CAST(SUM(cents) FILTER (grp = '5-LOW') AS DOUBLE) AS s2,
    CAST(SUM(CAST(cents AS HUGEINT) * cents) FILTER (grp = '1-URGENT')
         AS DOUBLE) AS q1,
    CAST(SUM(CAST(cents AS HUGEINT) * cents) FILTER (grp = '5-LOW')
         AS DOUBLE) AS q2
  FROM g
)
SELECT n1, n2,
       s1 / n1 - s2 / n2 AS mean_diff_cents,
       (s1 / n1 - s2 / n2) * (s1 / n1 - s2 / n2)
         / ((n1 * q1 - s1 * s1) / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1
            + (n2 * q2 - s2 * s2) / (CAST(n2 AS DOUBLE) * (n2 - 1)) / n2) AS t2,
       ((n1 * q1 - s1 * s1) / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1
        + (n2 * q2 - s2 * s2) / (CAST(n2 AS DOUBLE) * (n2 - 1)) / n2)
       * ((n1 * q1 - s1 * s1) / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1
          + (n2 * q2 - s2 * s2) / (CAST(n2 AS DOUBLE) * (n2 - 1)) / n2)
       / ((n1 * q1 - s1 * s1) / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1
          * ((n1 * q1 - s1 * s1) / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1)
          / (n1 - 1)
          + (n2 * q2 - s2 * s2) / (CAST(n2 AS DOUBLE) * (n2 - 1)) / n2
          * ((n2 * q2 - s2 * s2) / (CAST(n2 AS DOUBLE) * (n2 - 1)) / n2)
          / (n2 - 1)) AS df_welch
FROM s
""",
)
def ab_test_welch_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    g = o.select(F.col("o_orderpriority").alias("grp"), cents.alias("cents"))
    is1 = F.col("grp") == "1-URGENT"
    is2 = F.col("grp") == "5-LOW"
    sq = (F.col("cents").cast("decimal(12,0)") * F.col("cents")).cast("decimal(25,0)")
    s = g.agg(
        F.count(F.when(is1, 1)).cast("bigint").alias("n1"),
        F.count(F.when(is2, 1)).cast("bigint").alias("n2"),
        F.sum(F.when(is1, F.col("cents"))).cast("double").alias("s1"),
        F.sum(F.when(is2, F.col("cents"))).cast("double").alias("s2"),
        F.sum(F.when(is1, sq)).cast("double").alias("q1"),
        F.sum(F.when(is2, sq)).cast("double").alias("q2"),
    )
    m = F.col("s1") / F.col("n1") - F.col("s2") / F.col("n2")
    se1 = (
        (F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1"))
        / (F.col("n1").cast("double") * (F.col("n1") - 1))
        / F.col("n1")
    )
    se2 = (
        (F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2"))
        / (F.col("n2").cast("double") * (F.col("n2") - 1))
        / F.col("n2")
    )
    return s.select(
        "n1",
        "n2",
        m.alias("mean_diff_cents"),
        (m * m / (se1 + se2)).alias("t2"),
        (
            (se1 + se2)
            * (se1 + se2)
            / (se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1))
        ).alias("df_welch"),
    )


# --------------------------------------------------------------------------
# B223 (round 7) — fixed-frequency periodogram: DFT power of the monthly
# revenue series at seasonal frequencies k = 1..6 cycles over the fixed
# N = 84-month calendar window (1995-01..2001-12) — the frequency-domain
# seasonality detector complementing ts_seasonal_baseline (which assumes
# a period) and ts_autocorrelation (lag domain).  The ml_retrieval_
# metrics literal trick keeps parity exact: cos/sin weights are
# PRE-EVALUATED in Python to 1e4 fixed-point integer literals embedded
# identically in both engines (engine trig is not identically rounded
# across libm builds), so each frequency's cosine/sine accumulators are
# exact BIGINT sums of cents x weight, and the reported power is one
# identical double expression over them.  Shape: the corpus-sized work
# is the monthly rollup shuffle; the DFT is 6 x 84 integer
# multiply-adds on the tiny month dimension.

import math as _math

_PGRAM_N = 84  # months in 1995-01 .. 2001-12
_PGRAM_KS = (1, 2, 3, 4, 5, 6)
_PGRAM_FP = 10_000
_PGRAM_COS = [
    [int(round(_math.cos(2 * _math.pi * k * t / _PGRAM_N) * _PGRAM_FP))
     for t in range(_PGRAM_N)]
    for k in _PGRAM_KS
]
_PGRAM_SIN = [
    [int(round(_math.sin(2 * _math.pi * k * t / _PGRAM_N) * _PGRAM_FP))
     for t in range(_PGRAM_N)]
    for k in _PGRAM_KS
]


def _pgram_lit(rows: list[list[int]], duck: bool) -> str:
    inner = ", ".join(
        "[" + ", ".join(str(v) for v in r) + "]" if duck
        else "array(" + ", ".join(f"{v}L" for v in r) + ")"
        for r in rows
    )
    return f"[{inner}]" if duck else f"array({inner})"


@query(
    "ts_periodogram",
    oracle=f"""
WITH monthly AS (
  SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS INT) AS t,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1),
terms AS (
  SELECT k.k,
         SUM(m.y * ({_pgram_lit(_PGRAM_COS, True)})[k.k][m.t + 1]) AS c_fp,
         SUM(m.y * ({_pgram_lit(_PGRAM_SIN, True)})[k.k][m.t + 1]) AS s_fp
  FROM monthly m
  CROSS JOIN (SELECT unnest(generate_series(1, {len(_PGRAM_KS)})) AS k) k
  WHERE m.t >= 0 AND m.t < {_PGRAM_N}
  GROUP BY k.k)
SELECT CAST(k AS INT) AS k, CAST(c_fp AS BIGINT) AS c_fp,
       CAST(s_fp AS BIGINT) AS s_fp,
       (CAST(c_fp AS DOUBLE) / {_PGRAM_FP}) * (CAST(c_fp AS DOUBLE) / {_PGRAM_FP})
         + (CAST(s_fp AS DOUBLE) / {_PGRAM_FP}) * (CAST(s_fp AS DOUBLE) / {_PGRAM_FP})
         AS power
FROM terms
""",
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
            .cast("int")
            .alias("t")
        )
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
        .filter((F.col("t") >= 0) & (F.col("t") < _PGRAM_N))
    )
    cos_lit = _pgram_lit(_PGRAM_COS, False)
    sin_lit = _pgram_lit(_PGRAM_SIN, False)
    terms = (
        monthly.select(
            "y",
            "t",
            F.expr(
                f"explode(transform(sequence(1, {len(_PGRAM_KS)}), k -> struct("
                f"k AS k,"
                f" y * element_at(element_at({cos_lit}, k), t + 1) AS c,"
                f" y * element_at(element_at({sin_lit}, k), t + 1) AS s)))"
            ).alias("x"),
        )
        .select(F.col("x.k").alias("k"), F.col("x.c").alias("c"), F.col("x.s").alias("s"))
        .groupBy("k")
        # Sum in decimal(38,0) for HUGEINT-equivalent headroom: the DuckDB
        # oracle accumulates these fixed-point products in HUGEINT, while
        # a plain bigint sum would silently wrap under non-ANSI overflow
        # once monthly cent sums x 1e4 weights approach 2^63 (~sf50).
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)")).alias("c_fp"),
            F.sum(F.col("s").cast("decimal(38,0)")).alias("s_fp"),
        )
    )
    p = (F.col("c_fp").cast("double") / _PGRAM_FP) * (
        F.col("c_fp").cast("double") / _PGRAM_FP
    ) + (F.col("s_fp").cast("double") / _PGRAM_FP) * (
        F.col("s_fp").cast("double") / _PGRAM_FP
    )
    return terms.select(
        F.col("k").cast("int").alias("k"),
        F.col("c_fp").cast("bigint").alias("c_fp"),
        F.col("s_fp").cast("bigint").alias("s_fp"),
        p.alias("power"),
    )


# --------------------------------------------------------------------------
# B226 (round 7) — Kaplan–Meier survival estimation (Kaplan & Meier
# 1958) over customer order lifetimes: duration = months between first
# and last order, with customers still ordering in the corpus's final
# month treated as right-CENSORED at the observation end — the textbook
# churn-analysis construction.  Parity recipe: at each event time the
# at-risk count and event count are exact integers (n_risk via a
# duration-descending cumulative count), the hazard is integer
# fixed-point (d * 1e9 div n), and the survival curve S(t) =
# prod(1 - d/n) is a SEQUENTIAL double fold over the time-ordered
# factor prefix (a running windowed list + left fold — the
# ts_holt_linear proof that identical fold order gives bitwise parity;
# the event-time dimension is calendar-bounded at ~80 rows, so the
# O(T^2) prefix lists are free).  Corpus-sized work is one groupBy
# customer; everything after lives on the tiny duration dimension.


@query(
    "ml_survival_km",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         CAST(MIN((EXTRACT(year FROM o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o_orderdate) - 1) AS INT) AS t0,
         CAST(MAX((EXTRACT(year FROM o_orderdate) - 1995) * 12
                  + EXTRACT(month FROM o_orderdate) - 1) AS INT) AS t1
  FROM orders GROUP BY o_custkey),
obs AS (
  SELECT o_custkey, t0, t1, MAX(t1) OVER () AS m FROM cust),
dur AS (
  SELECT CASE WHEN t1 < m THEN t1 - t0 ELSE m - t0 END AS duration,
         CASE WHEN t1 < m THEN 1 ELSE 0 END AS event
  FROM obs),
per_t AS (
  SELECT duration AS t, CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(event) AS BIGINT) AS d
  FROM dur GROUP BY duration),
risk AS (
  SELECT t, d,
         SUM(n_all) OVER (ORDER BY t DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n_risk
  FROM per_t),
ev AS (
  SELECT t, d, n_risk,
         1.0 - CAST(d AS DOUBLE) / n_risk AS factor
  FROM risk WHERE d > 0),
curve AS (
  SELECT t, d, n_risk,
         list(factor) OVER (ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS pre
  FROM ev)
SELECT CAST(t AS INT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS d_events,
       CAST(d * 1000000000 // n_risk AS BIGINT) AS hazard_fp,
       list_reduce(list_prepend(CAST(1.0 AS DOUBLE), pre), (a, b) -> a * b)
         AS survival
FROM curve
""",
)
def ml_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    month = ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1).cast(
        "int"
    )
    cust = o.groupBy("o_custkey").agg(
        F.min(month).alias("t0"), F.max(month).alias("t1")
    )
    obs = cust.withColumn("m", F.max("t1").over(Window.partitionBy()))
    dur = obs.select(
        F.when(F.col("t1") < F.col("m"), F.col("t1") - F.col("t0"))
        .otherwise(F.col("m") - F.col("t0"))
        .alias("duration"),
        F.when(F.col("t1") < F.col("m"), 1).otherwise(0).alias("event"),
    )
    per_t = dur.groupBy(F.col("duration").alias("t")).agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("event").alias("d")
    )
    w_risk = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_t.select("t", "d", F.sum("n_all").over(w_risk).alias("n_risk"))
    ev = risk.filter(F.col("d") > 0).withColumn(
        "factor", F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")
    )
    w_pre = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = ev.withColumn("pre", F.collect_list("factor").over(w_pre))
    return curve.select(
        F.col("t").cast("int").alias("t"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.expr("d * 1000000000 div n_risk").cast("bigint").alias("hazard_fp"),
        F.expr("aggregate(pre, CAST(1.0 AS DOUBLE), (a, b) -> a * b)").alias(
            "survival"
        ),
    )


# --------------------------------------------------------------------------
# B227 (round 7) — point-in-polygon spatial join by exact integer ray
# casting.  Points are customers at salted-md5 CENTI-DEGREE integer
# coordinates (the geo_nearest_site twin pattern, kept integer so the
# crossing test never divides); polygons are four literal fences —
# including a concave L to prove the even-odd rule — expanded to an
# edge-list literal table.  Scale shape mirrors geo_nearest_site's
# GRID BLOCKING: each polygon's bbox cells are precomputed in Python
# into a (poly, cell) literal, points equi-join on their 30-degree cell
# key, and only cell-local candidates run the exact edge test — never
# points x polygons.  The crossing predicate is the classic ray-cast
# inequality cross-multiplied by dy so it stays in integers:
# dy > 0 ? (px-x1)*dy < (py-y1)*(x2-x1) : flipped.

_PIP_CELL = 3000  # centi-degrees = 30 degrees, matching geo_nearest_site
# (poly_id, [(x, y) vertices, counter-clockwise, closed implicitly])
_PIP_POLYS = {
    1: [(-12000, -6000), (-4000, -6000), (-4000, 2000), (-12000, 2000)],
    2: [(0, -2000), (9000, -2000), (9000, 7000), (0, 7000)],
    3: [(10000, -7500), (17000, -7500), (17000, -3500)],  # triangle
    4: [(-17000, 3000), (-10000, 3000), (-10000, 5500), (-14000, 5500),
        (-14000, 7500), (-17000, 7500)],  # concave L
}


def _pip_edges() -> list[tuple[int, int, int, int, int]]:
    out = []
    for pid, vs in _PIP_POLYS.items():
        for i, (x1, y1) in enumerate(vs):
            x2, y2 = vs[(i + 1) % len(vs)]
            out.append((pid, x1, y1, x2, y2))
    return out


def _pip_cells() -> list[tuple[int, int, int]]:
    out = []
    for pid, vs in _PIP_POLYS.items():
        xs = [v[0] for v in vs]
        ys = [v[1] for v in vs]
        for cx in range(min(xs) // _PIP_CELL, max(xs) // _PIP_CELL + 1):
            for cy in range(min(ys) // _PIP_CELL, max(ys) // _PIP_CELL + 1):
                out.append((pid, cx, cy))
    return out


_PIP_PX_S = (
    "(pmod(cast(conv(substring(md5(concat('glon:', c_custkey)), 1, 8), 16, 10)"
    " as bigint), 36000) - 18000)"
)
_PIP_PY_S = (
    "(pmod(cast(conv(substring(md5(concat('glat:', c_custkey)), 1, 8), 16, 10)"
    " as bigint), 16000) - 8000)"
)
_PIP_PX_D = "((('0x' || substr(md5('glon:' || c_custkey), 1, 8))::BIGINT % 36000) - 18000"
_PIP_PY_D = "((('0x' || substr(md5('glat:' || c_custkey), 1, 8))::BIGINT % 16000) - 8000"


def _pip_oracle() -> str:
    edges = ", ".join(f"({p}, {a}, {b}, {c}, {d})" for p, a, b, c, d in _pip_edges())
    cells = ", ".join(f"({p}, {cx}, {cy})" for p, cx, cy in _pip_cells())
    return f"""
WITH pts AS (
  SELECT c_custkey, {_PIP_PX_D}) AS px, {_PIP_PY_D}) AS py FROM customer),
ptc AS (
  SELECT c_custkey, px, py,
         CAST(floor(CAST(px AS DOUBLE) / {_PIP_CELL}) AS BIGINT) AS cx,
         CAST(floor(CAST(py AS DOUBLE) / {_PIP_CELL}) AS BIGINT) AS cy
  FROM pts),
cells(poly_id, cx, cy) AS (VALUES {cells}),
edges(poly_id, x1, y1, x2, y2) AS (VALUES {edges}),
cand AS (
  SELECT DISTINCT p.c_custkey, p.px, p.py, c.poly_id
  FROM ptc p JOIN cells c ON p.cx = c.cx AND p.cy = c.cy),
crossings AS (
  SELECT cd.c_custkey, cd.poly_id,
         SUM(CASE WHEN ((e.y1 > cd.py) <> (e.y2 > cd.py))
                   AND (CASE WHEN e.y2 > e.y1
                        THEN (cd.px - e.x1) * (e.y2 - e.y1)
                             < (cd.py - e.y1) * (e.x2 - e.x1)
                        ELSE (cd.px - e.x1) * (e.y2 - e.y1)
                             > (cd.py - e.y1) * (e.x2 - e.x1) END)
              THEN 1 ELSE 0 END) AS nc
  FROM cand cd JOIN edges e ON cd.poly_id = e.poly_id
  GROUP BY cd.c_custkey, cd.poly_id),
inside AS (SELECT c_custkey, poly_id FROM crossings WHERE nc % 2 = 1)
SELECT CAST(poly_id AS INT) AS poly_id,
       CAST(COUNT(*) AS BIGINT) AS n_inside,
       CAST(SUM(c_custkey) AS BIGINT) AS custkey_sum
FROM inside GROUP BY poly_id
"""


@query("join_point_in_polygon", oracle=_pip_oracle())
def join_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        F.expr(_PIP_PX_S).alias("px"),
        F.expr(_PIP_PY_S).alias("py"),
    ).select(
        "c_custkey",
        "px",
        "py",
        F.floor(F.col("px").cast("double") / _PIP_CELL).cast("bigint").alias("cx"),
        F.floor(F.col("py").cast("double") / _PIP_CELL).cast("bigint").alias("cy"),
    )
    cells = local_df(spark, _pip_cells(), "poly_id int, cx bigint, cy bigint")
    edges = local_df(spark,
        _pip_edges(), "poly_id int, x1 long, y1 long, x2 long, y2 long"
    )
    cand = (
        pts.join(F.broadcast(cells), ["cx", "cy"])
        .select("c_custkey", "px", "py", "poly_id")
        .distinct()
    )
    crossing = (
        ((F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py")))
        & F.when(
            F.col("y2") > F.col("y1"),
            (F.col("px") - F.col("x1")) * (F.col("y2") - F.col("y1"))
            < (F.col("py") - F.col("y1")) * (F.col("x2") - F.col("x1")),
        ).otherwise(
            (F.col("px") - F.col("x1")) * (F.col("y2") - F.col("y1"))
            > (F.col("py") - F.col("y1")) * (F.col("x2") - F.col("x1"))
        )
    )
    crossings = (
        cand.join(F.broadcast(edges), "poly_id")
        .groupBy("c_custkey", "poly_id")
        .agg(F.sum(F.when(crossing, 1).otherwise(0)).alias("nc"))
    )
    return (
        crossings.filter(F.col("nc") % 2 == 1)
        .groupBy(F.col("poly_id").cast("int").alias("poly_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_inside"),
            F.sum("c_custkey").cast("bigint").alias("custkey_sum"),
        )
    )


# --------------------------------------------------------------------------
# Round 7 — geohash cells: the real base-32 geohash (bit-interleaved
# lon/lat, lon first), computed ENTIRELY in integer arithmetic so both
# engines emit identical strings.  Coordinates are the fixture's
# deterministic centi-degree md5 points, so the 10-bit quantizations
# (lat+90)/180*1024 and (lon+180)/360*1024 reduce to exact integer
# divisions of the raw centi-degree values ((y+1000)*64 div 1125 and
# x*32 div 1125); the 20-bit interleave and 4-char base-32 encode are
# sums of shifts.  The rollup groups by the 3-char prefix — geohash's
# defining property (prefix = containing cell) makes hierarchical
# spatial aggregation a plain string-prefix groupBy, which at 100 TB
# is one partial+final hash aggregate, no spatial library, no shuffle
# beyond the group keys.

_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_exprs() -> tuple[str, str]:
    # raw centi-degree draws (same md5 discipline as _coord, but kept
    # in integers): x in [0, 36000) spans lon -180..180, y in [0,
    # 16000) spans lat -80..80 (fixture customers never reach the
    # poles; the quantizer still uses the full -90..90 domain)
    sx = ("pmod(cast(conv(substring(md5(concat('glon:', c_custkey)), 1, 8), 16, 10)"
          " as bigint), 36000)")
    sy = ("pmod(cast(conv(substring(md5(concat('glat:', c_custkey)), 1, 8), 16, 10)"
          " as bigint), 16000)")
    dx = "(('0x' || substr(md5('glon:' || c_custkey), 1, 8))::BIGINT % 36000)"
    dy = "(('0x' || substr(md5('glat:' || c_custkey), 1, 8))::BIGINT % 16000)"
    s_lonq = f"(({sx}) * 32 div 1125)"
    s_latq = f"((({sy}) + 1000) * 64 div 1125)"
    d_lonq = f"(({dx}) * 32 // 1125)"
    d_latq = f"((({dy}) + 1000) * 64 // 1125)"

    # Spark has shiftright; DuckDB has >>.  Build each engine's form.
    s_bits = "(" + " + ".join(
        [f"((shiftright({s_lonq}, {9 - i}) % 2) * {1 << (19 - 2 * i)})" for i in range(10)]
        + [f"((shiftright({s_latq}, {9 - i}) % 2) * {1 << (18 - 2 * i)})" for i in range(10)]
    ) + ")"
    d_bits = "(" + " + ".join(
        [f"((({d_lonq} >> {9 - i}) % 2) * {1 << (19 - 2 * i)})" for i in range(10)]
        + [f"((({d_latq} >> {9 - i}) % 2) * {1 << (18 - 2 * i)})" for i in range(10)]
    ) + ")"
    s_hash = "concat(" + ", ".join(
        f"substring('{_GH_ALPHABET}', cast((shiftright({s_bits}, {15 - 5 * c}) % 32) as int) + 1, 1)"
        for c in range(4)
    ) + ")"
    d_hash = "concat(" + ", ".join(
        f"substr('{_GH_ALPHABET}', CAST((({d_bits} >> {15 - 5 * c}) % 32) AS INT) + 1, 1)"
        for c in range(4)
    ) + ")"
    return s_hash, d_hash


_GH_SPARK, _GH_DUCK = _geohash_exprs()


@query(
    "geo_geohash_cells",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal, {_GH_DUCK} AS gh
  FROM customer)
SELECT substr(gh, 1, 3) AS cell3,
       COUNT(*) AS n_customers,
       COUNT(DISTINCT gh) AS n_subcells,
       CAST(SUM(bal) AS DOUBLE) AS total_bal,
       min(gh) AS first_subcell
FROM pts GROUP BY substr(gh, 1, 3)
""",
)
def geo_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
        F.expr(_GH_SPARK).alias("gh"),
    )
    return pts.groupBy(F.substring("gh", 1, 3).alias("cell3")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("gh").alias("n_subcells"),
        F.sum("bal").cast("double").alias("total_bal"),
        F.min("gh").alias("first_subcell"),
    )


# --------------------------------------------------------------------------
# B235 (round 8) — additive Holt-Winters (triple-exponential) smoothing
# per market segment: level + trend + a 12-slot seasonal state folded
# over the monthly revenue series — the seasonal extension of
# ts_holt_linear and the classic forecasting baseline for anything with
# a yearly cycle.  Same parity recipe as the linear form: alpha = 0.5,
# beta = 0.25, gamma = 0.5 are exact binary fractions, the fold order
# is pinned by month index, every float op (including the seasonal
# array update) is mirrored LITERALLY between the Spark aggregate()
# lambda and the oracle's recursive CTE, and inputs are exact integers
# (cent sums) cast to double once.  Seasonality is POSITIONAL (slot =
# step mod 12 over the observed series, x_1 seeds the level with its
# seasonal left at 0) — the ts_holt_linear simplification applied to
# the seasonal state.  Distribution: one broadcast dim join + one
# monthly rollup shuffle; the fold runs executor-side per segment, and
# at 100 TB "segments" become the millions of independent series keys,
# none crossing an executor boundary.

_HW_M = 12


@query(
    "ts_holt_winters_seasonal",
    oracle=f"""
WITH RECURSIVE monthly AS (
  SELECT c.c_mktsegment AS seg,
         (EXTRACT(year FROM o.o_orderdate) - 1995) * 12
           + EXTRACT(month FROM o.o_orderdate) - 1 AS m,
         CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS DOUBLE) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
s AS (
  SELECT seg, list(x ORDER BY m) AS xs, COUNT(*) AS n FROM monthly GROUP BY seg),
it AS (
  SELECT seg, 1 AS i, xs[1] AS l, 0e0 AS t,
         [0e0 FOR j IN generate_series(1, {_HW_M})] AS sa, n, xs
  FROM s
  UNION ALL
  SELECT seg, i + 1,
         5e-1 * (xs[i+1] - sa[(i % {_HW_M}) + 1]) + 5e-1 * (l + t),
         2.5e-1 * ((5e-1 * (xs[i+1] - sa[(i % {_HW_M}) + 1]) + 5e-1 * (l + t)) - l)
           + 7.5e-1 * t,
         [CASE WHEN j = (i % {_HW_M}) + 1
               THEN 5e-1 * (xs[i+1]
                            - (5e-1 * (xs[i+1] - sa[(i % {_HW_M}) + 1])
                               + 5e-1 * (l + t)))
                    + 5e-1 * sa[(i % {_HW_M}) + 1]
               ELSE sa[j] END
          FOR j IN generate_series(1, {_HW_M})],
         n, xs
  FROM it WHERE i < n
)
SELECT seg AS segment, CAST(n AS BIGINT) AS n_months,
       round(l, 0) AS level, round(t, 0) AS trend,
       round(sa[(n % {_HW_M}) + 1], 0) AS season_next,
       round(l + t + sa[(n % {_HW_M}) + 1], 0) AS forecast1
FROM it WHERE i = n
""",
)
def ts_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
            .alias("m"),
        )
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
            .cast("double")
            .alias("x")
        )
    )
    series = monthly.groupBy("seg").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(m, x))), e -> e.x)"
        ).alias("xs"),
        F.count(F.lit(1)).alias("n"),
    )
    m = _HW_M
    hw = F.expr(
        f"""
        aggregate(
          xs,
          named_struct('l', cast(0 as double), 't', cast(0 as double),
                       'sa', array_repeat(cast(0 as double), {m}), 'n', 0),
          (acc, x) -> IF(acc.n = 0,
            named_struct('l', x, 't', cast(0 as double), 'sa', acc.sa, 'n', 1),
            named_struct(
              'l', 0.5D * (x - element_at(acc.sa, (acc.n % {m}) + 1))
                   + 0.5D * (acc.l + acc.t),
              't', 0.25D * ((0.5D * (x - element_at(acc.sa, (acc.n % {m}) + 1))
                             + 0.5D * (acc.l + acc.t)) - acc.l)
                   + 0.75D * acc.t,
              'sa', transform(acc.sa, (v, j) -> IF(j + 1 = (acc.n % {m}) + 1,
                    0.5D * (x - (0.5D * (x - element_at(acc.sa, (acc.n % {m}) + 1))
                                 + 0.5D * (acc.l + acc.t)))
                    + 0.5D * element_at(acc.sa, (acc.n % {m}) + 1),
                    v)),
              'n', acc.n + 1)))
        """
    )
    nxt = F.expr(f"element_at(hw.sa, (cast(n as int) % {m}) + 1)")
    return (
        series.withColumn("hw", hw)
        # Outputs round to WHOLE cents, not 9 dp: at cent magnitude
        # (~4e8) the double ulp (~6e-8) is coarser than a 1e-9 grid, and
        # DuckDB's round(x, 9) multiplies past 2^53 — a 1-ulp divergence
        # trap round-8 hit on forecast1.  Grid 1 >> ulp is always safe.
        .select(
            F.col("seg").alias("segment"),
            F.col("n").cast("bigint").alias("n_months"),
            F.round(F.col("hw.l"), 0).alias("level"),
            F.round(F.col("hw.t"), 0).alias("trend"),
            F.round(nxt, 0).alias("season_next"),
            F.round(F.col("hw.l") + F.col("hw.t") + nxt, 0).alias("forecast1"),
        )
    )


# --------------------------------------------------------------------------
# B243 (round 8) — classical seasonal decomposition of the monthly
# revenue series (trend = centered 2x12 moving average, seasonal =
# per-calendar-month mean of the detrended values, residual = the
# rest): the textbook additive decomposition behind every
# seasonality-aware monitoring chart, complementing ts_holt_winters
# (which FORECASTS the same structure).  All integer cents: the CMA
# numerator is x[-6] + 2*sum(x[-5..+5]) + x[+6] (exact bigint) with a
# truncating div 24 on the always-positive revenue, the seasonal means
# use the positivity-bias floor (detrended values go negative), and
# residuals are differences of exact integers — bitwise parity with no
# float anywhere.  The decomposition window runs on the CALENDAR-
# BOUNDED ~84-row monthly rollup (a single-partition window over 84
# rows is free; the corpus-sized work is the one monthly rollup
# shuffle, map-side combined).

_DEC_BIG = 10**12  # |seasonal-mean numerator| < BIG * count always


@query(
    "ts_decompose_classical",
    oracle=f"""
WITH monthly AS (
  SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS INT) AS m,
         CAST(EXTRACT(month FROM o_orderdate) AS INT) AS moy,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1, 2),
tr AS (
  SELECT m, moy, x,
         LAG(x, 6) OVER w + LEAD(x, 6) OVER w
           + 2 * SUM(x) OVER (ORDER BY m ROWS BETWEEN 5 PRECEDING
                              AND 5 FOLLOWING) AS num
  FROM monthly
  WINDOW w AS (ORDER BY m)),
det AS (
  SELECT m, moy, x, num // 24 AS trend_c, x - num // 24 AS det_c
  FROM tr WHERE num IS NOT NULL),
seas AS (
  SELECT moy,
         (SUM(det_c) + {_DEC_BIG} * COUNT(*)) // COUNT(*) - {_DEC_BIG}
           AS seasonal_c
  FROM det GROUP BY moy)
SELECT d.m, CAST(d.x AS BIGINT) AS x_c,
       CAST(d.trend_c AS BIGINT) AS trend_c,
       CAST(s.seasonal_c AS BIGINT) AS seasonal_c,
       CAST(d.det_c - s.seasonal_c AS BIGINT) AS residual_c
FROM det d JOIN seas s ON d.moy = s.moy
""",
)
def ts_decompose_classical(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
        .cast("int")
        .alias("m"),
        F.month("o_orderdate").cast("int").alias("moy"),
    ).agg(
        F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("m")
    wsum = w.rowsBetween(-5, 5)
    tr = monthly.select(
        "m",
        "moy",
        "x",
        (
            F.lag("x", 6).over(w)
            + F.lead("x", 6).over(w)
            + 2 * F.sum("x").over(wsum)
        ).alias("num"),
    )
    det = tr.filter(F.col("num").isNotNull()).select(
        "m",
        "moy",
        "x",
        F.expr("num div 24").alias("trend_c"),
        (F.col("x") - F.expr("num div 24")).alias("det_c"),
    )
    seas = det.groupBy("moy").agg(
        F.expr(
            f"(sum(det_c) + {_DEC_BIG} * count(1)) div count(1) - {_DEC_BIG}"
        ).alias("seasonal_c")
    )
    return det.join(F.broadcast(seas), "moy").select(
        "m",
        F.col("x").cast("bigint").alias("x_c"),
        F.col("trend_c").cast("bigint").alias("trend_c"),
        F.col("seasonal_c").cast("bigint").alias("seasonal_c"),
        (F.col("det_c") - F.col("seasonal_c")).cast("bigint").alias("residual_c"),
    )


# --------------------------------------------------------------------------
# B244 (round 8) — generalized ESD outlier detection (Rosner 1983) on
# the monthly revenue series: K=5 rounds of "compute mean/std of the
# REMAINING points, remove the max-|z| point" — the iterative test
# monitoring stacks run because a single z-pass masks multiple
# outliers.  The corpus-sized work is the monthly rollup (map-side-
# combined shuffle); the K-round loop is the psvm distributed-pass +
# rank-0 pattern on the calendar-bounded ~84-point series (the
# ml_boosting_two_rounds precedent: series collected once, rounds
# replayed in exact arithmetic, result re-emitted).  Exactness: per-
# round sums are exact integers (cents in BIGINT, squares in
# DECIMAL/HUGEINT), the mean/variance/z doubles use an IDENTICAL op
# sequence both engines, z rounds to 9, and the pick tie-breaks
# (z DESC, m ASC).

_ESD_K = 5


@query(
    "ts_esd_outliers",
    oracle=f"""
WITH RECURSIVE monthly AS (
  SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS INT) AS m,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1),
it AS (
  SELECT 0 AS k, CAST([] AS INT[]) AS removed,
         CAST(NULL AS INT) AS pick_m, CAST(NULL AS BIGINT) AS pick_x,
         CAST(NULL AS DOUBLE) AS pick_z
  UNION ALL
  SELECT it.k + 1, list_append(it.removed, s.m), s.m, s.x, s.z
  FROM it, LATERAL (
    SELECT m, x, z FROM (
      SELECT r.m, r.x,
             round(abs(CAST(r.x AS DOUBLE)
                       - CAST(SUM(r.x) OVER () AS DOUBLE) / COUNT(*) OVER ())
                   / sqrt((CAST(SUM(CAST(r.x AS HUGEINT) * r.x) OVER () AS DOUBLE)
                           - CAST(SUM(r.x) OVER () AS DOUBLE)
                             * CAST(SUM(r.x) OVER () AS DOUBLE)
                             / COUNT(*) OVER ())
                          / (COUNT(*) OVER () - 1)), 9) AS z
      FROM (SELECT mm.m, mm.x FROM monthly mm
            WHERE NOT list_contains(it.removed, mm.m)) r)
    ORDER BY z DESC, m ASC LIMIT 1
  ) s
  WHERE it.k < {_ESD_K}
)
SELECT CAST(k AS INT) AS round,
       CAST(pick_m AS INT) AS m,
       CAST(pick_x AS BIGINT) AS x_c,
       pick_z AS z
FROM it WHERE k >= 1
""",
)
def ts_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
        .cast("int")
        .alias("m")
    ).agg(
        F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    pts = {r.m: int(r.x) for r in monthly.collect()}
    out = []
    removed: set[int] = set()
    for k in range(1, _ESD_K + 1):
        rem = [(m, x) for m, x in sorted(pts.items()) if m not in removed]
        n = len(rem)
        s = sum(x for _, x in rem)
        s2 = sum(x * x for _, x in rem)
        mu = float(s) / n
        var = (float(s2) - float(s) * float(s) / n) / (n - 1)
        sd = math.sqrt(var)
        scored = [(round(abs(float(x) - mu) / sd, 9), m, x) for m, x in rem]
        z, m_pick, x_pick = max(scored, key=lambda t: (t[0], -t[1]))
        out.append((k, m_pick, x_pick, z))
        removed.add(m_pick)
    return local_df(spark, out, "round int, m int, x_c bigint, z double")


# --------------------------------------------------------------------------
# B249 (round 8) — dynamic time warping between per-region quarterly
# revenue series: the similarity measure time-series monitoring uses
# when two series share shape but drift in phase (L1 on aligned
# quarters punishes a one-quarter lag; DTW does not).  The corpus-
# sized work is the region x quarter rollup (one map-side-combined
# shuffle through the customer->nation->region dims, all broadcast);
# the DP runs per region PAIR via applyInPandas — pairs are
# independent, so at 100 TB this parallelizes across every (series,
# series) cell of a monitoring grid while each DP stays a tiny
# L x L = 27 x 27 integer kernel.  Exactness: series are integer
# cents on a gapless calendar spine (missing quarters fill 0), costs
# are |xa-xb| bigints, and the oracle replays the identical DP by
# anti-diagonals (cells on diagonal d depend only on d-1, d-2) in a
# recursive CTE — the same integer result with no float anywhere.

_DTW_L = 27  # quarters 1992Q1..1998Q3 — the orders calendar
_DTW_INF = 1 << 60


def _dtw_oracle() -> str:
    L, INF = _DTW_L, _DTW_INF
    return f"""
WITH RECURSIVE t AS (
  SELECT r.r_name AS rn,
         CAST((EXTRACT(year FROM o.o_orderdate) - 1992) * 4
              + (EXTRACT(month FROM o.o_orderdate) - 1) // 3 AS INT) AS q,
         SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS x
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2),
spine AS (
  SELECT rn, unnest(generate_series(0, {L - 1})) AS q
  FROM (SELECT DISTINCT rn FROM t)),
ser AS (
  SELECT s.rn, list(COALESCE(t.x, 0) ORDER BY s.q) AS xs
  FROM spine s LEFT JOIN t ON t.rn = s.rn AND t.q = s.q
  GROUP BY s.rn),
pr AS (
  SELECT a.rn AS r1, b.rn AS r2, a.xs AS xa, b.xs AS xb
  FROM ser a JOIN ser b ON a.rn < b.rn),
it AS (
  SELECT r1, r2, xa, xb, 2 AS d,
         [CASE WHEN i = 1 THEN abs(xa[1] - xb[1])
               ELSE CAST({INF} AS BIGINT) END
          FOR i IN generate_series(1, {L})] AS cur,
         [CAST({INF} AS BIGINT) FOR i IN generate_series(1, {L})] AS prev
  FROM pr
  UNION ALL
  SELECT r1, r2, xa, xb, d + 1,
         [CASE WHEN d + 1 - i BETWEEN 1 AND {L}
               THEN abs(xa[i] - xb[d + 1 - i])
                    + least(CASE WHEN i > 1 THEN cur[i - 1]
                                 ELSE CAST({INF} AS BIGINT) END,
                            cur[i],
                            CASE WHEN i > 1 THEN prev[i - 1]
                                 ELSE CAST({INF} AS BIGINT) END)
               ELSE CAST({INF} AS BIGINT) END
          FOR i IN generate_series(1, {L})] AS cur,
         cur AS prev
  FROM it WHERE d < {2 * L})
SELECT r1, r2, CAST(cur[{L}] AS BIGINT) AS dtw_c
FROM it WHERE d = {2 * L}
"""


@query("ts_dtw_distance", oracle=_dtw_oracle())
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # <= |regions| x 27 rows, but its subtree is the full
    # orders|x|customer rollup — consumed by the spine, the spine
    # join, and both sides of the pair join (4 plannings otherwise)
    t = checkpoint(
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("rn"),
            (
                (F.year("o_orderdate") - 1992) * 4
                + F.expr("(month(o_orderdate) - 1) div 3")
            )
            .cast("int")
            .alias("q"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
            ).alias("x")
        )
    )
    spine = (
        t.select("rn")
        .distinct()
        .select("rn", F.explode(F.sequence(F.lit(0), F.lit(_DTW_L - 1))).alias("q"))
    )
    f = spine.join(t, ["rn", "q"], "left").select(
        "rn", "q", F.coalesce("x", F.lit(0)).cast("bigint").alias("x")
    )
    a = f.select(F.col("rn").alias("r1"), "q", F.col("x").alias("xa"))
    b = f.select(F.col("rn").alias("r2"), "q", F.col("x").alias("xb"))
    pairs = a.join(b, "q").filter(F.col("r1") < F.col("r2"))

    def dtw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("q")
        xa = [int(v) for v in pdf.xa]
        xb = [int(v) for v in pdf.xb]
        L = len(xa)
        inf = _DTW_INF
        prev = [inf] * (L + 1)
        prev[0] = 0  # D[0][0]
        drow = [inf] * (L + 1)
        for i in range(1, L + 1):
            cur = [inf] * (L + 1)
            for j in range(1, L + 1):
                best = min(prev[j], cur[j - 1], prev[j - 1] if i > 1 or j > 1 else 0)
                if i == 1 and j == 1:
                    best = 0
                cur[j] = abs(xa[i - 1] - xb[j - 1]) + best
            prev = cur
            if i == 1:
                prev[0] = inf  # D[i][0] unreachable past row 0
        return pd.DataFrame(
            {"r1": [pdf.r1.iloc[0]], "r2": [pdf.r2.iloc[0]], "dtw_c": [prev[L]]}
        )

    return pairs.groupBy("r1", "r2").applyInPandas(
        dtw, "r1 string, r2 string, dtw_c long"
    )


# --------------------------------------------------------------------------
# B251 (round 8) — 1-D Kalman filter (local-level model) over the
# monthly revenue series per market segment: predict P+Q, gain
# K = P/(P+R), update m += K*(z-m) — the recursive state estimator
# behind every online metric smoother.  Unlike ts_holt_winters (which
# mirrors double ops literally), this fold is ALL-INTEGER: the gain is
# fixed-point (k = P*SC div (P+R), operands always non-negative), and
# the state update uses the positivity-bias floor ((x + BIG*d) div d
# - BIG) because the innovation z-m is signed — so every iterate is an
# exact bigint replayed bitwise by the oracle's recursive CTE, with no
# float at any step.  Distribution: the HW shape — one broadcast dim
# join + one monthly rollup shuffle, fold executor-side per segment;
# at 100 TB segments become millions of independent series keys.
# Bounds: |k*(z-m)| <= SC * |z| ~ 1e6 * 1e12 < 2^63 through sf10.

_KF_SC = 1_000_000  # gain fixed-point scale
_KF_P0 = 1_000_000  # initial state variance (abstract integer units)
_KF_Q = 250_000  # process noise per step
_KF_R = 3_000_000  # observation noise
_KF_BIG = 1_000_000_000_000  # positivity bias: |k*(z-m)| < BIG * SC


@query(
    "ts_kalman_filter",
    oracle=f"""
WITH RECURSIVE monthly AS (
  SELECT c.c_mktsegment AS seg,
         (EXTRACT(year FROM o.o_orderdate) - 1995) * 12
           + EXTRACT(month FROM o.o_orderdate) - 1 AS m,
         CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS z
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
s AS (
  SELECT seg, list(z ORDER BY m) AS zs, COUNT(*) AS n FROM monthly GROUP BY seg),
it AS (
  SELECT seg, 1 AS i, zs[1] AS mstate, CAST({_KF_P0} AS BIGINT) AS p,
         CAST(0 AS BIGINT) AS k, n, zs
  FROM s
  UNION ALL
  SELECT seg, i + 1,
         mstate + ((kk * (zs[i + 1] - mstate) + {_KF_BIG} * {_KF_SC})
                   // {_KF_SC} - {_KF_BIG}),
         (({_KF_SC} - kk) * pp) // {_KF_SC},
         kk, n, zs
  FROM (
    SELECT seg, i, mstate, p, n, zs,
           p + {_KF_Q} AS pp,
           ((p + {_KF_Q}) * {_KF_SC}) // (p + {_KF_Q} + {_KF_R}) AS kk
    FROM it WHERE i < n) u)
SELECT seg AS segment, CAST(n AS BIGINT) AS n_months,
       CAST(mstate AS BIGINT) AS m_c,
       CAST(p AS BIGINT) AS p_var,
       CAST(k AS BIGINT) AS gain_fp
FROM it WHERE i = n
""",
)
def ts_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
            .alias("m"),
        )
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
            .cast("bigint")
            .alias("z")
        )
    )
    series = monthly.groupBy("seg").agg(
        F.expr("transform(array_sort(collect_list(struct(m, z))), e -> e.z)").alias(
            "zs"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    kf = F.expr(
        f"""
        aggregate(
          zs,
          named_struct('m', cast(0 as bigint), 'p', cast({_KF_P0} as bigint),
                       'k', cast(0 as bigint), 'n', 0),
          (acc, z) -> IF(acc.n = 0,
            named_struct('m', z, 'p', cast({_KF_P0} as bigint),
                         'k', cast(0 as bigint), 'n', 1),
            named_struct(
              'm', acc.m + (((acc.p + {_KF_Q}) * {_KF_SC}
                             div (acc.p + {_KF_Q} + {_KF_R}))
                            * (z - acc.m) + {_KF_BIG} * cast({_KF_SC} as bigint))
                           div {_KF_SC} - {_KF_BIG},
              'p', (({_KF_SC} - (acc.p + {_KF_Q}) * {_KF_SC}
                               div (acc.p + {_KF_Q} + {_KF_R}))
                    * (acc.p + {_KF_Q})) div {_KF_SC},
              'k', (acc.p + {_KF_Q}) * {_KF_SC} div (acc.p + {_KF_Q} + {_KF_R}),
              'n', acc.n + 1)))
        """
    )
    return series.withColumn("kf", kf).select(
        F.col("seg").alias("segment"),
        F.col("n").cast("bigint").alias("n_months"),
        F.col("kf.m").cast("bigint").alias("m_c"),
        F.col("kf.p").cast("bigint").alias("p_var"),
        F.col("kf.k").cast("bigint").alias("gain_fp"),
    )


# --------------------------------------------------------------------------
# B254 (round 8) — Haar wavelet decomposition of the monthly revenue
# series: the multi-resolution energy profile (which timescales carry
# the variance — month-to-month noise vs quarterly vs annual swings)
# that seasonality diagnostics read before picking a model.  The
# UNNORMALIZED Haar cascade (s = a+b, d = a-b per pair, six levels
# over the first 64 months) is ALL-INTEGER — no sqrt(2) scaling — so
# every coefficient is exact; inputs downscale to cents div 10000
# (hundredths of dollars -> whole hundreds) to keep level-6 d^2 sums
# under 2^63 through 100x amplification.  The corpus-sized work is
# the monthly rollup; the 64-point cascade replays at rank 0 and in
# the oracle's recursive CTE (the ESD/boosting driver-replay shape).

_HAAR_N = 64  # months 1992-01 .. 1997-04 (gapless in the fixture)
_HAAR_LV = 6


@query(
    "ts_haar_wavelet",
    oracle=f"""
WITH RECURSIVE monthly AS (
  SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS INT) AS m,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
           // 10000 AS x
  FROM orders GROUP BY 1),
ser AS (
  SELECT list(COALESCE(mo.x, 0) ORDER BY g.m) AS a
  FROM (SELECT unnest(generate_series(0, {_HAAR_N - 1})) AS m) g
  LEFT JOIN monthly mo ON mo.m = g.m),
it AS (
  SELECT 0 AS l, a, CAST(0 AS BIGINT) AS energy, CAST(0 AS BIGINT) AS maxd
  FROM ser
  UNION ALL
  SELECT l + 1,
         [a[2 * i - 1] + a[2 * i] FOR i IN generate_series(1, len(a) // 2)],
         CAST(list_sum([(a[2 * i - 1] - a[2 * i]) * (a[2 * i - 1] - a[2 * i])
                        FOR i IN generate_series(1, len(a) // 2)]) AS BIGINT),
         CAST(list_max([abs(a[2 * i - 1] - a[2 * i])
                        FOR i IN generate_series(1, len(a) // 2)]) AS BIGINT)
  FROM it WHERE l < {_HAAR_LV})
SELECT CAST(l AS INT) AS level, CAST(len(a) AS INT) AS n_coeffs,
       energy, maxd AS max_abs_d, CAST(a[1] AS BIGINT) AS first_approx
FROM it WHERE l >= 1
""",
)
def ts_haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = {
        r.m: int(r.x)
        for r in o.groupBy(
            ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
            .cast("int")
            .alias("m")
        )
        # integer `div`, never float `/`: the double quotient of a big
        # cent sum can round up across an integer boundary before the
        # cast truncates, off-by-one vs the oracle's exact `//`
        .agg(
            F.expr(
                "sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint))"
                " div 10000"
            ).alias("x")
        )
        .collect()
    }
    a = [monthly.get(m, 0) for m in range(_HAAR_N)]
    out = []
    for level in range(1, _HAAR_LV + 1):
        s = [a[2 * i] + a[2 * i + 1] for i in range(len(a) // 2)]
        d = [a[2 * i] - a[2 * i + 1] for i in range(len(a) // 2)]
        out.append(
            (level, len(s), sum(v * v for v in d), max(abs(v) for v in d), s[0])
        )
        a = s
    return local_df(spark,
        out,
        "level int, n_coeffs int, energy bigint, max_abs_d bigint,"
        " first_approx bigint",
    )


# --------------------------------------------------------------------------
# B257 (round 8) — Wald sequential probability ratio test (SPRT) per
# experiment arm: the always-valid sequential alternative to the fixed-
# horizon z-test (ab_test_proportions) — peek after EVERY observation
# and stop the moment the log-likelihood ratio crosses a Wald boundary.
# Fully distributed, no driver loop: because the Bernoulli LLR is
# llr_n = a*k_n + b*(n - k_n) with constants a = ln(p1/p0),
# b = ln((1-p1)/(1-p0)), the whole decision path is ONE integer
# cumulative-sum window over the event stream ordered by event_id.
# The libm constants are evaluated ONCE at import time (Python) and
# baked as identical fixed-point literals into both engines, so no
# runtime float ever crosses engines — every llr_n is an exact bigint.

import math as _math

_SPRT_P0, _SPRT_P1 = 0.20, 0.25  # H0/H1 purchase rates
_SPRT_FP = 1_000_000_000
_SPRT_A = int(_math.floor(_math.log(_SPRT_P1 / _SPRT_P0) * _SPRT_FP + 0.5))
_SPRT_B = int(
    _math.floor(_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * _SPRT_FP + 0.5)
)
# alpha = beta = 0.05 -> boundaries +-ln(19)
_SPRT_UP = int(_math.floor(_math.log(19.0) * _SPRT_FP + 0.5))


@query(
    "ab_test_sprt",
    oracle=f"""
WITH s AS (
  SELECT CAST(user_id % 2 AS INT) AS arm,
         CAST(event_type = 'purchase' AS INT) AS y,
         event_id
  FROM events),
c AS (
  SELECT arm, event_id, y,
         ROW_NUMBER() OVER w AS n,
         SUM(y) OVER w AS k,
         {_SPRT_A} * SUM(y) OVER w
           + {_SPRT_B} * (ROW_NUMBER() OVER w - SUM(y) OVER w) AS llr
  FROM s
  WINDOW w AS (PARTITION BY arm ORDER BY event_id
               ROWS UNBOUNDED PRECEDING)),
hit AS (
  SELECT arm, n, k, llr,
         ROW_NUMBER() OVER (PARTITION BY arm ORDER BY n) AS rnk
  FROM c WHERE llr >= {_SPRT_UP} OR llr <= {-_SPRT_UP}),
last AS (
  SELECT arm, n, k, llr,
         ROW_NUMBER() OVER (PARTITION BY arm ORDER BY n DESC) AS rnk
  FROM c)
SELECT l.arm,
       CASE WHEN h.n IS NOT NULL AND h.llr >= {_SPRT_UP} THEN 'accept_h1'
            WHEN h.n IS NOT NULL THEN 'accept_h0'
            ELSE 'continue' END AS decision,
       CAST(COALESCE(h.n, l.n) AS BIGINT) AS n_dec,
       CAST(COALESCE(h.k, l.k) AS BIGINT) AS k_dec,
       CAST(COALESCE(h.llr, l.llr) AS BIGINT) AS llr_fp
FROM (SELECT * FROM last WHERE rnk = 1) l
LEFT JOIN (SELECT * FROM hit WHERE rnk = 1) h ON h.arm = l.arm
""",
)
def ab_test_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        "event_id",
    )
    # bucketed distributed cumsum (the select_curriculum_order shape):
    # a plain window PARTITION BY arm funnels each arm's whole stream
    # through ONE task — the 2-arm fixture would hide a single-reducer
    # bottleneck at 100 TB.  Instead: per-(arm, bucket) partials, a
    # broadcast prefix over the tiny bucket table, then bucket-local
    # windows — identical llr sequence, no global-ordered partition.
    eb = e.withColumn("bucket", F.expr("event_id div 4096"))
    off = (
        eb.groupBy("arm", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("ks"))
        .select(
            "arm",
            "bucket",
            F.coalesce(
                F.sum("cnt").over(
                    Window.partitionBy("arm")
                    .orderBy("bucket")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("base_n"),
            F.coalesce(
                F.sum("ks").over(
                    Window.partitionBy("arm")
                    .orderBy("bucket")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("base_k"),
        )
    )
    wl = (
        Window.partitionBy("arm", "bucket")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        eb.join(F.broadcast(off), ["arm", "bucket"])
        .select(
            "arm",
            (F.col("base_n")
             + F.row_number().over(
                 Window.partitionBy("arm", "bucket").orderBy("event_id")
             )).alias("n"),
            (F.col("base_k") + F.sum("y").over(wl)).alias("k"),
        )
        .withColumn(
            "llr",
            F.lit(_SPRT_A) * F.col("k") + F.lit(_SPRT_B) * (F.col("n") - F.col("k")),
        )
    )
    hit = (
        c.filter((F.col("llr") >= _SPRT_UP) | (F.col("llr") <= -_SPRT_UP))
        .withColumn(
            "rnk", F.row_number().over(Window.partitionBy("arm").orderBy("n"))
        )
        .filter(F.col("rnk") == 1)
        .select(
            "arm",
            F.col("n").alias("hn"),
            F.col("k").alias("hk"),
            F.col("llr").alias("hllr"),
        )
    )
    last = (
        c.withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("arm").orderBy(F.desc("n"))),
        )
        .filter(F.col("rnk") == 1)
        .select("arm", "n", "k", "llr")
    )
    return last.join(F.broadcast(hit), "arm", "left").select(
        "arm",
        F.when(
            F.col("hn").isNotNull() & (F.col("hllr") >= _SPRT_UP),
            F.lit("accept_h1"),
        )
        .when(F.col("hn").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.coalesce("hn", "n").cast("bigint").alias("n_dec"),
        F.coalesce("hk", "k").cast("bigint").alias("k_dec"),
        F.coalesce("hllr", "llr").cast("bigint").alias("llr_fp"),
    )


# --------------------------------------------------------------------------
# B263 (round 8) — irregular-gap EWMA over event time: production
# smoothing decays by the ACTUAL gap between observations (a user idle
# for a day should barely remember last week), not by row count the
# way ts_ewma does.  Decay weights are EXACT DYADICS — w = 2^-k with
# k = Δt_seconds div 3600 computed by integer shift (1 << k), zero
# beyond 62 buckets — so no libm pow/exp crosses engines (the JVM-vs-
# libm trap that forces IRLS/GMM to the driver does not exist here)
# and the fold m' = v + (m - v) * w is the same literal double
# sequence in the Spark aggregate() HOF and the oracle's recursive
# CTE (the Holt-Winters mirroring contract).  One shuffle on user_id;
# the fold runs executor-side per user — millions of independent keys
# at 100 TB.

_EWI_TAU = 3600  # decay half-life bucket, seconds


@query(
    "ts_ewma_irregular",
    oracle=f"""
WITH RECURSIVE ev AS (
  SELECT user_id, CAST(epoch(ts) AS BIGINT) AS tsec, value
  FROM events),
s AS (
  SELECT user_id,
         list(tsec ORDER BY tsec, value) AS xs,
         list(value ORDER BY tsec, value) AS vs,
         COUNT(*) AS n
  FROM ev GROUP BY user_id),
it AS (
  SELECT user_id, 1 AS i, vs[1] AS m, xs, vs, n FROM s
  UNION ALL
  SELECT user_id, i + 1,
         vs[i + 1] + (m - vs[i + 1])
           * CASE WHEN (xs[i + 1] - xs[i]) // {_EWI_TAU} > 62 THEN 0e0
                  ELSE 1e0 / CAST(1 << ((xs[i + 1] - xs[i]) // {_EWI_TAU})
                                  AS DOUBLE) END,
         xs, vs, n
  FROM it WHERE i < n)
SELECT user_id, CAST(n AS BIGINT) AS n_events, round(m, 9) AS ewma
FROM it WHERE i = n
""",
)
def ts_ewma_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("bigint").alias("tsec"),
        "value",
    )
    series = e.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(tsec, value))),"
            " x -> struct(x.tsec as t, x.value as v))"
        ).alias("sv"),
        F.count(F.lit(1)).alias("n"),
    )
    fold = F.expr(
        f"""
        aggregate(
          sv,
          named_struct('t', cast(-1 as bigint), 'm', cast(0 as double)),
          (acc, x) -> IF(acc.t < 0,
            named_struct('t', x.t, 'm', x.v),
            named_struct('t', x.t,
              'm', x.v + (acc.m - x.v)
                   * IF((x.t - acc.t) div {_EWI_TAU} > 62, 0D,
                        1D / cast(shiftleft(cast(1 as bigint),
                                  cast((x.t - acc.t) div {_EWI_TAU} as int))
                             as double)))))
        """
    )
    return series.withColumn("f", fold).select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(F.col("f.m"), 9).alias("ewma"),
    )


# --------------------------------------------------------------------------
# B266 (round 8) — Croston's method for intermittent demand: the
# standard forecast for series that are MOSTLY ZERO (spare parts,
# long-tail SKUs) where plain EWMA collapses toward zero.  Croston
# smooths two series separately — the nonzero demand SIZES and the
# INTERVALS between demands — and forecasts size/interval.  Fold per
# part brand over weekly buckets; alpha = 1/2 is an exact dyadic so
# the size/interval EWMAs are exact integer fixed-point ((z + s) div
# 2 in q-units), and the final ratio is fixed-point with positive
# operands.  Demand = weekly order quantity of one low-volume part
# subset per brand; weeks with no orders are the zeros (calendar
# spine).  One rollup shuffle; the fold is executor-side per brand.

_CRO_WEEKS = 340  # ~1992-01..1998-06 weekly spine
_CRO_FP = 1_000_000


@query(
    "ts_croston_intermittent",
    oracle=f"""
WITH RECURSIVE wk AS (
  SELECT p.p_brand AS brand,
         CAST(datediff('day', DATE '1992-01-01', l.l_shipdate) // 7 AS INT) AS w,
         CAST(SUM(CAST(l.l_quantity AS INT)) AS BIGINT) AS z
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_partkey % 50 = 7
  GROUP BY 1, 2),
spine AS (
  SELECT b.brand, g.w, COALESCE(wk.z, 0) AS z
  FROM (SELECT DISTINCT brand FROM wk) b
  CROSS JOIN (SELECT unnest(generate_series(0, {_CRO_WEEKS - 1})) AS w) g
  LEFT JOIN wk ON wk.brand = b.brand AND wk.w = g.w),
s AS (
  SELECT brand, list(z ORDER BY w) AS zs, COUNT(*) AS n
  FROM spine GROUP BY brand),
it AS (
  SELECT brand, 0 AS i,
         CAST(NULL AS BIGINT) AS sz, CAST(NULL AS BIGINT) AS iv,
         CAST(0 AS BIGINT) AS gap, CAST(0 AS BIGINT) AS n_demand, zs, n
  FROM s
  UNION ALL
  SELECT brand, i + 1,
         CASE WHEN zs[i + 1] = 0 THEN sz
              WHEN sz IS NULL THEN zs[i + 1] * {_CRO_FP}
              ELSE (zs[i + 1] * {_CRO_FP} + sz) // 2 END,
         CASE WHEN zs[i + 1] = 0 THEN iv
              WHEN iv IS NULL THEN (gap + 1) * {_CRO_FP}
              ELSE ((gap + 1) * {_CRO_FP} + iv) // 2 END,
         CASE WHEN zs[i + 1] = 0 THEN gap + 1 ELSE 0 END,
         n_demand + CASE WHEN zs[i + 1] = 0 THEN 0 ELSE 1 END,
         zs, n
  FROM it WHERE i < n)
SELECT brand, CAST(n_demand AS BIGINT) AS n_demand,
       CAST(sz AS BIGINT) AS size_fp, CAST(iv AS BIGINT) AS interval_fp,
       CAST(CASE WHEN iv IS NULL THEN NULL
                 ELSE (sz * {_CRO_FP}) // iv END AS BIGINT) AS forecast_fp
FROM it WHERE i = n
""",
)
def ts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 50 == 7)
    p = load_table(spark, sf_dir, "part")
    wk = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.expr("datediff(l_shipdate, date '1992-01-01') div 7")
            .cast("int")
            .alias("w"),
        )
        .agg(F.sum(F.col("l_quantity").cast("int")).cast("bigint").alias("z"))
    )
    spine = (
        wk.select("brand")
        .distinct()
        .select(
            "brand",
            F.explode(F.sequence(F.lit(0), F.lit(_CRO_WEEKS - 1))).alias("w"),
        )
        .join(wk, ["brand", "w"], "left")
        .select("brand", "w", F.coalesce("z", F.lit(0)).cast("bigint").alias("z"))
    )
    series = spine.groupBy("brand").agg(
        F.expr("transform(array_sort(collect_list(struct(w, z))), x -> x.z)")
        .alias("zs"),
        F.count(F.lit(1)).alias("n"),
    )
    fp = _CRO_FP
    fold = F.expr(
        f"""
        aggregate(
          zs,
          named_struct('sz', cast(null as bigint), 'iv', cast(null as bigint),
                       'gap', cast(0 as bigint), 'nd', cast(0 as bigint)),
          (acc, z) -> named_struct(
            'sz', CASE WHEN z = 0 THEN acc.sz
                       WHEN acc.sz IS NULL THEN z * {fp}
                       ELSE (z * {fp} + acc.sz) div 2 END,
            'iv', CASE WHEN z = 0 THEN acc.iv
                       WHEN acc.iv IS NULL THEN (acc.gap + 1) * {fp}
                       ELSE ((acc.gap + 1) * {fp} + acc.iv) div 2 END,
            'gap', CASE WHEN z = 0 THEN acc.gap + 1 ELSE cast(0 as bigint) END,
            'nd', acc.nd + CASE WHEN z = 0 THEN 0 ELSE 1 END))
        """
    )
    return series.withColumn("c", fold).select(
        "brand",
        F.col("c.nd").cast("bigint").alias("n_demand"),
        F.col("c.sz").cast("bigint").alias("size_fp"),
        F.col("c.iv").cast("bigint").alias("interval_fp"),
        F.expr(f"cast((c.sz * {fp}) div c.iv as bigint)").alias("forecast_fp"),
    )


# --------------------------------------------------------------------------
# B267 (round 8) — SAX symbolic approximation (Lin et al. 2003): the
# classic time-series mining representation — Piecewise Aggregate
# Approximation (mean per fixed window) followed by symbol
# quantization — which turns numeric series into strings that indexing
# / motif discovery / anomaly mining can treat as text.  Adapted for
# exactness: PAA means are integer cents `div` the window width, and
# the alphabet breakpoints are each series' own exact integer
# QUARTILES of the PAA values (order-statistic picks, not normal-
# curve floats), so every symbol is deterministic integer math on
# both engines.  One rollup shuffle per nation; windows and quartiles
# are calendar-bounded per series.

_SAX_W = 4  # months per PAA segment
_SAX_N = 84  # months 1992-01 .. 1998-12 spine


@query(
    "ts_sax_symbols",
    oracle=f"""
WITH monthly AS (
  SELECT n.n_name AS nat,
         CAST((EXTRACT(year FROM o.o_orderdate) - 1992) * 12
              + EXTRACT(month FROM o.o_orderdate) - 1 AS INT) AS m,
         SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS x
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2),
spine AS (
  SELECT b.nat, g.m, COALESCE(mo.x, 0) AS x
  FROM (SELECT DISTINCT nat FROM monthly) b
  CROSS JOIN (SELECT unnest(generate_series(0, {_SAX_N - 1})) AS m) g
  LEFT JOIN monthly mo ON mo.nat = b.nat AND mo.m = g.m),
paa AS (
  SELECT nat, m // {_SAX_W} AS seg, SUM(x) // {_SAX_W} AS v
  FROM spine GROUP BY nat, m // {_SAX_W}),
qs AS (
  SELECT nat,
         (list(v ORDER BY v, seg))[CAST(len(list(v)) * 1 // 4 AS INT)] AS q1,
         (list(v ORDER BY v, seg))[CAST(len(list(v)) * 2 // 4 AS INT)] AS q2,
         (list(v ORDER BY v, seg))[CAST(len(list(v)) * 3 // 4 AS INT)] AS q3
  FROM paa GROUP BY nat),
sym AS (
  SELECT p.nat, p.seg,
         CASE WHEN p.v <= q.q1 THEN 'a'
              WHEN p.v <= q.q2 THEN 'b'
              WHEN p.v <= q.q3 THEN 'c'
              ELSE 'd' END AS s
  FROM paa p JOIN qs q ON p.nat = q.nat)
SELECT nat, string_agg(s, '' ORDER BY seg) AS sax,
       CAST(COUNT(*) AS BIGINT) AS n_segments
FROM sym GROUP BY nat
""",
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nat"),
            ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
            .cast("int")
            .alias("m"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
            ).alias("x")
        )
    )
    spine = (
        monthly.select("nat")
        .distinct()
        .select(
            "nat", F.explode(F.sequence(F.lit(0), F.lit(_SAX_N - 1))).alias("m")
        )
        .join(monthly, ["nat", "m"], "left")
        .select("nat", "m", F.coalesce("x", F.lit(0)).cast("bigint").alias("x"))
    )
    paa = spine.groupBy(
        "nat", F.expr(f"m div {_SAX_W}").alias("seg")
    ).agg(F.expr(f"sum(x) div {_SAX_W}").alias("v"))
    # exact integer quartiles as order-statistic picks (1-based list
    # positions floor(n*k/4), ties broken by seg — mirrored literally)
    qs = paa.groupBy("nat").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(v, seg))), e -> e.v)"
        ).alias("sv")
    ).select(
        "nat",
        F.expr("sv[cast(size(sv) * 1 div 4 as int) - 1]").alias("q1"),
        F.expr("sv[cast(size(sv) * 2 div 4 as int) - 1]").alias("q2"),
        F.expr("sv[cast(size(sv) * 3 div 4 as int) - 1]").alias("q3"),
    )
    sym = paa.join(F.broadcast(qs), "nat").select(
        "nat",
        "seg",
        F.when(F.col("v") <= F.col("q1"), "a")
        .when(F.col("v") <= F.col("q2"), "b")
        .when(F.col("v") <= F.col("q3"), "c")
        .otherwise("d")
        .alias("s"),
    )
    return sym.groupBy("nat").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(seg, s))), x -> x.s)"),
            "",
        ).alias("sax"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
    )


# --------------------------------------------------------------------------
# B269 (round 8) — CUPED variance reduction (Deng et al. 2013): the
# experimentation-platform standard — regress the experiment metric on
# each user's PRE-PERIOD value and analyze the residualized metric,
# cutting variance without bias.  Per-user pre (X) and post (Y) sums
# quantize to exact integer centi-units (floor(v*100+0.5) — the double
# -> fixed-point map is deterministic), theta = cov(X,Y)/var(X) pools
# both arms from exact integer moments, and the adjusted means use one
# literal double sequence on both engines (round9 outputs).  Two
# shuffles total (user rollup, arm rollup); the moment combine is a
# 1-row broadcast.

_CUPED_T = "2024-01-15 00:00:00"  # pre/post boundary


@query(
    "ab_test_cuped",
    oracle=f"""
WITH u AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_T}'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS x,
         SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_T}'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS y
  FROM events GROUP BY user_id),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM u),
th AS (
  SELECT n, sx,
         round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 9)
           AS theta
  FROM m),
a AS (
  SELECT arm, COUNT(*) AS n_users, SUM(x) AS ax, SUM(y) AS ay FROM u
  GROUP BY arm)
SELECT a.arm, CAST(a.n_users AS BIGINT) AS n_users,
       round(CAST(a.ay AS DOUBLE) / a.n_users, 9) AS mean_y,
       round(CAST(a.ay AS DOUBLE) / a.n_users
             - th.theta * (CAST(a.ax AS DOUBLE) / a.n_users
                           - CAST(th.sx AS DOUBLE) / th.n), 9) AS mean_adj,
       th.theta
FROM a CROSS JOIN th
""",
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    vfp = F.expr("cast(floor(value * 100 + 0.5) as bigint)")
    t = F.lit(_CUPED_T).cast("timestamp")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < t, vfp).otherwise(F.lit(0))).alias("x"),
        F.sum(F.when(F.col("ts") >= t, vfp).otherwise(F.lit(0))).alias("y"),
    ).select((F.col("user_id") % 2).cast("int").alias("arm"), "x", "y")
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    th = m.select(
        "n",
        "sx",
        F.round(
            (F.col("n").cast("double") * F.col("sxy")
             - F.col("sx").cast("double") * F.col("sy"))
            / (F.col("n").cast("double") * F.col("sxx")
               - F.col("sx").cast("double") * F.col("sx")),
            9,
        ).alias("theta"),
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("ax"),
        F.sum("y").alias("ay"),
    )
    return a.crossJoin(F.broadcast(th)).select(
        "arm",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.round(F.col("ay").cast("double") / F.col("n_users"), 9).alias("mean_y"),
        F.round(
            F.col("ay").cast("double") / F.col("n_users")
            - F.col("theta")
            * (
                F.col("ax").cast("double") / F.col("n_users")
                - F.col("sx").cast("double") / F.col("n")
            ),
            9,
        ).alias("mean_adj"),
        "theta",
    )


# --------------------------------------------------------------------------
# B270 (round 8) — difference-in-differences: the 2x2 natural-
# experiment estimator — (treated post - treated pre) - (control post
# - control pre) — that strips out both the group baseline and the
# common time trend.  All four cell means come from exact integer
# centi-unit sums; the estimate is one literal double expression
# rounded to 9.  One rollup shuffle on (arm, period).

@query(
    "ab_test_diff_in_diff",
    oracle=f"""
WITH c AS (
  SELECT CAST(user_id % 2 AS INT) AS arm,
         CAST(ts >= TIMESTAMP '{_CUPED_T}' AS INT) AS post,
         COUNT(*) AS n,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s
  FROM events GROUP BY 1, 2),
w AS (
  SELECT arm, post, n, s, round(CAST(s AS DOUBLE) / n, 9) AS mean_v FROM c),
d AS (
  SELECT round(
           (MAX(CASE WHEN arm = 1 AND post = 1 THEN mean_v END)
            - MAX(CASE WHEN arm = 1 AND post = 0 THEN mean_v END))
           - (MAX(CASE WHEN arm = 0 AND post = 1 THEN mean_v END)
              - MAX(CASE WHEN arm = 0 AND post = 0 THEN mean_v END)), 9) AS did
  FROM w)
SELECT w.arm, w.post, CAST(w.n AS BIGINT) AS n_events, w.mean_v, d.did
FROM w CROSS JOIN d
""",
)
def ab_test_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (F.col("ts") >= F.lit(_CUPED_T).cast("timestamp")).cast("int").alias("post"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias("s"),
    )
    w = c.select(
        "arm", "post", "n", F.round(F.col("s").cast("double") / F.col("n"), 9).alias("mean_v")
    )
    d = w.agg(
        F.round(
            (
                F.max(F.when((F.col("arm") == 1) & (F.col("post") == 1), F.col("mean_v")))
                - F.max(F.when((F.col("arm") == 1) & (F.col("post") == 0), F.col("mean_v")))
            )
            - (
                F.max(F.when((F.col("arm") == 0) & (F.col("post") == 1), F.col("mean_v")))
                - F.max(F.when((F.col("arm") == 0) & (F.col("post") == 0), F.col("mean_v")))
            ),
            9,
        ).alias("did")
    )
    return w.crossJoin(F.broadcast(d)).select(
        "arm", "post", F.col("n").cast("bigint").alias("n_events"), "mean_v", "did"
    )


# --------------------------------------------------------------------------
# B272 (round 8) — Bollinger bands: the rolling mean +- 2-sigma
# envelope every monitoring dashboard draws over a metric series.
# 12-month trailing window per nation, full windows only; the rolling
# sums are exact integer cents (order-independent), the mean/std/band
# doubles use one mirrored op sequence with round9 outputs, and the
# window is calendar-bounded per series key (84 rows — at 100 TB the
# key space grows, never the per-key window).

_BB_W = 12


@query(
    "ts_bollinger_bands",
    oracle=f"""
WITH monthly AS (
  SELECT n.n_name AS nat,
         CAST((EXTRACT(year FROM o.o_orderdate) - 1992) * 12
              + EXTRACT(month FROM o.o_orderdate) - 1 AS INT) AS m,
         SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS x
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2),
w AS (
  SELECT nat, m, x,
         ROW_NUMBER() OVER pw AS rn,
         SUM(x) OVER pw AS s,
         SUM(CAST(x AS HUGEINT) * x) OVER pw AS s2
  FROM monthly
  WINDOW pw AS (PARTITION BY nat ORDER BY m
                ROWS BETWEEN {_BB_W - 1} PRECEDING AND CURRENT ROW))
SELECT nat, CAST(m AS INT) AS m, CAST(x AS BIGINT) AS x_c,
       round(CAST(s AS DOUBLE) / {_BB_W}, 0) AS mid,
       round(CAST(s AS DOUBLE) / {_BB_W}
             + 2 * sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s AS DOUBLE) * s / {_BB_W})
                        / ({_BB_W} - 1)), 0) AS upper,
       round(CAST(s AS DOUBLE) / {_BB_W}
             - 2 * sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s AS DOUBLE) * s / {_BB_W})
                        / ({_BB_W} - 1)), 0) AS lower
FROM w WHERE rn >= {_BB_W}
""",
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nat"),
            ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
            .cast("int")
            .alias("m"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
            ).alias("x")
        )
    )
    pw = (
        Window.partitionBy("nat")
        .orderBy("m")
        .rowsBetween(-(_BB_W - 1), Window.currentRow)
    )
    w = monthly.select(
        "nat",
        "m",
        "x",
        F.row_number().over(Window.partitionBy("nat").orderBy("m")).alias("rn"),
        F.sum("x").over(pw).alias("s"),
        # x ~ 9e8 cents per nation-month at sf0.1: x*x stacks past 2^63
        # in a 12-row window — sum the squares in DECIMAL(38,0) to
        # mirror the oracle's HUGEINT headroom (the ts_periodogram rule)
        F.sum((F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(38,0)"))
        .over(pw)
        .alias("s2"),
    ).filter(F.col("rn") >= _BB_W)
    mid = F.col("s").cast("double") / _BB_W
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s").cast("double") * F.col("s") / _BB_W)
        / (_BB_W - 1)
    )
    return w.select(
        "nat",
        F.col("m").cast("int").alias("m"),
        F.col("x").cast("bigint").alias("x_c"),
        # bands sit at cent magnitude ~1e8 where the double ulp is
        # coarser than a 1e-9 grid (the documented round9 trap) — whole
        # cents (grid 1 >> ulp, the Holt-Winters rule) is always safe
        F.round(mid, 0).alias("mid"),
        F.round(mid + 2 * sd, 0).alias("upper"),
        F.round(mid - 2 * sd, 0).alias("lower"),
    )


# --------------------------------------------------------------------------
# B276 (round 8) — control-chart rules (Western Electric): the SPC
# layer a metrics platform runs on every monitored series — rule 1
# (one point beyond 3 sigma), rule 2 (2 of 3 consecutive beyond
# 2 sigma, same side), rule 4 (8 consecutive on one side of center).
# Center/sigma come from exact integer moments of each nation's
# monthly series (population sigma, round9 once); the rule tests are
# integer comparisons against fixed-point control limits, and the
# consecutive-run logic is lag windows over the calendar-bounded
# per-series key — no cross-series state.

_SPC_FP = 1_000_000


@query(
    "ts_control_rules",
    oracle=f"""
WITH monthly AS (
  SELECT n.n_name AS nat,
         CAST((EXTRACT(year FROM o.o_orderdate) - 1992) * 12
              + EXTRACT(month FROM o.o_orderdate) - 1 AS INT) AS m,
         SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS x
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2),
st AS (
  SELECT nat, COUNT(*) AS n, SUM(x) AS s,
         SUM(CAST(x AS HUGEINT) * x) AS s2
  FROM monthly GROUP BY nat),
lim AS (
  SELECT nat,
         CAST(s AS DOUBLE) / n AS mu,
         sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n) AS sg
  FROM st),
z AS (
  SELECT m.nat, m.m, m.x,
         CASE WHEN m.x > l.mu + 3 * l.sg OR m.x < l.mu - 3 * l.sg
              THEN 1 ELSE 0 END AS r1,
         CASE WHEN m.x > l.mu + 2 * l.sg THEN 1
              WHEN m.x < l.mu - 2 * l.sg THEN -1 ELSE 0 END AS z2,
         CASE WHEN CAST(m.x AS DOUBLE) > l.mu THEN 1 ELSE -1 END AS side
  FROM monthly m JOIN lim l ON l.nat = m.nat),
w AS (
  SELECT nat, m, r1,
         CASE WHEN (z2 = 1 AND ((LAG(z2, 1) OVER pw = 1 AND LAG(z2, 2) OVER pw <> 1)
                                 OR (LAG(z2, 1) OVER pw <> 1 AND LAG(z2, 2) OVER pw = 1)
                                 OR (LAG(z2, 1) OVER pw = 1 AND LAG(z2, 2) OVER pw = 1)))
                OR (z2 = -1 AND ((LAG(z2, 1) OVER pw = -1 AND LAG(z2, 2) OVER pw <> -1)
                                  OR (LAG(z2, 1) OVER pw <> -1 AND LAG(z2, 2) OVER pw = -1)
                                  OR (LAG(z2, 1) OVER pw = -1 AND LAG(z2, 2) OVER pw = -1)))
              THEN 1 ELSE 0 END AS r2,
         CASE WHEN side = LAG(side, 1) OVER pw AND side = LAG(side, 2) OVER pw
                   AND side = LAG(side, 3) OVER pw AND side = LAG(side, 4) OVER pw
                   AND side = LAG(side, 5) OVER pw AND side = LAG(side, 6) OVER pw
                   AND side = LAG(side, 7) OVER pw
              THEN 1 ELSE 0 END AS r4
  FROM z
  WINDOW pw AS (PARTITION BY nat ORDER BY m))
SELECT nat, CAST(SUM(r1) AS BIGINT) AS n_rule1,
       CAST(SUM(r2) AS BIGINT) AS n_rule2,
       CAST(SUM(r4) AS BIGINT) AS n_rule4
FROM w GROUP BY nat
""",
)
def ts_control_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nat"),
            ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
            .cast("int")
            .alias("m"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
            ).alias("x")
        )
    )
    st = monthly.groupBy("nat").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum((F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(38,0)"))
        .alias("s2"),
    )
    lim = st.select(
        "nat",
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("s2").cast("double")
             - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / F.col("n")
        ).alias("sg"),
    )
    z = monthly.join(F.broadcast(lim), "nat").select(
        "nat",
        "m",
        F.when(
            (F.col("x") > F.col("mu") + 3 * F.col("sg"))
            | (F.col("x") < F.col("mu") - 3 * F.col("sg")),
            1,
        )
        .otherwise(0)
        .alias("r1"),
        F.when(F.col("x") > F.col("mu") + 2 * F.col("sg"), 1)
        .when(F.col("x") < F.col("mu") - 2 * F.col("sg"), -1)
        .otherwise(0)
        .alias("z2"),
        F.when(F.col("x").cast("double") > F.col("mu"), 1)
        .otherwise(-1)
        .alias("side"),
    )
    pw = Window.partitionBy("nat").orderBy("m")
    l1, l2 = F.lag("z2", 1).over(pw), F.lag("z2", 2).over(pw)

    def two_of_three(sign: int):
        a, b = l1 == sign, l2 == sign
        return (F.col("z2") == sign) & (
            (a & (l2 != sign)) | ((l1 != sign) & b) | (a & b)
        )

    side_run = F.when(
        sum(
            [
                (F.lag("side", i).over(pw) == F.col("side")).cast("int")
                for i in range(1, 8)
            ],
            F.lit(0),
        )
        == 7,
        1,
    ).otherwise(0)
    w = z.select(
        "nat",
        "r1",
        F.when(two_of_three(1) | two_of_three(-1), 1).otherwise(0).alias("r2"),
        side_run.alias("r4"),
    )
    return w.groupBy("nat").agg(
        F.sum("r1").cast("bigint").alias("n_rule1"),
        F.sum("r2").cast("bigint").alias("n_rule2"),
        F.sum("r4").cast("bigint").alias("n_rule4"),
    )


# --------------------------------------------------------------------------
# B279 (round 8) — user-path trigrams: the top 3-step behavioral
# paths (event_transitions' bigram matrix extended one step) — what
# journey-analysis dashboards rank to find the dominant flows.  Lag
# windows per user ordered by (ts, event_id) — per-user state only,
# exact counts, deterministic global top-{_PT_TOPK} with a full
# tie-break.

_PT_TOPK = 20


@query(
    "seq_path_trigrams",
    oracle=f"""
WITH s AS (
  SELECT user_id, event_type,
         LAG(event_type, 1) OVER w AS p1,
         LAG(event_type, 2) OVER w AS p2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
t AS (
  SELECT p2 || '>' || p1 || '>' || event_type AS path, COUNT(*) AS n
  FROM s WHERE p2 IS NOT NULL
  GROUP BY 1)
SELECT path, CAST(n AS BIGINT) AS n
FROM t ORDER BY n DESC, path LIMIT {_PT_TOPK}
""",
)
def seq_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    t = s.groupBy(
        F.concat_ws(">", "p2", "p1", "event_type").alias("path")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return t.orderBy(F.desc("n"), "path").limit(_PT_TOPK)


# --------------------------------------------------------------------------
# B280 (round 9) — Ljung–Box portmanteau test: is the monthly revenue
# series white noise, or does it carry autocorrelation a forecaster
# must model?  Q = n(n+2) * sum_{k=1..6} rho_k^2 / (n-k), with the
# STANDARD sample ACF (global mean, full-series denominator) — the
# diagnostic every ts_holt_* / ts_decompose_* consumer runs first.
# Exactness: the monthly series is exact integer cents; rho_k's
# numerator and denominator are scaled by n^2 so the mean never
# appears as a fraction — n^2*num_k = n^2*Sxy_k - n*S*(Sa_k+Sb_k) +
# (n-k)*S^2 and n^2*den = n^2*Sxx - n*S^2, all DECIMAL(38,0) integer
# sums (cent squares overflow BIGINT at sf0.1 — the ts_bollinger
# lesson).  One double division per lag, each term rounded to 9 and
# summed as DECIMAL — bit-identical cross-engine.  Shape at 100 TB:
# ONE calendar-bounded monthly rollup over orders is the only pass
# over raw data; the 6 lag joins run on the ~84-row month table.

_LB_LAGS = 6


@query(
    "ts_ljung_box",
    oracle=f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS DECIMAL(38,0)) AS v
  FROM orders GROUP BY 1),
idx AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY mo) AS i, COUNT(*) OVER () AS n
  FROM monthly),
tot AS (
  SELECT MAX(n) AS n,
         CAST(SUM(v) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(v * v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
  FROM idx),
lagsums AS (
  SELECT l.k,
         COUNT(*) AS npair,
         CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(a.v) AS DECIMAL(38,0)) AS sa,
         CAST(SUM(b.v) AS DECIMAL(38,0)) AS sb
  FROM (SELECT unnest(generate_series(1, {_LB_LAGS})) AS k) l
  JOIN idx a ON true
  JOIN idx b ON b.i = a.i + l.k
  GROUP BY l.k),
rho AS (
  SELECT ls.k,
         round((CAST(t.n AS DOUBLE) * t.n * CAST(ls.sxy AS DOUBLE)
                - CAST(t.n AS DOUBLE) * CAST(t.s AS DOUBLE)
                  * (CAST(ls.sa AS DOUBLE) + CAST(ls.sb AS DOUBLE))
                + (t.n - ls.k) * CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE))
               / (CAST(t.n AS DOUBLE) * t.n * CAST(t.sxx AS DOUBLE)
                  - CAST(t.n AS DOUBLE) * CAST(t.s AS DOUBLE)
                    * CAST(t.s AS DOUBLE)), 9) AS r,
         t.n AS n
  FROM lagsums ls CROSS JOIN tot t)
SELECT CAST(MAX(n) AS BIGINT) AS n_months,
       CAST({_LB_LAGS} AS INT) AS h_lags,
       CAST(SUM(CAST(round(r * r / (n - k), 9) AS DECIMAL(18,9))) AS DOUBLE)
         * MAX(n) * (MAX(n) + 2) AS q_stat
FROM rho
""",
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mo")
    ).agg(
        F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("v")
    )
    # month index over the calendar-bounded rollup (~84 rows): the
    # unpartitioned window runs over a bounded pre-aggregation, same
    # class as ts_decompose_classical (WINDOW_WHITELIST).
    idx = monthly.select(
        "v",
        F.row_number().over(Window.orderBy("mo")).alias("i"),
    )
    tot = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    lags = F.explode(F.expr(f"sequence(1, {_LB_LAGS})")).alias("k")
    a = idx.select(F.col("v").alias("va"), F.col("i").alias("ia"), lags)
    b = idx.select(F.col("v").alias("vb"), F.col("i").alias("ib"))
    lagsums = (
        a.join(b, F.col("ib") == F.col("ia") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("npair"),
            F.sum((F.col("va") * F.col("vb")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum("va").cast("decimal(38,0)").alias("sa"),
            F.sum("vb").cast("decimal(38,0)").alias("sb"),
        )
    )
    t = F.broadcast(tot)
    nn = F.col("n").cast("double")
    rho = lagsums.crossJoin(t).select(
        "k",
        "n",
        F.round(
            (
                nn * F.col("n") * F.col("sxy").cast("double")
                - nn
                * F.col("s").cast("double")
                * (F.col("sa").cast("double") + F.col("sb").cast("double"))
                + (F.col("n") - F.col("k")) * F.col("s").cast("double") * F.col("s").cast("double")
            )
            / (
                nn * F.col("n") * F.col("sxx").cast("double")
                - nn * F.col("s").cast("double") * F.col("s").cast("double")
            ),
            9,
        ).alias("r"),
    )
    return rho.agg(
        F.max("n").cast("bigint").alias("n_months"),
        F.lit(_LB_LAGS).cast("int").alias("h_lags"),
        (
            F.sum(
                F.round(F.col("r") * F.col("r") / (F.col("n") - F.col("k")), 9).cast(
                    "decimal(18,9)"
                )
            ).cast("double")
            * F.max("n")
            * (F.max("n") + 2)
        ).alias("q_stat"),
    )


# --------------------------------------------------------------------------
# B288 (round 9) — Granger causality (lag 1): do VIEW counts help
# predict next-hour PURCHASE counts beyond purchases' own history?
# The F-test compares the restricted OLS y_t ~ (1, y_{t-1}) against
# the unrestricted y_t ~ (1, y_{t-1}, x_{t-1}):
#   F = (SSE_r - SSE_u) / (SSE_u / (n - 3)).
# Exactness: both series are INTEGER counts on a dense hour spine
# (missing hours are real zeros — generated, not dropped, or the lag
# pairs would silently skip gaps), every raw moment is an exact
# DECIMAL(38,0) sum, and the centered moments / Cramer solve / F are
# ONE fixed-shape double expression rounded to 9 — bit-identical
# cross-engine.  Shape at 100 TB: one hourly rollup is the only pass
# over events; the spine, lag join, and 10-sum reduce are all
# calendar-bounded.


@query(
    "ts_granger_lag1",
    oracle="""
WITH ev AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
         event_type
  FROM events WHERE event_type IN ('view', 'purchase')),
bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM ev),
spine AS (
  SELECT unnest(generate_series(b.h0, b.h1)) AS h FROM bounds b),
cnt AS (
  SELECT h,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM ev GROUP BY h),
series AS (
  SELECT s.h, COALESCE(c.x, 0) AS x, COALESCE(c.y, 0) AS y
  FROM spine s LEFT JOIN cnt c ON c.h = s.h),
pairs AS (
  SELECT cur.y AS y, prev.y AS u, prev.x AS v
  FROM series cur JOIN series prev ON prev.h = cur.h - 1),
m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(u) AS DECIMAL(38,0)) AS su,
         CAST(SUM(v) AS DECIMAL(38,0)) AS sv,
         CAST(SUM(CAST(y AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS syy,
         CAST(SUM(CAST(u AS DECIMAL(18,0)) * u) AS DECIMAL(38,0)) AS suu,
         CAST(SUM(CAST(v AS DECIMAL(18,0)) * v) AS DECIMAL(38,0)) AS svv,
         CAST(SUM(CAST(u AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS suy,
         CAST(SUM(CAST(v AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS svy,
         CAST(SUM(CAST(u AS DECIMAL(18,0)) * v) AS DECIMAL(38,0)) AS suv
  FROM pairs),
c AS (
  SELECT n,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cyy,
         CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) / n AS cuu,
         CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n AS cvv,
         CAST(suy AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cuy,
         CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cvy,
         CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE) / n AS cuv
  FROM m),
f AS (
  SELECT n,
         cyy - cuy * cuy / cuu AS sse_r,
         cyy - ((cuy * cvv - cvy * cuv) / (cuu * cvv - cuv * cuv)) * cuy
             - ((cvy * cuu - cuy * cuv) / (cuu * cvv - cuv * cuv)) * cvy
           AS sse_u
  FROM c)
SELECT CAST(n AS BIGINT) AS n_pairs,
       round(f.sse_r, 0) AS sse_r,
       round(f.sse_u, 0) AS sse_u,
       round((f.sse_r - f.sse_u) / (f.sse_u / (n - 3)), 9) AS f_stat
FROM f
""",
)
def ts_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
            .cast("bigint")
            .alias("h"),
            "event_type",
        )
    )
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    cnt = ev.groupBy("h").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
    )
    series = spine.join(cnt, "h", "left").select(
        "h",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    prev = series.select(
        (F.col("h") + 1).alias("h"), F.col("y").alias("u"), F.col("x").alias("v")
    )
    pairs = series.select("h", "y").join(prev, "h")
    d18 = lambda cc: F.col(cc).cast("decimal(18,0)")  # noqa: E731
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum("u").cast("decimal(38,0)").alias("su"),
        F.sum("v").cast("decimal(38,0)").alias("sv"),
        F.sum(d18("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(d18("u") * F.col("u")).cast("decimal(38,0)").alias("suu"),
        F.sum(d18("v") * F.col("v")).cast("decimal(38,0)").alias("svv"),
        F.sum(d18("u") * F.col("y")).cast("decimal(38,0)").alias("suy"),
        F.sum(d18("v") * F.col("y")).cast("decimal(38,0)").alias("svy"),
        F.sum(d18("u") * F.col("v")).cast("decimal(38,0)").alias("suv"),
    )
    nn = F.col("n")
    cen = m.select(
        "n",
        (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double") / nn).alias("cyy"),
        (F.col("suu").cast("double") - F.col("su").cast("double") * F.col("su").cast("double") / nn).alias("cuu"),
        (F.col("svv").cast("double") - F.col("sv").cast("double") * F.col("sv").cast("double") / nn).alias("cvv"),
        (F.col("suy").cast("double") - F.col("su").cast("double") * F.col("sy").cast("double") / nn).alias("cuy"),
        (F.col("svy").cast("double") - F.col("sv").cast("double") * F.col("sy").cast("double") / nn).alias("cvy"),
        (F.col("suv").cast("double") - F.col("su").cast("double") * F.col("sv").cast("double") / nn).alias("cuv"),
    )
    det = F.col("cuu") * F.col("cvv") - F.col("cuv") * F.col("cuv")
    sse_r = F.col("cyy") - F.col("cuy") * F.col("cuy") / F.col("cuu")
    sse_u = (
        F.col("cyy")
        - ((F.col("cuy") * F.col("cvv") - F.col("cvy") * F.col("cuv")) / det) * F.col("cuy")
        - ((F.col("cvy") * F.col("cuu") - F.col("cuy") * F.col("cuv")) / det) * F.col("cvy")
    )
    # sse_r/sse_u are unbounded sums of squared hourly counts — round-9
    # is unsafe past ~1e7 (the documented cross-engine round trap), so
    # they round to WHOLE units; only the bounded f_stat keeps round-9
    # (ADVICE r9).
    out = cen.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(sse_r, 0).alias("sse_r"),
        F.round(sse_u, 0).alias("sse_u"),
        F.round((sse_r - sse_u) / (sse_u / (F.col("n") - 3)), 9).alias("f_stat"),
    )
    return out


# --------------------------------------------------------------------------
# B292 (round 9) — partial autocorrelation (PACF) at lags 1..3 over
# the monthly revenue series: the AR-order selection diagnostic that
# pairs with ts_autocorrelation/ts_ljung_box (ACF says "correlated",
# PACF says "how many AR terms").  Durbin–Levinson unrolled three
# steps over the STANDARD sample ACF:
#   phi11 = r1
#   phi22 = (r2 - r1^2) / (1 - r1^2)
#   phi21 = r1 * (1 - phi22)
#   phi33 = (r3 - phi21 r2 - phi22 r1) / (1 - phi21 r1 - phi22 r2)
# The rho_k come from the same n^2-scaled DECIMAL(38,0) moment sums
# as ts_ljung_box (exact integer cents; one rounded double per lag),
# and every phi is a fixed-shape double expression over the rounded
# r's — bit-identical cross-engine.  One calendar-bounded monthly
# rollup is the only pass over raw data.


@query(
    "ts_pacf",
    oracle="""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS DECIMAL(38,0)) AS v
  FROM orders GROUP BY 1),
idx AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY mo) AS i FROM monthly),
tot AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(v) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(v * v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
  FROM idx),
lagsums AS (
  SELECT l.k, COUNT(*) AS npair,
         CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(a.v) AS DECIMAL(38,0)) AS sa,
         CAST(SUM(b.v) AS DECIMAL(38,0)) AS sb
  FROM (SELECT unnest(generate_series(1, 3)) AS k) l
  JOIN idx a ON true
  JOIN idx b ON b.i = a.i + l.k
  GROUP BY l.k),
rho AS (
  SELECT ls.k,
         round((CAST(t.n AS DOUBLE) * t.n * CAST(ls.sxy AS DOUBLE)
                - CAST(t.n AS DOUBLE) * CAST(t.s AS DOUBLE)
                  * (CAST(ls.sa AS DOUBLE) + CAST(ls.sb AS DOUBLE))
                + (t.n - ls.k) * CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE))
               / (CAST(t.n AS DOUBLE) * t.n * CAST(t.sxx AS DOUBLE)
                  - CAST(t.n AS DOUBLE) * CAST(t.s AS DOUBLE)
                    * CAST(t.s AS DOUBLE)), 9) AS r,
         t.n AS n
  FROM lagsums ls CROSS JOIN tot t),
piv AS (
  SELECT MAX(n) AS n,
         MAX(CASE WHEN k = 1 THEN r END) AS r1,
         MAX(CASE WHEN k = 2 THEN r END) AS r2,
         MAX(CASE WHEN k = 3 THEN r END) AS r3
  FROM rho),
dl AS (
  SELECT n, r1, r2, r3,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
  FROM piv),
dl2 AS (SELECT *, r1 * (1.0 - p22) AS p21 FROM dl)
SELECT CAST(n AS BIGINT) AS n_months,
       round(r1, 9) AS pacf1,
       round(p22, 9) AS pacf2,
       round((r3 - p21 * r2 - p22 * r1)
             / (1.0 - p21 * r1 - p22 * r2), 9) AS pacf3
FROM dl2
""",
)
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mo")
    ).agg(
        F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("v")
    )
    idx = monthly.select(
        "v", F.row_number().over(Window.orderBy("mo")).alias("i")
    )
    tot = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    lags = F.explode(F.expr("sequence(1, 3)")).alias("k")
    a = idx.select(F.col("v").alias("va"), F.col("i").alias("ia"), lags)
    b = idx.select(F.col("v").alias("vb"), F.col("i").alias("ib"))
    lagsums = (
        a.join(b, F.col("ib") == F.col("ia") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum((F.col("va") * F.col("vb")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum("va").cast("decimal(38,0)").alias("sa"),
            F.sum("vb").cast("decimal(38,0)").alias("sb"),
        )
    )
    nn = F.col("n").cast("double")
    rho = lagsums.crossJoin(F.broadcast(tot)).select(
        "k",
        "n",
        F.round(
            (
                nn * F.col("n") * F.col("sxy").cast("double")
                - nn
                * F.col("s").cast("double")
                * (F.col("sa").cast("double") + F.col("sb").cast("double"))
                + (F.col("n") - F.col("k"))
                * F.col("s").cast("double")
                * F.col("s").cast("double")
            )
            / (
                nn * F.col("n") * F.col("sxx").cast("double")
                - nn * F.col("s").cast("double") * F.col("s").cast("double")
            ),
            9,
        ).alias("r"),
    )
    piv = rho.agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("k") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("k") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("k") == 3, F.col("r"))).alias("r3"),
    )
    p22 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        F.lit(1.0) - F.col("r1") * F.col("r1")
    )
    dl = piv.select("n", "r1", "r2", "r3", p22.alias("p22"))
    dl2 = dl.select(
        "*", (F.col("r1") * (F.lit(1.0) - F.col("p22"))).alias("p21")
    )
    return dl2.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.round(F.col("r1"), 9).alias("pacf1"),
        F.round(F.col("p22"), 9).alias("pacf2"),
        F.round(
            (F.col("r3") - F.col("p21") * F.col("r2") - F.col("p22") * F.col("r1"))
            / (
                F.lit(1.0)
                - F.col("p21") * F.col("r1")
                - F.col("p22") * F.col("r2")
            ),
            9,
        ).alias("pacf3"),
    )


# --------------------------------------------------------------------------
# B296 (round 9) — cross-correlation function (CCF) at lags -3..+3
# between hourly view and purchase counts: the lead/lag diagnostic
# that pairs with ts_granger_lag1 (Granger tests ONE direction; the
# CCF profile shows which series leads and by how much).  Same dense
# hour spine (gap hours are real zeros), exact DECIMAL moments per
# lag, one fixed-shape Pearson double rounded to 9.  Negative lags
# correlate x_t with y_{t+|k|} (views leading purchases); positive
# lags the reverse.


@query(
    "ts_cross_correlation",
    oracle="""
WITH ev AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
         event_type
  FROM events WHERE event_type IN ('view', 'purchase')),
bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM ev),
spine AS (SELECT unnest(generate_series(b.h0, b.h1)) AS h FROM bounds b),
cnt AS (
  SELECT h,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM ev GROUP BY h),
series AS (
  SELECT s.h, COALESCE(c.x, 0) AS x, COALESCE(c.y, 0) AS y
  FROM spine s LEFT JOIN cnt c ON c.h = s.h),
pairs AS (
  SELECT l.k, a.x AS x, b.y AS y
  FROM (SELECT unnest(generate_series(-3, 3)) AS k) l
  JOIN series a ON true
  JOIN series b ON b.h = a.h + l.k),
m AS (
  SELECT k, COUNT(*) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(18,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM pairs GROUP BY k)
SELECT CAST(k AS INT) AS lag_hours, CAST(n AS BIGINT) AS n_pairs,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
         AS ccf
FROM m
""",
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
            .cast("bigint")
            .alias("h"),
            "event_type",
        )
    )
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    cnt = ev.groupBy("h").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
    )
    series = spine.join(cnt, "h", "left").select(
        "h",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    lags = F.explode(F.expr("sequence(-3, 3)")).alias("k")
    a = series.select("h", F.col("x").alias("x"), lags)
    b = series.select(
        (F.col("h")).alias("hb"), F.col("y").alias("y")
    )
    pairs = a.join(b, F.col("hb") == F.col("h") + F.col("k"))
    d18 = lambda cc: F.col(cc).cast("decimal(18,0)")  # noqa: E731
    m = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(d18("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(d18("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d18("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    nn = F.col("n").cast("double")
    return m.select(
        F.col("k").cast("int").alias("lag_hours"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(
            (nn * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (
                F.sqrt(nn * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
                * F.sqrt(nn * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
            ),
            9,
        ).alias("ccf"),
    )


# --------------------------------------------------------------------------
# B507 (round 10) — Hampel filter: rolling-median/MAD outlier repair
# over the hourly per-type count series — the robust alternative to
# z-score despiking (a single spike inflates a rolling MEAN and its
# stddev; it barely moves the median/MAD).  Window = 7 hours centered,
# full frames only; a point is an outlier when |x - med| > 3 * MAD
# (integer counts, so med/MAD of 7 values are exact integers — no
# float anywhere until nothing).  Emits the flagged points with their
# replacement (the median).  Scale: the series is CALENDAR-bounded
# (one row per hour x event_type after a one-pass rollup), so the
# per-type window partitions hold bounded rows regardless of corpus
# size — the ts_cross_correlation spine argument.


@query(
    "ts_hampel_filter",
    oracle="""
WITH cnt AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
         event_type AS et, COUNT(*) AS x
  FROM events GROUP BY 1, 2),
w AS (
  SELECT h, et, x,
         list_sort(list(x) OVER (PARTITION BY et ORDER BY h
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS vals
  FROM cnt),
m AS (
  SELECT h, et, x, vals[4] AS med,
         list_sort(list_transform(vals, v -> abs(v - vals[4])))[4] AS mad
  FROM w WHERE len(vals) = 7)
SELECT h, et, CAST(x AS BIGINT) AS x, CAST(med AS BIGINT) AS med,
       CAST(mad AS BIGINT) AS mad
FROM m
WHERE abs(x - med) > 3 * mad
""",
)
def ts_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("bigint")
        .alias("h"),
        F.col("event_type").alias("et"),
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("et").orderBy("h").rowsBetween(-3, 3)
    vals = F.array_sort(F.collect_list("x").over(w))
    g = cnt.select("h", "et", "x", vals.alias("vals")).filter(
        F.size("vals") == 7
    )
    med = F.element_at("vals", 4)
    mad = F.element_at(
        F.array_sort(F.transform("vals", lambda v: F.abs(v - med))), 4
    )
    out = g.select(
        "h",
        "et",
        F.col("x").cast("bigint").alias("x"),
        med.cast("bigint").alias("med"),
        mad.cast("bigint").alias("mad"),
    )
    return out.filter(F.abs(F.col("x") - F.col("med")) > 3 * F.col("mad"))


# --------------------------------------------------------------------------
# B512 (round 10) — Mann-Kendall trend test over the daily purchase
# count series: the non-parametric "is there a monotone trend?" gate
# that pairs with the Theil-Sen slope (B-series ts_theil_sen — MK is
# the significance test for exactly that estimator).  S = sum of
# sign(x_j - x_i) over ordered day pairs and the tie-corrected
# variance are EXACT integers (var is reported in 1/18ths to stay
# integral); the z statistic needs only sqrt, which IEEE 754 rounds
# correctly on both engines — no libm drift.  Scale: the series is
# calendar-bounded (one row per day after a one-pass rollup), so the
# pair join is ~n_days^2/2 rows (a few hundred on the 30-day fixture
# window) regardless of corpus size.


@query(
    "ts_mann_kendall",
    oracle="""
WITH cnt AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
s AS (
  SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM cnt a JOIN cnt b ON b.d > a.d),
n AS (SELECT COUNT(*) AS n FROM cnt),
ties AS (
  SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tt
  FROM (SELECT COUNT(*) AS t FROM cnt GROUP BY x HAVING COUNT(*) > 1)),
v AS (
  SELECT CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tt AS BIGINT) AS var18,
         n.n
  FROM n, ties)
SELECT CAST(v.n AS BIGINT) AS n_days, s.s_stat,
       v.var18,
       round(CASE WHEN s.s_stat > 0
                  THEN (s.s_stat - 1) / sqrt(CAST(v.var18 AS DOUBLE) / 18e0)
                  WHEN s.s_stat < 0
                  THEN (s.s_stat + 1) / sqrt(CAST(v.var18 AS DOUBLE) / 18e0)
                  ELSE 0e0 END, 9) AS z_stat
FROM s, v
""",
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    a = cnt.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = cnt.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = cnt.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        cnt.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tt")
        )
    )
    v = (
        F.broadcast(n)
        .crossJoin(F.broadcast(ties))
        .select(
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tt")
            )
            .cast("bigint")
            .alias("var18"),
            "n",
        )
    )
    sd = F.sqrt(F.col("var18").cast("double") / 18.0)
    return (
        F.broadcast(s)
        .crossJoin(F.broadcast(v))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            "s_stat",
            "var18",
            F.round(
                F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
                .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
                .otherwise(F.lit(0.0)),
                9,
            ).alias("z_stat"),
        )
    )


# --------------------------------------------------------------------------
# B523 (round 10) — tie-corrected Kendall tau-b between the daily view
# and purchase count series: the rank-correlation companion to
# ml_spearman_rho (which ranks row pairs of one relation) and
# ts_mann_kendall (which is tau's numerator against TIME) — tau-b is
# the statistic A/B-test and forecasting teams quote when either
# series is heavily tied, which integer daily counts always are.
# Concordant/discordant pair counts and both tie corrections are EXACT
# integers over the ordered day-pair join; tau_b = 2(nc-nd)/sqrt(A*B)
# with A = n(n-1) - sum tx(tx-1), B likewise for y, needs one IEEE
# sqrt at the end.  Scale: the series is calendar-bounded (one row per
# day after a single one-pass rollup of events), so the pair join is
# ~n_days^2/2 rows regardless of corpus size — same class as
# ts_mann_kendall directly above.


@query(
    "ml_kendall_tau",
    oracle="""
WITH cnt AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         COUNT(*) FILTER (WHERE event_type = 'view') AS x,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS y
  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
pairs AS (
  SELECT CAST(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd
  FROM cnt a JOIN cnt b ON b.d > a.d),
n AS (SELECT COUNT(*) AS n FROM cnt),
tx AS (SELECT COALESCE(SUM(t * (t - 1)), 0) AS tx
       FROM (SELECT COUNT(*) AS t FROM cnt GROUP BY x HAVING COUNT(*) > 1)),
ty AS (SELECT COALESCE(SUM(t * (t - 1)), 0) AS ty
       FROM (SELECT COUNT(*) AS t FROM cnt GROUP BY y HAVING COUNT(*) > 1)),
ab AS (
  SELECT CAST(n.n * (n.n - 1) - tx.tx AS BIGINT) AS a2,
         CAST(n.n * (n.n - 1) - ty.ty AS BIGINT) AS b2, n.n
  FROM n, tx, ty)
SELECT CAST(ab.n AS BIGINT) AS n_days, p.nc, p.nd,
       round(CASE WHEN ab.a2 = 0 OR ab.b2 = 0 THEN 0e0
                  ELSE 2e0 * (p.nc - p.nd)
                       / sqrt(CAST(ab.a2 AS DOUBLE) * CAST(ab.b2 AS DOUBLE))
             END, 9) AS tau_b
FROM pairs p, ab
""",
)
def ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    cnt = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
    )
    a = cnt.select(F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = cnt.select(F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    prod = (F.col("xb") - F.col("xa")) * (F.col("yb") - F.col("ya"))
    pairs = a.join(b, F.col("db") > F.col("da")).agg(
        F.sum(F.when(prod > 0, 1).otherwise(0)).cast("bigint").alias("nc"),
        F.sum(F.when(prod < 0, 1).otherwise(0)).cast("bigint").alias("nd"),
    )
    n = cnt.agg(F.count(F.lit(1)).alias("n"))

    def _tie_sum(col: str, alias: str) -> DataFrame:
        return (
            cnt.groupBy(col)
            .agg(F.count(F.lit(1)).alias("t"))
            .filter(F.col("t") > 1)
            .agg(
                F.coalesce(F.sum(F.col("t") * (F.col("t") - 1)), F.lit(0)).alias(alias)
            )
        )

    ab = (
        F.broadcast(n)
        .crossJoin(F.broadcast(_tie_sum("x", "tx")))
        .crossJoin(F.broadcast(_tie_sum("y", "ty")))
        .select(
            (F.col("n") * (F.col("n") - 1) - F.col("tx")).cast("bigint").alias("a2"),
            (F.col("n") * (F.col("n") - 1) - F.col("ty")).cast("bigint").alias("b2"),
            "n",
        )
    )
    return (
        F.broadcast(pairs)
        .crossJoin(F.broadcast(ab))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            "nc",
            "nd",
            F.round(
                F.when((F.col("a2") == 0) | (F.col("b2") == 0), F.lit(0.0)).otherwise(
                    2.0
                    * (F.col("nc") - F.col("nd"))
                    / F.sqrt(F.col("a2").cast("double") * F.col("b2").cast("double"))
                ),
                9,
            ).alias("tau_b"),
        )
    )


# --------------------------------------------------------------------------
# B524 (round 10) — Dickey-Fuller unit-root regression over the daily
# purchase-count series: Delta y_t = alpha + beta * y_{t-1} + eps, the
# "is this series mean-reverting or a random walk?" gate every
# forecasting pipeline (ts_holt_*, ts_kalman_filter consumers) runs
# before differencing.  The t statistic on beta collapses to a
# closed form over centered integer cross-sums scaled by m:
# Sxx* = m*Sxx - Sx^2, Sxy* = m*Sxy - Sx*Sy, Syy* = m*Syy - Sy^2,
# beta = Sxy*/Sxx*, t = Sxy* / sqrt((Syy*Sxx* - Sxy*^2) / (m-2)).
# The raw sums are exact BIGINTs; the star products go through
# DECIMAL(38,0) (they overflow BIGINT once daily counts reach ~1e4 —
# the ts_ljung_box lesson), and the final decimal->double casts of the
# SAME exact integers round identically in both engines, leaving one
# IEEE sqrt + divide.  Scale: one calendar-bounded daily rollup is the
# only pass over raw events; the regression runs on the ~30-row day
# table via lag + one aggregate.


@query(
    "ts_unit_root_df",
    oracle="""
WITH cnt AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
lagged AS (
  SELECT y - lag(y) OVER (ORDER BY d) AS dy,
         lag(y) OVER (ORDER BY d) AS x
  FROM cnt),
sums AS (
  SELECT COUNT(*) AS m,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * dy) AS BIGINT) AS sxy,
         CAST(SUM(dy * dy) AS BIGINT) AS syy
  FROM lagged WHERE x IS NOT NULL),
star AS (
  SELECT m,
         CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS sxx_c,
         CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS sxy_c,
         CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS syy_c
  FROM sums)
SELECT CAST(m AS BIGINT) AS n_obs,
       round(CASE WHEN sxx_c = 0 THEN NULL
                  ELSE CAST(sxy_c AS DOUBLE) / CAST(sxx_c AS DOUBLE) END,
             9) AS beta,
       round(CASE WHEN m <= 2 OR sxx_c = 0
                    OR syy_c * sxx_c - sxy_c * sxy_c = 0 THEN NULL
                  ELSE CAST(sxy_c AS DOUBLE)
                       / sqrt(CAST(syy_c * sxx_c - sxy_c * sxy_c AS DOUBLE)
                              / (m - 2)) END, 9) AS t_stat
FROM star
""",
)
def ts_unit_root_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    # Single-partition lag window over the ~30-row day table is fine:
    # the series is calendar-bounded by construction (Limit-free but
    # bounded-pre-aggregation — one row per day).
    w = Window.orderBy("d")
    lagged = cnt.select(
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
        F.lag("y").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    sums = lagged.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
    )
    d38 = "decimal(38,0)"
    star = sums.select(
        "m",
        (F.col("m").cast(d38) * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")).alias("sxx_c"),
        (F.col("m").cast(d38) * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy")).alias("sxy_c"),
        (F.col("m").cast(d38) * F.col("syy") - F.col("sy").cast(d38) * F.col("sy")).alias("syy_c"),
    )
    # Short (m <= 2) or constant-lag (sxx* = 0) or perfect-fit
    # (residual SS = 0) series have no DF statistic: NULL on both
    # engines, never an ANSI DIVIDE_BY_ZERO only on Spark's side.
    resid_ss = (F.col("syy_c") * F.col("sxx_c") - F.col("sxy_c") * F.col("sxy_c")).cast(
        "double"
    )
    return star.select(
        F.col("m").cast("bigint").alias("n_obs"),
        F.round(
            F.when(
                F.col("sxx_c") != 0,
                F.col("sxy_c").cast("double") / F.col("sxx_c").cast("double"),
            ),
            9,
        ).alias("beta"),
        F.round(
            F.when(
                (F.col("m") > 2) & (F.col("sxx_c") != 0) & (resid_ss != 0),
                F.col("sxy_c").cast("double") / F.sqrt(resid_ss / (F.col("m") - 2)),
            ),
            9,
        ).alias("t_stat"),
    )


# --------------------------------------------------------------------------
# B525 (round 10) — gap-constrained skip-gram pair mining: the
# PrefixSpan-lite "A is followed by B within k steps" counts that
# sequence-mining dashboards rank, generalizing seq_path_trigrams'
# CONTIGUOUS paths to pairs separated by 1..3 positions (a long-gap
# co-occurrence a trigram can never see).  Three lag windows per user
# ordered by (ts, event_id) share ONE window sort; counts are exact
# integers; the global top-20 is a full-tie-break
# TakeOrderedAndProject.  Scale: per-user window state only (no
# self-join — the lag formulation is linear in events), one shuffle on
# user_id, one skinny aggregation on the 25-value pair space.


@query(
    "seq_skipgram_pairs",
    oracle="""
WITH s AS (
  SELECT user_id, event_type AS e,
         LAG(event_type, 1) OVER w AS g1,
         LAG(event_type, 2) OVER w AS g2,
         LAG(event_type, 3) OVER w AS g3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
u AS (
  SELECT g1 AS p, e, 1 AS gap FROM s WHERE g1 IS NOT NULL
  UNION ALL SELECT g2, e, 2 FROM s WHERE g2 IS NOT NULL
  UNION ALL SELECT g3, e, 3 FROM s WHERE g3 IS NOT NULL),
c AS (
  SELECT p || '>' || e AS pair,
         CAST(COUNT(*) FILTER (WHERE gap = 1) AS BIGINT) AS n_g1,
         CAST(COUNT(*) FILTER (WHERE gap = 2) AS BIGINT) AS n_g2,
         CAST(COUNT(*) FILTER (WHERE gap = 3) AS BIGINT) AS n_g3,
         CAST(COUNT(*) AS BIGINT) AS n_total
  FROM u GROUP BY 1)
SELECT pair, n_g1, n_g2, n_g3, n_total
FROM c ORDER BY n_total DESC, pair LIMIT 20
""",
)
def seq_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("e"),
        F.lag("event_type", 1).over(w).alias("g1"),
        F.lag("event_type", 2).over(w).alias("g2"),
        F.lag("event_type", 3).over(w).alias("g3"),
    )
    parts = [
        s.filter(F.col(f"g{i}").isNotNull()).select(
            F.col(f"g{i}").alias("p"), "e", F.lit(i).alias("gap")
        )
        for i in (1, 2, 3)
    ]
    u = parts[0].unionAll(parts[1]).unionAll(parts[2])
    c = u.groupBy(F.concat_ws(">", "p", "e").alias("pair")).agg(
        F.sum(F.when(F.col("gap") == 1, 1).otherwise(0)).cast("bigint").alias("n_g1"),
        F.sum(F.when(F.col("gap") == 2, 1).otherwise(0)).cast("bigint").alias("n_g2"),
        F.sum(F.when(F.col("gap") == 3, 1).otherwise(0)).cast("bigint").alias("n_g3"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )
    return c.orderBy(F.desc("n_total"), "pair").limit(20)


# --------------------------------------------------------------------------
# B531 (round 10) — delta-method CI for a RATIO metric (revenue per
# event, the canonical "ratio of sums whose denominator is itself
# random" A/B statistic — per-user revenue over per-user event count,
# randomization unit = user).  Naive per-event variance is wrong
# because events within a user are correlated; the delta method gives
# var(R) ~ (var_x - 2R cov + R^2 var_n) / (u * mean_n^2) from per-user
# moment sums.  Parity recipe is the ab_test_welch_t2 moment-sum
# contract: per-user cents/counts accumulate exactly (cents BIGINT,
# squares DECIMAL(25,0) / HUGEINT), one double conversion, identical
# correctly-rounded double expressions on both engines.  Two skinny
# shuffles (user rollup, 2-cell variant rollup) at any corpus size.


@query(
    "ab_test_ratio_delta",
    oracle="""
WITH per_user AS (
  SELECT user_id % 2 AS variant,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, user_id),
mom AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS u,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(n) AS DOUBLE) AS sn,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(n AS HUGEINT) * n) AS DOUBLE) AS snn,
         CAST(SUM(CAST(x AS HUGEINT) * n) AS DOUBLE) AS sxn
  FROM per_user GROUP BY 1)
SELECT variant, u,
       round(sx / sn, 9) AS ratio_cents_per_event,
       round(sqrt(((u * sxx - sx * sx) / (CAST(u AS DOUBLE) * (u - 1))
                   - 2 * (sx / sn) * ((u * sxn - sx * sn) / (CAST(u AS DOUBLE) * (u - 1)))
                   + (sx / sn) * (sx / sn)
                     * ((u * snn - sn * sn) / (CAST(u AS DOUBLE) * (u - 1))))
                  / (u * (sn / u) * (sn / u))), 9) AS se
FROM mom
""",
)
def ab_test_ratio_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    per_user = ev.groupBy((F.col("user_id") % 2).alias("variant"), "user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    sq = lambda a, b: (F.col(a).cast("decimal(25,0)") * F.col(b)).cast("decimal(38,0)")  # noqa: E731
    mom = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("u"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("n").cast("double").alias("sn"),
        F.sum(sq("x", "x")).cast("double").alias("sxx"),
        F.sum(sq("n", "n")).cast("double").alias("snn"),
        F.sum(sq("x", "n")).cast("double").alias("sxn"),
    )
    u, sx, sn = F.col("u"), F.col("sx"), F.col("sn")
    sxx, snn, sxn = F.col("sxx"), F.col("snn"), F.col("sxn")
    ud = u.cast("double")
    r = sx / sn
    var_x = (u * sxx - sx * sx) / (ud * (u - 1))
    cov = (u * sxn - sx * sn) / (ud * (u - 1))
    var_n = (u * snn - sn * sn) / (ud * (u - 1))
    var_r = (var_x - 2 * r * cov + r * r * var_n) / (u * (sn / u) * (sn / u))
    return mom.select(
        "variant",
        "u",
        F.round(r, 9).alias("ratio_cents_per_event"),
        F.round(F.sqrt(var_r), 9).alias("se"),
    )


# --------------------------------------------------------------------------
# B532 (round 10) — rolling-origin forecast backtest: walk the daily
# purchase-count series, forecasting each day from the origin h days
# earlier with three textbook baselines (naive last-value, seasonal
# naive lag-7, drift line through (day 1, origin)), and score MAE per
# (method, horizon) — the evaluation protocol (Hyndman's tsCV) that
# decides which baseline a real forecaster must beat.  naive/snaive
# errors are exact integers; the drift forecast is one correctly-
# rounded double expression per row, rounded to 9 before the DECIMAL
# mean (the ts_ljung_box recipe).  Scale: one calendar-bounded daily
# rollup is the only pass over raw events; the backtest is lag windows
# over the ~30-row day table.


@query(
    "ts_rolling_origin_backtest",
    oracle="""
WITH cnt AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
idx AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS i FROM cnt),
y1 AS (SELECT y AS y0 FROM idx WHERE i = 1),
h AS (SELECT unnest([1, 2, 3]) AS h),
evals AS (
  SELECT h.h, a.i, a.y,
         o.y AS y_origin, o.i AS t,
         s.y AS y_snaive
  FROM idx a
  JOIN h ON TRUE
  JOIN idx o ON o.i = a.i - h.h
  LEFT JOIN idx s ON s.i = a.i - 7
  WHERE a.i - h.h >= 2),
err AS (
  SELECT h,
         CAST(abs(y - y_origin) AS DECIMAL(25,9)) AS e_naive,
         CAST(abs(y - y_snaive) AS DECIMAL(25,9)) AS e_snaive,
         CAST(round(abs(y - (y_origin + h * (y_origin - (SELECT y0 FROM y1))
                                / CAST(t - 1 AS DOUBLE))), 9)
              AS DECIMAL(25,9)) AS e_drift
  FROM evals)
SELECT CAST(h AS BIGINT) AS horizon,
       CAST(COUNT(*) AS BIGINT) AS n_evals,
       CAST(COUNT(e_snaive) AS BIGINT) AS n_snaive,
       round(CAST(SUM(e_naive) AS DOUBLE) / COUNT(*), 9) AS mae_naive,
       round(CAST(SUM(e_snaive) AS DOUBLE) / COUNT(e_snaive), 9) AS mae_snaive,
       round(CAST(SUM(e_drift) AS DOUBLE) / COUNT(*), 9) AS mae_drift
FROM err GROUP BY h
""",
)
def ts_rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    # Bounded single-partition windows over the day table (one row per
    # calendar day), same adjudication as ts_unit_root_df.
    w = Window.orderBy("d")
    idx = cnt.select("y", F.row_number().over(w).alias("i"))
    y1 = idx.filter(F.col("i") == 1).select(F.col("y").alias("y0"))
    hs = spark.range(1, 4).select(F.col("id").cast("int").alias("h"))
    a = idx.select(F.col("i").alias("ai"), F.col("y").alias("ay"))
    o = idx.select(F.col("i").alias("oi"), F.col("y").alias("oy"))
    s = idx.select(F.col("i").alias("si"), F.col("y").alias("sy"))
    evals = (
        a.crossJoin(F.broadcast(hs))
        .join(o, F.col("oi") == F.col("ai") - F.col("h"))
        .join(s, F.col("si") == F.col("ai") - 7, "left")
        .filter(F.col("ai") - F.col("h") >= 2)
        .crossJoin(F.broadcast(y1))
    )
    drift_fc = F.col("oy") + F.col("h") * (F.col("oy") - F.col("y0")) / (
        F.col("oi") - 1
    ).cast("double")
    err = evals.select(
        "h",
        F.abs(F.col("ay") - F.col("oy")).cast("decimal(25,9)").alias("e_naive"),
        F.abs(F.col("ay") - F.col("sy")).cast("decimal(25,9)").alias("e_snaive"),
        F.round(F.abs(F.col("ay") - drift_fc), 9)
        .cast("decimal(25,9)")
        .alias("e_drift"),
    )
    return err.groupBy(F.col("h").cast("bigint").alias("horizon")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_evals"),
        F.count("e_snaive").cast("bigint").alias("n_snaive"),
        F.round(F.sum("e_naive").cast("double") / F.count(F.lit(1)), 9).alias("mae_naive"),
        F.round(F.sum("e_snaive").cast("double") / F.count("e_snaive"), 9).alias("mae_snaive"),
        F.round(F.sum("e_drift").cast("double") / F.count(F.lit(1)), 9).alias("mae_drift"),
    )


# --------------------------------------------------------------------------
# B539 (round 10) — one-way ANOVA across weekday groups of the daily
# purchase-count series: "is the day-of-week effect real?" — the
# significance gate behind ts_seasonal_baseline's weekday profile
# (detecting seasonality is step 0; ANOVA says whether it beats
# noise).  F = (SSB/(k-1)) / (SSW/(n-k)) from per-group exact integer
# moment sums (n_g, sum, sum-of-squares — the ab_test_welch_t2
# contract generalized to k groups), one double conversion, identical
# correctly-rounded double expressions on both engines.  One
# calendar-bounded daily rollup + a 7-cell aggregate at any scale.


@query(
    "ts_weekday_anova",
    oracle="""
WITH cnt AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
g AS (
  SELECT isodow(d) AS dow,
         CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(y) AS BIGINT) AS sg,
         CAST(SUM(y * y) AS BIGINT) AS qg
  FROM cnt GROUP BY 1),
tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(sg) AS DOUBLE) AS s,
         CAST(SUM(qg) AS DOUBLE) AS q,
         CAST(SUM(CAST(round(CAST(sg AS DOUBLE) * sg / ng, 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS sb
  FROM g)
SELECT n AS n_days, k AS n_groups,
       round(sb - s * s / n, 9) AS ss_between,
       round(q - sb, 9) AS ss_within,
       round(CASE WHEN k <= 1 OR n <= k OR q - sb = 0 THEN NULL
                  ELSE ((sb - s * s / n) / (k - 1)) / ((q - sb) / (n - k))
             END, 9) AS f_stat
FROM tot
""",
)
def ts_weekday_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    g = cnt.groupBy(
        F.expr("weekday(d) + 1").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("y").cast("bigint").alias("sg"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("qg"),
    )
    # sb's per-group division is a double op on exact integer inputs,
    # but summing the 7 per-group doubles would be accumulation-order-
    # dependent across engines — so each term is rounded to 9 and
    # summed in DECIMAL (the ts_ljung_box recipe), then converted once.
    tot = g.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("sg").cast("double").alias("s"),
        F.sum("qg").cast("double").alias("q"),
        F.sum(
            F.round(F.col("sg").cast("double") * F.col("sg") / F.col("ng"), 9)
            .cast("decimal(30,9)")
        )
        .cast("double")
        .alias("sb"),
    )
    n, k, s, q, sb = (F.col(c) for c in ("n", "k", "s", "q", "sb"))
    # Degenerate slices (one group, one day per group, or zero
    # within-group variance) have no F statistic: NULL on both engines,
    # never an ANSI DIVIDE_BY_ZERO only on Spark's side.
    f_ok = (k > 1) & (n > k) & (q != sb)
    return tot.select(
        n.alias("n_days"),
        k.alias("n_groups"),
        F.round(sb - s * s / n, 9).alias("ss_between"),
        F.round(q - sb, 9).alias("ss_within"),
        F.round(
            F.when(f_ok, ((sb - s * s / n) / (k - 1)) / ((q - sb) / (n - k))), 9
        ).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# B553 (round 10) — moving-average crossover detection (the golden/
# death-cross signal): SMA(3) vs SMA(7) over the daily purchase-count
# series, emitting the days where the fast average crosses the slow
# one.  The comparison is done in INTEGERS — 7*sum3 vs 3*sum7 — so
# sign and crossing are exact with no division anywhere; the reported
# averages are single double divisions of identical exact operands.
# Windows are row-based over observed days (the series convention) and
# only FULL windows signal (count-in-frame guards), so warm-up days
# never emit.  Scale: one calendar-bounded daily rollup, then windows
# over the tiny day spine — flat at any corpus size.


@query(
    "ts_sma_crossover",
    oracle="""
WITH cnt AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
sm AS (
  SELECT d, x,
         SUM(x) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s3,
         COUNT(*) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n3,
         SUM(x) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
         COUNT(*) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n7
  FROM cnt),
sgn AS (
  SELECT d, x, s3, s7,
         CASE WHEN 7 * s3 > 3 * s7 THEN 1
              WHEN 7 * s3 < 3 * s7 THEN -1 ELSE 0 END AS sg
  FROM sm WHERE n3 = 3 AND n7 = 7),
flagged AS (
  SELECT d, x, s3, s7, sg, lag(sg) OVER (ORDER BY d) AS prev_sg
  FROM sgn)
SELECT CAST(d AS VARCHAR) AS d, CAST(x AS BIGINT) AS x,
       CAST(s3 AS DOUBLE) / 3 AS sma_fast,
       CAST(s7 AS DOUBLE) / 7 AS sma_slow,
       CASE WHEN sg > prev_sg THEN 'golden' ELSE 'death' END AS cross_dir
FROM flagged
WHERE prev_sg IS NOT NULL AND sg <> prev_sg AND sg <> 0
""",
)
def ts_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w3 = Window.orderBy("d").rowsBetween(-2, 0)
    w7 = Window.orderBy("d").rowsBetween(-6, 0)
    sm = cnt.select(
        "d",
        "x",
        F.sum("x").over(w3).alias("s3"),
        F.count(F.lit(1)).over(w3).alias("n3"),
        F.sum("x").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    )
    sgn = sm.filter((F.col("n3") == 3) & (F.col("n7") == 7)).select(
        "d",
        "x",
        "s3",
        "s7",
        F.when(7 * F.col("s3") > 3 * F.col("s7"), 1)
        .when(7 * F.col("s3") < 3 * F.col("s7"), -1)
        .otherwise(0)
        .alias("sg"),
    )
    flagged = sgn.select(
        "*", F.lag("sg").over(Window.orderBy("d")).alias("prev_sg")
    )
    return flagged.filter(
        F.col("prev_sg").isNotNull()
        & (F.col("sg") != F.col("prev_sg"))
        & (F.col("sg") != 0)
    ).select(
        F.col("d").cast("string").alias("d"),
        F.col("x").cast("bigint").alias("x"),
        (F.col("s3").cast("double") / 3).alias("sma_fast"),
        (F.col("s7").cast("double") / 7).alias("sma_slow"),
        F.when(F.col("sg") > F.col("prev_sg"), "golden")
        .otherwise("death")
        .alias("cross_dir"),
    )


# --------------------------------------------------------------------------
# B554 (round 10) — grid-blocked DBSCAN core/border/noise
# classification: every point is keyed to its unit grid cell, each
# point's eps-neighborhood is counted against the 3x3 cell
# neighborhood ONLY (eps < 1 cell, so the block is exhaustive and the
# join is a pure equi-join on cell keys — never all-pairs), core
# points have >= MINPTS neighbors (self included, the textbook
# definition), border points are non-core with a core within eps, the
# rest is noise.  This is density-based clustering's data-skimming
# primitive (the full cluster labeling is a components pass over
# core-core edges — dedup_components' machinery).  Coordinates are
# salted-md5 uniforms in [0, W) at 1e-3 resolution; dist2 and the
# eps2 = 9/16 comparison are IEEE ops on identical operands (exact
# threshold, house float rule).  Scale: the grid side W is the
# geo.dbscan_grid scale conf, raised by the amp harness so density — and
# with it per-point candidate count — stays constant as the corpus
# grows (the graph.n_nodes recipe); oracles pin the default.

_DBSCAN_GRID = SCALE_CONFS["geo.dbscan_grid"]
_DBSCAN_EPS2 = 0.5625  # 0.75^2, exact binary fraction
_DBSCAN_MINPTS = 4


def _dbscan_coord(prefix: str, key: str, w: int) -> str:
    """Spark side of the geo _coord helper at 1e-3 resolution, offset 0."""
    return _coord(prefix, key, w, 0, res=1000)[0]


def _dbscan_coord_duck(prefix: str, key: str, w: int) -> str:
    """DuckDB side of the geo _coord helper at 1e-3 resolution, offset 0."""
    return _coord(prefix, key, w, 0, res=1000)[1]


@query(
    "geo_dbscan_core",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey AS k,
         {_dbscan_coord_duck('dbx:', 'c_custkey', _DBSCAN_GRID)} AS px,
         {_dbscan_coord_duck('dby:', 'c_custkey', _DBSCAN_GRID)} AS py
  FROM customer),
nb AS (
  SELECT p.k AS k, q.k AS qk
  FROM pts p JOIN pts q
    ON floor(q.px) BETWEEN floor(p.px) - 1 AND floor(p.px) + 1
   AND floor(q.py) BETWEEN floor(p.py) - 1 AND floor(p.py) + 1
   AND (p.px - q.px) * (p.px - q.px)
     + (p.py - q.py) * (p.py - q.py) <= {_DBSCAN_EPS2}),
cnt AS (SELECT k, COUNT(*) AS n_nb FROM nb GROUP BY k),
core AS (SELECT k FROM cnt WHERE n_nb >= {_DBSCAN_MINPTS}),
border AS (
  SELECT DISTINCT nb.k FROM nb
  JOIN core ON nb.qk = core.k
  WHERE nb.k <> nb.qk AND nb.k NOT IN (SELECT k FROM core))
SELECT cnt.k AS c_custkey, cnt.n_nb,
       CASE WHEN core.k IS NOT NULL THEN 'core'
            WHEN border.k IS NOT NULL THEN 'border'
            ELSE 'noise' END AS cls
FROM cnt
LEFT JOIN core ON cnt.k = core.k
LEFT JOIN border ON cnt.k = border.k
""",
)
def geo_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = scale_conf(spark, "geo.dbscan_grid")
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("k"),
        F.expr(_dbscan_coord("dbx:", "c_custkey", w)).alias("px"),
        F.expr(_dbscan_coord("dby:", "c_custkey", w)).alias("py"),
    ).transform(checkpoint)
    # probes explode to their 9 neighbor cells; candidates key on their
    # own cell — pure equi-join on (ci, cj), geo_nearest_site's blocking
    probe_cells = pts.select(
        F.col("k").alias("pk"),
        "px",
        "py",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), di -> "
                "transform(sequence(-1, 1), dj -> "
                "struct(cast(floor(px) + di as bigint) as ci, "
                "cast(floor(py) + dj as bigint) as cj))))"
            )
        ).alias("cell"),
    ).select("pk", "px", "py", "cell.ci", "cell.cj")
    cands = pts.select(
        F.col("k").alias("qk"),
        F.col("px").alias("qx"),
        F.col("py").alias("qy"),
        F.expr("cast(floor(px) as bigint)").alias("ci"),
        F.expr("cast(floor(py) as bigint)").alias("cj"),
    )
    nb = checkpoint(
        probe_cells.join(cands, ["ci", "cj"])
        .filter(
            (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx"))
            + (F.col("py") - F.col("qy")) * (F.col("py") - F.col("qy"))
            <= F.lit(_DBSCAN_EPS2)
        )
        .select(F.col("pk").alias("k"), "qk")
    )
    cnt = nb.groupBy("k").agg(F.count(F.lit(1)).alias("n_nb"))
    core = cnt.filter(F.col("n_nb") >= _DBSCAN_MINPTS).select("k")
    border = (
        nb.filter(F.col("k") != F.col("qk"))
        .join(core.withColumnRenamed("k", "qk"), "qk", "leftsemi")
        .select("k")
        .distinct()
        .join(core, "k", "left_anti")
    )
    return (
        cnt.join(core.withColumn("is_core", F.lit(1)), "k", "left")
        .join(border.withColumn("is_border", F.lit(1)), "k", "left")
        .select(
            F.col("k").alias("c_custkey"),
            "n_nb",
            F.when(F.col("is_core") == 1, "core")
            .when(F.col("is_border") == 1, "border")
            .otherwise("noise")
            .alias("cls"),
        )
    )


# --------------------------------------------------------------------------
# B558 (round 10) — SES smoothing-constant selection: simple
# exponential smoothing folded over the daily purchase series at every
# alpha of a fixed grid, scored by one-step-ahead SSE (the error
# measured BEFORE the state update, the standard SES tuning
# objective), argmin flagged.  All alphas are exact binary fractions
# (k/8) so alpha and 1-alpha are exact doubles; the fold order is
# pinned by the day index and every float op is mirrored literally
# between the Spark aggregate() lambda and the oracle's recursive CTE
# (the ts_holt_linear parity recipe).  Scale: one calendar-bounded
# daily rollup; the 7-alpha sweep folds a tiny array once per alpha.

_SES_ALPHAS = (0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875)


@query(
    "ts_ses_optimal_alpha",
    oracle=f"""
WITH RECURSIVE cnt AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
ser AS (SELECT list(CAST(x AS DOUBLE) ORDER BY d) AS xs, COUNT(*) AS n FROM cnt),
grid AS (SELECT unnest({list(_SES_ALPHAS)}) AS alpha),
it AS (
  SELECT alpha, 1 AS i, xs[1] AS s, 0e0 AS sse, n, xs
  FROM grid, ser
  UNION ALL
  SELECT alpha, i + 1,
         alpha * xs[i+1] + (1e0 - alpha) * s,
         sse + (xs[i+1] - s) * (xs[i+1] - s),
         n, xs
  FROM it WHERE i < n),
fin AS (
  SELECT alpha, CAST(n AS BIGINT) AS n_days, round(sse, 6) AS sse
  FROM it WHERE i = n)
SELECT alpha, n_days, sse,
       CAST(sse = (SELECT MIN(sse) FROM fin) AS INT) AS is_best
FROM fin
""",
)
def ts_ses_optimal_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ser = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d, x))),"
                " e -> cast(e.x as double))"
            ).alias("xs"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
    )
    grid = local_df(spark, [(a,) for a in _SES_ALPHAS], "alpha double")
    fold = F.expr(
        """
        aggregate(
          xs,
          named_struct('s', cast(0 as double), 'sse', cast(0 as double), 'k', 0),
          (acc, x) -> IF(acc.k = 0,
            named_struct('s', x, 'sse', cast(0 as double), 'k', 1),
            named_struct(
              's', alpha * x + (1.0D - alpha) * acc.s,
              'sse', acc.sse + (x - acc.s) * (x - acc.s),
              'k', acc.k + 1)))
        """
    )
    fin = grid.crossJoin(F.broadcast(ser)).select(
        "alpha", "n_days", F.round(fold["sse"], 6).alias("sse")
    )
    best = fin.agg(F.min("sse").alias("best_sse"))
    return fin.crossJoin(F.broadcast(best)).select(
        "alpha",
        "n_days",
        "sse",
        (F.col("sse") == F.col("best_sse")).cast("int").alias("is_best"),
    )


# --------------------------------------------------------------------------
# B559 (round 10) — seasonal/trend strength (the STL diagnostics pair
# F_s = max(0, 1 - Var(R)/Var(S+R)), F_t = max(0, 1 - Var(R)/Var(T+R)))
# over the monthly order-revenue series with a classical centered 12-MA
# trend.  Exactness: cents are BIGINT and the centered MA is kept
# SCALED BY 24 (the half-weights double to integers), so detrending is
# pure integer arithmetic; detrended values and the per-month-of-year
# seasonal index are then frozen as integer MICRO-DOLLARS (one
# mirrored double round each — round-to-integer, no decimal-place
# multiply, so the engines' rounding agrees), after which every
# variance term is an exact integer/DECIMAL(38,0) sum — both engines
# hand identical operands to the final double divisions.  Only months
# with a full 13-wide MA window participate (the classical rule).
# Scale: one monthly rollup; windows run over the ~84-row month spine.


@query(
    "ts_seasonal_strength",
    oracle="""
WITH monthly AS (
  SELECT (EXTRACT(year FROM o_orderdate) - 1995) * 12
           + EXTRACT(month FROM o_orderdate) - 1 AS m,
         EXTRACT(month FROM o_orderdate) AS moy,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2),
ma AS (
  SELECT m, moy, c,
         SUM(c) OVER (ORDER BY m ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS mid11,
         lag(c, 6)  OVER (ORDER BY m) AS lag6,
         lead(c, 6) OVER (ORDER BY m) AS lead6,
         COUNT(*) OVER (ORDER BY m ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS wn
  FROM monthly),
det AS (
  SELECT m, moy, c,
         CAST(round(CAST(24 * c - (lag6 + 2 * mid11 + lead6) AS DOUBLE)
                    * 1e6 / 2400e0) AS BIGINT) AS sr_u
  FROM ma WHERE wn = 13 AND lag6 IS NOT NULL AND lead6 IS NOT NULL),
sidx AS (
  SELECT moy, CAST(round(AVG(CAST(sr_u AS DOUBLE))) AS BIGINT) AS s_u
  FROM det GROUP BY moy),
rows_ AS (
  SELECT det.sr_u, det.sr_u - sidx.s_u AS r_u,
         det.c * 10000 - sidx.s_u AS tr_u
  FROM det JOIN sidx ON det.moy = sidx.moy),
sums AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(r_u) AS DOUBLE) AS s_r,
         CAST(SUM(CAST(r_u AS DECIMAL(38,0)) * r_u) AS DOUBLE) AS s_rr,
         CAST(SUM(sr_u) AS DOUBLE) AS s_sr,
         CAST(SUM(CAST(sr_u AS DECIMAL(38,0)) * sr_u) AS DOUBLE) AS s_srsr,
         CAST(SUM(tr_u) AS DOUBLE) AS s_tr,
         CAST(SUM(CAST(tr_u AS DECIMAL(38,0)) * tr_u) AS DOUBLE) AS s_trtr
  FROM rows_)
SELECT CAST(n AS BIGINT) AS n_months,
       round(greatest(0e0, 1e0 - (s_rr - s_r * s_r / n) / (s_srsr - s_sr * s_sr / n)), 9) AS f_seasonal,
       round(greatest(0e0, 1e0 - (s_rr - s_r * s_r / n) / (s_trtr - s_tr * s_tr / n)), 9) AS f_trend
FROM sums
""",
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
        ).alias("m"),
        F.month("o_orderdate").alias("moy"),
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
        ).alias("c")
    )
    wspine = Window.orderBy("m")
    ma = monthly.select(
        "m",
        "moy",
        "c",
        F.sum("c").over(wspine.rowsBetween(-5, 5)).alias("mid11"),
        F.lag("c", 6).over(wspine).alias("lag6"),
        F.lead("c", 6).over(wspine).alias("lead6"),
        F.count(F.lit(1)).over(wspine.rowsBetween(-6, 6)).alias("wn"),
    )
    det = ma.filter(
        (F.col("wn") == 13)
        & F.col("lag6").isNotNull()
        & F.col("lead6").isNotNull()
    ).select(
        "m",
        "moy",
        "c",
        F.round(
            (24 * F.col("c") - (F.col("lag6") + 2 * F.col("mid11") + F.col("lead6")))
            .cast("double")
            * 1e6
            / 2400.0
        )
        .cast("bigint")
        .alias("sr_u"),
    )
    sidx = det.groupBy("moy").agg(
        F.round(F.avg(F.col("sr_u").cast("double"))).cast("bigint").alias("s_u")
    )
    rows = det.join(F.broadcast(sidx), "moy").select(
        "sr_u",
        (F.col("sr_u") - F.col("s_u")).alias("r_u"),
        (F.col("c") * 10000 - F.col("s_u")).alias("tr_u"),
    )

    def _sq(c: str) -> Column:
        return F.sum(F.col(c).cast("decimal(38,0)") * F.col(c)).cast("double")

    # linear sums also ride decimal(38,0): tr_u is full monthly revenue
    # in micro-dollars, and a plain bigint SUM wraps near sf40 where
    # the oracle's HUGEINT accumulation stays exact (review finding)
    sums = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r_u").cast("decimal(38,0)")).cast("double").alias("s_r"),
        _sq("r_u").alias("s_rr"),
        F.sum(F.col("sr_u").cast("decimal(38,0)")).cast("double").alias("s_sr"),
        _sq("sr_u").alias("s_srsr"),
        F.sum(F.col("tr_u").cast("decimal(38,0)")).cast("double").alias("s_tr"),
        _sq("tr_u").alias("s_trtr"),
    )
    var_r = F.col("s_rr") - F.col("s_r") * F.col("s_r") / F.col("n")
    var_sr = F.col("s_srsr") - F.col("s_sr") * F.col("s_sr") / F.col("n")
    var_tr = F.col("s_trtr") - F.col("s_tr") * F.col("s_tr") / F.col("n")
    return sums.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.round(F.greatest(F.lit(0.0), 1.0 - var_r / var_sr), 9).alias("f_seasonal"),
        F.round(F.greatest(F.lit(0.0), 1.0 - var_r / var_tr), 9).alias("f_trend"),
    )


# --------------------------------------------------------------------------
# B560 (round 10) — pinball-loss evaluation of per-weekday quantile
# forecasts: train on the first 21 days of the daily purchase series,
# forecast each weekday's {0.25, 0.5, 0.75} quantile as the EXACT
# integer-rank order statistic (k = ceil(q*n), never a float
# interpolation), then bill the held-out days with the pinball loss
# L_q = max(q*(y-f), (q-1)*(y-f)) — the proper scoring rule quantile
# forecasts are tuned by.  Counts are integers and q is an exact
# DECIMAL quarter, so every loss term is an exact decimal and the sums
# are order-independent.  Scale: calendar-bounded daily rollup; the
# quantile extraction is a per-weekday window over <=21 rows.


@query(
    "ml_quantile_pinball",
    oracle="""
WITH cnt AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, isodow(ts) AS wd, COUNT(*) AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
mn AS (SELECT MIN(d) AS md FROM cnt),
train AS (
  SELECT wd, x, ROW_NUMBER() OVER (PARTITION BY wd ORDER BY x, d) AS rn,
         COUNT(*) OVER (PARTITION BY wd) AS n
  FROM cnt, mn WHERE d < md + INTERVAL 21 DAY),
qs AS (SELECT unnest([CAST(0.25 AS DECIMAL(3,2)),
                      CAST(0.50 AS DECIMAL(3,2)),
                      CAST(0.75 AS DECIMAL(3,2))]) AS q),
fc AS (
  SELECT t.wd, qs.q, t.x AS f
  FROM train t JOIN qs ON t.rn = CAST(ceil(qs.q * t.n) AS BIGINT)),
test AS (SELECT wd, x FROM cnt, mn WHERE d >= md + INTERVAL 21 DAY),
loss AS (
  SELECT fc.q,
         greatest(fc.q * (test.x - fc.f), (fc.q - 1) * (test.x - fc.f)) AS pl
  FROM test JOIN fc ON test.wd = fc.wd)
SELECT CAST(q AS DOUBLE) AS q, COUNT(*) AS n_evals,
       CAST(SUM(pl) AS DOUBLE) AS total_pinball,
       round(CAST(SUM(pl) AS DOUBLE) / COUNT(*), 9) AS avg_pinball
FROM loss GROUP BY q
""",
)
def ml_quantile_pinball(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # three consumers (min-date, train, test): pay the events scan once
    cnt = checkpoint(
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.date_trunc("day", "ts").cast("date").alias("d"),
            (F.weekday("ts") + 1).alias("wd"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    mn = cnt.agg(F.min("d").alias("md"))
    with_mn = cnt.crossJoin(F.broadcast(mn))
    wtr = Window.partitionBy("wd").orderBy("x", "d")
    train = (
        with_mn.filter(F.col("d") < F.date_add("md", 21))
        .select(
            "wd",
            "x",
            F.row_number().over(wtr).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("wd")).alias("n"),
        )
    )
    qs = local_df(spark,
        [("0.25",), ("0.50",), ("0.75",)], "qs string"
    ).select(F.col("qs").cast("decimal(3,2)").alias("q"))
    fc = train.join(
        F.broadcast(qs),
        F.col("rn") == F.ceil(F.col("q") * F.col("n")).cast("bigint"),
    ).select("wd", "q", F.col("x").alias("f"))
    test = with_mn.filter(F.col("d") >= F.date_add("md", 21)).select("wd", "x")
    loss = test.join(F.broadcast(fc), "wd").select(
        "q",
        F.greatest(
            F.col("q") * (F.col("x") - F.col("f")),
            (F.col("q") - 1) * (F.col("x") - F.col("f")),
        ).alias("pl"),
    )
    return loss.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_evals"),
        F.sum("pl").cast("double").alias("total_pinball"),
        F.round(F.sum("pl").cast("double") / F.count(F.lit(1)), 9).alias(
            "avg_pinball"
        ),
    ).select(
        F.col("q").cast("double").alias("q"),
        "n_evals",
        "total_pinball",
        "avg_pinball",
    )


# --------------------------------------------------------------------------
# B563 (round 10) — IQR outlier fences per event type over the daily
# event-count panel: Q1/Q3 as EXACT integer-rank order statistics
# (k = ceil(q*n), the ml_quantile_pinball rank rule), Tukey fences at
# 1.5*IQR kept in INTEGERS (2*fence_low = 5*Q1 - 3*Q3, so the outlier
# test is 2*y < 5*Q1 - 3*Q3 — no division, no float anywhere), and the
# per-type outlier bill reported.  The MAD twin (anomaly_mad) flags
# level shifts; the IQR fence is the box-plot read auditors ask for.
# Scale: calendar-bounded daily rollup + per-type rank windows over
# the tiny day spine.


@query(
    "dq_iqr_fences",
    oracle="""
WITH cnt AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS x
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT event_type, d, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, d) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM cnt),
qq AS (
  SELECT event_type,
         MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN x END) AS q1,
         MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN x END) AS q3,
         MAX(n) AS n_days
  FROM ranked GROUP BY event_type)
SELECT c.event_type, CAST(qq.n_days AS BIGINT) AS n_days,
       CAST(qq.q1 AS BIGINT) AS q1, CAST(qq.q3 AS BIGINT) AS q3,
       CAST(SUM(CASE WHEN 2 * c.x < 5 * qq.q1 - 3 * qq.q3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN 2 * c.x > 5 * qq.q3 - 3 * qq.q1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high
FROM cnt c JOIN qq ON c.event_type = qq.event_type
GROUP BY c.event_type, qq.n_days, qq.q1, qq.q3
""",
)
def dq_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # consumed by both the rank pass and the fence join: scan once
    cnt = checkpoint(
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("x", "d")
    ranked = cnt.select(
        "event_type",
        "x",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    qq = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.25 * F.col("n")).cast("bigint"), F.col("x")
            )
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.75 * F.col("n")).cast("bigint"), F.col("x")
            )
        ).alias("q3"),
        F.max("n").alias("n_days"),
    )
    return (
        cnt.join(F.broadcast(qq), "event_type")
        .groupBy("event_type", "n_days", "q1", "q3")
        .agg(
            F.sum(
                F.when(2 * F.col("x") < 5 * F.col("q1") - 3 * F.col("q3"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_low"),
            F.sum(
                F.when(2 * F.col("x") > 5 * F.col("q3") - 3 * F.col("q1"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_high"),
        )
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("q1").cast("bigint").alias("q1"),
            F.col("q3").cast("bigint").alias("q3"),
            "n_low",
            "n_high",
        )
    )


# --------------------------------------------------------------------------
# B564 (round 10) — conjugate Bayesian A/B read: Beta(1,1) posteriors
# over per-variant purchase-conversion counts (variant = user_id % 2,
# converted = user with >= 1 purchase — the ab_test_proportions
# contract), reporting posterior mean / variance per arm and the
# moment-matched z-score for the difference — the Bayesian companion
# to the frequentist proportions test, in pure closed-form arithmetic
# (posterior mean (s+1)/(n+2), variance a*b/((a+b)^2 (a+b+1)); exact
# integer numerators, one rounded double per cell).  Scale: one
# per-user rollup + a 2-cell aggregate.


@query(
    "ab_test_bayesian_beta",
    oracle="""
WITH u AS (
  SELECT user_id % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
arms AS (
  SELECT variant, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS s
  FROM u GROUP BY variant),
post AS (
  SELECT variant, n, s,
         s + 1 AS a, n - s + 1 AS b,
         round(CAST(s + 1 AS DOUBLE) / (n + 2), 9) AS post_mean,
         round(CAST(s + 1 AS DOUBLE) * (n - s + 1)
               / (CAST(n + 2 AS DOUBLE) * (n + 2) * (n + 3)), 12) AS post_var
  FROM arms)
SELECT CAST(variant AS BIGINT) AS variant, CAST(n AS BIGINT) AS n, s,
       CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, post_mean, post_var,
       round((post_mean - (SELECT MAX(CASE WHEN variant <> p.variant
                                           THEN post_mean END) FROM post))
             / sqrt(post_var + (SELECT MAX(CASE WHEN variant <> p.variant
                                               THEN post_var END) FROM post)),
             9) AS z_vs_other
FROM post p
""",
)
def ab_test_bayesian_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        )
    ).select((F.col("user_id") % 2).alias("variant"), "conv")
    arms = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").cast("bigint").alias("s")
    )
    post = arms.select(
        "variant",
        "n",
        "s",
        (F.col("s") + 1).alias("a"),
        (F.col("n") - F.col("s") + 1).alias("b"),
        F.round((F.col("s") + 1).cast("double") / (F.col("n") + 2), 9).alias(
            "post_mean"
        ),
        F.round(
            (F.col("s") + 1).cast("double")
            * (F.col("n") - F.col("s") + 1)
            / ((F.col("n") + 2).cast("double") * (F.col("n") + 2) * (F.col("n") + 3)),
            12,
        ).alias("post_var"),
    )
    other = post.select(
        (1 - F.col("variant")).alias("variant"),
        F.col("post_mean").alias("o_mean"),
        F.col("post_var").alias("o_var"),
    )
    # LEFT join: with a lone arm in the data the oracle's correlated
    # MAX(CASE ...) subquery still emits that arm's row with NULL
    # z_vs_other; an inner join would drop it (ADVICE r10).
    return post.join(F.broadcast(other), "variant", "left").select(
        F.col("variant").cast("bigint").alias("variant"),
        F.col("n").cast("bigint").alias("n"),
        "s",
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        "post_mean",
        "post_var",
        F.round(
            (F.col("post_mean") - F.col("o_mean"))
            / F.sqrt(F.col("post_var") + F.col("o_var")),
            9,
        ).alias("z_vs_other"),
    )


# --------------------------------------------------------------------------
# B565 (round 10) — spectral entropy of the monthly revenue series:
# Shannon entropy of the normalized periodogram (ts_periodogram's
# fixed-point trig machinery reused verbatim), the standard
# "how concentrated is the seasonality" feature in forecasting
# pipelines (tsfeatures / M4).  Exactness: the per-frequency LINEAR
# accumulators c_fp/s_fp stay exact integers (DECIMAL(38,0) /
# HUGEINT — linear headroom to ~1e38, far past any realistic sf); the
# NONLINEAR math (squaring, ratios, ln) runs as ONE fixed-order double
# expression tree over the 6 frequencies pivoted into a single row, so
# no aggregation order exists to diverge and no exact square can
# overflow (the r10 c_fp^2 DECIMAL(38,0) form hit a hard ceiling near
# sf30-50; ADVICE r10).  ln(p) is rounded to 9 (the libm-parity rule),
# each p*ln(p) term to 12, and the normalizer ln(K) to 9 before the
# final division — identical guards on both engines.  Scale: one
# monthly rollup + a K=6-term combine.


@query(
    "ts_spectral_entropy",
    oracle=f"""
WITH monthly AS (
  SELECT CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS INT) AS t,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1),
terms AS (
  SELECT k.k,
         CAST(SUM(m.y * ({{COS}})[k.k][m.t + 1]) AS HUGEINT) AS c_fp,
         CAST(SUM(m.y * ({{SIN}})[k.k][m.t + 1]) AS HUGEINT) AS s_fp
  FROM monthly m
  CROSS JOIN (SELECT unnest(generate_series(1, {len(_PGRAM_KS)})) AS k) k
  WHERE m.t >= 0 AND m.t < {_PGRAM_N}
  GROUP BY k.k),
piv AS (
  SELECT
    MAX(CASE WHEN k = 1 THEN CAST(c_fp AS DOUBLE) / {_PGRAM_FP} END) AS c1,
    MAX(CASE WHEN k = 1 THEN CAST(s_fp AS DOUBLE) / {_PGRAM_FP} END) AS s1,
    MAX(CASE WHEN k = 2 THEN CAST(c_fp AS DOUBLE) / {_PGRAM_FP} END) AS c2,
    MAX(CASE WHEN k = 2 THEN CAST(s_fp AS DOUBLE) / {_PGRAM_FP} END) AS s2,
    MAX(CASE WHEN k = 3 THEN CAST(c_fp AS DOUBLE) / {_PGRAM_FP} END) AS c3,
    MAX(CASE WHEN k = 3 THEN CAST(s_fp AS DOUBLE) / {_PGRAM_FP} END) AS s3,
    MAX(CASE WHEN k = 4 THEN CAST(c_fp AS DOUBLE) / {_PGRAM_FP} END) AS c4,
    MAX(CASE WHEN k = 4 THEN CAST(s_fp AS DOUBLE) / {_PGRAM_FP} END) AS s4,
    MAX(CASE WHEN k = 5 THEN CAST(c_fp AS DOUBLE) / {_PGRAM_FP} END) AS c5,
    MAX(CASE WHEN k = 5 THEN CAST(s_fp AS DOUBLE) / {_PGRAM_FP} END) AS s5,
    MAX(CASE WHEN k = 6 THEN CAST(c_fp AS DOUBLE) / {_PGRAM_FP} END) AS c6,
    MAX(CASE WHEN k = 6 THEN CAST(s_fp AS DOUBLE) / {_PGRAM_FP} END) AS s6
  FROM terms),
en AS (
  SELECT
         c1 * c1 + s1 * s1 AS e1,
         c2 * c2 + s2 * s2 AS e2,
         c3 * c3 + s3 * s3 AS e3,
         c4 * c4 + s4 * s4 AS e4,
         c5 * c5 + s5 * s5 AS e5,
         c6 * c6 + s6 * s6 AS e6
  FROM piv),
tt AS (SELECT *, e1 + e2 + e3 + e4 + e5 + e6 AS te FROM en),
pl AS (
  SELECT
    CASE WHEN e1 = 0 THEN 0e0
         ELSE round(e1 / te * round(ln(e1 / te), 9), 12) END AS t1,
    CASE WHEN e2 = 0 THEN 0e0
         ELSE round(e2 / te * round(ln(e2 / te), 9), 12) END AS t2,
    CASE WHEN e3 = 0 THEN 0e0
         ELSE round(e3 / te * round(ln(e3 / te), 9), 12) END AS t3,
    CASE WHEN e4 = 0 THEN 0e0
         ELSE round(e4 / te * round(ln(e4 / te), 9), 12) END AS t4,
    CASE WHEN e5 = 0 THEN 0e0
         ELSE round(e5 / te * round(ln(e5 / te), 9), 12) END AS t5,
    CASE WHEN e6 = 0 THEN 0e0
         ELSE round(e6 / te * round(ln(e6 / te), 9), 12) END AS t6
  FROM tt)
SELECT CAST({len(_PGRAM_KS)} AS BIGINT) AS n_components,
       round(-(t1 + t2 + t3 + t4 + t5 + t6), 9) AS entropy,
       round(-(t1 + t2 + t3 + t4 + t5 + t6) / round(ln({len(_PGRAM_KS)}e0), 9), 9)
         AS entropy_norm
FROM pl
""".replace("{COS}", _pgram_lit(_PGRAM_COS, True)).replace(
        "{SIN}", _pgram_lit(_PGRAM_SIN, True)
    ),
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
            .cast("int")
            .alias("t")
        )
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
        .filter((F.col("t") >= 0) & (F.col("t") < _PGRAM_N))
    )
    cos_lit = _pgram_lit(_PGRAM_COS, False)
    sin_lit = _pgram_lit(_PGRAM_SIN, False)
    ks = spark.range(1, len(_PGRAM_KS) + 1).select(F.col("id").cast("int").alias("k"))
    # linear fixed-point accumulators in decimal(38,0) — exact, and the
    # ONLY aggregation in the key; everything nonlinear below is a
    # single-row projection (no float aggregation order to diverge)
    terms = (
        monthly.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                (F.col("y") * F.expr(f"({cos_lit})[k - 1][t + 1 - 1]")).cast(
                    "decimal(38,0)"
                )
            ).alias("c_fp"),
            F.sum(
                (F.col("y") * F.expr(f"({sin_lit})[k - 1][t + 1 - 1]")).cast(
                    "decimal(38,0)"
                )
            ).alias("s_fp"),
        )
    )
    fp = float(_PGRAM_FP)
    piv = terms.agg(
        *[
            F.max(
                F.when(F.col("k") == k, F.col(col).cast("double") / fp)
            ).alias(f"{col[0]}{k}")
            for k in range(1, len(_PGRAM_KS) + 1)
            for col in ("c_fp", "s_fp")
        ]
    )
    en = piv.select(
        *[
            (F.col(f"c{k}") * F.col(f"c{k}") + F.col(f"s{k}") * F.col(f"s{k}")).alias(
                f"e{k}"
            )
            for k in range(1, len(_PGRAM_KS) + 1)
        ]
    )
    te = None
    for k in range(1, len(_PGRAM_KS) + 1):
        te = F.col(f"e{k}") if te is None else te + F.col(f"e{k}")
    tt = en.select("*", te.alias("te"))
    def _term(k: int):
        p = F.col(f"e{k}") / F.col("te")
        return F.when(F.col(f"e{k}") == 0, F.lit(0.0)).otherwise(
            F.round(p * F.round(F.log(p), 9), 12)
        )
    tsum = None
    for k in range(1, len(_PGRAM_KS) + 1):
        t = _term(k)
        tsum = t if tsum is None else tsum + t
    k_n = len(_PGRAM_KS)
    return tt.select(
        F.lit(k_n).cast("bigint").alias("n_components"),
        F.round(-tsum, 9).alias("entropy"),
        F.round(-tsum / F.round(F.log(F.lit(float(k_n))), 9), 9).alias(
            "entropy_norm"
        ),
    )


# --------------------------------------------------------------------------
# B567 (round 10) — fact-to-detail reconciliation: re-derive each
# order's header total from its lineitems (extprice * (1-disc) *
# (1+tax), the TPC-H charge formula) in EXACT DECIMAL and bill the
# deltas against o_totalprice per order priority — the standard
# warehouse audit that catches partial loads, double-applied discounts
# and orphaned headers.  Headerless details can't exist here (inner
# fact keys), but detail-less headers are counted explicitly via the
# left join.  Every comparison and sum is exact decimal; only the
# final average delta divides.  Scale: one fact-side rollup shuffled
# on the order key (map-side combined), then a broadcast-size
# per-priority aggregate.


@query(
    "dq_fact_detail_reconcile",
    oracle="""
WITH detail AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
             * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS computed
  FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT o.o_orderpriority AS pri,
         CAST(o.o_totalprice AS DECIMAL(12,2)) AS header,
         d.computed,
         CASE WHEN d.computed IS NULL THEN NULL
              ELSE abs(CAST(o.o_totalprice AS DECIMAL(12,2)) - d.computed) END AS adelta
  FROM orders o LEFT JOIN detail d ON o.o_orderkey = d.l_orderkey)
SELECT pri,
       COUNT(*) AS n_orders,
       COUNT(*) FILTER (WHERE computed IS NULL) AS n_no_detail,
       COUNT(*) FILTER (WHERE adelta = 0) AS n_exact,
       COUNT(*) FILTER (WHERE adelta > 0) AS n_mismatched,
       CAST(SUM(adelta) AS DOUBLE) AS sum_abs_delta,
       CAST(MAX(adelta) AS DOUBLE) AS max_abs_delta
FROM j GROUP BY pri
""",
)
def dq_fact_detail_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    one_ = F.lit(1).cast("decimal(4,2)")
    detail = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (one_ - F.col("l_discount").cast("decimal(4,2)"))
            * (one_ + F.col("l_tax").cast("decimal(4,2)"))
        ).alias("computed")
    )
    j = o.join(detail, o.o_orderkey == detail.l_orderkey, "left").select(
        F.col("o_orderpriority").alias("pri"),
        F.when(
            F.col("computed").isNotNull(),
            F.abs(F.col("o_totalprice").cast("decimal(12,2)") - F.col("computed")),
        ).alias("adelta"),
        F.col("computed").isNull().alias("no_detail"),
    )
    return j.groupBy("pri").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("no_detail"), 1)).alias("n_no_detail"),
        F.count(F.when(F.col("adelta") == 0, 1)).alias("n_exact"),
        F.count(F.when(F.col("adelta") > 0, 1)).alias("n_mismatched"),
        F.sum("adelta").cast("double").alias("sum_abs_delta"),
        F.max("adelta").cast("double").alias("max_abs_delta"),
    )


# --------------------------------------------------------------------------
# B568 (round 10) — inverse-propensity-weighted treatment effect: the
# observational-causal companion to the A/B family (CUPED, DiD, SPRT
# live here too).  Users are stratified by their FIRST event type (the
# deterministic min_by convention), the per-stratum propensity is the
# exact treated share, and the IPW means reweight each user's purchase
# count by n_s/n_treated_s (resp. n_s/n_control_s) — every weight a
# ratio of exact integers, each per-user term one double product
# rounded to 9 and frozen as DECIMAL before the order-independent sum.
# The naive difference-in-means rides along so the stratification
# adjustment is visible.  Scale: two per-user rollups + a 5-row
# stratum dim broadcast.


@query(
    "ab_test_ipw_estimate",
    oracle="""
WITH keyed AS (
  SELECT user_id, event_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|'
           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
  FROM events),
firsts AS (
  SELECT user_id,
         arg_min(event_type, k) AS stratum,
         CAST(user_id % 2 AS INT) AS t,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM keyed GROUP BY user_id),
strata AS (
  SELECT stratum, COUNT(*) AS n_s,
         CAST(SUM(t) AS BIGINT) AS nt_s
  FROM firsts GROUP BY stratum),
terms AS (
  SELECT f.t, f.y, s.n_s, s.nt_s, s.n_s - s.nt_s AS nc_s,
         CASE WHEN f.t = 1
              THEN CAST(round(CAST(f.y AS DOUBLE) * s.n_s / s.nt_s, 9)
                        AS DECIMAL(28,9))
              ELSE CAST(0 AS DECIMAL(28,9)) END AS w1,
         CASE WHEN f.t = 0
              THEN CAST(round(CAST(f.y AS DOUBLE) * s.n_s / (s.n_s - s.nt_s), 9)
                        AS DECIMAL(28,9))
              ELSE CAST(0 AS DECIMAL(28,9)) END AS w0
  FROM firsts f JOIN strata s ON f.stratum = s.stratum)
SELECT COUNT(*) AS n_users,
       (SELECT COUNT(*) FROM strata) AS n_strata,
       round(CAST(SUM(w1) AS DOUBLE) / COUNT(*), 9) AS mu1_ipw,
       round(CAST(SUM(w0) AS DOUBLE) / COUNT(*), 9) AS mu0_ipw,
       round(CAST(SUM(w1) AS DOUBLE) / COUNT(*)
             - CAST(SUM(w0) AS DOUBLE) / COUNT(*), 9) AS ate_ipw,
       round(CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END)
             - CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS DOUBLE)
               / SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END), 9) AS ate_naive
FROM terms
""",
)
def ab_test_ipw_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    firsts = ev.groupBy("user_id").agg(
        F.min_by("event_type", k).alias("stratum"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
    ).select(
        "stratum",
        "y",
        (F.col("user_id") % 2).cast("int").alias("t"),
    )
    strata = firsts.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum("t").cast("bigint").alias("nt_s"),
    )
    w1 = F.when(
        F.col("t") == 1,
        F.round(F.col("y").cast("double") * F.col("n_s") / F.col("nt_s"), 9).cast(
            "decimal(28,9)"
        ),
    ).otherwise(F.lit(0).cast("decimal(28,9)"))
    w0 = F.when(
        F.col("t") == 0,
        F.round(
            F.col("y").cast("double") * F.col("n_s") / (F.col("n_s") - F.col("nt_s")),
            9,
        ).cast("decimal(28,9)"),
    ).otherwise(F.lit(0).cast("decimal(28,9)"))
    terms = firsts.join(F.broadcast(strata), "stratum").select(
        "t", "y", w1.alias("w1"), w0.alias("w0")
    )
    n_strata = strata.agg(F.count(F.lit(1)).alias("n_strata"))
    agg = terms.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("w1").cast("double").alias("sw1"),
        F.sum("w0").cast("double").alias("sw0"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0)).cast("double").alias("sy1"),
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0)).cast("double").alias("sy0"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).alias("n0"),
    )
    return agg.crossJoin(F.broadcast(n_strata)).select(
        "n_users",
        F.col("n_strata").cast("bigint").alias("n_strata"),
        F.round(F.col("sw1") / F.col("n_users"), 9).alias("mu1_ipw"),
        F.round(F.col("sw0") / F.col("n_users"), 9).alias("mu0_ipw"),
        F.round(
            F.col("sw1") / F.col("n_users") - F.col("sw0") / F.col("n_users"), 9
        ).alias("ate_ipw"),
        F.round(
            F.col("sy1") / F.col("n1") - F.col("sy0") / F.col("n0"), 9
        ).alias("ate_naive"),
    )


# --------------------------------------------------------------------------
# B582 (round 11) — hexagonal grid binning (axial coordinates + cube
# rounding): the H3/Uber-style spatial index shape next to the square
# grid of geo_nearest_site — hex cells have uniform neighbor distance,
# so density aggregates don't carry the square grid's corner bias.
# Flat-top hexes of size 5 degrees over the synthetic md5 coordinate
# space: axial (qf, rf) from the standard basis (sqrt(3)/3 embedded as
# a LITERAL so no engine libm is consulted), then cube rounding — round
# all three cube axes and re-derive the one with the largest rounding
# error from the other two.  Every step is identical double arithmetic
# + away-from-zero rounds on identical operands, so the cell ids match
# bitwise across engines; tests cross-check against an independent
# per-point Python reference.  Scale: pure per-row projection + one
# aggregate — the canonical pre-shuffle binning for spatial rollups.

_HEX_SIZE = "5.0"
_HEX_S3O3 = "0.5773502691896257"  # sqrt(3)/3, shared literal


def _hex_qr_sql(x: str, y: str) -> dict[str, str]:
    """The shared axial/cube-rounding expression set (ANSI, both engines)."""
    qf = f"(((2.0 / 3.0) * {x}) / {_HEX_SIZE})"
    rf = f"((((-1.0) / 3.0) * {x} + {_HEX_S3O3} * {y}) / {_HEX_SIZE})"
    return {"qf": qf, "rf": rf}


@query(
    "geo_hex_binning",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey, {_CLON_D} AS x, {_CLAT_D} AS y,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_c
  FROM customer),
ax AS (
  SELECT *, {_hex_qr_sql('x', 'y')['qf']} AS qf,
            {_hex_qr_sql('x', 'y')['rf']} AS rf
  FROM pts),
rnd AS (
  SELECT *, round(qf) AS rx, round(-qf - rf) AS ry, round(rf) AS rz FROM ax),
adj AS (
  SELECT *, abs(rx - qf) AS dx, abs(ry - (-qf - rf)) AS dy,
            abs(rz - rf) AS dz
  FROM rnd),
fin AS (
  SELECT bal_c,
         CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END
              AS BIGINT) AS q,
         CAST(CASE WHEN dx > dy AND dx > dz THEN rz
                   WHEN dy > dz THEN rz
                   ELSE -rx - ry END AS BIGINT) AS r
  FROM adj)
SELECT q, r, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(bal_c) AS BIGINT) AS bal_c_sum
FROM fin GROUP BY q, r
""",
)
def geo_hex_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    e = _hex_qr_sql("x", "y")
    pts = c.select(
        F.expr(_CLON_S).alias("x"),
        F.expr(_CLAT_S).alias("y"),
        (F.col("c_acctbal").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("bal_c"),
    )
    ax = pts.select(
        "bal_c", F.expr(e["qf"]).alias("qf"), F.expr(e["rf"]).alias("rf")
    )
    rnd = ax.select(
        "*",
        F.expr("round(qf)").alias("rx"),
        F.expr("round(-qf - rf)").alias("ry"),
        F.expr("round(rf)").alias("rz"),
    )
    adj = rnd.select(
        "*",
        F.expr("abs(rx - qf)").alias("dx"),
        F.expr("abs(ry - (-qf - rf))").alias("dy"),
        F.expr("abs(rz - rf)").alias("dz"),
    )
    fin = adj.select(
        "bal_c",
        F.expr(
            "cast(case when dx > dy and dx > dz then -ry - rz else rx end"
            " as bigint)"
        ).alias("q"),
        F.expr(
            "cast(case when dx > dy and dx > dz then rz"
            " when dy > dz then rz else -rx - ry end as bigint)"
        ).alias("r"),
    )
    return fin.groupBy("q", "r").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bal_c").alias("bal_c_sum"),
    )


# --------------------------------------------------------------------------
# B585 (round 11) — polygon area + orientation by the shoelace formula,
# EXACT: the missing polygon-geometry tier next to the point ops
# (geo_nearest_site, geo_geohash_cells, join_point_in_polygon,
# geo_hex_binning).  Each supplier gets a synthetic 8-vertex star
# polygon around its md5 coordinate: radii from the salted-md5 integer
# idiom, trig from EMBEDDED 1e4 fixed-point literals (no engine libm),
# so every vertex is an exact BIGINT and the shoelace cross-product
# sum 2A = sum(x_k*y_{k+1} - x_{k+1}*y_k) is exact integer arithmetic
# end to end — each term is computed directly from (suppkey, k), no
# array zip needed, so the whole thing is one explode + one groupBy.
# Monotone angles make every star polygon simple, so |2A| is twice the
# true area and the sign is the winding orientation.  Scale: 8 rows
# per polygon, one shuffle.

_POLY_COS = "(10000, 7071, 0, -7071, -10000, -7071, 0, 7071)"
_POLY_SIN = "(0, 7071, 10000, 7071, 0, -7071, -10000, -7071)"


@query(
    "geo_polygon_shoelace",
    oracle=f"""
WITH s AS (
  SELECT s_suppkey, s_nationkey,
         CAST(round({_SLON_D} * 100) AS BIGINT) AS cx,
         CAST(round({_SLAT_D} * 100) AS BIGINT) AS cy
  FROM supplier),
v AS (
  SELECT s_suppkey, s_nationkey, k.k,
         ((('0x' || substr(md5('poly:' || s_suppkey || ':' || k.k), 1, 8))::BIGINT
           % 100) + 100) AS r,
         ((('0x' || substr(md5('poly:' || s_suppkey || ':' || ((k.k + 1) % 8)), 1, 8))::BIGINT
           % 100) + 100) AS r2,
         cx, cy
  FROM s CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) k),
t AS (
  SELECT s_suppkey, s_nationkey,
         (cx * 10000 + r * (list_value{_POLY_COS})[k + 1])
           * (cy * 10000 + r2 * (list_value{_POLY_SIN})[((k + 1) % 8) + 1])
         - (cx * 10000 + r2 * (list_value{_POLY_COS})[((k + 1) % 8) + 1])
           * (cy * 10000 + r * (list_value{_POLY_SIN})[k + 1]) AS cross_k
  FROM v),
poly AS (
  SELECT s_suppkey, s_nationkey, SUM(cross_k) AS area2
  FROM t GROUP BY s_suppkey, s_nationkey)
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_polys,
       CAST(SUM(abs(area2)) AS BIGINT) AS sum_abs_area2,
       CAST(MAX(abs(area2)) AS BIGINT) AS max_abs_area2,
       CAST(SUM(CASE WHEN area2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ccw
FROM poly GROUP BY s_nationkey
""",
)
def geo_polygon_shoelace(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.expr(f"cast(round({_SLON_S} * 100) as bigint)").alias("cx"),
        F.expr(f"cast(round({_SLAT_S} * 100) as bigint)").alias("cy"),
    )
    cos_arr = "array" + _POLY_COS
    sin_arr = "array" + _POLY_SIN
    rad = (
        "((cast(conv(substring(md5(concat('poly:', cast(s_suppkey as string),"
        " ':', cast({K} as string))), 1, 8), 16, 10) as bigint) % 100) + 100)"
    )
    v = s.select(
        "s_suppkey",
        "s_nationkey",
        "cx",
        "cy",
        F.explode(F.expr("sequence(0, 7)")).alias("k"),
    ).select(
        "*",
        F.expr(rad.format(K="k")).alias("r"),
        F.expr(rad.format(K="pmod(k + 1, 8)")).alias("r2"),
    )
    cross_k = F.expr(
        f"(cx * 10000 + r * ({cos_arr})[k])"
        f" * (cy * 10000 + r2 * ({sin_arr})[pmod(k + 1, 8)])"
        f" - (cx * 10000 + r2 * ({cos_arr})[pmod(k + 1, 8)])"
        f" * (cy * 10000 + r * ({sin_arr})[k])"
    )
    poly = (
        v.select("s_suppkey", "s_nationkey", cross_k.alias("cross_k"))
        .groupBy("s_suppkey", "s_nationkey")
        .agg(F.sum("cross_k").alias("area2"))
    )
    # abs(area2) ~ 3e17 per polygon, so a BIGINT sum overflows past ~30
    # polys/nation x large SF while DuckDB's HUGEINT stays exact — sum in
    # decimal(38,0) before the final BIGINT cast (ADVICE r11; same
    # headroom rule as graph_transitivity).
    return poly.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_polys"),
        F.sum(F.abs("area2").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("sum_abs_area2"),
        F.max(F.abs("area2")).alias("max_abs_area2"),
        F.sum((F.col("area2") > 0).cast("bigint")).alias("n_ccw"),
    )
