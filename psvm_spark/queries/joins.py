"""Join operators: B9-B16 from SURVEY.md section 2.2.

Scale notes (100 TB):
- ``join_broadcast``: dims (part/nation/region/supplier) stay dimension-
  sized at scale — `F.broadcast` pins a broadcast hash join, no shuffle
  of the fact table.
- ``join_sortmerge``: fact-fact (lineitem x orders) shuffles on the join
  key; AQE handles skew-splitting. At 100 TB both sides would be
  bucketed on orderkey at write time to skip the shuffle entirely
  (see psvm_spark/operators/bucketing.py).
- ``join_range`` / ``join_asof``: never expressed as a naive non-equi
  join (O(n^2) BroadcastNestedLoop). Range -> equi-join on coarse time
  buckets + band filter; as-of -> union + running `last` window, one
  shuffle on (user), no per-row subqueries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psvm_spark.catalog import load_table
from psvm_spark.operators.asof import asof_join
from psvm_spark.operators.rangejoin import band_join
from psvm_spark.queries._util import checkpoint, dmoney, drate, dsum, one
from psvm_spark.registry import query
from psvm_spark.session import scoped_confs

# --------------------------------------------------------------------------
# B9 — broadcast hash join: fact x small dim.


@query(
    "join_broadcast",
    oracle="""
SELECT p.p_brand,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = dmoney("l_extendedprice") * (one() - drate("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(dmoney("l_quantity")).alias("sum_qty"),
            dsum(revenue).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# B10 — shuffle (sort-merge) join: fact x fact on l_orderkey.


@query(
    "join_sortmerge",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       COUNT(DISTINCT o.o_orderkey) AS n_orders,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus <> 'P'
GROUP BY o.o_orderpriority
""",
)
def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    revenue = dmoney("l_extendedprice") * (one() - drate("l_discount"))
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            dsum(revenue).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# B11 — outer joins.  Full outer over nation presence in customers vs
# suppliers exercises unmatched rows on BOTH sides (only 10 suppliers),
# and the left join keeps customers with zero orders.


@query(
    "join_outer",
    oracle="""
WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
     sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
       COALESCE(cn.n_cust, 0) AS n_cust,
       COALESCE(sn.n_supp, 0) AS n_supp
FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
""",
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, "nk", "full").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "join_left_count",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment,
       COUNT(o.o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spent
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
""",
)
def join_left_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dmoney("o_totalprice")), F.lit(0))
            .cast("double")
            .alias("total_spent"),
        )
    )


# --------------------------------------------------------------------------
# B12 — semi / anti joins (existence tests, no row multiplication).


@query(
    "join_semi_anti",
    oracle="""
SELECT 'has_urgent_order' AS cohort, COUNT(*) AS n
FROM customer c
WHERE c.c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'no_order_at_all' AS cohort, COUNT(*) AS n
FROM customer c
WHERE c.c_custkey NOT IN (SELECT o_custkey FROM orders)
""",
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    semi = (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("has_urgent_order").alias("cohort"), "n")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("no_order_at_all").alias("cohort"), "n")
    )
    return semi.unionByName(anti)


# --------------------------------------------------------------------------
# B13 — theta (non-equi) join.  Small x small -> BroadcastNestedLoop is
# the *correct* plan here; the scale-sensitive non-equi cases are
# join_range/join_asof below which avoid NL entirely.


@query(
    "join_theta",
    oracle="""
SELECT a.s_suppkey AS low_supp, b.s_suppkey AS high_supp,
       b.s_acctbal - a.s_acctbal AS bal_gap
FROM supplier a JOIN supplier b
  ON a.s_acctbal < b.s_acctbal AND a.s_nationkey <> b.s_nationkey
""",
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    a = s.select(
        F.col("s_suppkey").alias("low_supp"),
        F.col("s_acctbal").alias("a_bal"),
        F.col("s_nationkey").alias("a_nk"),
    )
    b = s.select(
        F.col("s_suppkey").alias("high_supp"),
        F.col("s_acctbal").alias("b_bal"),
        F.col("s_nationkey").alias("b_nk"),
    )
    return (
        a.join(F.broadcast(b), (F.col("a_bal") < F.col("b_bal")) & (F.col("a_nk") != F.col("b_nk")))
        .select("low_supp", "high_supp", (F.col("b_bal") - F.col("a_bal")).alias("bal_gap"))
    )


# --------------------------------------------------------------------------
# B14 — range (band) join: clicks within +-5 minutes of an error, same
# user.  Implemented scale-correctly via bucketed equi-join
# (operators/rangejoin.py), NOT a nested-loop non-equi join.


@query(
    "join_range",
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
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.unix_micros("ts").alias("e_us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.unix_micros("ts").alias("c_us")
    )
    joined = band_join(
        errors,
        clicks,
        left_keys=["user_id"],
        right_keys=["c_user"],
        left_ts="e_us",
        right_ts="c_us",
        band=300_000_000,  # 5 minutes in us
    )
    return joined.groupBy("error_id", "user_id").agg(F.count(F.lit(1)).alias("n_nearby_clicks"))


# --------------------------------------------------------------------------
# B15 — as-of join: for each purchase, the most recent view by the same
# user at or before the purchase.  Union + running-last window
# (operators/asof.py): one shuffle on user_id, no correlated subqueries.


@query(
    "join_asof",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id,
       p.ts AS purchase_ts,
       (SELECT max(v.ts) FROM events v
         WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts)
       AS last_view_ts
FROM events p
WHERE p.event_type = 'purchase'
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    return asof_join(
        purchases,
        views,
        left_keys=["user_id"],
        right_keys=["v_user"],
        left_ts="purchase_ts",
        right_ts="view_ts",
        value_col="view_ts",
        out_col="last_view_ts",
    )


# --------------------------------------------------------------------------
# B16 — cross join (explicit Cartesian on small inputs).


@query(
    "join_cross",
    oracle="""
SELECT r1.r_name AS from_region, r2.r_name AS to_region
FROM region r1 CROSS JOIN region r2
WHERE r1.r_name <> r2.r_name
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    r1 = r.select(F.col("r_name").alias("from_region"))
    r2 = r.select(F.col("r_name").alias("to_region"))
    return r1.crossJoin(r2).filter(F.col("from_region") != F.col("to_region"))


# --------------------------------------------------------------------------
# Bucketed co-located join (the 100 TB fact-fact path): both sides are
# written bucketed+sorted on the join key, so the sort-merge join reads
# matching buckets into the same task — zero Exchange in the join plan
# (asserted in tests/test_operators.py).  The bucketed write is the
# one-time ingest cost; this query pays it inline to stay hermetic.


@query(
    "join_bucketed",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.operators.bucketing import bucketed_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_orderpriority")
    )
    joined = bucketed_join(spark, li, o, "l_orderkey", "o_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# NOT IN with NULLs: the classic three-valued-logic trap.  If the
# subquery side contains a single NULL, `x NOT IN (...)` is never TRUE,
# and a NULL probe value is never TRUE either.  Spark compiles this to
# a null-aware anti join (BroadcastNestedLoopJoin with the NAAJ flag)
# rather than a plain anti join, which would silently return wrong
# rows.  NULLs are injected deterministically on both sides so the
# oracle exercises every branch of the truth table.


@query(
    "join_not_in_nulls",
    oracle="""
WITH probe AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_nationkey END AS nk
  FROM customer
), block AS (
  SELECT CASE WHEN s_suppkey % 89 = 0 THEN NULL ELSE s_nationkey END AS bnk
  FROM supplier
  WHERE s_nationkey < 13 OR s_suppkey % 89 = 0
)
SELECT COUNT(*) AS n_probe,
       COUNT(*) FILTER (WHERE nk NOT IN (SELECT bnk FROM block)) AS n_not_in,
       COUNT(*) FILTER (WHERE nk NOT IN (SELECT bnk FROM block WHERE bnk IS NOT NULL))
         AS n_not_in_no_nulls
FROM probe
""",
)
def join_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 97 == 0, F.lit(None)).otherwise(F.col("c_nationkey")).alias("nk"),
    ).createOrReplaceTempView("nin_probe")
    s.filter((F.col("s_nationkey") < 13) | (F.col("s_suppkey") % 89 == 0)).select(
        F.when(F.col("s_suppkey") % 89 == 0, F.lit(None)).otherwise(F.col("s_nationkey")).alias("bnk")
    ).createOrReplaceTempView("nin_block")
    return spark.sql(
        """
SELECT COUNT(*) AS n_probe,
       COUNT(*) FILTER (WHERE nk NOT IN (SELECT bnk FROM nin_block)) AS n_not_in,
       COUNT(*) FILTER (WHERE nk NOT IN (SELECT bnk FROM nin_block WHERE bnk IS NOT NULL))
         AS n_not_in_no_nulls
FROM nin_probe
"""
    )


# --------------------------------------------------------------------------
# B74 (round 4) — bloom-filter join pruning: the 100 TB semi-join
# pattern.  When a fact table joins a filtered dimension subset, the
# win is dropping fact rows BEFORE the shuffle.  Spark's own runtime
# row-level filtering (spark.sql.optimizer.runtime.bloomFilter.enabled)
# injects exactly this under AQE when its heuristics fire; the
# DataFrame-native bloom here shows the mechanics explicitly and works
# where those heuristics decline (e.g. a pre-computed filter reused
# across queries).
#
# Build (small side, one aggregation): k=3 hash positions per key via
# seeded xxhash64 into an m=65536-bit space, OR-folded into per-word
# masks, collected into ONE map<word, mask> row and broadcast.  Probe
# (fact side, narrow map): a row survives iff all 3 bits are set —
# false-positive rate ~(1 - e^{-kn/m})^k, well under 1% at the fixture
# selectivity.  The exact semi-join afterwards removes false positives,
# so the bloom only changes WHERE rows are dropped, never the result —
# which is why the oracle is the plain semi-join SQL.


@query(
    "join_bloom_prune",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F')
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    m_bits = 1 << 16
    seeds = [1, 2, 3]
    li = load_table(spark, sf_dir, "lineitem")
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "F")
        )
        .select("o_orderkey")
    )

    def positions(col: str):
        return [F.pmod(F.xxhash64(F.lit(s), F.col(col)), F.lit(m_bits)) for s in seeds]

    bloom = (
        keys.select(F.explode(F.array(*positions("o_orderkey"))).alias("pos"))
        .groupBy(F.expr("cast(pos div 64 as int)").alias("word"))
        .agg(F.expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").alias("mask"))
        .agg(F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias("bloom"))
    )
    probed = li.join(F.broadcast(bloom))
    hit = None
    for s in seeds:
        this = F.expr(
            f"coalesce(element_at(bloom, cast(pmod(xxhash64({s}, l_orderkey), {m_bits}) div 64 as int)), 0L)"
            f" & shiftleft(1L, cast(pmod(xxhash64({s}, l_orderkey), {m_bits}) % 64 as int)) != 0"
        )
        hit = this if hit is None else (hit & this)
    pruned = probed.filter(hit).drop("bloom")
    exact = pruned.join(F.broadcast(keys), pruned.l_orderkey == keys.o_orderkey, "left_semi")
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(dmoney("l_extendedprice")).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# B84 (round 4) — interval-overlap join (Allen-algebra overlap), the
# second non-equi family after the point-in-band join: error intervals
# x click intervals per user, overlap iff s1 < e2 AND s2 < e1.  Never a
# nested loop: with interval length bounded by L (events.value <= ~490 s)
# and bucket width B = 512 s >= L, every interval covers <= 2 coarse
# buckets, so exploding both sides to their covered buckets and
# equi-joining on (user, bucket) yields <= 4 candidates per true pair;
# the exact predicate filters and DISTINCT dedups the multi-bucket
# duplicates.  At 100 TB the shuffle key (user, bucket) is
# high-cardinality and skew-free.  Oracle: the naive non-equi join.


@query(
    "join_interval_overlap",
    oracle="""
WITH iv AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS s_us,
         epoch_us(ts) + CAST(round(value * 60 * 1000000) AS BIGINT) AS e_us
  FROM events),
pairs AS (
  SELECT a.user_id, a.event_id AS error_id, b.event_id AS click_id
  FROM iv a JOIN iv b
    ON a.user_id = b.user_id
   AND a.s_us < b.e_us AND b.s_us < a.e_us
  WHERE a.event_type = 'error' AND b.event_type = 'click')
SELECT user_id, COUNT(*) AS n_overlaps
FROM pairs GROUP BY user_id
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket_us = 32768 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + F.round(F.col("value") * 60 * 1_000_000).cast("bigint")
        ).alias("e_us"),
    )

    def buckets(side):
        return side.select(
            "*",
            F.explode(
                F.sequence(
                    F.expr(f"s_us div {bucket_us}"), F.expr(f"e_us div {bucket_us}")
                )
            ).alias("bk"),
        )

    a = buckets(iv.filter(F.col("event_type") == "error")).select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("error_id"),
        F.col("s_us").alias("a_s"),
        F.col("e_us").alias("a_e"),
        "bk",
    )
    b = buckets(iv.filter(F.col("event_type") == "click")).select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("click_id"),
        F.col("s_us").alias("b_s"),
        F.col("e_us").alias("b_e"),
        "bk",
    )
    pairs = (
        a.join(b, (a.a_user == b.b_user) & (a.bk == b.bk))
        .filter((F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e")))
        .select(F.col("a_user").alias("user_id"), "error_id", "click_id")
        .distinct()
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_overlaps"))


# --------------------------------------------------------------------------
# B94 (round 4) — blocked edit-distance (Levenshtein) fuzzy join, the
# entity-resolution workhorse.  Scale shape: (1) roll names up to
# DISTINCT values with multiplicity first — at 100 TB the distinct-name
# set is orders of magnitude smaller than the table; (2) candidates
# form only inside a block (shared SECOND token of the 5-token TPC-H
# p_name — both engines block on split(name)[2], 1-indexed), a pure
# equi-join, never all-pairs; (3) the exact Levenshtein verify runs on
# the blocked candidates only.  Both engines implement classic
# Wagner-Fischer, so the distances are identical ints.


@query(
    "join_edit_distance_blocked",
    oracle="""
WITH names AS (
  SELECT p_name AS name, COUNT(*) AS n,
         string_split(p_name, ' ')[2] AS noun
  FROM part GROUP BY p_name),
pairs AS (
  SELECT a.name AS name_a, b.name AS name_b, a.noun,
         levenshtein(a.name, b.name) AS dist,
         a.n * b.n AS pair_weight
  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name)
SELECT name_a, name_b, noun, CAST(dist AS INT) AS dist,
       CAST(pair_weight AS BIGINT) AS pair_weight
FROM pairs WHERE dist <= 3
""",
)
def join_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("noun", F.element_at(F.split("name", " "), 2))
    a = names.alias("a")
    b = names.alias("b")
    pairs = a.join(
        b,
        (F.col("a.noun") == F.col("b.noun")) & (F.col("a.name") < F.col("b.name")),
    ).select(
        F.col("a.name").alias("name_a"),
        F.col("b.name").alias("name_b"),
        F.col("a.noun").alias("noun"),
        F.levenshtein(F.col("a.name"), F.col("b.name")).alias("dist"),
        (F.col("a.n") * F.col("b.n")).alias("pair_weight"),
    )
    return pairs.filter(F.col("dist") <= 3).select(
        "name_a",
        "name_b",
        "noun",
        F.col("dist").cast("int").alias("dist"),
        F.col("pair_weight").cast("bigint").alias("pair_weight"),
    )


# --------------------------------------------------------------------------
# B103 (round 4) — NEAREST-in-time as-of join (sensor-fusion flavor:
# match each purchase to its closest view in either direction, ties to
# the earlier side).  Same union+single-window trick as the backward
# as-of (operators/asof.py): both streams interleave on one
# (user_id, ts, kind) ordering, the backward candidate is
# last(ignorenulls) over the preceding frame, the forward candidate is
# first(ignorenulls) over the strictly-following frame (same-ts views
# sort before the purchase, so "following" is strictly later), and the
# winner is one integer-microsecond comparison.  One shuffle on
# user_id, no join at all — the 100 TB shape for temporal alignment.


@query(
    "join_asof_nearest",
    oracle="""
WITH u AS (
  SELECT user_id, ts, 0 AS kind, event_id, ts AS view_ts,
         CAST(NULL AS BIGINT) AS purchase_id
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, 1 AS kind, event_id, CAST(NULL AS TIMESTAMP) AS view_ts,
         event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'),
w AS (
  SELECT *,
         last_value(view_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, kind, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
         first_value(view_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, kind, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd_ts
  FROM u)
SELECT purchase_id, user_id, ts AS purchase_ts,
       CASE
         WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL
         WHEN fwd_ts IS NULL THEN back_ts
         WHEN back_ts IS NULL THEN fwd_ts
         WHEN epoch_us(ts) - epoch_us(back_ts)
              <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_ts
         ELSE fwd_ts
       END AS nearest_view_ts,
       CASE
         WHEN back_ts IS NULL AND fwd_ts IS NULL THEN 'none'
         WHEN fwd_ts IS NULL THEN 'back'
         WHEN back_ts IS NULL THEN 'fwd'
         WHEN epoch_us(ts) - epoch_us(back_ts)
              <= epoch_us(fwd_ts) - epoch_us(ts) THEN 'back'
         ELSE 'fwd'
       END AS direction
FROM w WHERE kind = 1
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        "event_id",
        F.col("ts").alias("view_ts"),
        F.lit(None).cast("bigint").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("timestamp").alias("view_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    u = views.unionByName(purchases)
    order = [F.col("ts"), F.col("kind"), F.col("event_id")]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w = u.select(
        "*",
        F.last("view_ts", ignorenulls=True).over(w_back).alias("back_ts"),
        F.first("view_ts", ignorenulls=True).over(w_fwd).alias("fwd_ts"),
    )
    back_closer = (
        F.unix_micros("ts") - F.unix_micros("back_ts")
        <= F.unix_micros("fwd_ts") - F.unix_micros("ts")
    )
    nearest = (
        F.when(F.col("back_ts").isNull() & F.col("fwd_ts").isNull(), F.lit(None).cast("timestamp"))
        .when(F.col("fwd_ts").isNull(), F.col("back_ts"))
        .when(F.col("back_ts").isNull(), F.col("fwd_ts"))
        .when(back_closer, F.col("back_ts"))
        .otherwise(F.col("fwd_ts"))
    )
    direction = (
        F.when(F.col("back_ts").isNull() & F.col("fwd_ts").isNull(), F.lit("none"))
        .when(F.col("fwd_ts").isNull(), F.lit("back"))
        .when(F.col("back_ts").isNull(), F.lit("fwd"))
        .when(back_closer, F.lit("back"))
        .otherwise(F.lit("fwd"))
    )
    return w.filter(F.col("kind") == 1).select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        nearest.alias("nearest_view_ts"),
        direction.alias("direction"),
    )


# --------------------------------------------------------------------------
# B125 (round 4) — NULL-safe equi-join (<=>): Spark turns the
# null-safe equality into a genuine HASH join key (knownfloatingpointnormalized
# coalesce trick internally), so NULL==NULL pairs match WITHOUT the
# BroadcastNestedLoopJoin a naive `a = b OR (a IS NULL AND b IS NULL)`
# predicate would plan — the difference between a scalable join and a
# scale-killer when the key is sparsely populated.  The plan audit
# keeps this query OFF the whitelist, pinning the hash-join shape.
# Keys: customers and suppliers joined on nation-phone-prefix, nulled
# out for a deterministic subset on each side.


@query(
    "join_null_safe_eq",
    oracle="""
WITH c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN NULL
              ELSE CAST(c_nationkey AS BIGINT) END AS k
  FROM customer),
s AS (
  SELECT s_suppkey,
         CASE WHEN s_suppkey % 5 = 0 THEN NULL
              ELSE CAST(s_nationkey AS BIGINT) END AS k
  FROM supplier)
SELECT COALESCE(CAST(c.k AS VARCHAR), 'NULL') AS key_group,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
GROUP BY 1
""",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .cast("bigint")
        .alias("ck"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("s_nationkey"))
        .cast("bigint")
        .alias("sk"),
    )
    joined = c.join(s, F.col("ck").eqNullSafe(F.col("sk")))
    return joined.groupBy(
        F.coalesce(F.col("ck").cast("string"), F.lit("NULL")).alias("key_group")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))


# --------------------------------------------------------------------------
# B188 (round 6) — as-of join with a staleness tolerance: the
# market-data pattern ("latest quote, but never older than 30 min").
# Identity that keeps it one shuffle: the latest match within tolerance
# IS the unbounded as-of match when that match is fresh enough, else
# NULL — any older right row is strictly staler — so the tolerance is a
# post-join null-out on the existing union + running-last window, with
# zero extra joins or shuffles.  The oracle's correlated subquery
# bounds the window directly; parity proves the identity.

_ASOF_TOL = "30 minutes"


@query(
    "join_asof_tolerance",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id,
       p.ts AS purchase_ts,
       (SELECT max(v.ts) FROM events v
         WHERE v.user_id = p.user_id AND v.event_type = 'view'
           AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE)
       AS last_fresh_view_ts
FROM events p
WHERE p.event_type = 'purchase'
""",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    matched = asof_join(
        purchases,
        views,
        left_keys=["user_id"],
        right_keys=["v_user"],
        left_ts="purchase_ts",
        right_ts="view_ts",
        value_col="view_ts",
        out_col="last_view_ts",
    )
    fresh = F.col("last_view_ts") >= F.col("purchase_ts") - F.expr(
        f"INTERVAL {_ASOF_TOL}"
    )
    return matched.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        F.when(fresh, F.col("last_view_ts")).alias("last_fresh_view_ts"),
    )


# --------------------------------------------------------------------------
# B520 (round 10) — LATERAL correlated subquery join: per-customer
# top-2 orders by price via `, LATERAL (... ORDER BY ... LIMIT 2)` —
# the modern SQL spelling of the per-group top-k (B29) that Catalyst
# decorrelates into a ranked window join rather than executing one
# subquery per outer row (the rewrite is what makes the construct
# usable at 100 TB: the naive interpretation is O(customers) scans).
# The oracle runs DuckDB's native LATERAL; tie-break on o_orderkey
# makes the top-2 deterministic.


@query(
    "join_lateral_topn",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment, s.o_orderkey,
       s.price_c
FROM customer c,
LATERAL (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_c
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY price_c DESC, o_orderkey ASC
  LIMIT 2) s
""",
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "cust_lat_v"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ord_lat_v")
    return spark.sql(
        """SELECT c.c_custkey, c.c_mktsegment, s.o_orderkey, s.price_c
           FROM cust_lat_v c,
           LATERAL (
             SELECT o_orderkey,
                    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                      AS price_c
             FROM ord_lat_v o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY price_c DESC, o_orderkey ASC
             LIMIT 2) s"""
    )


# --------------------------------------------------------------------------
# B543 (round 10) — runtime bloom-filter join pruning (Catalyst's
# row-level sibling of dynamic partition pruning): when a shuffle join
# probes a big fact with a SELECTIVELY FILTERED build side, the
# optimizer injects `BloomFilterAggregate` over the build keys and
# wraps the fact scan in `BloomFilterMightContain`, dropping most fact
# rows BEFORE the shuffle — at 100 TB this is the difference between
# shuffling the whole fact and shuffling the ~1% that can match.  The
# size thresholds that gate injection target real clusters, so the
# demo lowers them for the fixture (set/restored around the build);
# the test pins `bloomfilter` in the physical plan.  Values are
# filter-independent, so the oracle is the plain selective join.


@query(
    "join_runtime_bloom_filter",
    oracle="""
SELECT l.l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderkey % 19 = 0
GROUP BY l.l_orderkey
""",
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    overrides = {
        # thresholds target cluster-sized relations; open the gate on
        # the fixture so the injection PATH (not the threshold) is
        # under test.  autoBroadcastJoinThreshold -1 forces the
        # shuffle join the bloom rewrite applies to.
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_confs(spark, overrides):
        dim = o.filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 19 == 0)
        ).select("o_orderkey")
        joined = li.join(dim, li.l_orderkey == dim.o_orderkey)
        out = joined.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
        # Materialize the plan decision under the overrides: the
        # checkpoint pins both values and physical plan before the confs
        # are restored.
        return checkpoint(out)


# --------------------------------------------------------------------------
# B577 (round 11) — AQE skew-join split (OptimizeSkewedJoin): the
# RUNTIME answer to the manual salting of join_salted_skew — AQE
# measures the map-output sizes after the shuffle, sees one partition
# dwarfing the median, and splits it into sub-partitions that join the
# (duplicated) other side in parallel, no query rewrite.  The fixture
# plants the skew: half of lineitem collapses onto key 0 while the
# other half keeps distinct keys, and the dim side has exactly one row
# per key, so the hot partition is ~half the fact table.  Thresholds
# are opened (they target cluster-sized shuffles) and broadcast is
# disabled so the sort-merge path AQE splits is the one that runs —
# the split itself is pinned in tests via the executed plan's
# `SortMergeJoin(skew=true)` + `AQEShuffleRead skewed`.  Two shapes
# matter, found by probing this build: (a) the skewed partition can
# only be split along MAP boundaries, and the single-file fixture scan
# is ONE map task — the round-robin repartition(8) exists to give the
# splitter 8 map outputs to slice (on a real cluster the thousands of
# input tasks provide this for free); (b) OptimizeSkewedJoin applies
# to the join when it is the FINAL stage, so the join materializes via
# a checkpoint under the overrides (the join_runtime_bloom_filter
# pattern) and the rollup runs after, on the pinned result.  At 100 TB
# this is the default posture: leave join skew to AQE, reserve manual
# salting for aggregations and the cases AQE cannot see.


@query(
    "join_aqe_skew_split",
    oracle="""
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE l_orderkey END AS sk,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS price
  FROM lineitem),
dim AS (
  SELECT o_orderkey AS ok, o_orderpriority AS pri
  FROM orders WHERE o_orderkey % 2 = 1
  UNION ALL
  SELECT 0, 'HOT-KEY'),
j AS (SELECT d.pri, f.price FROM fact f JOIN dim d ON f.sk = d.ok)
SELECT pri,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(price) AS DOUBLE) AS revenue
FROM j GROUP BY pri
""",
)
def join_aqe_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    overrides = {
        # skew detection targets 256MB+ partitions; open the gate so the
        # SPLIT PATH (not the threshold) is under test on the fixture
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        # no coalescing of the tiny non-skewed partitions into one —
        # that would erase the median the factor compares against
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_confs(spark, overrides):
        pinned = checkpoint(build_skew_join(spark, sf_dir))
    return pinned.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("price").cast("double").alias("revenue"),
    )


def build_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bare skewed join (pre-rollup), shared with the plan test."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    fact = li.select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("sk"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
    ).repartition(8)
    dim = (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select(
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderpriority").alias("pri"),
        )
        .unionByName(
            spark.range(1).select(
                F.lit(0).cast("long").alias("ok"),
                F.lit("HOT-KEY").alias("pri"),
            )
        )
    )
    return fact.join(dim, fact.sk == dim.ok).select("pri", "price")


# --------------------------------------------------------------------------
# B583 (round 11) — FORWARD as-of join: "the next view at or after each
# purchase" — completes the as-of direction matrix (backward B15,
# nearest B103, tolerance-bounded backward, and now forward), the
# follow-up-attribution shape every funnel pipeline needs.  Same
# union + running-window construction as the backward operator with
# the sort reversed (operators/asof.py asof_join_forward): one shuffle
# on user_id, one in-partition sort, no correlated subquery, no
# nested loop.  Oracle: the MIN-over-future correlated subquery.


@query(
    "join_asof_forward",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id,
       p.ts AS purchase_ts,
       (SELECT min(v.ts) FROM events v
         WHERE v.user_id = p.user_id AND v.event_type = 'view'
           AND v.ts >= p.ts)
       AS next_view_ts
FROM events p
WHERE p.event_type = 'purchase'
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.operators.asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    return asof_join_forward(
        purchases,
        views,
        left_keys=["user_id"],
        right_keys=["v_user"],
        left_ts="purchase_ts",
        right_ts="view_ts",
        value_col="view_ts",
        out_col="next_view_ts",
    )
