"""Scalar function families: B31-B37 from SURVEY.md section 2.2.

One query per family, each exercising the named functions end-to-end.
All are narrow (no shuffle) except where an aggregate compacts the
output for hash-stability.  Per-row double math is bit-deterministic
(correctly-rounded IEEE ops), so no decimal detour is needed outside
aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psvm_spark.catalog import load_table
from psvm_spark.registry import query

# --------------------------------------------------------------------------
# B31 — string functions.


@query(
    "scalar_string",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       lower(p_brand) AS brand_lower,
       length(p_name) AS name_len,
       substr(p_name, 1, 5) AS name_head,
       trim(concat('  ', p_name, '  ')) AS name_trim,
       replace(p_type, ' ', '_') AS type_snake,
       split_part(p_type, ' ', 1) AS type_first,
       regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
       contains(p_name, 'a') AS has_a,
       starts_with(p_brand, 'Brand') AS is_brand,
       levenshtein(p_brand, 'Brand#1') AS brand_dist
FROM part
""",
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("name_trim"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_first"),
        F.regexp_extract("p_name", r"([a-z]+)", 1).alias("first_word"),
        F.contains(F.col("p_name"), F.lit("a")).alias("has_a"),
        F.startswith(F.col("p_brand"), F.lit("Brand")).alias("is_brand"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#1")).cast("long").alias("brand_dist"),
    )


# --------------------------------------------------------------------------
# B32 — date/time functions.  date_trunc returns TIMESTAMP in both
# engines; datediff day counts use date-cast semantics in both.


@query(
    "scalar_datetime",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate) AS y,
       month(o_orderdate) AS m,
       day(o_orderdate) AS d,
       quarter(o_orderdate) AS q,
       dayofweek(o_orderdate) + 1 AS dow,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_ts,
       datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start,
       CAST(epoch(o_orderdate) AS BIGINT) AS unix_sec
FROM orders
""",
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_ts"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.unix_timestamp("o_orderdate").alias("unix_sec"),
    )


# --------------------------------------------------------------------------
# B33 + B37 — math + null-handling functions.


@query(
    "scalar_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       abs(l_quantity - 25) AS abs_dev,
       round(l_extendedprice / 1000, 1) AS price_k,
       CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
       CAST(floor(l_tax * 100) AS BIGINT) AS tax_pct_floor,
       sqrt(l_quantity) AS qty_sqrt,
       round(ln(l_extendedprice), 9) AS price_ln,
       round(log10(l_extendedprice), 9) AS price_log10,
       round(exp(l_discount), 9) AS disc_exp,
       pow(l_quantity, 2) AS qty_sq,
       CAST(sign(l_quantity - 25.0) AS DOUBLE) AS dev_sign,
       CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
       greatest(l_discount, l_tax) AS max_rate,
       least(l_discount, l_tax) AS min_rate,
       coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none
FROM lineitem
""",
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("abs_dev"),
        F.round(F.col("l_extendedprice") / 1000, 1).alias("price_k"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        # transcendentals (ln/log10/exp) are not correctly-rounded and the
        # JVM and libm differ in the last ulp — round to 9 decimals on both
        # sides (sqrt/pow are IEEE-exact, no rounding needed)
        F.round(F.log(F.col("l_extendedprice")), 9).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 9).alias("price_log10"),
        F.round(F.exp("l_discount"), 9).alias("disc_exp"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.signum(F.col("l_quantity") - 25.0).alias("dev_sign"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.coalesce(F.nullif("l_returnflag", F.lit("N")), F.lit("none")).alias("flag_or_none"),
    )


# --------------------------------------------------------------------------
# B34 — array functions incl. higher-order transform/filter/aggregate.
# Exercised on embeddings.embedding (array<float>).  Element values are
# floats cast to double identically in both engines; zip_with/aggregate
# run in the JVM, not Python, but outside whole-stage codegen: the
# higher-order functions are CodegenFallback expressions, interpreted
# one element at a time.


@query(
    "scalar_array",
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 6) AS vec_sum_r6,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       CAST(embedding[1] AS DOUBLE) AS first_dim,
       list_sort(list_transform(embedding[1:3], x -> CAST(x AS DOUBLE)))[1] AS head3_min,
       list_sort(list_transform(embedding[1:3], x -> CAST(x AS DOUBLE)))[2] AS head3_mid,
       list_sort(list_transform(embedding[1:3], x -> CAST(x AS DOUBLE)))[3] AS head3_max,
       list_contains(list_transform(embedding, x -> x > 1.0), true) AS any_gt1
FROM embeddings
""",
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    # head3 is emitted as three scalar double columns, not an array: the
    # driver's pandas hasher cannot hash array cells, and joining doubles
    # to a string would couple parity to float-formatting quirks.
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    head3 = F.array_sort(F.transform(F.slice("embedding", 1, 3), lambda x: x.cast("double")))
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x), 6).alias("vec_sum_r6"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        F.col("embedding")[0].cast("double").alias("first_dim"),
        F.element_at(head3, 1).alias("head3_min"),
        F.element_at(head3, 2).alias("head3_mid"),
        F.element_at(head3, 3).alias("head3_max"),
        F.exists("embedding", lambda x: x > 1.0).alias("any_gt1"),
    )


# --------------------------------------------------------------------------
# B36 — JSON extraction from events.props.


@query(
    "scalar_json",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
       CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_mod,
       json_valid(props) AS is_valid
FROM events
""",
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return ev.select(
        "event_id",
        k.alias("k_val"),
        (k % 10).alias("k_mod"),
        F.from_json("props", "k INT").isNotNull().alias("is_valid"),
    )


# --------------------------------------------------------------------------
# B35 — map functions.  Built from events props; DuckDB's MAP syntax
# differs enough that the oracle recasts through sorted entry lists.


@query(
    "scalar_map",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       array_to_string(list_sort(list(DISTINCT CAST(json_extract(props, '$.k') AS INTEGER) % 5)), ',') AS k_mod_set
FROM events
GROUP BY event_type
""",
)
def scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # build a map column, consume it via map functions, then aggregate to a
    # deterministic, oracle-able shape
    k = F.from_json("props", "k INT").getField("k")
    withmap = ev.select(
        "event_type",
        F.create_map(F.lit("k_mod"), (k % 5)).alias("m"),
    ).select(
        "event_type",
        F.element_at(F.col("m"), "k_mod").alias("k_mod"),
    )
    return withmap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_join(
            F.transform(F.array_sort(F.collect_set("k_mod")), lambda x: x.cast("string")), ","
        ).alias("k_mod_set"),
    )


# --------------------------------------------------------------------------
# Regex extraction family: regexp_extract_all + element_at over the
# extracted list.  ASCII-only pattern (identical in Java regex and RE2).


@query(
    "scalar_regex",
    oracle="""
WITH ex AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
)
SELECT doc_id,
       len(words) AS n_words,
       words[1] AS first_word,
       words[-1] AS last_word
FROM ex
""",
)
def scalar_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
    )


# --------------------------------------------------------------------------
# VARIANT path for semi-structured data (Spark 4): parse_json once into
# the binary-encoded VariantType, then typed variant_get extraction —
# the engine-native replacement for repeated from_json/get_json_object
# string re-parsing.  At 100 TB the parse happens once per row in the
# scan projection and every later extraction is a cheap binary probe
# (and parquet can store the variant column itself, making re-parses
# zero).  The oracle extracts the same typed values from the JSON text;
# schema_of_variant is checked as the engine's inferred per-row type.


@query(
    "scalar_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
       CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS k_doubled,
       CAST(json_extract(props, '$.missing') AS BIGINT) AS absent,
       'OBJECT<k: BIGINT>' AS vtype
FROM events
""",
)
def scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k_val"),
        (F.expr("variant_get(parse_json(props), '$.k', 'bigint')") * 2).alias("k_doubled"),
        F.expr("try_variant_get(parse_json(props), '$.missing', 'bigint')").alias("absent"),
        F.expr("schema_of_variant(parse_json(props))").alias("vtype"),
    )


# --------------------------------------------------------------------------
# NULL-comparison semantics: `equal_null` (Spark) == `IS NOT DISTINCT
# FROM` (SQL) treats NULL = NULL as true, vs `=` whose NULL result
# three-valued-logics through filters and joins — the semantics that
# bite every CDC diff and dedup on nullable keys (snapshot_diff and
# join_not_in_nulls rely on them).  Pure per-row expressions; the
# nullable operands come from try_divide and a conditional NULL.


@query(
    "scalar_null_semantics",
    oracle="""
SELECT o_orderkey,
       a IS NOT DISTINCT FROM b AS ndist,
       a IS DISTINCT FROM b AS dist,
       (a = b) IS NULL AS eq_is_null,
       COALESCE(a, b, -1.0) AS first_non_null,
       a IS NULL AND b IS NULL AS both_null
FROM (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN NULL
              ELSE CAST(o_totalprice AS DOUBLE) END AS a,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL
              ELSE CAST(o_totalprice AS DOUBLE) END AS b
  FROM orders)
""",
)
def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = F.when(F.col("o_orderstatus") == "O", F.lit(None).cast("double")).otherwise(
        F.col("o_totalprice").cast("double")
    )
    b = F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("double")).otherwise(
        F.col("o_totalprice").cast("double")
    )
    base = o.select("o_orderkey", a.alias("a"), b.alias("b"))
    return base.select(
        "o_orderkey",
        F.expr("a <=> b").alias("ndist"),
        (~F.expr("a <=> b")).alias("dist"),
        (F.col("a") == F.col("b")).isNull().alias("eq_is_null"),
        F.coalesce("a", "b", F.lit(-1.0)).alias("first_non_null"),
        (F.col("a").isNull() & F.col("b").isNull()).alias("both_null"),
    )


# --------------------------------------------------------------------------
# B162 (round 4) — calendar interval math: add_months / last_day /
# quarter / ISO weekday on order dates — the month-end billing-cycle
# family where naive day arithmetic goes wrong (adding a month to
# Jan 31 must clamp to Feb 29, which both engines do).  All outputs
# are exact date strings and ints.


@query(
    "scalar_interval_math",
    oracle="""
SELECT o_orderkey,
       CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS VARCHAR) AS next_month,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
       CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
       CAST(isodow(CAST(o_orderdate AS DATE)) AS INT) AS iso_dow
FROM orders WHERE o_orderkey % 97 = 0
""",
)
def scalar_interval_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, 1).cast("string").alias("next_month"),
        F.last_day(d).cast("string").alias("month_end"),
        F.quarter(d).cast("int").alias("qtr"),
        F.expr("weekday(cast(o_orderdate as date)) + 1").cast("int").alias("iso_dow"),
    )


# --------------------------------------------------------------------------
# Round 7 — bitwise scalar family: AND/OR/XOR, shifts, bit_count, and a
# bit-extraction — the one scalar group the B31-B37 families did not
# yet exercise.  All-integer, so cross-engine exact by construction.
# Spark's shiftright is DuckDB's >>; bit_count is shared.  Keys are
# deterministic fixture integers (o_orderkey), narrow one-pass scan.


@query(
    "scalar_bitwise",
    oracle="""
SELECT o_orderkey,
       o_orderkey & 255 AS low_byte,
       o_orderkey | 4096 AS with_flag,
       xor(o_orderkey, 1431655765) AS toggled,
       o_orderkey >> 3 AS shr3,
       (o_orderkey & 1023) << 2 AS shl2,
       bit_count(o_orderkey) AS popcnt,
       CAST((o_orderkey >> 5) & 1 AS INT) AS bit5
FROM orders WHERE o_orderkey % 11 = 0
""",
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(255).alias("low_byte"),
        k.bitwiseOR(4096).alias("with_flag"),
        k.bitwiseXOR(1431655765).alias("toggled"),
        F.expr("shiftright(o_orderkey, 3)").alias("shr3"),
        F.expr("shiftleft(o_orderkey & 1023, 2)").alias("shl2"),
        F.expr("bit_count(o_orderkey)").alias("popcnt"),
        F.expr("cast(shiftright(o_orderkey, 5) & 1 as int)").alias("bit5"),
    )


# --------------------------------------------------------------------------
# Round 7 — URL parsing: host / path / single query-param extraction
# with Spark's built-in parse_url (JVM-side; the canonical web-log
# access path).  URLs are synthesized deterministically from documents
# so both engines see identical strings; DuckDB mirrors parse_url with
# anchored regexes — differential coverage OF the URL parser itself.


@query(
    "scalar_url_parse",
    oracle="""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/docs/' || lang || '/' ||
         CAST(doc_id AS VARCHAR) || '?lang=' || lang || '&n=' ||
         CAST(n_chars AS VARCHAR) AS url
  FROM documents)
SELECT doc_id,
       regexp_extract(url, '^https://([^/]+)/', 1) AS host,
       regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
       regexp_extract(url, '[?&]n=([^&]*)', 1) AS n_param
FROM u
""",
)
def scalar_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        F.lit("?lang="), F.col("lang"), F.lit("&n="),
        F.col("n_chars").cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url("url", F.lit("QUERY"), F.lit("n")).alias("n_param"),
    )


# --------------------------------------------------------------------------
# B519 (round 10) — collation-aware string semantics (Spark 4
# COLLATE): case-insensitive grouping via the UTF8_LCASE collation —
# the engine-level answer to the lower()-everywhere anti-pattern
# (collation participates in hash partitioning and comparisons
# directly; no derived column materializes).  The oracle mirrors with
# lower(), which is semantically identical for the ASCII fixture
# domain; mixed-case groups must COLLAPSE into one row each.


@query(
    "scalar_collation_group",
    oracle="""
WITH m AS (
  SELECT CASE WHEN o_orderkey % 3 = 0 THEN upper(o_orderpriority)
              WHEN o_orderkey % 3 = 1 THEN lower(o_orderpriority)
              ELSE o_orderpriority END AS pri_mixed,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_c
  FROM orders)
SELECT lower(pri_mixed) AS pri,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(price_c) AS BIGINT) AS total_c,
       CAST(COUNT(DISTINCT pri_mixed) AS BIGINT) AS n_case_variants
FROM m GROUP BY lower(pri_mixed)
""",
)
def scalar_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.select(
        F.when(F.col("o_orderkey") % 3 == 0, F.upper("o_orderpriority"))
        .when(F.col("o_orderkey") % 3 == 1, F.lower("o_orderpriority"))
        .otherwise(F.col("o_orderpriority"))
        .alias("pri_mixed"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_c"),
    )
    # group on the COLLATED column itself — Catalyst hashes/compares
    # under UTF8_LCASE; lower() appears only to render a stable key
    g = m.groupBy(
        F.expr("pri_mixed COLLATE UTF8_LCASE").alias("pri_c")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("price_c").cast("bigint").alias("total_c"),
        F.countDistinct(F.expr("pri_mixed COLLATE UTF8_BINARY"))
        .cast("bigint")
        .alias("n_case_variants"),
    )
    return g.select(
        F.lower(F.col("pri_c").cast("string")).alias("pri"),
        "n",
        "total_c",
        "n_case_variants",
    )


# --------------------------------------------------------------------------
# B526 (round 10) — ANSI try_* error-safe arithmetic: the Spark 4
# family that turns overflow / bad-parse / out-of-bounds errors into
# NULLs instead of job failures — what every untrusted-input ingest
# pipeline wraps its casts and sums in (ANSI mode is the Spark 4
# default, so un-tried overflow now ABORTS the job; try_* is the
# per-expression opt-out).  Operand construction plants each failure
# mode deterministically from o_orderkey at ~1% row rates: the JVM
# implements try_add/subtract/multiply/cast failure by CATCHING the
# ANSI exception per failing row, so a high planted-failure rate is an
# exception storm (first measured cut of this query overflowed ~40% of
# rows and cost 26x at 20x; at 1% the column panel is scan-bound).
# The DuckDB twin reproduces the NULL semantics with HUGEINT-guarded
# CASE arms (DuckDB would raise on overflow) and TRY_CAST.  Pure
# per-row expressions in whole-stage codegen — one narrow scan.


@query(
    "scalar_try_arithmetic",
    oracle="""
SELECT o_orderkey,
       CASE WHEN (9223372036854775807 - 50)::HUGEINT
                 + (CASE WHEN o_orderkey % 89 = 0 THEN 51 + o_orderkey % 5
                         ELSE o_orderkey % 47 END) > 9223372036854775807
            THEN NULL
            ELSE 9223372036854775807 - 50
                 + (CASE WHEN o_orderkey % 89 = 0 THEN 51 + o_orderkey % 5
                         ELSE o_orderkey % 47 END)
       END AS add_n,
       CASE WHEN (-9223372036854775808 + 50)::HUGEINT
                 - (CASE WHEN o_orderkey % 83 = 0 THEN 51 + o_orderkey % 3
                         ELSE o_orderkey % 41 END) < -9223372036854775808
            THEN NULL
            ELSE -9223372036854775808 + 50
                 - (CASE WHEN o_orderkey % 83 = 0 THEN 51 + o_orderkey % 3
                         ELSE o_orderkey % 41 END)
       END AS sub_n,
       CASE WHEN (4611686018427387000 + o_orderkey % 100)::HUGEINT
                 * (CASE WHEN o_orderkey % 79 = 0 THEN 3 ELSE 1 END)
                 > 9223372036854775807
            THEN NULL
            ELSE (4611686018427387000 + o_orderkey % 100)
                 * (CASE WHEN o_orderkey % 79 = 0 THEN 3 ELSE 1 END)
       END AS mul_n,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL
            ELSE CAST(o_orderkey AS DOUBLE) / (o_orderkey % 5)
       END AS div_n,
       TRY_CAST(CASE WHEN o_orderkey % 73 = 0 THEN 'x' || o_orderkey
                     ELSE '' || o_orderkey END AS BIGINT) AS cast_n,
       list_extract([10, 20, 30],
                    1 + o_orderkey % 2
                      + CASE WHEN o_orderkey % 9 = 0 THEN 10 ELSE 0 END) AS elem_n,
       CAST(TRY_CAST(CASE WHEN o_orderkey % 11 = 0 THEN '2024-99-01'
                          ELSE '2024-0' || (1 + o_orderkey % 9) || '-15'
                     END AS TIMESTAMP) AS VARCHAR) AS ts_n
FROM orders
""",
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(
            "try_add(9223372036854775807L - 50,"
            " case when o_orderkey % 89 = 0 then 51 + o_orderkey % 5"
            "      else o_orderkey % 47 end)"
        ).alias("add_n"),
        F.expr(
            "try_subtract(-9223372036854775807L - 1 + 50,"
            " case when o_orderkey % 83 = 0 then 51 + o_orderkey % 3"
            "      else o_orderkey % 41 end)"
        ).alias("sub_n"),
        F.expr(
            "try_multiply(4611686018427387000L + o_orderkey % 100,"
            " case when o_orderkey % 79 = 0 then 3 else 1 end)"
        ).alias("mul_n"),
        F.expr("try_divide(cast(o_orderkey as double), o_orderkey % 5)").alias("div_n"),
        F.expr(
            "try_cast(case when o_orderkey % 73 = 0 then 'x' || o_orderkey"
            "              else '' || o_orderkey end as bigint)"
        ).alias("cast_n"),
        F.expr(
            "try_element_at(array(10, 20, 30),"
            " cast(1 + o_orderkey % 2"
            "      + case when o_orderkey % 9 = 0 then 10 else 0 end as int))"
        ).alias("elem_n"),
        F.expr(
            "cast(try_to_timestamp(case when o_orderkey % 11 = 0 then '2024-99-01'"
            "     else '2024-0' || (1 + o_orderkey % 9) || '-15' end) as string)"
        ).alias("ts_n"),
    )


# --------------------------------------------------------------------------
# B541 (round 10) — lateral column aliases + GROUP BY ALL (Spark 3.4/
# 3.5 SQL surface): a SELECT item may reference an alias defined
# earlier in the SAME select list (no more stacked per-expression
# subqueries for derived-from-derived chains), and GROUP BY ALL infers
# the grouping keys from the non-aggregate items.  Spark does not yet
# allow a lateral reference to an AGGREGATE alias under GROUP BY ALL
# (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_GROUP_BY), so the demo
# is the supported composition: a per-row lateral chain (disc -> tax)
# feeding a GROUP BY ALL rollup.  Catalyst inlines the lateral
# references before optimization, so the plan is identical to the
# hand-expanded query — which is exactly what the DuckDB twin spells
# out (value-parity, not syntax-parity).


@query(
    "scalar_lateral_column_alias",
    oracle="""
SELECT o_orderpriority,
       CAST(date_part('year', CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
                * CAST(0.9 AS DECIMAL(3,2))) AS DOUBLE) AS discounted,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
                * CAST(0.9 AS DECIMAL(3,2))
                * CAST(0.07 AS DECIMAL(3,2))) AS DOUBLE) AS est_tax
FROM orders
GROUP BY o_orderpriority, yr
""",
)
def scalar_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("psvm_lca_orders")
    # disc is a lateral alias consumed by tax in the SAME select list;
    # the outer rollup's GROUP BY ALL infers (o_orderpriority, yr).
    return spark.sql(
        """
        SELECT o_orderpriority, yr,
               count(*) AS n,
               cast(sum(disc) as double) AS discounted,
               cast(sum(tax) as double) AS est_tax
        FROM (
          SELECT o_orderpriority,
                 cast(year(cast(o_orderdate as date)) as bigint) AS yr,
                 cast(o_totalprice as decimal(12,2))
                   * cast(0.9 as decimal(3,2)) AS disc,
                 disc * cast(0.07 as decimal(3,2)) AS tax
          FROM psvm_lca_orders
        )
        GROUP BY ALL
        """
    )


# --------------------------------------------------------------------------
# B551 (round 10) — parameterized SQL + the IDENTIFIER clause (Spark
# 3.4/3.5 surface): ``spark.sql(query, args={...})`` binds NAMED
# PARAMETER MARKERS (:name) as typed literals at parse time — the
# injection-safe templating every SQL-facing service needs — and
# ``IDENTIFIER(:col)`` promotes a parameter to a column reference, the
# sanctioned form of "the metric column is chosen at runtime".
# Catalyst sees ordinary literals/attributes after binding, so
# pushdown/pruning are unaffected; the oracle is the hand-expanded
# query (value parity, the scalar_lateral_column_alias convention).


@query(
    "scalar_parameterized_sql",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_metric,
       CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_metric
FROM customer
WHERE CAST(c_acctbal AS DECIMAL(12,2)) > CAST(100 AS DECIMAL(12,2))
  AND c_mktsegment <> 'MACHINERY'
GROUP BY c_mktsegment
""",
)
def scalar_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "psvm_param_customer"
    )
    return spark.sql(
        """
SELECT c_mktsegment,
       COUNT(*) AS n,
       cast(sum(cast(IDENTIFIER(:metric) as decimal(12,2))) as double)
         AS total_metric,
       cast(max(cast(IDENTIFIER(:metric) as decimal(12,2))) as double)
         AS max_metric
FROM psvm_param_customer
WHERE cast(IDENTIFIER(:metric) as decimal(12,2))
        > cast(:min_bal as decimal(12,2))
  AND c_mktsegment <> :skip_segment
GROUP BY c_mktsegment
""",
        args={"metric": "c_acctbal", "min_bal": 100, "skip_segment": "MACHINERY"},
    )


# --------------------------------------------------------------------------
# B573 (round 11) — SQL pipe syntax (Spark 4.0+ `|>`): the TPC-H Q1
# pricing-summary shape written as a linear operator chain —
# FROM |> WHERE |> EXTEND |> AGGREGATE..GROUP BY |> ORDER BY — the
# parse-surface twin of B551's parameterized SQL (probed available in
# this 4.1 build, round 11).  Pipe syntax desugars to the identical
# Catalyst plan as the nested form, so pushdown/pruning/codegen are
# unaffected: the point of the key is that the ENGINE accepts the
# surface a pipeline-authoring user writes, with EXTEND introducing
# the exact-decimal charge columns once and the aggregate reusing
# them by name.  Oracle: the hand-nested ANSI equivalent.


@query(
    "scalar_pipe_syntax",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS sum_disc,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))
            AS DOUBLE) AS sum_charge,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def scalar_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "psvm_pipe_lineitem"
    )
    return spark.sql(
        """
FROM psvm_pipe_lineitem
|> WHERE l_shipdate <= DATE '1998-09-02'
|> EXTEND cast(l_extendedprice as decimal(12,2)) AS base,
          cast(l_extendedprice as decimal(12,2))
            * (cast(1 as decimal(4,2)) - cast(l_discount as decimal(4,2)))
            AS disc_price
|> EXTEND disc_price
            * (cast(1 as decimal(4,2)) + cast(l_tax as decimal(4,2)))
            AS charge
|> AGGREGATE cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sum_qty,
             cast(sum(base) as double) AS sum_base,
             cast(sum(disc_price) as double) AS sum_disc,
             cast(sum(charge) as double) AS sum_charge,
             count(*) AS n
   GROUP BY l_returnflag, l_linestatus
|> SELECT l_returnflag, l_linestatus,
          sum_qty, sum_base, sum_disc, sum_charge, n
|> ORDER BY l_returnflag, l_linestatus
"""
    )


# --------------------------------------------------------------------------
# B575 (round 11) — SQL session variables (Spark 4 DECLARE / SET
# VARIABLE): the sanctioned replacement for driver-side string
# templating when a threshold is COMPUTED by one query and consumed by
# the next — the two-step form every parameter-sweep notebook uses.
# The variable is typed (DECIMAL(12,2)), assigned from a scalar
# subquery, and referenced in a WHERE + SELECT; after binding,
# Catalyst sees an ordinary literal (foldable), so the filter still
# reaches the parquet scan.  MAX (not AVG) keeps the assignment
# rounding-free on both engines.  Oracle: the hand-expanded scalar
# subquery.


@query(
    "scalar_session_variables",
    oracle="""
WITH thr AS (
  SELECT MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS t
  FROM customer
  WHERE c_mktsegment = 'MACHINERY' AND c_custkey % 7 = 0)
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total,
       CAST(thr.t AS DOUBLE) AS threshold
FROM customer c, thr
WHERE CAST(c.c_acctbal AS DECIMAL(12,2)) > thr.t
GROUP BY c.c_mktsegment, thr.t
""",
)
def scalar_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "psvm_var_customer"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE psvm_seg_max DECIMAL(12,2) DEFAULT 0.00"
    )
    spark.sql(
        """
SET VARIABLE psvm_seg_max =
  (SELECT MAX(cast(c_acctbal as decimal(12,2)))
   FROM psvm_var_customer
   WHERE c_mktsegment = 'MACHINERY' AND c_custkey % 7 = 0)
"""
    )
    return spark.sql(
        """
SELECT c_mktsegment,
       COUNT(*) AS n,
       cast(sum(cast(c_acctbal as decimal(12,2))) as double) AS total,
       cast(psvm_seg_max as double) AS threshold
FROM psvm_var_customer
WHERE cast(c_acctbal as decimal(12,2)) > psvm_seg_max
GROUP BY c_mktsegment
"""
    )
