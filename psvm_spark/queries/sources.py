"""Sources & sinks beyond parquet: B2 (CSV/JSON scan), B4 (partitioned
parquet sink, verified by re-read).

At 100 TB: CSV/JSON land in a bronze zone and are rewritten to parquet
once (columnar, splittable, pushdown-capable); the partitioned sink
demonstrates the layout step (partitionBy low-cardinality keys so
downstream scans partition-prune).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psvm_spark.catalog import load_table
from psvm_spark.registry import query
from psvm_spark.queries._util import local_df, scratch_dir
from psvm_spark.session import scoped_confs

# --------------------------------------------------------------------------
# B2 — CSV and JSON scans with explicit schemas.  Side files are derived
# deterministically from the nation fixture (tiny), then read back; the
# oracle checks the values survive both formats.


@query(
    "scan_csv_json",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey, 'csv' AS fmt FROM nation
UNION ALL
SELECT n_nationkey, n_name, n_regionkey, 'json' AS fmt FROM nation
""",
)
def scan_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    d = scratch_dir("psvm_sources_")
    csv_dir, json_dir = os.path.join(d, "csv"), os.path.join(d, "json")
    n.coalesce(1).write.mode("overwrite").option("header", True).csv(csv_dir)
    n.coalesce(1).write.mode("overwrite").json(json_dir)
    schema = "n_nationkey int, n_name string, n_regionkey int"
    c = spark.read.schema(schema).option("header", True).csv(csv_dir)
    j = spark.read.schema(schema).json(json_dir)
    return c.withColumn("fmt", F.lit("csv")).unionByName(j.withColumn("fmt", F.lit("json")))


# --------------------------------------------------------------------------
# B4 — partitioned parquet sink, verified by re-reading with a partition
# filter (the re-read scan must prune to one partition directory).


@query(
    "sink_partitioned",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderstatus
""",
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    out = scratch_dir("psvm_sink_") + "/orders_by_status"
    # repartition on the partition column: one file per status written in
    # parallel instead of every status from every input split (guide §6)
    o.repartition("o_orderstatus").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# Pushdown-correct time-range scan over events (the canonical access
# path for an event table).  load_events_range filters the raw int64-ns
# column BEFORE the ns->us timestamp conversion, so the range reaches
# parquet as GreaterThanOrEqual/LessThan PushedFilters and prunes
# row-groups; filtering the derived ts column would scan everything.


@query(
    "scan_time_range",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
GROUP BY event_type
""",
)
def scan_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.catalog import load_events_range

    ev = load_events_range(spark, sf_dir, "2024-01-10", "2024-01-20")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


# --------------------------------------------------------------------------
# ORC sink/scan round-trip: write orders as ORC, read it back, and
# aggregate — proving the second columnar format end-to-end (type
# fidelity included: decimal sums over the re-read data must hash-match
# the oracle computed on the original parquet).  The ORC writer/reader
# is JVM-native with predicate pushdown and column pruning like
# parquet; at 100 TB the choice between them is ecosystem, not engine.


@query(
    "sink_orc_roundtrip",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
GROUP BY o_orderstatus
""",
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    out = scratch_dir("psvm_sink_orc_") + "/orders_orc"
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# B571 (round 11) — Avro OCF sink/scan round-trip: the second
# ROW-oriented interchange format (after the libsvm/JSONL/CSV text
# family), completing the format matrix next to the columnar
# parquet/ORC pair.  format("avro") is absent from this container
# (external spark-avro module; probed round 11), so the round-trip runs
# through the pure-Python ``avro_ocf`` DataSource written against the
# public Avro 1.12 spec — zigzag varints, union-prefixed nullables,
# little-endian doubles, header-embedded schema (schema INFERENCE from
# the file header, like the JVM module).  Spec compliance is proven
# against the reference JVM decoder on Spark's own classpath
# (avro-1.12.1.jar) in tests/test_operators.py::TestAvroOcf — that
# cross-check caught a real union-encoding defect during development.
# Type fidelity: long / string / double / date / boolean survive the
# trip and the decimal-recast SUM must hash-match the oracle computed
# on the original parquet.  The 10% orderkey slice bounds the
# Python-loop encode cost so the 20x amp run prices the format, not
# the fixture.


@query(
    "sink_avro_roundtrip",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
       CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS first_date,
       CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS last_date,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_urgent
FROM orders
WHERE o_orderkey % 10 = 0
GROUP BY o_orderstatus
""",
)
def sink_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.sources.avro_ocf import register

    register(spark)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.to_date("o_orderdate").alias("o_orderdate"),
            (F.col("o_orderpriority") == "1-URGENT").alias("is_urgent"),
        )
    )
    out = scratch_dir("psvm_sink_avro_") + "/orders_avro"
    o.write.format("avro_ocf").option("path", out).mode("overwrite").save()
    back = spark.read.format("avro_ocf").option("path", out).load()
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total"),
        F.min("o_orderdate").cast("string").alias("first_date"),
        F.max("o_orderdate").cast("string").alias("last_date"),
        F.sum(F.col("is_urgent").cast("bigint")).alias("n_urgent"),
    )


# --------------------------------------------------------------------------
# Range-clustered sink: repartitionByRange + sortWithinPartitions on the
# clustering key before writing.  Each output file then covers a
# disjoint key range, so its parquet footer min/max statistics let any
# engine skip whole files for range predicates — the layout that makes
# a 100 TB time-partitioned table cheap to query without an index.
# tests/test_operators.py asserts the per-file min/max ranges really
# are pairwise disjoint via pyarrow footer inspection.


def write_clustered(spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 8) -> None:
    o = load_table(spark, sf_dir, "orders")
    (
        o.repartitionByRange(n_files, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


@query(
    "sink_sorted_clustered",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_orderdate) AS first_date,
       MAX(o_orderdate) AS last_date,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
GROUP BY o_orderpriority
""",
)
def sink_sorted_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("psvm_sink_") + "/orders_clustered"
    write_clustered(spark, sf_dir, out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# Custom Python DataSource (Spark 4 DataSource API): a parallel LibSVM
# text reader returning plain array columns (no VectorUDT).  One
# InputPartition per file split, so a directory written by N tasks
# reads N-wide.  The derivation (embeddings -> libsvm text) is SQL-
# expressible, so this custom-source round trip has a FULL DuckDB
# oracle: label counts and total nonzeros must survive format + parse.


@query(
    "scan_libsvm_pyds",
    oracle="""
SELECT CASE WHEN label % 2 = 0 THEN 1.0 ELSE -1.0 END AS y,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(len(list_filter(embedding, x -> x <> 0))) AS BIGINT) AS nnz
FROM embeddings
WHERE vec_id % 10 = 0
GROUP BY 1
""",
)
def scan_libsvm_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.queries.ml import write_libsvm_dir
    from psvm_spark.sources.libsvm_text import register

    register(spark)
    path = write_libsvm_dir(spark, sf_dir)
    df = (
        spark.read.format("libsvm_text")
        .option("path", path)
        .option("numFeatures", "64")
        .load()
    )
    return df.groupBy(F.col("label").alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("values")).alias("nnz"),
    )


# --------------------------------------------------------------------------
# Custom Python DataSource WRITER: the same libsvm_text source used as a
# sink — each task writes its own shard (write parallelism preserved),
# commit() writes the _SUCCESS marker only after every task reports in
# (all-or-nothing, mirroring the Hadoop commit protocol).  Round trip
# writer -> reader has the same exact oracle as the read path: Python
# repr() of a double is lossless, so values survive bit-exact.


@query(
    "sink_libsvm_pyds",
    oracle="""
SELECT CASE WHEN label % 2 = 0 THEN 1.0 ELSE -1.0 END AS y,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(len(list_filter(embedding, x -> x <> 0))) AS BIGINT) AS nnz
FROM embeddings
WHERE vec_id % 10 = 0
GROUP BY 1
""",
)
def sink_libsvm_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:

    from psvm_spark.sources.libsvm_text import register

    register(spark)
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    pairs = F.filter(
        F.transform(
            "embedding",
            lambda x, i: F.struct(
                (i + 1).cast("int").alias("i"), x.cast("double").alias("v")
            ),
        ),
        lambda s: s.getField("v") != 0.0,
    )
    rows = e.select(
        F.when(F.col("label") % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("label"),
        F.transform(pairs, lambda s: s.getField("i")).alias("indices"),
        F.transform(pairs, lambda s: s.getField("v")).alias("values"),
        F.lit(64).cast("int").alias("n_features"),
    )
    d = scratch_dir("psvm_pyds_sink_") + "/data"
    rows.write.format("libsvm_text").option("path", d).mode("overwrite").save()
    back = spark.read.format("libsvm_text").option("path", d).option("numFeatures", "64").load()
    return back.groupBy(F.col("label").alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("values")).alias("nnz"),
    )


# --------------------------------------------------------------------------
# B182 (round 5) — in-flight query observation (`df.observe`): attach
# named aggregate metrics to a scan so pipeline telemetry (row counts,
# value mass, null tallies) is collected DURING the query — zero extra
# passes, the way a 100 TB ingestion job self-reports without a second
# scan.  The observed metrics are returned AS the result row and the
# oracle recomputes them independently, so the Observation API itself
# is differentially tested.


@query(
    "scan_observed_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_mass,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors
FROM events
""",
)
def scan_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("ingest_telemetry")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("value_mass"),
        F.sum((F.col("event_type") == "error").cast("bigint")).alias("n_errors"),
    )
    # one real pass (noop materialization) populates the observation
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return local_df(spark,
        [(int(m["n_rows"]), float(m["value_mass"]), int(m["n_errors"]))],
        "n_rows long, value_mass double, n_errors long",
    )


# --------------------------------------------------------------------------
# B209 (round 7) — XML scan/sink round-trip (Spark 4's built-in XML
# source, the former spark-xml package): documents are written as XML
# rows whose payload is salted with every XML-special character
# (< > & " ') so the writer's escaping and the reader's entity decoding
# are both on the hot path, then read back with an explicit schema and
# checksummed.  The oracle recomputes the checksum from the parquet
# fixture directly — equality proves the round-trip is lossless
# INCLUDING escaping.  At 100 TB XML is a bronze-zone landing format
# exactly like CSV/JSON (B2): parsed once per file split (XML rowTag
# framing is splittable in the Spark 4 reader), rewritten to parquet.


@query(
    "scan_xml_roundtrip",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       md5(string_agg(md5(
         'a<b&c>"' || substr(text, 1, 24) || '''d' || '|' || lang
         || '|' || CAST(doc_id AS VARCHAR)
       ), '' ORDER BY doc_id)) AS content_md5
FROM documents
""",
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hostile = d.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit('a<b&c>"'), F.substring("text", 1, 24), F.lit("'d")
        ).alias("payload"),
    )
    out = scratch_dir("psvm_xml_") + "/docs_xml"
    (
        hostile.write.format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .mode("overwrite")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id long, lang string, payload string")
        .load(out)
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.md5(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(doc_id, "
                    "md5(concat(payload, '|', lang, '|', cast(doc_id as string)"
                    ")) as h))), x -> x.h)"
                ),
                "",
            )
        ).alias("content_md5"),
    )


# --------------------------------------------------------------------------
# B248 (round 8) — binaryFile source: Spark's built-in whole-file
# binary reader (`format("binaryFile")`), the ingestion path for
# opaque media blobs (images/audio/model shards) that have no row
# structure.  One file per document is materialized from the fixture
# text (deterministic bytes), scanned back as (path, length, content),
# and verified by per-file byte length + md5 digest — the oracle
# replays both from the source table, so the whole read path
# (driver listing -> per-file tasks -> binary column) is hash-checked.
# At 100 TB: binaryFile parallelizes one task per file and never
# splits a blob, which is exactly right for media objects; pair it
# with the WebDataset tar scan when files are small enough to need
# shard-level batching.

_BINF_N = 48  # files per run: enough for multi-task listing, tiny on disk


@query(
    "scan_binary_files",
    oracle=f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < {_BINF_N}
""",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    root = scratch_dir("psvm_binfiles_")
    for r in d.filter(F.col("doc_id") < _BINF_N).select("doc_id", "text").collect():
        with open(os.path.join(root, f"{r.doc_id}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    return (
        spark.read.format("binaryFile")
        .load(root)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
    )


# --------------------------------------------------------------------------
# B521 (round 10) — parquet aggregate pushdown (DSv2): COUNT/MIN/MAX
# answered from the parquet FOOTER statistics — zero data pages read,
# the metadata-only query every table service runs constantly.  Needs
# the v2 read path (useV1SourceList without parquet) plus
# spark.sql.parquet.aggregatePushDown; the plan then carries
# PushedAggregation into the BatchScan (pinned in tests).  The result
# is materialized while the confs are set (plans resolve confs at
# action time), then returned as a local relation; session confs are
# restored.  At 100 TB: O(files) footer reads vs a full scan.


@query(
    "scan_aggregate_pushdown",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS min_c,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS max_c,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
""",
)
def scan_aggregate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    pushdown = {
        "spark.sql.sources.useV1SourceList": "",
        "spark.sql.parquet.aggregatePushDown": "true",
    }
    with scoped_confs(spark, pushdown):
        o = spark.read.parquet(f"{sf_dir.rstrip('/')}/orders.parquet")
        # footer-servable shapes only: COUNT(*) / MIN / MAX on plain
        # columns, no filter, no group-by
        agg = o.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("min_p"),
            F.max("o_totalprice").alias("max_p"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        row = agg.collect()[0]
    import decimal

    cent = lambda v: int(  # noqa: E731
        (decimal.Decimal(str(v)).quantize(decimal.Decimal("0.01"))) * 100
    )
    return local_df(spark,
        [
            (
                row.n_rows,
                cent(row.min_p),
                cent(row.max_p),
                row.min_key,
                row.max_key,
            )
        ],
        "n_rows long, min_c long, max_c long, min_key long, max_key long",
    )


# --------------------------------------------------------------------------
# B576 (round 11) — hidden file-metadata columns (`_metadata` on file
# sources): per-file lineage without a manifest — the struct Spark
# synthesizes at scan time (file_path/name/size/modification_time,
# block start/length), which is how incremental pipelines attribute
# rows to input files and audits prove which file contributed what.
# The fixture writes orders repartitioned BY the partition column so
# each status lands in exactly ONE file (making per-file groups
# deterministic); the query then groups by `_metadata.file_path` —
# proving row->file attribution survives the scan — and returns the
# per-file aggregates WITHOUT the name itself (part-file names embed a
# random UUID; values, not names, are the deterministic contract).
# Oracle: the same aggregate per status on the base table.


@query(
    "scan_metadata_columns",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
GROUP BY o_orderstatus
""",
)
def scan_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    out = scratch_dir("psvm_meta_") + "/orders_by_status"
    (
        o.repartition("o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "o_orderkey",
        "o_totalprice",
        # file_PATH, not file_name: one task writing N partition dirs
        # reuses its base name (part-00000-<uuid>) in every dir, so only
        # the full path distinguishes the per-status files
        F.col("_metadata.file_path").alias("src_file"),
    )
    return back.groupBy("src_file").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total"),
    ).drop("src_file")


# --------------------------------------------------------------------------
# B579 (round 11) — Python DataSource FILTER PUSHDOWN (Spark 4.1
# `pushFilters`): the reader is handed Catalyst's conjunctive filter
# list at planning time, claims the segment-equality it can answer
# from its `seg=<value>.csv` layout (pruning whole files), and returns
# the balance predicate as a RESIDUAL for Spark to apply post-scan —
# the division of labor every partition-aware external source uses.
# The pruning is structurally observable (scan partition count == the
# pruned file count, pinned in tests); this query proves the VALUE
# side: pushed + residual filters together must reproduce the oracle
# computed on the base table.  Gated by the 4.1 conf
# spark.sql.python.filterPushdown.enabled (set for this query, restored
# after; with it off the source still answers correctly — every file
# scans and Spark applies all filters).  Derivation writes one CSV per
# mktsegment from customer (custkey, balance cents).


def write_segmented_csv(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    import os

    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        (F.col("c_acctbal").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("bal_c"),
    )
    os.makedirs(out_dir, exist_ok=True)
    # one file per segment from ONE collect, bucketed driver-side: the
    # LAYOUT is the index this source pushes filters into (5
    # dimension-sized files; at scale this is the external system's own
    # partitioning).  A per-segment filter+collect loop scanned customer
    # six times for the same bytes (code-review r11).
    by_seg: dict[str, list] = {}
    for r in c.collect():
        by_seg.setdefault(r.c_mktsegment, []).append((r.c_custkey, r.bal_c))
    for seg, rows in by_seg.items():
        rows.sort()
        with open(os.path.join(out_dir, f"seg={seg}.csv"), "w") as fh:
            for k, b in rows:
                fh.write(f"{k},{b}\n")


@query(
    "scan_pyds_filter_pushdown",
    oracle="""
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS bal_c_sum
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
  AND CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) > 0
GROUP BY c_mktsegment
""",
)
def scan_pyds_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.sources.segmented_csv import register

    register(spark)
    out = scratch_dir("psvm_pyds_push_") + "/segments"
    write_segmented_csv(spark, sf_dir, out)
    with scoped_confs(spark, {"spark.sql.python.filterPushdown.enabled": "true"}):
        df = (
            spark.read.format("segmented_csv")
            .option("path", out)
            .load()
            .filter(
                F.col("segment").isin("BUILDING", "MACHINERY")
                & (F.col("bal_c") > 0)
            )
        )
        agg = df.groupBy("segment").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_c").alias("bal_c_sum"),
        )
        # pin plan + values while the pushdown conf is on
        return agg.localCheckpoint(eager=True)
