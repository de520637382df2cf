"""SparkSession factory + session-level invariants.

The driver hands us an already-built session for ``entry``/``queries``;
tests and bench build their own via :func:`get_spark`.  Either way,
:func:`ensure_session_invariants` pins the *runtime* confs every query
relies on for oracle parity (UTC timestamps — DuckDB timestamps are
UTC-naive) and for local-mode performance (AQE on, sane shuffle
parallelism).  Static confs (driver memory, master) can only be set at
build time and are therefore only applied in :func:`get_spark`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs: safe to (re-)apply on a live session.
_RUNTIME_CONFS = {
    # DuckDB oracle compares timestamps as UTC-naive values.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning, partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.ts is parquet TIMESTAMP(NANOS) which Spark 4 refuses outright;
    # read as long ns and convert to a us timestamp in the catalog (DuckDB
    # truncates ns->us on read too, so both engines agree — FIXTURES.md).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def _driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else min(16g, 3/4 of ``MemTotal``): the
    other quarter is room for the Python workers."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{min(16 * 1024, total_kb * 3 // 4 // 1024)}m"


def ensure_session_invariants(spark: SparkSession) -> SparkSession:
    """Apply runtime confs needed for correctness on any session, plus
    shuffle parallelism sized to this box (the default 200 is pure
    scheduling overhead on local test scales; AQE coalesces upward
    workloads at real scale anyway)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build; accept the session's value
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "psvm_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local session sized to the test box.

    local[cpus] with shuffle parallelism = cpus: at sf0.1 (~600k rows)
    the default 200 shuffle partitions would be pure scheduling overhead.
    On a real cluster the same code runs unchanged — shuffle partitions
    are AQE-coalesced from an intentionally higher initial number.
    """
    n = cpus or _cpus()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", _driver_mem())
        # A multi-hundred-query session generates one codegen class set
        # per plan; the JDK default 240 MB reserved code cache fills and
        # the JIT silently stops compiling, after which HOF/hash-heavy
        # expressions run interpreted (measured here: 10-25x on the
        # dedup tier late in a 229-query bench, while plain scans stay
        # 1x).  Reserve more and keep flushing enabled.
        #
        # The tier-4 (C2) promotion thresholds are 5x their JDK 17
        # defaults.  A fresh JVM otherwise C2-compiles planning, codegen
        # and streaming start-up code that is hot for a few hundred ms:
        # in a cold local[4] perfbench pass the compiler threads used
        # 11.8 of 20.9 CPU-s (batch_stream_sf001) and 14.1 of 23.5
        # (psvm_train_amp10); at 5x, query CPU fell 30% and 27%.  Code
        # stays in C1 until it has been hot 5x longer, so per-row loops
        # over real data still reach C2 within their first few hundred
        # thousand rows.  In local mode this JVM is also the executor.
        # Sessions not built here (the one a caller hands to
        # __spark_entry__, cluster deployments) keep the JVM defaults.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
            " -XX:Tier4InvocationThreshold=25000"
            " -XX:Tier4MinInvocationThreshold=3000"
            " -XX:Tier4CompileThreshold=75000"
            " -XX:Tier4BackEdgeThreshold=200000",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/psvm_spark_warehouse")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return ensure_session_invariants(builder.getOrCreate())
