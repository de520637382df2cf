"""Shared helpers for oracle-parity-safe queries.

Float-parity strategy (SURVEY.md section 7 watch-list a): the driver
hash-compares values exactly, and double summation is order-dependent —
Spark's partial/final aggregation and DuckDB's parallel sum would differ
in the last ulps.  All fixture doubles are clean 2-decimal values
(verified in FIXTURES.md data), so we aggregate in DECIMAL (exact, order
independent in both engines) and cast to DOUBLE only at the very end.
A decimal->double cast of the *same* exact decimal is correctly rounded
in both engines (int128 < 2^53 at our scales), hence bit-identical.

Per-row double arithmetic (no aggregation) is safe as-is: IEEE ops on
identical inputs are correctly rounded in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2-decimal money/ratio columns fit comfortably in DECIMAL(12,2); keeping
# precision low leaves headroom for exact products: d(12,2)*d(4,2)*d(4,2)
# stays under 38 digits in both engines.
MONEY = "decimal(12,2)"
RATE = "decimal(4,2)"


def dmoney(c: str) -> Column:
    return F.col(c).cast(MONEY)


def drate(c: str) -> Column:
    return F.col(c).cast(RATE)


def one() -> Column:
    return F.lit(1).cast(RATE)


def dsum(col: Column) -> Column:
    """Exact decimal sum, surfaced as double."""
    return F.sum(col).cast("double")


def davg(col: Column) -> Column:
    """Exact decimal sum / count, both sides computing double/long once."""
    return F.sum(col).cast("double") / F.count(F.lit(1))


# SQL-side twins -------------------------------------------------------------

def sql_money(c: str) -> str:
    return f"CAST({c} AS DECIMAL(12,2))"


def sql_rate(c: str) -> str:
    return f"CAST({c} AS DECIMAL(4,2))"


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE) / COUNT(*)"


def lit_long_array(vals) -> Column:
    """Literal ARRAY<BIGINT> built as ONE SQL expression string.

    ``F.array(*[F.lit(int(v)).cast("long") ...])`` costs 3 py4j
    round-trips per element — ~2 s of pure driver time for a k x dim
    centroid matrix (measured 8.3 s for 4 builds of 8x64 vs 0.25 s via
    expr).  The parsed literal is identical."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def lit_long_matrix(rows) -> Column:
    """Literal ARRAY<ARRAY<BIGINT>> as one expression string (see
    :func:`lit_long_array`)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{int(v)}L" for v in row) + ")" for row in rows
        )
        + ")"
    )


def lit_double_matrix(rows) -> Column:
    """Literal ARRAY<ARRAY<DOUBLE>> as one expression string.  The ``D``
    suffix parses via Double.parseDouble, and repr() round-trips exactly,
    so each literal is bit-identical to the Python float."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(v)!r}D" for v in row) + ")" for row in rows
        )
        + ")"
    )


def _has_nan(v) -> bool:
    if isinstance(v, float):
        return v != v
    if isinstance(v, dict):
        return any(_has_nan(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return any(_has_nan(x) for x in v)
    return False


def local_df(spark, rows, schema: str):
    """Small driver-side result -> DataFrame via the Arrow path.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows into a
    pickled Python RDD over ``defaultParallelism`` slices: EVERY
    downstream action pays one Python-worker round-trip per slice
    (measured ~0.1 s each; a ``.coalesce(1)`` of a 2k-row result cost
    3.6 s per action — 32 serial worker hops inside one task).  A pandas
    DataFrame instead crosses to the JVM ONCE as Arrow batches at
    creation (guide section 6: Arrow for driver transfers), so actions
    never touch Python again (same 2k-row noop: 0.05 s).

    Values are bit-identical: columns are built with dtype=object so
    Python ints/floats/strings/None reach Arrow unchanged (None stays
    NULL — a float64 column would coerce None to NaN) and are cast per
    the explicit ``schema``.  The ONE value the Arrow path cannot
    represent faithfully is a literal float NaN (Arrow's from_pandas
    masks NaN to null on object columns), so rows containing NaN at any
    depth (inside arrays, structs and maps too) take the plain list
    path, which preserves it.  ``rows`` may be any iterable; it is
    materialized once.  A conversion error raises: rows that do not fit
    ``schema`` are the caller's bug, not a reason to change paths."""
    import pandas as pd
    from pyspark.sql.types import StructType

    rows = list(rows)
    if any(_has_nan(v) for r in rows for v in r):
        return spark.createDataFrame(rows, schema)
    # DDL parser handles nested/parameterized types (decimal(12,2),
    # map<string,int>, ...) that naive comma-splitting would break on
    names = StructType.fromDDL(schema).fieldNames()
    data = {
        n: pd.Series([r[i] for r in rows], dtype=object)
        for i, n in enumerate(names)
    }
    pdf = pd.DataFrame(data, columns=names)
    return spark.createDataFrame(pdf, schema=schema)


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and cut its lineage: the one rule for every
    query that reuses a subtree or bounds a loop's plan.

    Always eager, so the data is computed by exactly one job before any
    consumer plans against it (concurrent broadcast builds would
    otherwise each compute a lazy checkpoint's subtree).  On a local
    master every executor lives in the driver's JVM, so
    ``localCheckpoint`` loses nothing.  On any other master a local
    checkpoint's blocks live only on the executor that wrote them and
    die with it, so the data goes to Spark's ``spark.checkpoint.dir``,
    which must be set on storage every executor can reach."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.isLocal():
        return df.localCheckpoint(eager=True)
    if sc.getCheckpointDir() is None:
        raise RuntimeError(
            f"master {sc.master!r} is not local: set spark.checkpoint.dir to "
            "storage every executor can reach, so a lost executor does not "
            "lose checkpointed data"
        )
    return df.checkpoint(eager=True)


def fan_out(df, spark):
    """Round-robin repartition a *small-cardinality* input up to the
    cluster's parallelism before a compute-heavy stage (pair joins,
    fingerprinting).  The local fixture tables are single parquet files
    -> one input partition, which would serialize a nested-loop join or
    a per-row HOF pipeline onto one core; a 100 TB table already has
    thousands of splits, so the file-count gate makes this a no-op
    there.  Values are unaffected: placement is not observable in any
    query result.

    Deliberately avoids ``df.rdd`` (which plans the query and builds a
    Python-serialized RDD per call — flagged in round-3 VERDICT): the
    split-count proxy is ``df.inputFiles()``, a pure metadata call.  A
    derived plan with no file provenance returns [] and falls through
    to repartition, which is the right call for the small inputs this
    helper is documented for."""
    want = spark.sparkContext.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        nfiles = 0
    return df.repartition(want) if nfiles < want else df


_SCRATCH_ROOTS: list[str] = []


def _cleanup_scratch() -> None:  # pragma: no cover - exercised at exit
    import shutil

    for d in _SCRATCH_ROOTS:
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """``mkdtemp`` that self-cleans at interpreter exit.

    Sink / table-format queries write real files (the write IS the
    operator under test), but the pre-round-9 pattern leaked every
    temp copy: repeated sf1 bench runs accumulated gigabytes under
    /tmp (ADVICE r8).  Every scratch root is tracked and removed
    best-effort at process exit — result DataFrames are always fully
    consumed before exit, so no read outlives its backing files.
    """
    import atexit
    import tempfile

    if not _SCRATCH_ROOTS:
        atexit.register(_cleanup_scratch)
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_ROOTS.append(d)
    return d
