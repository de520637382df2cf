"""Local replica of the driver's DuckDB-oracle differential check.

The driver (t2) runs each ``queries()[name]`` and its ``oracle_sql()``
twin at sf0.01 and compares row-count + schema + order-insensitive
value-hash with columns sorted by name.  This module reproduces that
check locally so a query is only *declared* once it passes here
(SURVEY.md section 2.3).  Comparison is exact (bitwise on floats) —
queries are written so both engines produce identical bits (see
queries/_util.py); an exact local pass implies a pass under any
reasonable driver hasher.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, MapType, StructType

from psvm_spark.catalog import TABLES
from psvm_spark.session import SCALE_CONFS, ensure_session_invariants, scale_conf


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir.rstrip('/')}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    """Canonicalize one value for exact multiset comparison."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", v)
    if isinstance(v, (np.floating,)):
        f = float(v)
        return ("nan",) if math.isnan(f) else ("f", f)
    if isinstance(v, (np.integer,)):
        return ("i", int(v))
    if isinstance(v, (int, np.bool_, bool)):
        return ("i", int(v))
    if isinstance(v, pd.Timestamp):
        return ("t", v.as_unit("us").value if hasattr(v, "as_unit") else v.value)
    if isinstance(v, (list, np.ndarray, tuple)):
        return ("a", tuple(_canon_cell(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, _canon_cell(x)) for k, x in v.items())))
    if v != v:  # stray NaT/NaN-like
        return ("nan",)
    return ("s", str(v))


def _canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_cell(v) for v in row))
    out.sort()
    return out


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    notes: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        s = "OK " if self.ok else "FAIL"
        msg = f"[{s}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for n in self.notes:
            msg += f"\n    {n}"
        return msg


def compare_query(
    spark: SparkSession, sf_dir: str, name: str, con: duckdb.DuckDBPyConnection | None = None
) -> CompareResult:
    from psvm_spark import registry

    registry.load_all()
    # The oracles pin every scale conf at its default; a raised one is
    # the scale harness's amplification knob, and its output is not what
    # the oracles describe.  Fail loudly rather than let an amplified run
    # masquerade as a parity check.
    for conf, default in SCALE_CONFS.items():
        val = scale_conf(spark, conf)
        if val != default:
            raise AssertionError(
                f"oracle-parity run with psvm.{conf}={val}: the oracles pin "
                f"the default {default} — reset the conf before "
                "comparing against oracles"
            )
    # as in the driver contract's queries() wrapper
    ensure_session_invariants(spark)
    sdf = registry.QUERIES[name](spark, sf_dir)
    # The driver's value hasher sorts object cells and throws on arrays,
    # maps and structs, so an oracled key must emit scalar columns only.
    # _canon_cell would flatten them and pass; fail here instead.
    nested = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    if nested:
        return CompareResult(
            name, False, 0, 0, ["nested output column(s): " + "; ".join(nested)]
        )
    spdf = sdf.toPandas()
    own_con = con is None
    if own_con:
        con = duckdb_connection(sf_dir)
    try:
        opdf = con.execute(registry.ORACLES[name]).df()
    finally:
        if own_con:
            con.close()

    notes: list[str] = []
    if sorted(spdf.columns) != sorted(opdf.columns):
        notes.append(f"column mismatch: spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}")
        return CompareResult(name, False, len(spdf), len(opdf), notes)
    # Dtype gate: the driver's schema_match compares result schemas, so
    # the local check must too — a value-hash-equal int64-vs-float64 pair
    # could pass the hash yet fail the driver.  Comparison is at dtype
    # FAMILY level (int/float/bool/datetime/object): the driver tolerates
    # width/unit differences (int32-vs-int64 ranks and ns-vs-us
    # timestamps both passed schema_match in CORRECTNESS_r02), but a
    # cross-family mismatch signals a genuinely different logical type.
    def _family(dt) -> str:
        kind = getattr(dt, "kind", "?")
        return {
            "i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "datetime", "m": "timedelta", "O": "object",
        }.get(kind, str(dt))

    dtype_bad = [
        f"{c}: spark={spdf[c].dtype} oracle={opdf[c].dtype}"
        for c in sorted(spdf.columns)
        if _family(spdf[c].dtype) != _family(opdf[c].dtype)
    ]
    if dtype_bad:
        notes.append("dtype mismatch: " + "; ".join(dtype_bad))
        return CompareResult(name, False, len(spdf), len(opdf), notes)
    if len(spdf) != len(opdf):
        notes.append("row count mismatch")
    srows, orows = _canon_rows(spdf), _canon_rows(opdf)
    ok = srows == orows
    if not ok and len(srows) == len(orows):
        # find first differing row/cell to aid debugging
        for i, (a, b) in enumerate(zip(srows, orows)):
            if a != b:
                notes.append(f"first diff at sorted-row {i}:\n      spark : {a}\n      oracle: {b}")
                break
    return CompareResult(name, ok and len(spdf) == len(opdf), len(spdf), len(opdf), notes)


def compare_all(spark: SparkSession, sf_dir: str) -> list[CompareResult]:
    from psvm_spark import registry

    registry.load_all()
    con = duckdb_connection(sf_dir)
    try:
        return [
            compare_query(spark, sf_dir, name, con)
            for name in registry.QUERIES
            if name in registry.ORACLES
        ]
    finally:
        con.close()
