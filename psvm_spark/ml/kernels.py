"""Kernel functions over array<float> embedding columns (SURVEY.md A3-A6).

The reference evaluates K(x,y) row-pair-at-a-time in C++
[psvm:kernel.cc — linear, polynomial, Gaussian/RBF, Laplacian; see
SURVEY.md section 2.1, line citations unavailable per section 0.1].
Here each kernel is a Catalyst column expression built from higher-order
array functions: JVM execution with no Python in the hot path, usable
inside any join/aggregate.  They do not run in whole-stage codegen:
``ArrayAggregate``, ``ZipWith`` and ``ArrayTransform`` implement
``CodegenFallback``, so the generated code calls back into the
interpreted expression, one element at a time through lambda variables.

The float kernels compute in double: float*float promoted to double is
exact (24-bit mantissas), and the sequential left-fold of F.aggregate
matches DuckDB's list_aggregate('sum') ordering for oracle parity.

The fixed-point lattice (:data:`SCALE`, :func:`quantize`, :func:`qdot`,
:func:`qsq_l2`) is the one rule every exact-parity key uses when it
ranks, pivots or clusters on vector geometry: snap each element to the
nearest integer thousandth, ``floor(x * 1000.0 + 0.5)`` as BIGINT, then
fold integer products.  Integer sums are exact in any order, so both
engines agree without a decimal detour.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """<a, b> in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_l2(a: Column, b: Column) -> Column:
    """||a - b||^2 in double precision."""
    # (x-y)*(x-y), not pow(x-y, 2): Math.pow / libm pow are only ~1-ulp
    # accurate and disagree between engines; plain multiply is IEEE-exact.
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l1(a: Column, b: Column) -> Column:
    """||a - b||_1 in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm2(a: Column) -> Column:
    """||a||_2 in double precision."""
    return F.sqrt(dot(a, a))


def linear_kernel(a: Column, b: Column) -> Column:
    return dot(a, b)


def poly_kernel(a: Column, b: Column, gamma: float, coef: float, degree: int) -> Column:
    return (F.lit(gamma) * dot(a, b) + F.lit(coef)) ** F.lit(degree).cast("double")


def rbf_kernel(a: Column, b: Column, gamma: float) -> Column:
    return F.exp(-F.lit(gamma) * sq_l2(a, b))


def laplacian_kernel(a: Column, b: Column, gamma: float) -> Column:
    return F.exp(-F.lit(gamma) * l1(a, b))


# ---------------------------------------------------------------------------
# DuckDB oracle twins.  list_dot_product computes in FLOAT — never use it;
# these expand through list_zip with explicit double casts so the oracle
# arithmetic matches Spark's bit for bit (same sequential fold order).


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
    )


def sql_sq_l2(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        f" * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
    )


def sql_l1(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
    )


# ---------------------------------------------------------------------------
# The fixed-point lattice.  Only +, - and * on BIGINT: Spark folds left
# from 0L and DuckDB's list_sum gives the same exact integer (never
# list_dot_product, which computes in FLOAT).  An element is at most
# |x| * SCALE + 1, so a 64-dim sum of products stays far below 2^63 for
# unit-scale embeddings.

SCALE = 1000


def quantize(x: Column) -> Column:
    """Lattice point of one element, ``floor(x * SCALE + 0.5)`` as BIGINT.
    Map it over a vector with ``F.transform(v, quantize)``."""
    return F.floor(x.cast("double") * float(SCALE) + 0.5).cast("bigint")


def qdot(a: Column, b: Column) -> Column:
    """Integer <a, b> of two lattice vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def qsq_l2(a: Column, b: Column) -> Column:
    """Integer ||a - b||^2 of two lattice vectors: the sum of
    (a - b) * (a - b) over the elements."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def sql_quantize(x: str) -> str:
    return f"CAST(floor(CAST({x} AS DOUBLE) * {float(SCALE)} + 0.5) AS BIGINT)"


def sql_qdot(a: str, b: str) -> str:
    # list_sum of BIGINT widens to HUGEINT; the products fit, so narrow back
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


def sql_qsq_l2(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )
