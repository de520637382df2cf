"""Distributed Lloyd's k-means over the embeddings table, in two forms.

The reference's training loop (SURVEY.md A10) is "iterate: distributed
pass + tiny driver-side solve"; k-means is the clustering instance of
the same shape.

- :func:`lloyd` runs on float centroids: ``ml_kmeans_cluster`` and
  ``ml_kmeans_assign_first``.
- :func:`lloyd_exact_train` runs on the integer lattice of
  ``ml/kernels.py``: ``ml_kmeans_lloyd_exact`` and the coarse quantizer
  of ``sim_ivf_kmeans`` (queries/llm.py).  Every centroid coordinate is
  an exact integer, so :func:`lloyd_exact_ctes` replays the whole loop
  in DuckDB.

Spark-first design, one shuffle per iteration:

- **Assignment is narrow.** Centroids (k x d numbers — bounded by k,
  never by the corpus) are embedded as an array *literal* in the plan,
  so per-row argmin runs inside the scan projection: no join, no
  shuffle, no Python. At 100 TB this pass is scan-speed.
- **Update is one map-side-combined shuffle.** posexplode(embedding)
  -> partial sums per (cluster, dim) -> k x d cells cross the wire.
  The new centroids (k rows) come to the driver — the same bounded
  driver-side step as the reference's rank-0 Cholesky [psvm:
  matrix_manipulation.cc, SURVEY.md A8] — and are re-embedded as next
  iteration's literals.
- **Determinism.** Init = the k lowest vec_ids' vectors (content-
  stable, no RNG); argmin ties break toward the lowest cluster id via
  array_position-of-min.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from psvm_spark.catalog import load_table
from psvm_spark.ml import kernels as K
from psvm_spark.queries._util import lit_double_matrix, lit_long_matrix


def lloyd(
    spark: SparkSession, sf_dir: str, k: int = 4, n_iter: int = 5
) -> tuple[DataFrame, list[float], list[list[float]]]:
    """Run ``n_iter`` Lloyd iterations.

    Returns (assignments, inertia history, centroids), where assignments
    is (vec_id, label, cluster, dist2) under the returned centroids —
    the centroids the *final* assignment pass used, so downstream users
    see a consistent (centroids, assignment) pair.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    init = [
        [float(x) for x in r.emb]
        for r in emb.orderBy("vec_id").limit(k).select("emb").collect()
    ]
    cents = init
    history: list[float] = []
    assigned = None
    used = init
    for it in range(n_iter):
        used = cents
        lit = lit_double_matrix(cents)
        assigned = (
            emb.withColumn("cents", lit)
            .withColumn("d", F.transform("cents", lambda c: K.sq_l2(F.col("emb"), c)))
            .select(
                "vec_id",
                "label",
                "emb",
                (F.expr("array_position(d, array_min(d))").cast("int") - 1).alias(
                    "cluster"
                ),
                F.expr("array_min(d)").alias("dist2"),
            )
        )
        # inertia + new centroids in ONE distributed pass each
        history.append(
            assigned.agg(F.sum("dist2").alias("i")).collect()[0]["i"]
        )
        if it == n_iter - 1:
            break  # keep (centroids, assignment) consistent for callers
        cell = (
            assigned.select("cluster", F.posexplode("emb").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        rows = cell.collect()
        d = len(cents[0])
        nxt = [list(c) for c in cents]  # empty cluster keeps its centroid
        sums: dict[int, list[float]] = {}
        counts: dict[int, int] = {}
        for r in rows:
            sums.setdefault(r.cluster, [0.0] * d)[r.dim] = r.s
            counts[r.cluster] = r.n
        for c, vec in sums.items():
            nxt[c] = [v / counts[c] for v in vec]
        cents = nxt
    return assigned.select("vec_id", "label", "cluster", "dist2"), history, used


# The lattice Lloyd: each centroid update takes the per-dimension FLOOR
# of the mean, so every centroid coordinate, squared distance, argmin and
# the final inertia are exact integers: no float sum order anywhere.
# Python's `s // c` is floor division; the oracle gets the same floor
# via the positivity bias (s + BIG*c) // c - BIG, because DuckDB's `//`
# truncates toward zero on negatives (-7 // 2 = -3 there, -4 in Python).
# An empty cluster would silently diverge from the unrolled oracle, so
# the Spark loop asserts that k stays full (loud, never wrong).

_BIG = 10_000_000  # positivity bias: |sum(q_d)| < BIG * count always


def lloyd_exact_ctes(k: int, iters: int) -> str:
    """WITH-body prefix replaying :func:`lloyd_exact_train`: quantized
    vectors ``qv``, init centroids, ``iters`` unrolled assign/update
    steps, ending in the final assignment CTEs ``af_d`` (all (vec,
    cluster, d2) distances) and ``af`` (argmin rows)."""

    def assign(prev_cent: str, name: str) -> str:
        return f"""
{name}_d AS (
  SELECT v.vec_id, v.label, v.q, c.cluster,
         {K.sql_qsq_l2('v.q', 'c.carr')} AS d2
  FROM qv v CROSS JOIN {prev_cent} c
),
{name} AS (
  SELECT vec_id, label, q, cluster, d2 FROM (
    SELECT vec_id, label, q, cluster, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
    FROM {name}_d) WHERE rk = 1
)"""

    def cent(assigned: str, name: str) -> str:
        return f"""
{name} AS (
  SELECT cluster, list(cd ORDER BY dim) AS carr FROM (
    SELECT cluster, dim, (s + {_BIG} * c) // c - {_BIG} AS cd FROM (
      SELECT a.cluster, u.dim, SUM(u.v) AS s, COUNT(*) AS c
      FROM {assigned} a,
           LATERAL (SELECT unnest(generate_series(1, len(a.q))) AS dim,
                           unnest(a.q) AS v) u
      GROUP BY a.cluster, u.dim))
  GROUP BY cluster
)"""

    steps = ""
    prev = "c0"
    for it in range(1, iters + 1):
        steps += "," + assign(prev, f"a{it}")
        steps += "," + cent(f"a{it}", f"c{it}")
        prev = f"c{it}"
    steps += "," + assign(prev, "af")
    return f"""qv AS (
  SELECT vec_id, label, list_transform(embedding, x -> {K.sql_quantize('x')}) AS q
  FROM embeddings
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         q AS carr
  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {k})
){steps}"""


def lattice_d2(cents: list[list[int]]) -> Column:
    """array<bigint> of squared distances from ``q`` to each centroid."""
    return F.transform(lit_long_matrix(cents), lambda c: K.qsq_l2(F.col("q"), c))


def lloyd_exact_assign(qv: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(vec_id, label, q, cluster, d2): each vector's nearest centroid,
    ties to the lowest cluster id."""
    return qv.withColumn("d", lattice_d2(cents)).select(
        "vec_id",
        "label",
        "q",
        (F.expr("array_position(d, array_min(d))").cast("int") - 1).alias("cluster"),
        F.expr("array_min(d)").alias("d2"),
    )


def lloyd_exact_train(
    spark: SparkSession, sf_dir: str, k: int, iters: int
) -> tuple[DataFrame, list[list[int]]]:
    """Lattice Lloyd training: (quantized vectors, centroids) after
    ``iters`` updates from the k lowest vec_ids."""
    qv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.transform("embedding", K.quantize).alias("q")
    )
    cents = [
        [int(v) for v in r.q]
        for r in qv.orderBy("vec_id").limit(k).select("q").collect()
    ]
    for _ in range(iters):
        cells = (
            lloyd_exact_assign(qv, cents)
            .select("cluster", F.posexplode("q").alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in cells:
            by_cluster.setdefault(r.cluster, {})[r.dim] = r.s // r.c
        assert len(by_cluster) == k, (
            "empty cluster: the unrolled oracle assumes k stays full"
        )
        cents = [[by_cluster[c][d] for d in range(len(cents[0]))] for c in range(k)]
    return qv, cents
