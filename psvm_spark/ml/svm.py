"""Distributed SVM: the reference's core capability, Spark-first.

The reference trains a binary kernel SVM via parallel ICF + interior
point [psvm:matrix_manipulation.cc, psvm:pd_ipm.cc — SURVEY.md A7/A10;
file:line unavailable, section 0.1].  Per BASELINE.json's fixed
approach, we do NOT port that solver: the equivalent capability is

  - explicit kernel feature maps (Nystrom for any kernel, RFF for RBF)
    that reduce the kernel problem to a linear one — the same low-rank
    role as psvm's ICF factor H (rank p, memory O(np/m)); and
  - MLlib ``LinearSVC`` (distributed OWLQN; each iteration is a
    treeAggregate — the moral twin of psvm's per-Newton-step AllReduce),
    wrapped in ``OneVsRest`` for multiclass.

Driver-side p x p eigen-solves mirror psvm's rank-0 serial Cholesky.
Scale: landmarks and W are broadcast, and p grows with n:
``pick_landmarks(every=10)`` gives p = n/10 (500 landmarks on 5,000
rows).  The driver ``eigh`` is p x p and the broadcast W is 8 p^2 bytes:
2 MB at p = 500, 200 MB at p = 5,000.  The feature map is one
Arrow-batched pandas_udf pass, no shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from psvm_spark.catalog import load_table
from psvm_spark.ml import kernels as K
from psvm_spark.session import SCALE_CONFS, scale_conf


def _rbf_cross(X: np.ndarray, L: np.ndarray, gamma: float) -> np.ndarray:
    """K[i,j] = exp(-gamma * ||X_i - L_j||^2), vectorized."""
    sq = (
        np.sum(X * X, axis=1, keepdims=True)
        + np.sum(L * L, axis=1, keepdims=True).T
        - 2.0 * (X @ L.T)
    )
    np.maximum(sq, 0.0, out=sq)
    return np.exp(-gamma * sq)


def nystrom_map(
    df: DataFrame,
    vec_col: str,
    landmarks: np.ndarray,
    gamma: float,
    out_col: str = "phi",
    reg: float = 1e-8,
) -> DataFrame:
    """Attach Nystrom features phi(x) = K_mm^{-1/2} k(x, landmarks).

    E[phi(x)^T phi(y)] approximates K(x,y) (Williams & Seeger 2001).
    K_mm^{-1/2} is a p x p driver-side eigensolve (p = #landmarks),
    broadcast into an Arrow-batched pandas UDF — one narrow pass.
    """
    L = np.asarray(landmarks, dtype=np.float64)
    K_mm = _rbf_cross(L, L, gamma)
    w, U = np.linalg.eigh(K_mm)
    w = np.maximum(w, reg)
    W = (U / np.sqrt(w)) @ U.T  # K_mm^{-1/2}, symmetric

    spark = df.sparkSession
    bL = spark.sparkContext.broadcast(L)
    bW = spark.sparkContext.broadcast(W)
    g = float(gamma)

    # NOTE: the closure must be self-contained (no psvm_spark imports) —
    # executor Python workers don't have this repo on their sys.path.
    @F.pandas_udf(ArrayType(DoubleType()))
    def phi(col: pd.Series) -> pd.Series:
        import numpy as _np

        X = _np.stack(col.to_numpy()).astype(_np.float64)
        Lv, Wv = bL.value, bW.value
        sq = (
            _np.sum(X * X, axis=1, keepdims=True)
            + _np.sum(Lv * Lv, axis=1, keepdims=True).T
            - 2.0 * (X @ Lv.T)
        )
        _np.maximum(sq, 0.0, out=sq)
        feats = _np.exp(-g * sq) @ Wv.T
        return pd.Series(list(feats))

    return df.withColumn(out_col, phi(F.col(vec_col)))


def pick_landmarks(spark: SparkSession, sf_dir: str, every: int = 10) -> np.ndarray:
    """Deterministic landmark sample: every k-th vec_id (no RNG, stable
    across runs/partitionings — the analogue of ICF's greedy pivots)."""
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % every == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    return np.array([r.embedding for r in rows], dtype=np.float64)


def binary_train_test(spark: SparkSession, sf_dir: str):
    """Deterministic binary task over embeddings: y = label % 2,
    80/20 split on vec_id % 5."""
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("label") % 2).cast("double").alias("y"),
        F.col("embedding"),
    )
    train = e.filter(F.col("vec_id") % 5 < 4)
    test = e.filter(F.col("vec_id") % 5 == 4)
    return train, test, array_to_vector


def fit_eval_linear_svc(
    train: DataFrame,
    test: DataFrame,
    feature_col: str,
    label_col: str = "y",
    # 15 iterations.  Measured on the 5,000-row amplified benchmark
    # fixture with Nystrom features: accuracy 0.972 at 15 (36 Spark
    # jobs), 0.980 at 30 (66 jobs), 0.978 at 100 (206 jobs).  Real
    # deployments pass their own budget.
    max_iter: int = 15,
    reg_param: float = 0.01,
    class_weights: tuple[float, float] | None = None,
):
    """Train LinearSVC, return (model, accuracy-on-test).

    ``class_weights=(w_neg, w_pos)`` reweights the hinge loss per class
    — the reference's ``-negative_weight``/``-positive_weight`` flags
    [psvm:pd_ipm_parm.h — SURVEY.md A10; file:line unavailable, §0.1]
    — via LinearSVC's ``weightCol`` (the canonical imbalance knob).
    """
    from pyspark.ml.classification import LinearSVC
    from pyspark.ml.functions import array_to_vector

    tr = train.withColumn("features", array_to_vector(F.col(feature_col)))
    te = test.withColumn("features", array_to_vector(F.col(feature_col)))
    svc = LinearSVC(
        maxIter=max_iter, regParam=reg_param, labelCol=label_col, featuresCol="features"
    )
    if class_weights is not None:
        w_neg, w_pos = class_weights
        tr = tr.withColumn(
            "w",
            F.when(F.col(label_col) == 1.0, F.lit(float(w_pos))).otherwise(
                F.lit(float(w_neg))
            ),
        )
        svc = svc.setWeightCol("w")
    model = svc.fit(tr)
    # Drop the training summary before transform: the summary pins the
    # SparkSession, and model.transform's prediction lambda captures the
    # whole model — if ANY df.observe ran earlier in the session, the
    # session's (lazily materialized, non-serializable)
    # ObservationManager then rides into task serialization and every
    # LinearSVC transform fails with "Task not serializable".  Scala
    # private[spark] setSummary is public at the JVM level, so py4j can
    # clear it; the summary is recomputable and unused here.
    model._java_obj.setSummary(tr.sparkSession._jvm.scala.Option.empty())
    pred = model.transform(te)
    acc = pred.agg(
        F.avg((F.col("prediction") == F.col(label_col)).cast("double")).alias("acc")
    ).collect()[0].acc
    return model, float(acc)


def fit_eval_ovr_multiclass(
    spark: SparkSession,
    sf_dir: str,
    max_iter: int = 15,
    reg_param: float = 0.01,
    parallelism: int | None = None,
):
    """10-class OneVsRest(LinearSVC) on embeddings (SURVEY.md A10).

    ``parallelism`` (binary fits run at once) defaults to the session's
    ``defaultParallelism``."""
    from pyspark.ml.classification import LinearSVC, OneVsRest
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("double").alias("y"),
        array_to_vector(F.col("embedding")).alias("features"),
    )
    # all 10 binary fits iterate over the same rows: materialize the
    # vectorized train set once instead of re-scanning parquet and
    # re-running array_to_vector per class per OWLQN pass
    train = e.filter(F.col("vec_id") % 5 < 4).persist()
    train.count()
    test = e.filter(F.col("vec_id") % 5 == 4)
    ovr = OneVsRest(
        classifier=LinearSVC(maxIter=max_iter, regParam=reg_param),
        labelCol="y",
        featuresCol="features",
        parallelism=parallelism or spark.sparkContext.defaultParallelism,
    )
    try:
        model = ovr.fit(train)
    finally:
        # the fitted model no longer references train; don't leak cache
        train.unpersist()
    return model, model.transform(test)


def rff_map(
    df: DataFrame,
    vec_col: str,
    dim_in: int,
    gamma: float,
    n_features: int = 256,
    out_col: str = "phi",
    seed: int = 42,
) -> DataFrame:
    """Attach Random Fourier Features for the RBF kernel (Rahimi &
    Recht 2007): phi(x) = sqrt(2/D) * cos(Omega x + b) with
    Omega ~ N(0, 2*gamma*I), b ~ U[0, 2pi) — E[phi(x)^T phi(y)] =
    exp(-gamma*||x-y||^2).

    The alternative low-rank path to Nystrom for SURVEY.md A7: data
    independent (no landmark pass), Omega/b are a fixed-seed draw
    broadcast once; the map itself is one Arrow-batched pandas UDF
    pass, no shuffle, memory O(batch x D) per executor.
    """
    rng = np.random.default_rng(seed)
    Omega = rng.normal(0.0, np.sqrt(2.0 * gamma), size=(dim_in, n_features))
    b = rng.uniform(0.0, 2.0 * np.pi, size=n_features)
    scale = np.sqrt(2.0 / n_features)

    spark = df.sparkSession
    bO = spark.sparkContext.broadcast(Omega)
    bb = spark.sparkContext.broadcast(b)

    @F.pandas_udf(ArrayType(DoubleType()))
    def phi(col: pd.Series) -> pd.Series:
        import numpy as _np

        X = _np.stack(col.to_numpy()).astype(_np.float64)
        feats = scale * _np.cos(X @ bO.value + bb.value)
        return pd.Series(list(feats))

    return df.withColumn(out_col, phi(F.col(vec_col)))


# ---------------------------------------------------------------------------
# The fixed synthetic model f(x) = sum_i alpha_i y_i K(s_i, x) + b
# [psvm:model.cc] that svm_predict_score and the eval keys built on it
# score: RBF with GAMMA, deterministic alpha_y per support vector, so
# it is fully relational.  ``score`` (Spark) and ``sql_score`` over the
# ``SV_SQL`` CTE (DuckDB) are its two twins; every key and oracle that
# scores the model goes through them.

GAMMA = 0.5
SVM_B = 0.05

# In a real deployment the support-vector set is a fixed-size model
# artifact and the eval set a fixed panel; neither grows with the
# corpus.  ``vec_id % 20`` slices model that on the gate fixtures, but
# at amplification a plain modulus makes the SV x test pair volume grow
# quadratically with the corpus.  The scale harness raises the
# ``svm.sv_modulo`` / ``svm.test_modulo`` scale confs by the amp factor
# so each slice stays base-sized; the oracles pin the defaults.
SV_MOD, SV_RES = SCALE_CONFS["svm.sv_modulo"], 0  # support-vector shard
TS_MOD, TS_RES = SCALE_CONFS["svm.test_modulo"], 1  # test shard


def sv_test(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(support vectors, test panel) of the fixed synthetic model."""
    sv_mod, ts_mod = scale_conf(spark, "svm.sv_modulo"), scale_conf(spark, "svm.test_modulo")
    e = load_table(spark, sf_dir, "embeddings")
    sv = e.filter(F.col("vec_id") % sv_mod == SV_RES).select(
        F.col("vec_id").alias("sv_id"),
        F.col("embedding").alias("sv_vec"),
        (((F.col("vec_id") % 7).cast("double") - 3.0) * 0.1).alias("alpha_y"),
    )
    test = e.filter(F.col("vec_id") % ts_mod == TS_RES).select(
        F.col("vec_id").alias("t_id"), F.col("embedding").alias("t_vec"), "label"
    )
    return sv, test


def score(panel: DataFrame, sv: DataFrame) -> DataFrame:
    """f(t_vec) rounded to 6 dp as ``score``, one row per panel row.

    The panel's ``t_vec`` is scored against the broadcast SV table; every
    other panel column is the grouping key and passes through."""
    k = K.rbf_kernel(F.col("sv_vec"), F.col("t_vec"), GAMMA)
    return (
        panel.crossJoin(F.broadcast(sv))
        .groupBy(*[c for c in panel.columns if c != "t_vec"])
        .agg(F.round(F.sum(F.col("alpha_y") * k) + SVM_B, 6).alias("score"))
    )


# DuckDB twins: SV_SQL is the body of the ``sv`` CTE, and sql_score(vec)
# the aggregate over ``<panel> CROSS JOIN sv`` grouped by the panel key.
SV_SQL = f"""
  SELECT vec_id AS sv_id, embedding AS sv_vec,
         (CAST(vec_id % 7 AS DOUBLE) - 3.0) * 0.1 AS alpha_y
  FROM embeddings WHERE vec_id % {SV_MOD} = {SV_RES}
"""


def sql_score(vec: str) -> str:
    l2 = K.sql_sq_l2("sv.sv_vec", vec)
    return f"round(SUM(sv.alpha_y * exp(-{GAMMA} * {l2})) + {SVM_B}, 6)"


SCORE_SQL = f"""
WITH sv AS ({SV_SQL}), tst AS (
  SELECT vec_id AS t_id, embedding AS t_vec, label
  FROM embeddings WHERE vec_id % {TS_MOD} = {TS_RES}
), scored AS (
  SELECT t.t_id, t.label, {sql_score("t.t_vec")} AS score
  FROM tst t CROSS JOIN sv
  GROUP BY t.t_id, t.label
)
"""
