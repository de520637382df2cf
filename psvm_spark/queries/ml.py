"""Tier A queries: kernels, SVM scoring/eval, vector reductions, training.

Reference parity map (SURVEY.md section 2.1; psvm file citations are
repo-level — line numbers unavailable per section 0.1):
  kernel_linear/poly/rbf/laplacian  <-> [psvm:kernel.cc]    (A3-A6)
  svm_predict_score                 <-> [psvm:model.cc,
                                         psvm:svm_predict.cc] (A14)
  eval_accuracy                     <-> [psvm:svm_predict.cc] (A15)
  vec_reductions                    <-> [psvm:matrix_manipulation.cc] (A9)
  svm_train_eval / svm_nystrom_*    <-> [psvm:pd_ipm.cc + ICF] (A7/A10)
  svm_model_roundtrip               <-> [psvm:model.cc Save/Load] (A13)
  scan_libsvm                       <-> [psvm:document.cc] (A1)

The pair queries sample embeddings deterministically (vec_id % N) to
keep the cross join bounded: the 100 TB path for all-pairs kernels is
LSH-blocked similarity search (queries/llm.py), not a full cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psvm_spark.catalog import load_table
from psvm_spark.ml import kernels as K
from psvm_spark.ml.icf import icf_pivots
from psvm_spark.ml.kmeans import lloyd_exact_assign, lloyd_exact_ctes, lloyd_exact_train
from psvm_spark.ml.svm import GAMMA, SCORE_SQL, SVM_B, TS_MOD, TS_RES, sv_test
from psvm_spark.registry import query
from psvm_spark.queries._util import local_df, scratch_dir

POLY_COEF = 1.0
POLY_DEG = 3

# deterministic pair sample: |A| = |B| = n/25 rows -> n^2/625 pairs
_A_MOD, _A_RES = 25, 0
_B_MOD, _B_RES = 25, 1


def _pairs(spark: SparkSession, sf_dir: str):
    e = load_table(spark, sf_dir, "embeddings")
    a = (
        e.filter(F.col("vec_id") % _A_MOD == _A_RES)
        .select(F.col("vec_id").alias("i"), F.col("embedding").alias("va"))
    )
    b = (
        e.filter(F.col("vec_id") % _B_MOD == _B_RES)
        .select(F.col("vec_id").alias("j"), F.col("embedding").alias("vb"))
    )
    return a.crossJoin(F.broadcast(b))


_PAIR_SQL = f"""
FROM (SELECT vec_id AS i, embedding AS va FROM embeddings WHERE vec_id % {_A_MOD} = {_A_RES}) a
CROSS JOIN (SELECT vec_id AS j, embedding AS vb FROM embeddings WHERE vec_id % {_B_MOD} = {_B_RES}) b
"""


@query(
    "kernel_linear",
    oracle=f"SELECT i, j, {K.sql_dot('va', 'vb')} AS k_lin {_PAIR_SQL}",
)
def kernel_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pairs(spark, sf_dir).select(
        "i", "j", K.linear_kernel(F.col("va"), F.col("vb")).alias("k_lin")
    )


@query(
    "kernel_poly",
    oracle=f"""
SELECT i, j,
       round(pow({GAMMA} * {K.sql_dot('va', 'vb')} + {POLY_COEF}, {POLY_DEG}), 9) AS k_poly
{_PAIR_SQL}""",
)
def kernel_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pow is ~1-ulp in both engines -> round(9) on both sides
    return _pairs(spark, sf_dir).select(
        "i",
        "j",
        F.round(
            K.poly_kernel(F.col("va"), F.col("vb"), GAMMA, POLY_COEF, POLY_DEG), 9
        ).alias("k_poly"),
    )


@query(
    "kernel_rbf",
    oracle=f"""
SELECT i, j, round(exp(-{GAMMA} * {K.sql_sq_l2('va', 'vb')}), 9) AS k_rbf
{_PAIR_SQL}""",
)
def kernel_rbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pairs(spark, sf_dir).select(
        "i", "j", F.round(K.rbf_kernel(F.col("va"), F.col("vb"), GAMMA), 9).alias("k_rbf")
    )


@query(
    "kernel_laplacian",
    oracle=f"""
SELECT i, j, round(exp(-{GAMMA} * {K.sql_l1('va', 'vb')}), 9) AS k_lap
{_PAIR_SQL}""",
)
def kernel_laplacian(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pairs(spark, sf_dir).select(
        "i", "j", F.round(K.laplacian_kernel(F.col("va"), F.col("vb"), GAMMA), 9).alias("k_lap")
    )


# --------------------------------------------------------------------------
# A14 — SVM scoring as a relational query: broadcast the SV "model" table,
# cross join with the test shard, kernel-weighted sum per test row.
# The fixed synthetic model (deterministic alpha_y per SV) makes this
# fully SQL-expressible — exactly the reference's
# f(x) = sum_i alpha_i y_i K(s_i, x) + b   [psvm:model.cc].

@query(
    "svm_predict_score",
    oracle=SCORE_SQL
    + """
SELECT t_id, score,
       CASE WHEN score >= 0 THEN 1 ELSE -1 END AS pred
FROM scored
""",
)
def svm_predict_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    sv, test = sv_test(spark, sf_dir)
    k = K.rbf_kernel(F.col("sv_vec"), F.col("t_vec"), GAMMA)
    scored = (
        test.crossJoin(F.broadcast(sv))
        .groupBy("t_id", "label")
        .agg(F.round(F.sum(F.col("alpha_y") * k) + SVM_B, 6).alias("score"))
    )
    return scored.select(
        "t_id",
        "score",
        F.when(F.col("score") >= 0, 1).otherwise(-1).cast("int").alias("pred"),
    )


# --------------------------------------------------------------------------
# A15 — accuracy evaluation of the scored shard against y = sign(label%2).


@query(
    "eval_accuracy",
    oracle=SCORE_SQL
    + """
SELECT COUNT(*) AS n_test,
       CAST(SUM(CASE WHEN (CASE WHEN score >= 0 THEN 1 ELSE -1 END)
                          = (CASE WHEN label % 2 = 0 THEN 1 ELSE -1 END)
                THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
FROM scored
""",
)
def eval_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    sv, test = sv_test(spark, sf_dir)
    k = K.rbf_kernel(F.col("sv_vec"), F.col("t_vec"), GAMMA)
    scored = (
        test.crossJoin(F.broadcast(sv))
        .groupBy("t_id", "label")
        .agg(F.round(F.sum(F.col("alpha_y") * k) + SVM_B, 6).alias("score"))
    )
    pred = F.when(F.col("score") >= 0, 1).otherwise(-1)
    truth = F.when(F.col("label") % 2 == 0, 1).otherwise(-1)
    return scored.agg(
        F.count(F.lit(1)).alias("n_test"),
        (F.sum(F.when(pred == truth, 1).otherwise(0)).cast("double") / F.count(F.lit(1))).alias(
            "accuracy"
        ),
    )


# --------------------------------------------------------------------------
# A9 — distributed vector reductions (the AllReduce workloads): per-label
# counts, mean of first component, norm sums.


@query(
    "vec_reductions",
    oracle=f"""
SELECT label,
       COUNT(*) AS n,
       round(SUM(CAST(embedding[1] AS DOUBLE)), 6) AS sum_dim0,
       round(SUM(sqrt({K.sql_dot('embedding', 'embedding')})), 6) AS sum_norm,
       round(MAX(sqrt({K.sql_dot('embedding', 'embedding')})), 9) AS max_norm
FROM embeddings
GROUP BY label
""",
)
def vec_reductions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    nrm = K.norm2(F.col("embedding"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("embedding")[0].cast("double")), 6).alias("sum_dim0"),
        F.round(F.sum(nrm), 6).alias("sum_norm"),
        F.round(F.max(nrm), 9).alias("max_norm"),
    )


# --------------------------------------------------------------------------
# A10 + A15 — LinearSVC training & eval (rows-only: iterative solver).


@query("svm_train_eval")
def svm_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.ml.svm import binary_train_test, fit_eval_linear_svc

    train, test, _ = binary_train_test(spark, sf_dir)
    _, acc = fit_eval_linear_svc(train, test, "embedding")
    return local_df(spark,
        [("linear_svc_binary", float(train.count()), float(test.count()), acc)],
        "model string, n_train double, n_test double, accuracy double",
    )


# A10 multiclass — all 10 one-vs-rest hinge losses trained in ONE scan
# per iteration (ml/multiclass.py), not 10 separate MLlib runs: scan
# volume and job count are independent of class count, which is the
# property that survives 100 TB.  The MLlib OneVsRest(LinearSVC) parity
# path lives in ml/svm.py and is exercised by tests/test_ml.py.
# rows-only: iterative solver.


@query("svm_multiclass_train_eval")
def svm_multiclass_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.ml.multiclass import eval_multiclass, train_multiclass_hinge

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("y"), "embedding"
    )
    dim = len(e.select("embedding").first()[0])
    train = e.filter(F.col("vec_id") % 5 < 4).persist()
    test = e.filter(F.col("vec_id") % 5 == 4)
    try:
        W = train_multiclass_hinge(train, "embedding", "y", 10, dim, n_iter=8)
        res = eval_multiclass(test, "embedding", "y", W).collect()[0]
    finally:
        train.unpersist()
    return local_df(spark,
        [
            (
                "multiclass_hinge_10class",
                float(res.n_test),
                float(res.n_correct),
                float(res.accuracy),
            )
        ],
        "model string, n_test double, n_correct double, accuracy double",
    )


# A7 — Nystrom kernel approximation feeding the linear solver.


@query("svm_nystrom_train_eval")
def svm_nystrom_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.ml.svm import (
        binary_train_test,
        fit_eval_linear_svc,
        nystrom_map,
        pick_landmarks,
    )

    landmarks = pick_landmarks(spark, sf_dir, every=10)
    train, test, _ = binary_train_test(spark, sf_dir)
    tr = nystrom_map(train, "embedding", landmarks, GAMMA)
    te = nystrom_map(test, "embedding", landmarks, GAMMA)
    _, acc = fit_eval_linear_svc(tr, te, "phi")
    return local_df(spark,
        [("nystrom_rbf_svc", float(len(landmarks)), acc)],
        "model string, n_landmarks double, accuracy double",
    )


# A13 — model persistence round-trip (sharded parquet SV table, like
# psvm's per-rank model files).


@query(
    "svm_model_roundtrip",
    # Exact oracle (round 5): the invariant this query exists to check —
    # every test row scored, every score bit-equal after the parquet
    # round-trip — is itself SQL: both counts must equal the test-shard
    # cardinality.  A lossy model save/load would drop n_equal below
    # n_scored and the driver would flag the hash mismatch.
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(COUNT(*) AS BIGINT) AS n_equal
FROM embeddings WHERE vec_id % {TS_MOD} = {TS_RES}
""",
)
def svm_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    sv, test = sv_test(spark, sf_dir)
    path = scratch_dir("psvm_model_") + "/model_sv"
    sv.write.mode("overwrite").parquet(path)
    sv2 = spark.read.parquet(path)
    k = K.rbf_kernel(F.col("sv_vec"), F.col("t_vec"), GAMMA)

    def score(svdf):
        return (
            test.crossJoin(F.broadcast(svdf))
            .groupBy("t_id")
            .agg(F.round(F.sum(F.col("alpha_y") * k) + SVM_B, 6).alias("score"))
        )

    a = score(sv).withColumnRenamed("score", "score_orig")
    b = score(sv2).withColumnRenamed("score", "score_reloaded")
    return (
        a.join(b, "t_id")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum((F.col("score_orig") == F.col("score_reloaded")).cast("long")).alias("n_equal"),
        )
    )


# A1 — LibSVM ingestion: derive the reference's native text format from
# embeddings, read it back via Spark's libsvm source.


def write_libsvm_dir(spark: SparkSession, sf_dir: str) -> str:
    """Derive the reference's native LibSVM text format from embeddings,
    fully distributed: each executor formats its own rows (`index:value`
    pairs via JVM-side transform/concat_ws — no Python in the row path)
    and writes its own text split; no driver collect, so the derivation
    works at any table size.  Returns the output directory."""

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    sample = e.filter(F.col("vec_id") % 10 == 0)
    y = F.when(F.col("label") % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).cast("string")
    feats = F.filter(
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(
                x != 0.0, F.concat((i + 1).cast("string"), F.lit(":"), x.cast("string"))
            ),
        ),
        lambda s: s.isNotNull(),
    )
    d = scratch_dir("psvm_libsvm_")
    sample.select(F.concat_ws(" ", y, feats).alias("value")).write.mode("overwrite").text(
        f"{d}/data"
    )
    return f"{d}/data"


@query(
    "scan_libsvm",
    # Exact oracle across the text round-trip: write_libsvm_dir derives
    # y = +-1 from label parity over the vec_id%10 sample, and Spark's
    # libsvm reader must hand back exactly those rows.
    oracle="""
SELECT CASE WHEN label % 2 = 0 THEN 1.0 ELSE -1.0 END AS label,
       CAST(COUNT(*) AS BIGINT) AS n
FROM embeddings
WHERE vec_id % 10 = 0
GROUP BY 1
""",
)
def scan_libsvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = write_libsvm_dir(spark, sf_dir)
    df = spark.read.format("libsvm").option("numFeatures", "64").load(path)
    return df.groupBy("label").agg(F.count(F.lit(1)).alias("n"))


# A7 (alternative path) — Random Fourier Features feeding the linear
# solver: data-independent low-rank map for RBF, fixed seed.


@query("svm_rff_train_eval")
def svm_rff_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.ml.svm import binary_train_test, fit_eval_linear_svc, rff_map

    train, test, _ = binary_train_test(spark, sf_dir)
    dim = len(train.select("embedding").first()[0])
    tr = rff_map(train, "embedding", dim, GAMMA, n_features=256)
    te = rff_map(test, "embedding", dim, GAMMA, n_features=256)
    _, acc = fit_eval_linear_svc(tr, te, "phi")
    return local_df(spark,
        [("rff_rbf_svc", 256.0, acc)],
        "model string, n_features double, accuracy double",
    )


# A18 — failsafe checkpointing: driver-coordinated power iteration that
# persists its iterate and resumes identically (library + resume test in
# tests/test_ml.py).  rows-only: iterative, not SQL-expressible.


@query("svm_failsafe_power_iter")
def svm_failsafe_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:

    from psvm_spark.ml.failsafe import FailsafeState, power_iteration

    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    state = FailsafeState(scratch_dir("psvm_failsafe_"))
    v, lam = power_iteration(e, "embedding", dim, n_iter=6, state=state, checkpoint_every=2)
    step, _ = state.load_latest()
    return local_df(spark,
        [(float(lam), float(v[0]), float(step))],
        "rayleigh double, v0 double, last_checkpoint_step double",
    )


# --------------------------------------------------------------------------
# Distributed Lloyd's k-means (ml/kmeans.py): the clustering member of
# the reference's iterate-then-tiny-driver-solve family (A10's loop
# shape, A8's bounded driver step), and the trainer a production IVF
# coarse quantizer needs.  Assignment is a narrow literal-broadcast
# argmin (no shuffle); the update is one map-side-combined shuffle of
# k x d cells per iteration.  rows-only: iterative, not SQL-expressible.


@query("ml_kmeans_cluster")
def ml_kmeans_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.ml.kmeans import lloyd

    assigned, history, _ = lloyd(spark, sf_dir, k=4, n_iter=4)
    assert history[-1] <= history[0] + 1e-9  # Lloyd's never diverges
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dist2").alias("inertia"),
            F.countDistinct("label").alias("n_labels"),
        )
        .orderBy("cluster")
    )


# The deterministic FIRST Lloyd assignment pass, split out with an exact
# oracle (round 5): init centroids are the k lowest vec_ids' vectors (no
# RNG), the per-row argmin fold is bitwise cross-engine (see ml/kernels
# sq_l2 — sequential left fold, plain multiply), ties break toward the
# lowest cluster id on both sides, and inertia sums ROUND(d2, 9) in
# DECIMAL so the rollup is order-independent.  ml_kmeans_cluster above
# stays rows-only for the full iterative run; this key pins the
# distributed geometry the iteration is made of.


@query(
    "ml_kmeans_assign_first",
    oracle=f"""
WITH init AS (
  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4),
initc AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         embedding AS c
  FROM init),
d AS (
  SELECT e.vec_id, e.label, i.cluster,
         {K.sql_sq_l2('e.embedding', 'i.c')} AS d2
  FROM embeddings e CROSS JOIN initc i),
best AS (
  SELECT vec_id, label, cluster, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cluster ASC) AS rk
  FROM d)
SELECT cluster,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(d2, 9) AS DECIMAL(27,9))) AS DOUBLE) AS inertia,
       CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
FROM best WHERE rk = 1
GROUP BY cluster
""",
)
def ml_kmeans_assign_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.ml.kmeans import lloyd

    assigned, _, _ = lloyd(spark, sf_dir, k=4, n_iter=1)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("dist2", 9).cast("decimal(27,9)")).cast("double").alias("inertia"),
        F.countDistinct("label").alias("n_labels"),
    )


# --------------------------------------------------------------------------
# B202 (round 6) — histogram-based decision-stump split finding: the
# inner-loop primitive of distributed tree learning (XGBoost/LightGBM
# style).  Regression target = l_extendedprice, feature = l_quantity;
# per l_linestatus group the candidate splits are the <= 50 distinct
# quantities, and the best split maximizes the between-group sum of
# squares  BSS(v) = A^2/a + B^2/b  (equivalent to minimizing
# SSE_left + SSE_right), where (a, A) / (b, B) are left/right counts
# and target sums.  Sums are exact integer CENTS (the money columns are
# clean 2-decimal), so A and B are bit-identical across engines, and
# the score is the IDENTICAL three-op double expression on both sides
# (mul, div, add on exact integer inputs are correctly rounded — the
# repo's per-row-double contract).  Shape at 100 TB: one map-side-
# combined (group, quantity) aggregation — 50 rows per group — then
# driver-free windows over those 50 rows; this is exactly why
# histogram-based tree learners scale: the shuffle carries the
# histogram, never the rows.

@query(
    "ml_stump_split",
    oracle="""
WITH h AS (
  SELECT l_linestatus AS grp, CAST(l_quantity AS INT) AS qty,
         COUNT(*) AS n,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS s
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT grp, qty,
         SUM(n) OVER (PARTITION BY grp ORDER BY qty
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a,
         SUM(s) OVER (PARTITION BY grp ORDER BY qty
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         SUM(n) OVER (PARTITION BY grp) AS tn,
         SUM(s) OVER (PARTITION BY grp) AS ts
  FROM h),
scored AS (
  SELECT grp, qty, a, tn - a AS b,
         CAST(cs AS DOUBLE) * cs / a
           + CAST(ts - cs AS DOUBLE) * (ts - cs) / (tn - a) AS bss,
         CAST(ts AS DOUBLE) * ts / tn AS bss0
  FROM cum WHERE a > 0 AND tn - a > 0)
SELECT grp, CAST(qty AS INT) AS split_qty,
       CAST(a AS BIGINT) AS n_left, CAST(b AS BIGINT) AS n_right,
       bss - bss0 AS gain
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
                                   ORDER BY bss DESC, qty) AS rk
      FROM scored)
WHERE rk = 1
""",
)
def ml_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    h = (
        li.select(
            F.col("l_linestatus").alias("grp"),
            F.col("l_quantity").cast("int").alias("qty"),
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("grp", "qty")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
    )
    wcum = Window.partitionBy("grp").orderBy("qty").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("grp")
    cum = h.select(
        "grp",
        "qty",
        F.sum("n").over(wcum).alias("a"),
        F.sum("s").over(wcum).alias("cs"),
        F.sum("n").over(wall).alias("tn"),
        F.sum("s").over(wall).alias("ts"),
    )
    scored = cum.filter((F.col("a") > 0) & (F.col("tn") - F.col("a") > 0)).select(
        "grp",
        "qty",
        "a",
        (F.col("tn") - F.col("a")).alias("b"),
        (
            F.col("cs").cast("double") * F.col("cs") / F.col("a")
            + (F.col("ts") - F.col("cs")).cast("double")
            * (F.col("ts") - F.col("cs"))
            / (F.col("tn") - F.col("a"))
        ).alias("bss"),
        (F.col("ts").cast("double") * F.col("ts") / F.col("tn")).alias("bss0"),
    )
    rk = F.row_number().over(
        Window.partitionBy("grp").orderBy(F.col("bss").desc(), F.col("qty").asc())
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "grp",
            F.col("qty").cast("int").alias("split_qty"),
            F.col("a").cast("bigint").alias("n_left"),
            F.col("b").cast("bigint").alias("n_right"),
            (F.col("bss") - F.col("bss0")).alias("gain"),
        )
    )


# --------------------------------------------------------------------------
# B208 (round 7) — distributed Incomplete Cholesky Factorization (ICF),
# the reference's core kernel-approximation algorithm [psvm:icf.cc,
# NIPS'07 section 3]: factor the linear-kernel Gram matrix K ~= H H^T
# by greedily pivoting on the largest residual diagonal.  This is the
# reference-FAITHFUL demo the Nystrom/RFF production path
# (svm_nystrom_train_eval) substitutes for at scale.  The loop is
# psvm_spark.ml.icf.icf_pivots: one barrier stage whose tasks are psvm
# ranks holding their rows of Q and H in executor memory, with one
# allGather per step doing the argmax-AllReduce and the pivot-row
# broadcast.  Parity is bit-exact by construction: embeddings are
# quantized to integer thousandths, so every Gram entry is an exact
# integer; the only floats are hnew = (K[i,p] - <h_i, h_p>) / sqrt(d_p)
# and d_i -= hnew^2, evaluated with IDENTICAL left-fold order and
# correctly-rounded ops on both engines.  The ORACLE replays all steps
# in a recursive CTE with the pivot chosen by a window over the
# recursive rows (the vocab_bpe_merges pattern), proving the full
# iterative factorization — pivot order AND residual magnitudes (1e-6
# fixed point) — end to end.  Input is the deterministic vec_id <
# _ICF_CAP sample (the dedup_embedding convention): ICF itself is
# O(n * rank) per step and scales linearly in rows, but the oracle
# replay wants a bounded fixture.

_ICF_CAP = 256
_ICF_RANK = 5


@query(
    "ml_icf_factor",
    oracle=f"""
WITH RECURSIVE b2 AS (
  SELECT vec_id, q, CAST({K.sql_qdot('q', 'q')} AS DOUBLE) AS resid
  FROM (
    SELECT vec_id, list_transform(embedding, x -> {K.sql_quantize('x')}) AS q
    FROM embeddings WHERE vec_id < {_ICF_CAP})
),
it AS (
  SELECT 0 AS step, vec_id, q, CAST([] AS DOUBLE[]) AS h, resid,
         CAST(NULL AS BIGINT) AS pid, CAST(NULL AS DOUBLE) AS presid
  FROM b2
  UNION ALL
  SELECT step + 1, vec_id, q,
         list_append(h, hnew) AS h,
         resid - hnew * hnew AS resid,
         pid2 AS pid, presid2 AS presid
  FROM (
    SELECT step, vec_id, q, h, resid, pid2, presid2,
           (CAST({K.sql_qdot('q', 'pq2')} AS DOUBLE)
            - list_reduce(
                list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, len(h)+1), i -> h[i] * ph2[i])),
                (a, x) -> a + x)
           ) / sqrt(presid2) AS hnew
    FROM (
      SELECT step, vec_id, q, h, resid,
             first_value(vec_id) OVER win AS pid2,
             first_value(resid) OVER win AS presid2,
             first_value(q) OVER win AS pq2,
             first_value(h) OVER win AS ph2
      FROM it WHERE step < {_ICF_RANK}
      WINDOW win AS (ORDER BY resid DESC, vec_id)
    ) s
  ) t
)
SELECT CAST(step AS INT) AS step,
       any_value(pid) AS pivot_vec_id,
       CAST(floor(any_value(presid) * 1e6) AS BIGINT) AS resid_fp
FROM it WHERE step >= 1 GROUP BY step
""",
)
def ml_icf_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _ICF_CAP)
    return icf_pivots(e, _ICF_RANK)


# --------------------------------------------------------------------------
# B213 (round 7) — ORACLE-EXACT iterative Lloyd's k-means.  Closes the
# round-6 verdict's rows-only gap for the iterative-clustering family:
# ml_kmeans_cluster (MLlib-shaped, float means) stays the production
# form, ml_kmeans_assign_first pins the first pass, and THIS key proves
# the full multi-iteration loop cross-engine with the lattice Lloyd of
# ml/kmeans.py (every centroid coordinate an exact integer).  Ties in
# the argmin break toward the lowest cluster id on both sides
# (array_position-of-min vs ORDER BY d2, cluster).  The oracle unrolls
# all three updates + final assignment as straight-line CTEs.

_KML_K = 4
_KML_ITERS = 3


def _kml_oracle() -> str:
    return f"""
WITH {lloyd_exact_ctes(_KML_K, _KML_ITERS)}
SELECT cluster,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(d2) AS BIGINT) AS inertia_q,
       CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
FROM af GROUP BY cluster
"""


@query("ml_kmeans_lloyd_exact", oracle=_kml_oracle())
def ml_kmeans_lloyd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv, cents = lloyd_exact_train(spark, sf_dir, _KML_K, _KML_ITERS)
    return (
        lloyd_exact_assign(qv, cents)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("d2").cast("bigint").alias("inertia_q"),
            F.countDistinct("label").cast("bigint").alias("n_labels"),
        )
    )


# --------------------------------------------------------------------------
# B215 (round 7) — two rounds of gradient boosting over histogram
# stumps: round 1 fits the best l_quantity split to the price target,
# round 2 fits the best l_discount split to round 1's RESIDUALS — the
# minimal but complete boosting loop (Friedman 2001, squared loss, the
# shape XGBoost/LightGBM iterate).  Everything stays cross-engine
# exact: targets are integer cents, leaf values are FLOOR-of-mean
# integers via the positivity-bias floor division (residuals go
# negative, and Spark's `div`/DuckDB's `//` truncate instead of floor),
# so the residual stream entering round 2 is bit-identical, and each
# round's split score is the ml_stump_split BSS contract (mul/div/add
# on exact integer inputs — correctly rounded doubles both sides).
#
# Shape at 100 TB: per round one map-side-combined histogram shuffle
# (<= 50 cells for quantity, 11 for discount), windows over those
# cells, and a single-row driver reduction for the chosen split (the
# bounded rank-0 step); residuals are a narrow map with the two leaf
# constants embedded in the plan.  The shuffle carries the histogram,
# never the rows — the reason histogram boosting scales.

_GBM_BIG = 1_000_000_000  # |mean| bound for biased floor division


def _gbm_best(df, feat: str):
    """Best BSS split of integer target `y` on integer feature column.

    Returns (split_v, n_left, n_right, mean_left, mean_right, gain)
    with floor-of-mean leaf values (Python // floors, matching the
    oracle's (s + BIG*n) // n - BIG)."""
    from pyspark.sql import Window

    h = df.groupBy(feat).agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s"))
    wcum = Window.orderBy(feat).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    cum = h.select(
        feat,
        F.sum("n").over(wcum).alias("a"),
        F.sum("s").over(wcum).alias("cs"),
        F.sum("n").over(wall).alias("tn"),
        F.sum("s").over(wall).alias("ts"),
    )
    scored = cum.filter((F.col("a") > 0) & (F.col("tn") > F.col("a"))).select(
        feat,
        "a",
        (F.col("tn") - F.col("a")).alias("b"),
        "cs",
        (F.col("ts") - F.col("cs")).alias("rs"),
        (
            F.col("cs").cast("double") * F.col("cs") / F.col("a")
            + (F.col("ts") - F.col("cs")).cast("double")
            * (F.col("ts") - F.col("cs"))
            / (F.col("tn") - F.col("a"))
        ).alias("bss"),
        (F.col("ts").cast("double") * F.col("ts") / F.col("tn")).alias("bss0"),
    )
    r = scored.orderBy(F.desc("bss"), F.col(feat).asc()).limit(1).collect()[0]
    ml = (r.cs + _GBM_BIG * r.a) // r.a - _GBM_BIG
    mr = (r.rs + _GBM_BIG * r.b) // r.b - _GBM_BIG
    return int(r[feat]), int(r.a), int(r.b), int(ml), int(mr), float(r.bss - r.bss0)


def _gbm_round_sql(src: str, feat: str, out_feat: str, rnd: int) -> str:
    return f"""
h{rnd} AS (SELECT {feat} AS f, COUNT(*) AS n, SUM(y) AS s FROM {src} GROUP BY {feat}),
c{rnd} AS (
  SELECT f,
         SUM(n) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a,
         SUM(s) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         SUM(n) OVER () AS tn, SUM(s) OVER () AS ts
  FROM h{rnd}),
s{rnd} AS (
  SELECT f, a, tn - a AS b, cs, ts - cs AS rs,
         CAST(cs AS DOUBLE) * cs / a
           + CAST(ts - cs AS DOUBLE) * (ts - cs) / (tn - a) AS bss,
         CAST(ts AS DOUBLE) * ts / tn AS bss0
  FROM c{rnd} WHERE a > 0 AND tn - a > 0),
b{rnd} AS (SELECT * FROM s{rnd} ORDER BY bss DESC, f LIMIT 1),
m{rnd} AS (
  SELECT f AS split_v, a, b,
         (cs + {_GBM_BIG} * a) // a - {_GBM_BIG} AS ml,
         (rs + {_GBM_BIG} * b) // b - {_GBM_BIG} AS mr,
         bss - bss0 AS gain
  FROM b{rnd}),
o{rnd} AS (
  SELECT {rnd} AS round, '{out_feat}' AS feature, split_v, a AS n_left,
         b AS n_right, ml AS mean_left_q, mr AS mean_right_q, gain
  FROM m{rnd})"""


@query(
    "ml_boosting_two_rounds",
    oracle=f"""
WITH base AS (
  SELECT CAST(l_quantity AS INT) AS qty,
         CAST(l_discount * 100 AS INT) AS disc,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
  FROM lineitem),
r1 AS (SELECT qty AS f1, disc, y FROM base),
{_gbm_round_sql("(SELECT f1 AS qty, y FROM r1)", "qty", "l_quantity", 1)},
res AS (
  SELECT r1.disc, r1.y - CASE WHEN r1.f1 <= m1.split_v THEN m1.ml ELSE m1.mr END AS y
  FROM r1, m1),
{_gbm_round_sql("res", "disc", "l_discount", 2)}
SELECT CAST(round AS INT) AS round, feature, CAST(split_v AS INT) AS split_v,
       CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
       CAST(mean_left_q AS BIGINT) AS mean_left_q,
       CAST(mean_right_q AS BIGINT) AS mean_right_q, gain
FROM (SELECT * FROM o1 UNION ALL SELECT * FROM o2)
""",
)
def ml_boosting_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("qty"),
        (F.col("l_discount") * 100).cast("int").alias("disc"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    s1, a1, b1, ml1, mr1, g1 = _gbm_best(li.select(F.col("qty"), "y"), "qty")
    res = li.select(
        "disc",
        (
            F.col("y")
            - F.when(F.col("qty") <= s1, F.lit(ml1)).otherwise(F.lit(mr1))
        ).alias("y"),
    )
    s2, a2, b2, ml2, mr2, g2 = _gbm_best(res, "disc")
    return local_df(spark,
        [
            (1, "l_quantity", s1, a1, b1, ml1, mr1, g1),
            (2, "l_discount", s2, a2, b2, ml2, mr2, g2),
        ],
        "round int, feature string, split_v int, n_left bigint, n_right bigint,"
        " mean_left_q bigint, mean_right_q bigint, gain double",
    )


# --------------------------------------------------------------------------
# B234 (round 8) — top principal component via distributed moment
# reduction + fixed-point power iteration: the PCA shape every
# embedding-QC pipeline runs, and the psvm A8/A9 decomposition applied
# one more time — a single distributed pass reduces the corpus to the
# (d x d) scatter statistics (one map-side-combined shuffle of 2080
# upper-triangle product cells + 64 sums, exactly the Gram-reduction
# shape of the kernel tier), and the tiny 64 x 64 eigen-solve runs at
# rank 0 (the serial-Cholesky locus).  Everything is integer:
# embeddings quantize to thousandths, the centered scatter matrix is
# M = n*S2 - s s^T (no division — same eigenvectors as the covariance),
# and each power step renormalizes by the max-abs entry with floor
# division (v' = floor(u * VSCALE / max|u|)), so all K iterates are
# exact integers replayed bitwise by the oracle's recursive CTE with
# the positivity-bias floor (DuckDB `//` truncates on negatives).
# Bounds: |M| <= 2 n^2 q^2 and per-step products |M| * VSCALE * 64
# stay under 2^63 through sf0.1; the driver loop uses Python ints
# (unbounded) so the Spark side can never wrap first.
# The oracle's matrix CTE is MATERIALIZED: DuckDB 1.0 otherwise
# re-evaluates it at every step of the recursive CTE (40.2 s instead
# of 0.6 s at sf0.01).

_PCA_ITERS = 200  # the fixture spectrum is nearly flat (gap ratio ~0.93
# at sf0.001, ~0.987 at sf0.01): power iteration needs O(1/(1-ratio))
# steps, and each step is trivial on both engines (64x64 integers)
_PCA_VSCALE = 1_000_000
_PCA_BIG = 100_000_000  # positivity bias: |u_d * VSCALE| < BIG * max|u| always
_PCA_DIM = 64


def _pca_oracle() -> str:
    return f"""
WITH RECURSIVE qv AS (
  SELECT vec_id, list_transform(embedding, x -> {K.sql_quantize('x')}) AS q
  FROM embeddings
),
nn AS (SELECT COUNT(*) AS n FROM qv),
sv AS (
  SELECT u.dim, SUM(u.v) AS s
  FROM qv, LATERAL (SELECT unnest(generate_series(1, {_PCA_DIM})) AS dim,
                           unnest(q) AS v) u
  GROUP BY u.dim),
p AS (
  SELECT da.dim AS d, db.dim AS e, SUM(da.v * db.v) AS s2
  FROM qv,
       LATERAL (SELECT unnest(generate_series(1, {_PCA_DIM})) AS dim,
                       unnest(q) AS v) da,
       LATERAL (SELECT unnest(generate_series(1, {_PCA_DIM})) AS dim,
                       unnest(q) AS v) db
  WHERE da.dim <= db.dim
  GROUP BY da.dim, db.dim),
cell AS (
  SELECT d, e, s2 FROM p
  UNION ALL
  SELECT e, d, s2 FROM p WHERE d <> e),
mrow AS (
  SELECT c.d, list(nn.n * c.s2 - sa.s * sb.s ORDER BY c.e) AS r
  FROM cell c
  JOIN sv sa ON sa.dim = c.d
  JOIN sv sb ON sb.dim = c.e
  CROSS JOIN nn
  GROUP BY c.d),
marr AS MATERIALIZED (SELECT list(r ORDER BY d) AS m FROM mrow),
it AS (
  SELECT 0 AS k, [{", ".join([str(_PCA_VSCALE)] * _PCA_DIM)}] AS v
  UNION ALL
  SELECT k + 1,
         [CAST((u[d] * {_PCA_VSCALE} + {_PCA_BIG} * mx) // mx - {_PCA_BIG}
               AS BIGINT)
          FOR d IN generate_series(1, {_PCA_DIM})]
  FROM (
    SELECT it.k,
           [list_sum([m[d][e] * v[e] FOR e IN generate_series(1, {_PCA_DIM})])
            FOR d IN generate_series(1, {_PCA_DIM})] AS u
    FROM it, marr WHERE it.k < {_PCA_ITERS}
  ) s,
  LATERAL (SELECT list_max(list_transform(u, x -> abs(x))) AS mx) l
),
fin AS (SELECT v FROM it WHERE k = {_PCA_ITERS})
SELECT CAST(p.d AS INT) AS dim,
       CAST(f.v[p.d] AS BIGINT) AS v_fp,
       CAST(nn.n * p.s2 - sv.s * sv.s AS BIGINT) AS m_diag,
       CAST(sv.s AS BIGINT) AS s_sum
FROM p JOIN sv ON sv.dim = p.d CROSS JOIN nn CROSS JOIN fin f
WHERE p.d = p.e
"""


@query("ml_pca_power_iteration", oracle=_pca_oracle())
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from psvm_spark.queries._util import fan_out

    # fan_out: the embeddings fixture is one input split, so without a
    # spread the 2080-cell triangle explode runs on a single core.
    qv = fan_out(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform("embedding", K.quantize).alias("q")
        ),
        spark,
    )
    # ONE pass emits the upper-triangle products AND the per-dim sums
    # (e=0 sentinel) AND the row count ((0,0) sentinel) — previously
    # three serial jobs each rescanned the table.  All cells are exact
    # integer sums, so the merge cannot change any value.
    tri = (
        f"concat("
        f" flatten(transform(sequence(1, {_PCA_DIM}), d ->"
        f"  transform(sequence(d, {_PCA_DIM}), e ->"
        "   struct(d AS d, e AS e, element_at(q, d) * element_at(q, e) AS p)))),"
        f" transform(sequence(1, {_PCA_DIM}), d ->"
        "  struct(d AS d, 0 AS e, element_at(q, d) AS p)),"
        " array(struct(0 AS d, 0 AS e, CAST(1 AS BIGINT) AS p)))"
    )
    cells = (
        qv.select(F.explode(F.expr(tri)).alias("c"))
        .select("c.d", "c.e", "c.p")
        .groupBy("d", "e")
        .agg(F.sum("p").alias("s2"))
        .cache()
    )
    pairs = cells.filter((F.col("d") > 0) & (F.col("e") > 0))
    sums = cells.filter((F.col("d") > 0) & (F.col("e") == 0)).select(
        F.col("d").alias("dim"), F.col("s2").alias("s")
    )
    rows = cells.collect()
    n = next(int(r.s2) for r in rows if r.d == 0 and r.e == 0)
    s2 = {(r.d, r.e): r.s2 for r in rows if r.d > 0 and r.e > 0}
    s = {r.d: r.s2 for r in rows if r.d > 0 and r.e == 0}
    dim = _PCA_DIM
    m = [
        [
            n * (s2[(d, e)] if d <= e else s2[(e, d)]) - s[d] * s[e]
            for e in range(1, dim + 1)
        ]
        for d in range(1, dim + 1)
    ]
    v = [_PCA_VSCALE] * dim
    for _ in range(_PCA_ITERS):
        u = [sum(m[d][e] * v[e] for e in range(dim)) for d in range(dim)]
        mx = max(abs(x) for x in u)
        # Python // floors (matching the oracle's positivity-bias floor)
        v = [(x * _PCA_VSCALE) // mx for x in u]
    vdf = local_df(spark,
        [(d + 1, int(v[d])) for d in range(dim)], "dim int, v_fp long"
    )
    diag = pairs.filter(F.col("d") == F.col("e")).select(
        F.col("d").alias("dim"), "s2"
    )
    return (
        diag.join(sums, "dim")
        .join(F.broadcast(vdf), "dim")
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.col("v_fp").cast("bigint").alias("v_fp"),
            (F.lit(n) * F.col("s2") - F.col("s") * F.col("s"))
            .cast("bigint")
            .alias("m_diag"),
            F.col("s").cast("bigint").alias("s_sum"),
        )
    )


# --------------------------------------------------------------------------
# B239 (round 8) — per-dimension two-class Welch t-statistic screen:
# the univariate feature-selection pass run before any heavy trainer
# (and the vector sibling of ab_test_welch_t2 — same statistic, one row
# per embedding dimension instead of one scalar pair).  Classes are the
# label parity split the SVM tier already uses.  Parity recipe:
# embeddings quantize to thousandth integers, so per-(dim, class)
# count/sum/sum-of-squares are exact bigints out of ONE map-side-
# combined shuffle of 64 x 2 cells; the Welch formula then runs on
# identical exact operands with an identical double op sequence,
# rounded to 9 on both engines.  Shape at 100 TB: a single narrow
# posexplode pass + 128-cell reduce — the psvm A9 AllReduce shape.


def _ttest_oracle() -> str:
    return f"""
WITH qv AS (
  SELECT CAST(label % 2 AS INT) AS cls,
         list_transform(embedding, x -> {K.sql_quantize('x')}) AS q
  FROM embeddings
),
cells AS (
  SELECT u.dim, cls, COUNT(*) AS n, SUM(u.v) AS s, SUM(u.v * u.v) AS s2
  FROM qv, LATERAL (SELECT unnest(generate_series(1, len(q))) AS dim,
                           unnest(q) AS v) u
  GROUP BY u.dim, cls),
sides AS (
  SELECT a.dim,
         a.n AS n1, a.s AS s1, a.s2 AS q1,
         b.n AS n0, b.s AS s0, b.s2 AS q0
  FROM cells a JOIN cells b ON a.dim = b.dim AND a.cls = 1 AND b.cls = 0),
st AS (
  SELECT dim,
         CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s0 AS DOUBLE) / n0 AS m0,
         (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
         (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1) AS v0,
         n1, n0
  FROM sides)
SELECT CAST(dim AS INT) AS dim,
       CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
       round(m1 - m0, 9) AS mean_diff,
       round((m1 - m0) / sqrt(v1 / n1 + v0 / n0), 9) AS t_welch
FROM st
"""


@query("ml_feature_ttest_screen", oracle=_ttest_oracle())
def ml_feature_ttest_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = load_table(spark, sf_dir, "embeddings").select(
        (F.col("label") % 2).cast("int").alias("cls"),
        F.transform("embedding", K.quantize).alias("q"),
    )
    cells = (
        qv.select("cls", F.posexplode("q").alias("pos", "v"))
        .select("cls", (F.col("pos") + 1).alias("dim"), "v")
        .groupBy("dim", "cls")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("s2"),
        )
    )
    a = cells.filter(F.col("cls") == 1).select(
        "dim",
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("s2").alias("q1"),
    )
    b = cells.filter(F.col("cls") == 0).select(
        "dim",
        F.col("n").alias("n0"), F.col("s").alias("s0"), F.col("s2").alias("q0"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m0 = F.col("s0").cast("double") / F.col("n0")
    v1 = (
        F.col("q1").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ) / (F.col("n1") - 1)
    v0 = (
        F.col("q0").cast("double") - F.col("s0").cast("double") * F.col("s0") / F.col("n0")
    ) / (F.col("n0") - 1)
    return a.join(b, "dim").select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n0").cast("bigint").alias("n0"),
        F.round(m1 - m0, 9).alias("mean_diff"),
        F.round((m1 - m0) / F.sqrt(v1 / F.col("n1") + v0 / F.col("n0")), 9).alias(
            "t_welch"
        ),
    )


# --------------------------------------------------------------------------
# B250 (round 8) — isotonic regression via pool-adjacent-violators:
# the standard score-calibration fit (Zadrozny & Elkan 2002) — fit a
# monotone non-decreasing positive-rate curve over score bins by
# pooling adjacent bins whenever the empirical rate decreases.  The
# corpus-sized work is ONE groupBy into {_PAV_B} score bins (map-side
# combined); PAV then runs on the <= {_PAV_B}-row bin table at rank 0
# (the psvm serial-solve locus), replayed by the oracle as an
# event-stepped recursive CTE — each step either PUSHES the next bin
# onto the block stack or MERGES the top two blocks, so the
# variable-length inner merge loop becomes a bounded linear recursion
# (<= 2B steps).  Exactness: block means are exact rationals compared
# by cross-multiplication (ys[-2] * ns[-1] > ys[-1] * ns[-2]); the
# fitted rate rounds to 9 only at output.  Scores clamp BEFORE the
# bucket division so `div`/`//` only ever see non-negative operands
# (the documented negative-floor-division trap).

_PAV_B = 32  # score bins
_PAV_CLL, _PAV_CLH = -512, 511  # clamp range: emb[0] concentrates in +-0.5
_PAV_W = 32  # bin width: (511 + 512 + 1) / 32 -> bins 0..31


@query(
    "ml_isotonic_pav",
    oracle=f"""
WITH RECURSIVE q AS (
  SELECT CAST((least(greatest({K.sql_quantize('embedding[1]')}, {_PAV_CLL}),
                     {_PAV_CLH}) + {-_PAV_CLL}) // {_PAV_W} AS INT) AS bin,
         CAST(label < 5 AS INT) AS y
  FROM embeddings),
g AS (SELECT bin, COUNT(*) AS n, SUM(y) AS sy FROM q GROUP BY bin),
arr AS (
  SELECT list(bin ORDER BY bin) AS bins,
         list(n ORDER BY bin) AS ns0,
         list(sy ORDER BY bin) AS ys0,
         COUNT(*) AS nb
  FROM g),
it AS (
  SELECT 0 AS step, 1 AS i,
         CAST([] AS BIGINT[]) AS ns, CAST([] AS BIGINT[]) AS ys,
         CAST([] AS INT[]) AS st, bins, ns0, ys0, nb
  FROM arr
  UNION ALL
  SELECT step + 1,
         CASE WHEN viol THEN i ELSE i + 1 END,
         CASE WHEN viol
              THEN list_append(ns[1:len(ns) - 2], ns[len(ns) - 1] + ns[len(ns)])
              ELSE list_append(ns, ns0[i]) END,
         CASE WHEN viol
              THEN list_append(ys[1:len(ys) - 2], ys[len(ys) - 1] + ys[len(ys)])
              ELSE list_append(ys, ys0[i]) END,
         CASE WHEN viol THEN st[1:len(st) - 1] ELSE list_append(st, i) END,
         bins, ns0, ys0, nb
  FROM (
    SELECT *,
           len(ns) >= 2
             AND ys[len(ns) - 1] * ns[len(ns)] > ys[len(ns)] * ns[len(ns) - 1]
             AS viol
    FROM it) s
  WHERE viol OR i <= nb),
fin AS (SELECT * FROM it ORDER BY step DESC LIMIT 1)
SELECT CAST(bins[j] AS INT) AS bin,
       CAST(ns0[j] AS BIGINT) AS n,
       CAST(ys0[j] AS BIGINT) AS y_pos,
       CAST(ns[k] AS BIGINT) AS blk_n,
       CAST(ys[k] AS BIGINT) AS blk_y,
       round(CAST(ys[k] AS DOUBLE) / ns[k], 9) AS fitted
FROM (
  SELECT f.*, jj.j, len(list_filter(f.st, s -> s <= jj.j)) AS k
  FROM fin f, LATERAL (SELECT unnest(generate_series(1, f.nb)) AS j) jj) e
""",
)
def ml_isotonic_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # Integer `div`, never float `/` + cast, when mirroring DuckDB `//`
    # (repo float-parity rule; ADVICE r8).  The shifted operand is in
    # [0, 1023] so div == // with no negative-truncation asymmetry.
    x = F.least(F.greatest(K.quantize(F.col("embedding")[0]), F.lit(_PAV_CLL)), F.lit(_PAV_CLH))
    binned = e.select(x.alias("x"), (F.col("label") < 5).cast("int").alias("y")).select(
        F.expr(f"cast((x + {-_PAV_CLL}) div {_PAV_W} as int)").alias("bin"), "y"
    )
    g = sorted(
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"))
        .collect(),
        key=lambda r: r.bin,
    )
    bins = [r.bin for r in g]
    ns0 = [int(r.n) for r in g]
    ys0 = [int(r.sy) for r in g]
    ns: list[int] = []
    ys: list[int] = []
    st: list[int] = []
    i = 1
    while True:
        viol = len(ns) >= 2 and ys[-2] * ns[-1] > ys[-1] * ns[-2]
        if viol:
            ns = ns[:-2] + [ns[-2] + ns[-1]]
            ys = ys[:-2] + [ys[-2] + ys[-1]]
            st = st[:-1]
        elif i <= len(bins):
            ns.append(ns0[i - 1])
            ys.append(ys0[i - 1])
            st.append(i)
            i += 1
        else:
            break
    out = []
    for j in range(1, len(bins) + 1):
        k = sum(1 for v in st if v <= j)
        out.append(
            (
                bins[j - 1],
                ns0[j - 1],
                ys0[j - 1],
                ns[k - 1],
                ys[k - 1],
                round(float(ys[k - 1]) / ns[k - 1], 9),
            )
        )
    return local_df(spark,
        out,
        "bin int, n bigint, y_pos bigint, blk_n bigint, blk_y bigint,"
        " fitted double",
    )


# --------------------------------------------------------------------------
# B252 (round 8) — logistic regression by IRLS/Newton on sufficient
# statistics: the A10 iterative-solver shape (psvm's IPM inner loop)
# with an EXACT oracle.  The corpus-sized work is ONE shuffle that
# compresses the data to per-score sufficient statistics (x, n, sum_y)
# — the clamped integer score domain is <= 2048 values by
# construction, so the stat table is bounded and the K=3 Newton
# iterations run at rank 0 on exact integers (the psvm
# reduce-to-rank-0 + serial-solve decomposition; at 100 TB the scan
# is the only data-sized cost and each iteration is O(2048)).
# Exactness contract: probabilities quantize to p_fp = floor(p*1e6
# + 0.5) computed from t = (w0_fp + w1_fp*x)/1e9 — Python's math.exp
# and DuckDB's exp() both call the same system libm, so p_fp matches
# bit-for-bit (the JVM's Math.exp is the one that may differ, which
# is why the per-iteration probability table is built at the driver,
# not in a Spark expression); weights re-quantize to a 1e-9 grid
# after every Newton step, and the 2x2 solve runs in doubles from
# exact bigint sums with a literally mirrored op sequence.  Overflow:
# |x| <= 1024, r_fp <= 2.5e5, so S_rxx <= n * 2.6e11 < 2^63 through
# sf10.

_IRLS_K = 3
_IRLS_PSC = 1_000_000  # probability fixed-point scale
_IRLS_WSC = 1_000_000_000  # weight fixed-point scale
_IRLS_CL = 1024  # score clamp: guarantees the bounded stat domain


@query(
    "ml_logistic_irls",
    oracle=f"""
WITH RECURSIVE q AS (
  SELECT least(greatest({K.sql_quantize('embedding[1]')}, {-_IRLS_CL}),
               {_IRLS_CL - 1}) AS x,
         CAST(label < 5 AS INT) AS y
  FROM embeddings),
stats AS (SELECT x, COUNT(*) AS n, SUM(y) AS sy FROM q GROUP BY x),
it AS (
  SELECT 0 AS k, CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1
  UNION ALL
  SELECT it.k + 1,
         CAST(floor((CAST(it.w0 AS DOUBLE) / {_IRLS_WSC}
                     + (CAST(s.s_rxx AS DOUBLE) * s.s_yp
                        - CAST(s.s_rx AS DOUBLE) * s.s_ypx)
                       / (CAST(s.s_r AS DOUBLE) * s.s_rxx
                          - CAST(s.s_rx AS DOUBLE) * s.s_rx))
                    * {_IRLS_WSC} + 0.5) AS BIGINT),
         CAST(floor((CAST(it.w1 AS DOUBLE) / {_IRLS_WSC}
                     + (CAST(s.s_r AS DOUBLE) * s.s_ypx
                        - CAST(s.s_rx AS DOUBLE) * s.s_yp)
                       / (CAST(s.s_r AS DOUBLE) * s.s_rxx
                          - CAST(s.s_rx AS DOUBLE) * s.s_rx))
                    * {_IRLS_WSC} + 0.5) AS BIGINT)
  FROM it, LATERAL (
    SELECT SUM(sy * {_IRLS_PSC} - n * p_fp) AS s_yp,
           SUM(x * (sy * {_IRLS_PSC} - n * p_fp)) AS s_ypx,
           SUM(n * r_fp) AS s_r,
           SUM(n * r_fp * x) AS s_rx,
           SUM(n * r_fp * x * x) AS s_rxx
    FROM (
      SELECT x, n, sy, p_fp,
             (p_fp * ({_IRLS_PSC} - p_fp)) // {_IRLS_PSC} AS r_fp
      FROM (
        SELECT x, n, sy,
               CAST(floor({_IRLS_PSC}
                          / (1.0 + exp(-(CAST(it.w0 + it.w1 * x AS DOUBLE)
                                         / {_IRLS_WSC})))
                          + 0.5) AS BIGINT) AS p_fp
        FROM stats) p) r) s
  WHERE it.k < {_IRLS_K})
SELECT CAST(k AS INT) AS iter, w0 AS w0_fp, w1 AS w1_fp
FROM it WHERE k >= 1
""",
)
def ml_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load_table(spark, sf_dir, "embeddings")
    s_expr = K.quantize(F.col("embedding")[0])
    stats = [
        (int(r.x), int(r.n), int(r.sy))
        for r in e.select(
            F.least(
                F.greatest(s_expr, F.lit(-_IRLS_CL)), F.lit(_IRLS_CL - 1)
            ).alias("x"),
            (F.col("label") < 5).cast("int").alias("y"),
        )
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"))
        .collect()
    ]
    w0, w1 = 0, 0  # fixed-point bigints
    out = []
    for k in range(1, _IRLS_K + 1):
        s_yp = s_ypx = s_r = s_rx = s_rxx = 0
        for x, n, sy in stats:
            t = float(w0 + w1 * x) / _IRLS_WSC
            p_fp = int(math.floor(_IRLS_PSC / (1.0 + math.exp(-t)) + 0.5))
            r_fp = (p_fp * (_IRLS_PSC - p_fp)) // _IRLS_PSC
            s_yp += sy * _IRLS_PSC - n * p_fp
            s_ypx += x * (sy * _IRLS_PSC - n * p_fp)
            s_r += n * r_fp
            s_rx += n * r_fp * x
            s_rxx += n * r_fp * x * x
        det = float(s_r) * s_rxx - float(s_rx) * s_rx
        d0 = (float(s_rxx) * s_yp - float(s_rx) * s_ypx) / det
        d1 = (float(s_r) * s_ypx - float(s_rx) * s_yp) / det
        w0 = int(math.floor((float(w0) / _IRLS_WSC + d0) * _IRLS_WSC + 0.5))
        w1 = int(math.floor((float(w1) / _IRLS_WSC + d1) * _IRLS_WSC + 0.5))
        out.append((k, w0, w1))
    return local_df(spark, out, "iter int, w0_fp bigint, w1_fp bigint")


# --------------------------------------------------------------------------
# B253 (round 8) — two-component 1-D Gaussian mixture by EM, on the
# same sufficient-statistics decomposition as ml_logistic_irls: one
# shuffle compresses the corpus to (x, n) over the clamped integer
# score domain (<= 2048 rows by construction), then K=3 EM iterations
# run at rank 0 and are replayed exactly by the oracle's recursive
# CTE.  Per-iteration determinism: responsibilities quantize to
# r_fp = floor(r * 1e6 + 0.5) computed from double densities whose
# exp/sqrt come from the SAME system libm on both replay engines
# (Python at the driver, DuckDB in the oracle — the IRLS contract);
# the M-step moments are then exact integers, and the new
# (pi, mu, var) re-quantize to fixed grids before the next E-step.
# At 100 TB the scan is the only data-sized cost; EM never sees rows,
# only the bounded stat table.

_GMM_K = 3  # EM iterations
_GMM_RSC = 1_000_000  # responsibility fixed point
_GMM_MSC = 1_000  # mean fixed point (thousandths of a score unit)
_GMM_MU1, _GMM_MU2 = -256_000, 256_000  # init means (MSC scale)
_GMM_V0 = 65_536  # init variance (score units squared)


@query(
    "ml_gmm_em",
    oracle=f"""
WITH RECURSIVE q AS (
  SELECT least(greatest({K.sql_quantize('embedding[1]')}, -1024), 1023) AS x
  FROM embeddings),
stats AS (SELECT x, COUNT(*) AS n FROM q GROUP BY x),
tot AS (SELECT SUM(n) AS nn FROM stats),
it AS (
  SELECT 0 AS k,
         CAST({_GMM_MU1} AS BIGINT) AS mu1, CAST({_GMM_MU2} AS BIGINT) AS mu2,
         CAST({_GMM_V0} AS BIGINT) AS v1, CAST({_GMM_V0} AS BIGINT) AS v2,
         CAST(500000 AS BIGINT) AS pi1
  UNION ALL
  SELECT it.k + 1,
         CAST(floor(CAST(s.s1 AS DOUBLE) / s.n1 * {_GMM_MSC} + 0.5) AS BIGINT),
         CAST(floor(CAST(s.s2 AS DOUBLE) / s.n2 * {_GMM_MSC} + 0.5) AS BIGINT),
         greatest(CAST(floor(CAST(s.q1 AS DOUBLE) / s.n1
                             - (CAST(s.s1 AS DOUBLE) / s.n1)
                               * (CAST(s.s1 AS DOUBLE) / s.n1) + 0.5)
                       AS BIGINT), 1),
         greatest(CAST(floor(CAST(s.q2 AS DOUBLE) / s.n2
                             - (CAST(s.s2 AS DOUBLE) / s.n2)
                               * (CAST(s.s2 AS DOUBLE) / s.n2) + 0.5)
                       AS BIGINT), 1),
         CAST(floor(CAST(s.n1 AS DOUBLE) / (s.n1 + s.n2) * {_GMM_RSC} + 0.5)
              AS BIGINT)
  FROM it, LATERAL (
    SELECT SUM(n * r1) AS n1, SUM(n * ({_GMM_RSC} - r1)) AS n2,
           SUM(n * r1 * x) AS s1, SUM(n * ({_GMM_RSC} - r1) * x) AS s2,
           SUM(n * r1 * x * x) AS q1,
           SUM(n * ({_GMM_RSC} - r1) * x * x) AS q2
    FROM (
      SELECT x, n,
             CAST(floor(p1 / (p1 + p2) * {_GMM_RSC} + 0.5) AS BIGINT) AS r1
      FROM (
        SELECT x, n,
               CAST(it.pi1 AS DOUBLE) / {_GMM_RSC}
                 * exp(-(x - CAST(it.mu1 AS DOUBLE) / {_GMM_MSC})
                        * (x - CAST(it.mu1 AS DOUBLE) / {_GMM_MSC})
                        / (2.0 * it.v1)) / sqrt(CAST(it.v1 AS DOUBLE)) AS p1,
               (1.0 - CAST(it.pi1 AS DOUBLE) / {_GMM_RSC})
                 * exp(-(x - CAST(it.mu2 AS DOUBLE) / {_GMM_MSC})
                        * (x - CAST(it.mu2 AS DOUBLE) / {_GMM_MSC})
                        / (2.0 * it.v2)) / sqrt(CAST(it.v2 AS DOUBLE)) AS p2
        FROM stats) d) r) s
  WHERE it.k < {_GMM_K})
SELECT CAST(k AS INT) AS iter, mu1 AS mu1_fp, mu2 AS mu2_fp,
       v1 AS var1, v2 AS var2, pi1 AS pi1_fp
FROM it WHERE k >= 1
""",
)
def ml_gmm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load_table(spark, sf_dir, "embeddings")
    s_expr = K.quantize(F.col("embedding")[0])
    stats = [
        (int(r.x), int(r.n))
        for r in e.select(
            F.least(F.greatest(s_expr, F.lit(-1024)), F.lit(1023)).alias("x")
        )
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    mu1, mu2, v1, v2, pi1 = _GMM_MU1, _GMM_MU2, _GMM_V0, _GMM_V0, 500_000
    out = []
    for k in range(1, _GMM_K + 1):
        n1s = n2s = s1 = s2 = q1 = q2 = 0
        for x, n in stats:
            d1 = x - float(mu1) / _GMM_MSC
            d2 = x - float(mu2) / _GMM_MSC
            p1 = (
                float(pi1) / _GMM_RSC
                * math.exp(-d1 * d1 / (2.0 * v1))
                / math.sqrt(float(v1))
            )
            p2 = (
                (1.0 - float(pi1) / _GMM_RSC)
                * math.exp(-d2 * d2 / (2.0 * v2))
                / math.sqrt(float(v2))
            )
            r1 = int(math.floor(p1 / (p1 + p2) * _GMM_RSC + 0.5))
            n1s += n * r1
            n2s += n * (_GMM_RSC - r1)
            s1 += n * r1 * x
            s2 += n * (_GMM_RSC - r1) * x
            q1 += n * r1 * x * x
            q2 += n * (_GMM_RSC - r1) * x * x
        mu1 = int(math.floor(float(s1) / n1s * _GMM_MSC + 0.5))
        mu2 = int(math.floor(float(s2) / n2s * _GMM_MSC + 0.5))
        v1 = max(
            int(
                math.floor(
                    float(q1) / n1s - (float(s1) / n1s) * (float(s1) / n1s) + 0.5
                )
            ),
            1,
        )
        v2 = max(
            int(
                math.floor(
                    float(q2) / n2s - (float(s2) / n2s) * (float(s2) / n2s) + 0.5
                )
            ),
            1,
        )
        pi1 = int(math.floor(float(n1s) / (n1s + n2s) * _GMM_RSC + 0.5))
        out.append((k, mu1, mu2, v1, v2, pi1))
    return local_df(spark,
        out, "iter int, mu1_fp bigint, mu2_fp bigint, var1 bigint,"
        " var2 bigint, pi1_fp bigint"
    )


# --------------------------------------------------------------------------
# B586 (round 12) — fixed-iteration hinge-loss subgradient descent with
# an EXACT SQL oracle: the differential twin the A10 SVM training
# family (svm_train_eval et al., rows-only iterative solvers) was
# missing (verdict r11 item 4).  Same sufficient-statistics recipe as
# ml_logistic_irls: one shuffle compresses the corpus to (x, y, n) over
# the clamped integer score domain (<= 2*2048 cells by construction),
# then K full-batch Pegasos-style steps run at rank 0 and are replayed
# exactly by the oracle's recursive CTE.  The hinge twin is actually
# STRONGER than the IRLS one: the margin-violator indicator
# y*(w0 + w1*x) < WSC is pure BIGINT comparison (no libm at all in the
# E-step), so the per-iteration sums S_y / S_yx / n_viol / n_err are
# exact integers; only the (1 - eta*lam) shrink + eta*grad step uses
# doubles, re-quantized to the WSC grid before the next iteration
# (identical IEEE ops in Python and DuckDB — the IRLS contract).
# n_viol / n_err in row k are measured with the PRE-update weights
# (iteration k-1's model), i.e. the margin state the step descended on.
# At 100 TB the scan+groupBy is the only data-sized cost; the solver
# never sees rows, only the bounded stat table.

_SVM_K = 5  # subgradient iterations
_SVM_ETA0 = 0.5  # step size eta_k = ETA0 / k
_SVM_LAM = 0.01  # L2 regularization
_SVM_XSC = 1024  # feature scale: z = x / XSC in [-1, 1)


@query(
    "svm_hinge_fixed_iter",
    oracle=f"""
WITH RECURSIVE q AS (
  SELECT least(greatest({K.sql_quantize('embedding[1]')}, {-_IRLS_CL}),
               {_IRLS_CL - 1}) AS x,
         CAST(label < 5 AS INT) * 2 - 1 AS y
  FROM embeddings),
stats AS (SELECT x, y, COUNT(*) AS n FROM q GROUP BY x, y),
it AS (
  SELECT 0 AS k, CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
         CAST(0 AS BIGINT) AS n_viol, CAST(0 AS BIGINT) AS n_err
  UNION ALL
  SELECT it.k + 1,
         CAST(floor(((1.0 - {_SVM_ETA0} / (it.k + 1) * {_SVM_LAM})
                     * (CAST(it.w0 AS DOUBLE) / {_IRLS_WSC})
                     + {_SVM_ETA0} / (it.k + 1)
                       * (CAST(s.s_y AS DOUBLE) / s.nn))
                    * {_IRLS_WSC} + 0.5) AS BIGINT),
         CAST(floor(((1.0 - {_SVM_ETA0} / (it.k + 1) * {_SVM_LAM})
                     * (CAST(it.w1 AS DOUBLE) / {_IRLS_WSC})
                     + {_SVM_ETA0} / (it.k + 1)
                       * (CAST(s.s_yx AS DOUBLE) / s.nn / {_SVM_XSC}))
                    * {_IRLS_WSC} + 0.5) AS BIGINT),
         s.nv, s.ne
  FROM it, LATERAL (
    SELECT SUM(n) AS nn,
           SUM(CASE WHEN y * ({_SVM_XSC} * it.w0 + it.w1 * x)
                         < {_SVM_XSC} * CAST({_IRLS_WSC} AS BIGINT)
                    THEN n * y ELSE 0 END) AS s_y,
           SUM(CASE WHEN y * ({_SVM_XSC} * it.w0 + it.w1 * x)
                         < {_SVM_XSC} * CAST({_IRLS_WSC} AS BIGINT)
                    THEN n * y * x ELSE 0 END) AS s_yx,
           SUM(CASE WHEN y * ({_SVM_XSC} * it.w0 + it.w1 * x)
                         < {_SVM_XSC} * CAST({_IRLS_WSC} AS BIGINT)
                    THEN n ELSE 0 END) AS nv,
           SUM(CASE WHEN y * ({_SVM_XSC} * it.w0 + it.w1 * x) <= 0
                    THEN n ELSE 0 END) AS ne
    FROM stats) s
  WHERE it.k < {_SVM_K})
SELECT CAST(k AS INT) AS iter, w0 AS w0_fp, w1 AS w1_fp, n_viol, n_err
FROM it WHERE k >= 1
""",
)
def svm_hinge_fixed_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load_table(spark, sf_dir, "embeddings")
    s_expr = K.quantize(F.col("embedding")[0])
    stats = [
        (int(r.x), int(r.y), int(r.n))
        for r in e.select(
            F.least(
                F.greatest(s_expr, F.lit(-_IRLS_CL)), F.lit(_IRLS_CL - 1)
            ).alias("x"),
            ((F.col("label") < 5).cast("int") * 2 - 1).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    nn = sum(n for _, _, n in stats)
    w0, w1 = 0, 0  # WSC fixed-point bigints
    out = []
    for k in range(1, _SVM_K + 1):
        s_y = s_yx = nv = ne = 0
        for x, y, n in stats:
            # exact integer margin test: y*(w0 + w1*(x/XSC)) < 1 in
            # natural units <=> y*(XSC*w0 + w1*x) < XSC*WSC in bigints
            m = y * (_SVM_XSC * w0 + w1 * x)
            if m < _SVM_XSC * _IRLS_WSC:
                s_y += n * y
                s_yx += n * y * x
                nv += n
            if m <= 0:
                ne += n
        w0 = int(
            math.floor(
                (
                    (1.0 - _SVM_ETA0 / k * _SVM_LAM) * (float(w0) / _IRLS_WSC)
                    + _SVM_ETA0 / k * (float(s_y) / nn)
                )
                * _IRLS_WSC
                + 0.5
            )
        )
        w1 = int(
            math.floor(
                (
                    (1.0 - _SVM_ETA0 / k * _SVM_LAM) * (float(w1) / _IRLS_WSC)
                    + _SVM_ETA0 / k * (float(s_yx) / nn / _SVM_XSC)
                )
                * _IRLS_WSC
                + 0.5
            )
        )
        out.append((k, w0, w1, nv, ne))
    return local_df(spark,
        out,
        "iter int, w0_fp bigint, w1_fp bigint, n_viol bigint, n_err bigint",
    )


# --------------------------------------------------------------------------
# B569 (round 10) — depth-2 histogram tree growth: the recursive step
# on top of ml_stump_split's primitive.  Level 1 finds the best
# quantity split per l_linestatus group (identical machinery); level 2
# re-histograms WITHIN each resulting leaf on a second feature
# (discount, in exact cents-of-rate) and finds each leaf's best split
# — exactly how distributed GBDT learners (XGBoost/LightGBM) grow a
# tree level: one shuffle per level carrying histograms, never rows.
# Same exactness recipe as the stump: exact integer cents, BSS =
# A^2/a + B^2/b as the identical three-op double expression both
# sides.  Output: per (group, leaf) the level-2 split, sizes and gain.


@query(
    "ml_tree_depth2",
    oracle="""
WITH h1 AS (
  SELECT l_linestatus AS grp, CAST(l_quantity AS INT) AS qty,
         COUNT(*) AS n,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS s
  FROM lineitem GROUP BY 1, 2),
cum1 AS (
  SELECT grp, qty,
         SUM(n) OVER (PARTITION BY grp ORDER BY qty
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a,
         SUM(s) OVER (PARTITION BY grp ORDER BY qty
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         SUM(n) OVER (PARTITION BY grp) AS tn,
         SUM(s) OVER (PARTITION BY grp) AS ts
  FROM h1),
root AS (
  SELECT grp, qty AS split_qty
  FROM (SELECT grp, qty,
               CAST(cs AS DOUBLE) * cs / a
                 + CAST(ts - cs AS DOUBLE) * (ts - cs) / (tn - a) AS bss,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY
                 CAST(cs AS DOUBLE) * cs / a
                   + CAST(ts - cs AS DOUBLE) * (ts - cs) / (tn - a) DESC,
                 qty) AS rk
        FROM cum1 WHERE a > 0 AND tn - a > 0)
  WHERE rk = 1),
h2 AS (
  SELECT li.l_linestatus AS grp,
         CASE WHEN CAST(li.l_quantity AS INT) <= r.split_qty
              THEN 'L' ELSE 'R' END AS leaf,
         CAST(CAST(li.l_discount AS DECIMAL(4,2)) * 100 AS INT) AS disc,
         COUNT(*) AS n,
         SUM(CAST(CAST(li.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS s
  FROM lineitem li JOIN root r ON li.l_linestatus = r.grp
  GROUP BY 1, 2, 3),
cum2 AS (
  SELECT grp, leaf, disc,
         SUM(n) OVER (PARTITION BY grp, leaf ORDER BY disc
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a,
         SUM(s) OVER (PARTITION BY grp, leaf ORDER BY disc
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         SUM(n) OVER (PARTITION BY grp, leaf) AS tn,
         SUM(s) OVER (PARTITION BY grp, leaf) AS ts
  FROM h2),
scored2 AS (
  SELECT grp, leaf, disc, a, tn - a AS b, tn,
         CAST(cs AS DOUBLE) * cs / a
           + CAST(ts - cs AS DOUBLE) * (ts - cs) / (tn - a) AS bss,
         CAST(ts AS DOUBLE) * ts / tn AS bss0
  FROM cum2 WHERE a > 0 AND tn - a > 0)
SELECT s2.grp, s2.leaf, r.split_qty AS root_split_qty,
       CAST(s2.tn AS BIGINT) AS n_node,
       CAST(s2.disc AS INT) AS split_disc,
       CAST(s2.a AS BIGINT) AS n_left, CAST(s2.b AS BIGINT) AS n_right,
       s2.bss - s2.bss0 AS gain
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp, leaf
                                   ORDER BY bss DESC, disc) AS rk
      FROM scored2) s2
JOIN root r ON s2.grp = r.grp
WHERE s2.rk = 1
""",
)
def ml_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("grp"),
        F.col("l_quantity").cast("int").alias("qty"),
        (F.col("l_discount").cast("decimal(4,2)") * 100).cast("int").alias("disc"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    wall1 = Window.partitionBy("grp")
    wcum1 = wall1.orderBy("qty").rowsBetween(Window.unboundedPreceding, 0)
    h1 = li.groupBy("grp", "qty").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    bss1 = (
        F.col("cs").cast("double") * F.col("cs") / F.col("a")
        + (F.col("ts") - F.col("cs")).cast("double")
        * (F.col("ts") - F.col("cs"))
        / (F.col("tn") - F.col("a"))
    )
    cum1 = h1.select(
        "grp",
        "qty",
        F.sum("n").over(wcum1).alias("a"),
        F.sum("s").over(wcum1).alias("cs"),
        F.sum("n").over(wall1).alias("tn"),
        F.sum("s").over(wall1).alias("ts"),
    )
    root = (
        cum1.filter((F.col("a") > 0) & (F.col("tn") - F.col("a") > 0))
        .select("grp", "qty", bss1.alias("bss"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("grp").orderBy(F.col("bss").desc(), "qty")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("grp", F.col("qty").alias("split_qty"))
    )
    rows2 = li.join(F.broadcast(root), "grp").select(
        "grp",
        F.when(F.col("qty") <= F.col("split_qty"), "L").otherwise("R").alias("leaf"),
        "disc",
        "cents",
        "split_qty",
    )
    h2 = rows2.groupBy("grp", "leaf", "disc", "split_qty").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    wall2 = Window.partitionBy("grp", "leaf")
    wcum2 = wall2.orderBy("disc").rowsBetween(Window.unboundedPreceding, 0)
    cum2 = h2.select(
        "grp",
        "leaf",
        "disc",
        "split_qty",
        F.sum("n").over(wcum2).alias("a"),
        F.sum("s").over(wcum2).alias("cs"),
        F.sum("n").over(wall2).alias("tn"),
        F.sum("s").over(wall2).alias("ts"),
    )
    scored2 = cum2.filter((F.col("a") > 0) & (F.col("tn") - F.col("a") > 0)).select(
        "grp",
        "leaf",
        "disc",
        "split_qty",
        "a",
        (F.col("tn") - F.col("a")).alias("b"),
        "tn",
        bss1.alias("bss"),
        (F.col("ts").cast("double") * F.col("ts") / F.col("tn")).alias("bss0"),
    )
    rk2 = F.row_number().over(
        Window.partitionBy("grp", "leaf").orderBy(F.col("bss").desc(), "disc")
    )
    return (
        scored2.withColumn("rk", rk2)
        .filter(F.col("rk") == 1)
        .select(
            "grp",
            "leaf",
            F.col("split_qty").cast("int").alias("root_split_qty"),
            F.col("tn").cast("bigint").alias("n_node"),
            F.col("disc").cast("int").alias("split_disc"),
            F.col("a").cast("bigint").alias("n_left"),
            F.col("b").cast("bigint").alias("n_right"),
            (F.col("bss") - F.col("bss0")).alias("gain"),
        )
    )
