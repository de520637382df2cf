"""Tier A ML surface tests.

Note on accuracy (established empirically, see git history): the fixture
``embeddings.label`` is random w.r.t. the vectors — out-of-sample
accuracy is chance-level (~0.5 binary / ~0.1 ten-class) for ANY model
(verified with a numpy least-squares reference).  Reference-faithful
accuracy-threshold testing (SURVEY.md section 5.2.2) therefore asserts
the pipeline runs, predicts on every test row, and is not WORSE than
chance by a wide margin — the data ceiling, not the model, binds.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from psvm_spark import registry
from psvm_spark.catalog import load_table
from psvm_spark.session import scoped_confs

registry.load_all()


class TestKernels:
    def test_rbf_self_similarity_is_one(self, spark, sf_dir):
        from psvm_spark.ml.kernels import rbf_kernel

        e = load_table(spark, sf_dir, "embeddings").limit(20).alias("a")
        out = e.select(rbf_kernel(F.col("embedding"), F.col("embedding"), 0.5).alias("k")).collect()
        assert all(abs(r.k - 1.0) < 1e-12 for r in out)

    def test_kernel_symmetry(self, spark, sf_dir):
        res = {(r.i, r.j): r.k_rbf for r in registry.QUERIES["kernel_rbf"](spark, sf_dir).collect()}
        # pairs are (A-shard, B-shard); symmetry check via recompute with flipped args
        from psvm_spark.ml.kernels import rbf_kernel

        e = load_table(spark, sf_dir, "embeddings")
        a = e.filter(F.col("vec_id") % 25 == 0).select(F.col("vec_id").alias("i"), F.col("embedding").alias("va"))
        b = e.filter(F.col("vec_id") % 25 == 1).select(F.col("vec_id").alias("j"), F.col("embedding").alias("vb"))
        flipped = {
            (r.i, r.j): r.k
            for r in a.crossJoin(b)
            .select("i", "j", F.round(rbf_kernel(F.col("vb"), F.col("va"), 0.5), 9).alias("k"))
            .collect()
        }
        assert res == flipped

    def test_nystrom_approximates_kernel(self, spark, sf_dir):
        """phi(x).phi(y) ~= K(x,y): mean abs error well under 0.05 with
        20% landmarks (the ICF-equivalent low-rank quality check)."""
        from psvm_spark.ml.svm import nystrom_map, pick_landmarks

        L = pick_landmarks(spark, sf_dir, every=5)
        e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
        phi = {r.vec_id: np.array(r.phi) for r in nystrom_map(e, "embedding", L, 0.5).collect()}
        X = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
        errs = []
        ids = sorted(phi)
        for i in ids[:20]:
            for j in ids[20:40]:
                k_true = np.exp(-0.5 * np.sum((X[i] - X[j]) ** 2))
                errs.append(abs(float(phi[i] @ phi[j]) - k_true))
        assert np.mean(errs) < 0.05, np.mean(errs)


    def test_lattice_twins_agree(self, spark, sf_dir, tmp_path):
        """quantize / qdot / qsq_l2 equal their DuckDB twins and NumPy,
        row by row: every embedding paired with the next one, plus
        negatives, +-0.0 and float32 neighbours of the .0005 rounding
        boundaries."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from psvm_spark.ml import kernels as K

        rows = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
        vecs = [np.asarray(r.embedding, np.float32) for r in rows]
        edges = [0.0, -0.0, 0.0005, -0.0005, 0.0015, -0.0025, 1.0005, -0.9995, 0.1235, 3.0]
        picked = []
        for e in np.asarray(edges, np.float32):
            picked += [e, np.nextafter(e, np.float32(1)), np.nextafter(e, np.float32(-1))]
        picked = np.resize(np.asarray(picked, np.float32), 64)
        vecs += [picked, -picked, picked[::-1].copy()]
        a = vecs
        b = vecs[1:] + vecs[:1]
        path = str(tmp_path / "pairs.parquet")
        lf = pa.list_(pa.float32())
        pq.write_table(
            pa.table({
                "id": pa.array(range(len(a)), pa.int64()),
                "a": pa.array([v.tolist() for v in a], lf),
                "b": pa.array([v.tolist() for v in b], lf),
            }),
            path,
        )

        sdf = spark.read.parquet(path).select(
            "id",
            F.transform("a", K.quantize).alias("qa"),
            F.transform("b", K.quantize).alias("qb"),
        )
        got_spark = {
            r.id: (list(r.qa), list(r.qb), r.dot, r.d2)
            for r in sdf.select(
                "id", "qa", "qb",
                K.qdot(F.col("qa"), F.col("qb")).alias("dot"),
                K.qsq_l2(F.col("qa"), F.col("qb")).alias("d2"),
            ).collect()
        }
        con = duckdb.connect()
        got_duck = {
            i: (list(qa), list(qb), dot, d2)
            for i, qa, qb, dot, d2 in con.execute(f"""
                SELECT id, qa, qb, {K.sql_qdot('qa', 'qb')}, {K.sql_qsq_l2('qa', 'qb')}
                FROM (SELECT id,
                             list_transform(a, x -> {K.sql_quantize('x')}) AS qa,
                             list_transform(b, x -> {K.sql_quantize('x')}) AS qb
                      FROM read_parquet('{path}'))""").fetchall()
        }
        con.close()
        want = {}
        for i, (va, vb) in enumerate(zip(a, b)):
            qa = np.floor(va.astype(np.float64) * K.SCALE + 0.5).astype(np.int64)
            qb = np.floor(vb.astype(np.float64) * K.SCALE + 0.5).astype(np.int64)
            pa_, pb_ = qa.tolist(), qb.tolist()
            want[i] = (
                pa_, pb_,
                sum(x * y for x, y in zip(pa_, pb_)),
                sum((x - y) * (x - y) for x, y in zip(pa_, pb_)),
            )
        assert len(want) == len(rows) + 3
        assert got_spark == want
        assert got_duck == want


class TestSVM:
    @pytest.fixture(scope="class")
    def train_result(self, spark, sf_dir):
        return registry.QUERIES["svm_train_eval"](spark, sf_dir).collect()[0]

    def test_linear_svc_runs_and_predicts(self, train_result):
        assert train_result.n_train > 0 and train_result.n_test > 0
        # chance-level is the data ceiling (random labels); assert sanity band
        assert 0.3 <= train_result.accuracy <= 0.8

    def test_model_roundtrip_identical(self, spark, sf_dir):
        row = registry.QUERIES["svm_model_roundtrip"](spark, sf_dir).collect()[0]
        assert row.n_scored == row.n_equal and row.n_scored > 0

    def test_libsvm_scan_counts(self, spark, sf_dir):
        rows = registry.QUERIES["scan_libsvm"](spark, sf_dir).collect()
        assert sum(r.n for r in rows) == 50  # every 10th of 500 embeddings

    def test_ovr_multiclass_runs(self, spark, sf_dir):
        from psvm_spark.ml.svm import fit_eval_ovr_multiclass

        _, pred = fit_eval_ovr_multiclass(spark, sf_dir, max_iter=5)
        n = pred.count()
        assert n == 100  # 20% of 500
        assert pred.filter(F.col("prediction").isNull()).count() == 0


class TestRFF:
    def test_rff_approximates_kernel(self, spark, sf_dir):
        """E[phi(x).phi(y)] = exp(-gamma ||x-y||^2); with D=512 the mean
        abs error over sample pairs stays under 0.08 (Monte-Carlo rate
        ~1/sqrt(D)), and the map is deterministic under the fixed seed."""
        from psvm_spark.ml.svm import rff_map

        e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
        dim = len(e.select("embedding").first()[0])
        phi = {
            r.vec_id: np.array(r.phi)
            for r in rff_map(e, "embedding", dim, 0.5, n_features=512).collect()
        }
        X = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
        errs = []
        ids = sorted(phi)
        for i in ids[:20]:
            for j in ids[20:40]:
                k_true = np.exp(-0.5 * np.sum((X[i] - X[j]) ** 2))
                errs.append(abs(float(phi[i] @ phi[j]) - k_true))
        assert np.mean(errs) < 0.08, np.mean(errs)

    def test_rff_deterministic(self, spark, sf_dir):
        from psvm_spark.ml.svm import rff_map

        e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
        dim = len(e.select("embedding").first()[0])
        a = {r.vec_id: list(r.phi) for r in rff_map(e, "embedding", dim, 0.5).collect()}
        b = {r.vec_id: list(r.phi) for r in rff_map(e, "embedding", dim, 0.5).collect()}
        assert a == b


class TestFailsafe:
    def test_resume_produces_identical_result(self, spark, sf_dir, tmp_path):
        """A18: kill after 4 of 9 iterations, resume from the last
        checkpoint (iter 3), finish — bitwise identical eigenvector to
        an uninterrupted run, and the eigenvalue matches NumPy."""
        from psvm_spark.ml.failsafe import FailsafeState, power_iteration

        e = load_table(spark, sf_dir, "embeddings")
        dim = len(e.select("embedding").first()[0])

        v_full, lam_full = power_iteration(e, "embedding", dim, n_iter=9)

        ckpt = FailsafeState(str(tmp_path / "ck"))
        # "crash" after 4 iterations (checkpoints at 3)
        power_iteration(e, "embedding", dim, n_iter=4, state=ckpt, checkpoint_every=3)
        step, arrays = ckpt.load_latest()
        assert step == 3
        # fresh "driver" resumes from the checkpoint: re-runs iter 4..9
        v_res, lam_res = power_iteration(
            e, "embedding", dim, n_iter=9, state=ckpt, checkpoint_every=3
        )
        assert lam_res == lam_full
        assert np.array_equal(v_res, v_full)

        # numerical ground truth: the Rayleigh quotient is bounded by the
        # true top eigenvalue and (near-flat random spectrum — slow
        # convergence) reaches a large fraction of it by iteration 9
        X = np.array([r.embedding for r in e.collect()], dtype=np.float64)
        eig_true = np.linalg.eigvalsh(X.T @ X)[-1]
        assert lam_full <= eig_true * (1 + 1e-9)
        assert lam_full >= 0.8 * eig_true, (lam_full, eig_true)


class TestMulticlassHinge:
    def test_matches_numpy_full_batch_gd(self, spark, sf_dir):
        """The distributed trainer is full-batch deterministic GD, so a
        single-process NumPy replica must agree to float tolerance."""
        from psvm_spark.ml.multiclass import train_multiclass_hinge

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("label").cast("long").alias("y"), "embedding"
        )
        dim = len(e.select("embedding").first()[0])
        W = train_multiclass_hinge(e, "embedding", "y", 10, dim, n_iter=5)

        rows = e.collect()
        X = np.array([r.embedding for r in rows], dtype=np.float64)
        lab = np.array([r.y for r in rows], dtype=np.int64)
        Wn = np.zeros((10, dim))
        for _ in range(5):
            Y = -np.ones((len(X), 10))
            Y[np.arange(len(X)), lab] = 1.0
            viol = (Y * (X @ Wn.T) < 1.0).astype(np.float64)
            G = -(Y * viol).T @ X
            Wn -= 0.5 * (G / len(X) + 1e-3 * Wn)
        assert np.allclose(W, Wn, atol=1e-9)

    def test_partitioning_invariant(self, spark, sf_dir):
        """Result must not depend on how rows are distributed (AllReduce
        over per-partition partials with a fixed reduce order)."""
        from psvm_spark.ml.multiclass import train_multiclass_hinge

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("label").cast("long").alias("y"), "embedding"
        )
        dim = len(e.select("embedding").first()[0])
        W3 = train_multiclass_hinge(e.repartition(3), "embedding", "y", 10, dim, n_iter=3)
        W11 = train_multiclass_hinge(e.repartition(11), "embedding", "y", 10, dim, n_iter=3)
        assert np.allclose(W3, W11, atol=1e-9)

    def test_eval_beats_chance_on_separable_relabel(self, spark, sf_dir):
        """Sanity: when labels are actually predictable (sign of dim 0,
        2 classes), the trainer must learn them nearly perfectly."""
        from psvm_spark.ml.multiclass import eval_multiclass, train_multiclass_hinge

        e = load_table(spark, sf_dir, "embeddings").select(
            "embedding",
            (F.col("embedding")[0] > 0).cast("long").alias("y"),
        )
        dim = len(e.select("embedding").first()[0])
        # full-batch subgradient descent closes the last few percent
        # slowly (points with x[0] near 0 have vanishing margin), so the
        # bar is "clearly learned", not "fully converged": 60 iters at
        # lr=5 reaches 0.94 (NumPy-verified), chance is 0.5
        W = train_multiclass_hinge(
            e, "embedding", "y", 2, dim, n_iter=60, lr=5.0, reg=1e-4
        )
        res = eval_multiclass(e, "embedding", "y", W).collect()[0]
        assert res.accuracy > 0.9, res


class TestClassWeights:
    def test_positive_weight_shifts_predictions(self, spark, sf_dir):
        """The reference's -positive_weight/-negative_weight knob: an
        imbalanced task (y=1 iff label==0, ~10% positive) trained with a
        heavy positive weight must predict positive strictly more often
        than the unweighted model, and cover more of the true positives."""
        from psvm_spark.ml.svm import fit_eval_linear_svc

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            (F.col("label") == 0).cast("double").alias("y"),
            "embedding",
        )
        train = e.filter(F.col("vec_id") % 5 < 4)
        test = e.filter(F.col("vec_id") % 5 == 4)

        def positives(cw):
            model, _ = fit_eval_linear_svc(
                train, test, "embedding", class_weights=cw, max_iter=10
            )
            from pyspark.ml.functions import array_to_vector

            pred = model.transform(
                test.withColumn("features", array_to_vector(F.col("embedding")))
            )
            agg = pred.agg(
                F.sum("prediction").alias("n_pos"),
                F.sum(F.col("prediction") * F.col("y")).alias("tp"),
            ).collect()[0]
            return agg.n_pos or 0.0, agg.tp or 0.0

        n_pos_plain, tp_plain = positives(None)
        n_pos_wtd, tp_wtd = positives((1.0, 12.0))
        assert n_pos_wtd > n_pos_plain
        assert tp_wtd >= tp_plain


class TestKMeans:
    def test_inertia_monotone_and_partition(self, spark, sf_dir):
        from psvm_spark.ml.kmeans import lloyd

        assigned, history, _ = lloyd(spark, sf_dir, k=4, n_iter=4)
        # Lloyd's inertia is non-increasing (allow float wiggle)
        for a, b in zip(history, history[1:]):
            assert b <= a + 1e-6
        rows = assigned.collect()
        n_emb = len(rows)
        assert {r.cluster for r in rows} <= set(range(4))
        assert all(r.dist2 >= 0.0 for r in rows)
        # every vector assigned exactly once
        assert len({r.vec_id for r in rows}) == n_emb

    def test_assignment_is_nearest_centroid(self, spark, sf_dir):
        """Spot-check the literal-broadcast argmin against numpy."""
        import numpy as np

        from psvm_spark.catalog import load_table
        from psvm_spark.ml.kmeans import lloyd

        assigned, _, _ = lloyd(spark, sf_dir, k=3, n_iter=2)
        emb = {
            r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in load_table(spark, sf_dir, "embeddings").collect()
        }
        sample = assigned.orderBy("vec_id").limit(50).collect()
        # reconstruct final centroids from the full assignment
        allrows = assigned.collect()
        cents = {}
        for c in {r.cluster for r in allrows}:
            members = [emb[r.vec_id] for r in allrows if r.cluster == c]
            cents[c] = np.mean(members, axis=0)
        for r in sample:
            d_own = float(np.sum((emb[r.vec_id] - cents[r.cluster]) ** 2))
            for c, cv in cents.items():
                # own-cluster distance within one Lloyd step of optimal:
                # assignment used the PREVIOUS centroids, so allow slack
                assert d_own <= float(np.sum((emb[r.vec_id] - cv) ** 2)) + 25.0


class TestRidgeClosedForm:
    def test_matches_numpy_direct_solution(self, spark, sf_dir):
        """The sufficient-statistics CG solve must agree with NumPy's
        direct ridge solution computed on the same quantized design
        (quantization to 1/_RIDGE_QSCALE is part of the operator — it is
        what makes the sufficient statistics exactly reproducible)."""
        import numpy as np

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _RIDGE_LAMBDA, _RIDGE_QSCALE
        from psvm_spark.registry import QUERIES

        pdf = QUERIES["ml_ridge_closed_form"](spark, sf_dir).toPandas()
        beta = np.array(
            pdf.sort_values("coef_idx")["coef"].tolist()
        )
        raw = load_table(spark, sf_dir, "embeddings").toPandas()
        S = float(_RIDGE_QSCALE)
        Xq = np.floor(
            np.array(raw["embedding"].tolist(), dtype=np.float64) * S + 0.5
        )
        X = Xq / S  # quantized features back in original units
        y = raw["label"].to_numpy(dtype=np.float64)
        Xa = np.hstack([X, np.ones((len(X), 1))])
        d1 = Xa.shape[1]
        reg = np.eye(d1) * _RIDGE_LAMBDA
        reg[-1, -1] = 0.0
        ref = np.linalg.solve(Xa.T @ Xa + reg, Xa.T @ y)
        assert np.abs(ref - beta).max() < 1e-6
        r2 = float(pdf["train_r2"].iloc[0])
        pred = Xa @ ref
        ref_r2 = 1.0 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
        assert abs(r2 - ref_r2) < 1e-6


class TestStumpSplit:
    def test_split_partitions_rows(self, spark, sf_dir):
        """Left + right == group size; gain >= 0 (BSS of any split is at
        least the parent's); split is an interior quantity."""
        rows = registry.QUERIES["ml_stump_split"](spark, sf_dir).collect()
        from pyspark.sql import functions as F
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        sizes = {r.grp: r.c for r in li.groupBy(F.col("l_linestatus").alias("grp")).agg(F.count(F.lit(1)).alias("c")).collect()}
        assert {r.grp for r in rows} == set(sizes)
        for r in rows:
            assert r.n_left + r.n_right == sizes[r.grp]
            assert r.n_left > 0 and r.n_right > 0
            assert r.gain >= 0


def _numpy_icf(rows, rank):
    """Dense NumPy ICF on the quantized Gram matrix of (vec_id,
    embedding) rows: [(step, pivot_vec_id, resid_fp)] per step."""
    import math

    ids = np.array([r.vec_id for r in rows])
    order = np.argsort(ids)
    ids = ids[order]
    q = np.array(
        [
            [math.floor(float(x) * 1000.0 + 0.5) for x in rows[i].embedding]
            for i in order
        ],
        dtype=np.float64,
    )
    gram = q @ q.T
    n = len(ids)
    resid = np.diag(gram).astype(np.float64).copy()
    h = np.zeros((n, rank))
    want = []
    for j in range(rank):
        p = int(np.lexsort((ids, -resid))[0])
        want.append((j + 1, int(ids[p]), math.floor(resid[p] * 1e6)))
        col = (gram[:, p] - h[:, :j] @ h[p, :j]) / math.sqrt(resid[p])
        h[:, j] = col
        resid = resid - col * col
    return want


def _trace(df):
    return sorted((r.step, r.pivot_vec_id, r.resid_fp) for r in df.collect())


class TestICF:
    def test_matches_numpy_reference(self, spark, sf_dir):
        """The distributed ICF pivot trace must equal an independent
        dense NumPy ICF on the same quantized Gram matrix: same pivots,
        same residual magnitudes, residuals strictly positive and
        non-increasing (greedy argmax property)."""
        from psvm_spark.queries.ml import _ICF_CAP, _ICF_RANK

        rows = sorted(
            registry.QUERIES["ml_icf_factor"](spark, sf_dir).collect(),
            key=lambda r: r.step,
        )
        assert [r.step for r in rows] == list(range(1, _ICF_RANK + 1))

        emb = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < _ICF_CAP)
            .select("vec_id", "embedding")
            .collect()
        )
        got = [(r.step, r.pivot_vec_id, r.resid_fp) for r in rows]
        assert got == _numpy_icf(emb, _ICF_RANK)
        resids = [r.resid_fp for r in rows]
        assert all(v > 0 for v in resids)
        assert resids == sorted(resids, reverse=True)

    def test_multi_rank_matches_single_rank(self, spark, sf_dir):
        """Lowering maxPartitionBytes makes the sizing rule pick >= 3
        ranks; the allGather exchange must reproduce the one-rank run."""
        from psvm_spark.ml.icf import icf_pivots, n_ranks
        from psvm_spark.queries.ml import _ICF_CAP, _ICF_RANK

        e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _ICF_CAP)
        assert n_ranks(e) == 1
        single = _trace(icf_pivots(e, _ICF_RANK))
        before = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
        with scoped_confs(spark, {"spark.sql.files.maxPartitionBytes": "32k"}):
            assert n_ranks(e) >= 3
            multi = _trace(icf_pivots(e, _ICF_RANK))
        assert spark.conf.get("spark.sql.files.maxPartitionBytes", None) == before
        assert multi == single == _numpy_icf(e.collect(), _ICF_RANK)

    def test_rank_without_rows(self, spark, sf_dir):
        """Three rows over more than three ranks: the empty ranks send no
        candidate and still join every collective."""
        from psvm_spark.ml.icf import icf_pivots, n_ranks

        e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 3)
        single = _trace(icf_pivots(e, 3))
        with scoped_confs(spark, {"spark.sql.files.maxPartitionBytes": "16k"}):
            assert n_ranks(e) > 3
            multi = _trace(icf_pivots(e, 3))
        assert multi == single == _numpy_icf(e.collect(), 3)

    def test_empty_input_raises(self, spark, sf_dir):
        from psvm_spark.ml.icf import icf_pivots

        e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 0)
        with pytest.raises(Exception, match="icf_pivots: the input has no rows"):
            icf_pivots(e, 2).collect()


class TestKmeansLloydExact:
    def test_matches_numpy_integer_lattice_replay(self, spark, sf_dir):
        """The exact-oracle Lloyd must equal a NumPy replay of the same
        integer-lattice algorithm: thousandth-quantized points, floor-of-
        mean centroid updates, argmin with lowest-cluster tie-break."""
        from psvm_spark.queries.ml import _KML_ITERS, _KML_K

        e = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "label", "embedding")
            .collect()
        )
        e.sort(key=lambda r: r.vec_id)
        q = np.floor(
            np.array([[float(x) for x in r.embedding] for r in e]) * 1000.0 + 0.5
        ).astype(np.int64)
        labels = np.array([r.label for r in e])
        cents = q[:_KML_K].copy()

        def assign(c):
            d2 = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            return d2.argmin(axis=1), d2.min(axis=1)  # argmin = first min

        for _ in range(_KML_ITERS):
            a, _ = assign(cents)
            cents = np.array(
                [
                    np.floor_divide(q[a == k].sum(axis=0), (a == k).sum())
                    for k in range(_KML_K)
                ]
            )
        a, d2 = assign(cents)
        want = {
            int(k): (
                int((a == k).sum()),
                int(d2[a == k].sum()),
                len(set(labels[a == k])),
            )
            for k in range(_KML_K)
        }
        got = {
            r.cluster: (r.n, r.inertia_q, r.n_labels)
            for r in registry.QUERIES["ml_kmeans_lloyd_exact"](spark, sf_dir).collect()
        }
        assert got == want


class TestPcaPowerIteration:
    def test_matches_numpy_dominant_eigenvector(self, spark, sf_dir):
        """The fixed-point iterate must align with numpy's top
        eigenvector of the SAME integer scatter matrix (cosine of the
        two directions > 0.9999 after 200 max-norm steps)."""
        import numpy as np

        from psvm_spark.ml.kernels import quantize
        from psvm_spark.queries.ml import _PCA_DIM
        from psvm_spark.registry import QUERIES

        rows = QUERIES["ml_pca_power_iteration"](spark, sf_dir).collect()
        assert len(rows) == _PCA_DIM
        v = np.array([r.v_fp for r in sorted(rows, key=lambda r: r.dim)], float)

        q = np.array(
            [
                r.q
                for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                .select(F.transform("embedding", quantize).alias("q"))
                .collect()
            ],
            dtype=np.int64,
        )
        n = q.shape[0]
        m = n * (q.T @ q) - np.outer(q.sum(0), q.sum(0))
        w, vec = np.linalg.eigh(m.astype(float))
        top = vec[:, np.argmax(w)]
        cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
        assert cos > 0.9999, cos

    def test_diag_cells_match_numpy(self, spark, sf_dir):
        import numpy as np

        from psvm_spark.ml.kernels import quantize
        from psvm_spark.registry import QUERIES

        rows = QUERIES["ml_pca_power_iteration"](spark, sf_dir).collect()
        q = np.array(
            [
                r.q
                for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                .select(F.transform("embedding", quantize).alias("q"))
                .collect()
            ],
            dtype=np.int64,
        )
        n = q.shape[0]
        diag = n * (q * q).sum(0) - q.sum(0) ** 2
        for r in rows:
            assert r.m_diag == diag[r.dim - 1]
            assert r.s_sum == q.sum(0)[r.dim - 1]


class TestFeatureTtestScreen:
    def test_matches_numpy_welch(self, spark, sf_dir):
        import numpy as np

        from psvm_spark.ml.kernels import quantize
        from psvm_spark.registry import QUERIES

        rows = QUERIES["ml_feature_ttest_screen"](spark, sf_dir).collect()
        data = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            (F.col("label") % 2).cast("int").alias("cls"),
            F.transform("embedding", quantize).alias("q"),
        ).collect()
        q = np.array([r.q for r in data], dtype=np.int64)
        cls = np.array([r.cls for r in data])
        a, b = q[cls == 1].astype(float), q[cls == 0].astype(float)
        for r in rows:
            d = r.dim - 1
            m1, m0 = a[:, d].mean(), b[:, d].mean()
            v1 = a[:, d].var(ddof=1)
            v0 = b[:, d].var(ddof=1)
            t = (m1 - m0) / np.sqrt(v1 / len(a) + v0 / len(b))
            assert abs(r.t_welch - t) < 1e-6, (r.dim, r.t_welch, t)
            assert r.n1 == len(a) and r.n0 == len(b)


class TestIsotonicPav:
    def test_fit_is_monotone_and_blockwise_exact(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES

        rows = sorted(
            QUERIES["ml_isotonic_pav"](spark, sf_dir).collect(),
            key=lambda r: r.bin,
        )
        assert len(rows) >= 3
        fits = [r.fitted for r in rows]
        assert all(a <= b for a, b in zip(fits, fits[1:]))  # isotonic
        for r in rows:
            assert r.fitted == round(r.blk_y / r.blk_n, 9)
        # block totals partition the bin totals
        blocks = {}
        for r in rows:
            blocks.setdefault((r.blk_n, r.blk_y, r.fitted), []).append(r)
        for (bn, by, _), members in blocks.items():
            assert sum(m.n for m in members) == bn
            assert sum(m.y_pos for m in members) == by


class TestLogisticIrls:
    def test_newton_converges_and_beats_majority_class(self, spark, sf_dir):
        import math

        import pyspark.sql.functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES

        rows = sorted(
            QUERIES["ml_logistic_irls"](spark, sf_dir).collect(),
            key=lambda r: r.iter,
        )
        assert [r.iter for r in rows] == [1, 2, 3]
        # converged: last two iterates agree to ~1e-4 in weight space
        assert abs(rows[2].w0_fp - rows[1].w0_fp) < 1_000_000
        assert abs(rows[2].w1_fp - rows[1].w1_fp) < 1_000_000
        # the fitted model must classify training data at least as well
        # as the majority class (Newton on a 1-feature logistic cannot
        # do worse at its own training set)
        e = load_table(spark, sf_dir, "embeddings")
        s = F.expr("cast(floor(cast(embedding[0] as double) * 1000.0 + 0.5) as bigint)")
        data = e.select(
            F.least(F.greatest(s, F.lit(-1024)), F.lit(1023)).alias("x"),
            (F.col("label") < 5).cast("int").alias("y"),
        ).collect()
        w0, w1 = rows[2].w0_fp, rows[2].w1_fp
        correct = sum(1 for r in data if (w0 + w1 * r.x > 0) == (r.y == 1))
        n = len(data)
        majority = max(sum(r.y for r in data), n - sum(r.y for r in data))
        assert correct >= majority


class TestGmmEm:
    def test_components_separate_and_responsibilities_partition(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES

        rows = sorted(
            QUERIES["ml_gmm_em"](spark, sf_dir).collect(), key=lambda r: r.iter
        )
        assert [r.iter for r in rows] == [1, 2, 3]
        last = rows[-1]
        assert last.mu1_fp < 0 < last.mu2_fp  # components keep their sides
        assert last.var1 >= 1 and last.var2 >= 1
        assert 0 < last.pi1_fp < 1_000_000
        # EM from a symmetric-ish init stays near balanced on this corpus
        assert abs(last.pi1_fp - 500_000) < 200_000


class TestSvmHingeFixedIter:
    def test_descent_beats_majority_and_prestate_replays(self, spark, sf_dir):
        """The hinge twin's two contracts: (1) the fixed-iteration
        descent actually learns (final training error <= majority
        class), and (2) n_viol/n_err in row k are the PRE-update margin
        state — recomputable exactly from row k-1's weights with pure
        integer arithmetic."""
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.ml import _IRLS_CL, _IRLS_WSC, _SVM_XSC
        from psvm_spark.registry import QUERIES

        rows = sorted(
            QUERIES["svm_hinge_fixed_iter"](spark, sf_dir).collect(),
            key=lambda r: r.iter,
        )
        assert [r.iter for r in rows] == [1, 2, 3, 4, 5]
        e = load_table(spark, sf_dir, "embeddings")
        s = F.expr(
            "cast(floor(cast(embedding[0] as double) * 1000.0 + 0.5) as bigint)"
        )
        data = [
            (int(r.x), int(r.y))
            for r in e.select(
                F.least(
                    F.greatest(s, F.lit(-_IRLS_CL)), F.lit(_IRLS_CL - 1)
                ).alias("x"),
                ((F.col("label") < 5).cast("int") * 2 - 1).alias("y"),
            ).collect()
        ]
        n = len(data)
        n_pos = sum(1 for _, y in data if y == 1)
        # at w = 0 every margin is 0, so iteration 1 reports full error
        assert rows[0].n_err == n
        assert rows[-1].n_err <= min(n_pos, n - n_pos)
        for prev, cur in zip(rows, rows[1:]):
            ne = sum(
                1
                for x, y in data
                if y * (_SVM_XSC * prev.w0_fp + prev.w1_fp * x) <= 0
            )
            nv = sum(
                1
                for x, y in data
                if y * (_SVM_XSC * prev.w0_fp + prev.w1_fp * x)
                < _SVM_XSC * _IRLS_WSC
            )
            assert ne == cur.n_err
            assert nv == cur.n_viol


class TestMcNemar:
    def test_cells_consistent_with_confusion_counts(self, spark, sf_dir):
        """b + c must equal the number of test rows where exactly one
        classifier is right, recomputed independently from the scored
        panel; the statistic must recompute from (b, c)."""
        from pyspark.sql import functions as F

        from psvm_spark.ml.svm import GAMMA, SVM_B, sv_test
        from psvm_spark.ml import kernels as K
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        row = QUERIES["ml_mcnemar_test"](spark, sf_dir).collect()[0]
        sv, test = sv_test(spark, sf_dir)
        k = K.rbf_kernel(F.col("sv_vec"), F.col("t_vec"), GAMMA)
        scored = (
            test.crossJoin(F.broadcast(sv))
            .groupBy("t_id", "label")
            .agg(F.round(F.sum(F.col("alpha_y") * k) + SVM_B, 6).alias("score"))
        ).collect()
        b = c = 0
        for r in scored:
            pa = 1 if r.score >= 0 else -1
            pb = 1 if r.t_id % 3 == 0 else -1
            t = 1 if r.label % 2 == 0 else -1
            if pa == t and pb != t:
                b += 1
            elif pa != t and pb == t:
                c += 1
        assert (row.b, row.c, row.n_test) == (b, c, len(scored))
        if b + c:
            assert abs(row.mcnemar_chi2 - (b - c) ** 2 / (b + c)) < 1e-9


class TestHosmerLemeshow:
    def test_deciles_partition_panel_and_contrib_recomputes(self, spark, sf_dir):
        from psvm_spark.ml.svm import sv_test
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        rows = sorted(
            QUERIES["ml_hosmer_lemeshow"](spark, sf_dir).collect(),
            key=lambda r: r.decile,
        )
        assert [r.decile for r in rows] == list(range(1, 11))
        _, test = sv_test(spark, sf_dir)
        n_panel = test.count()
        assert sum(r.n for r in rows) == n_panel
        # ntile: first (n mod 10) deciles get the extra row
        base, extra = divmod(n_panel, 10)
        assert [r.n for r in rows] == [base + (1 if i < extra else 0) for i in range(10)]
        for r in rows:
            assert 0 <= r.obs_pos <= r.n
            # clamp keeps pbar in [0.01, 0.99] so the denominator is live
            pbar = r.exp_pos / r.n
            assert 0.0099 <= pbar <= 0.9901
            want = (r.obs_pos - r.exp_pos) ** 2 / (r.n * pbar * (1 - pbar))
            assert abs(r.contrib - want) < 1e-6


class TestPermutationImportance:
    def test_baseline_and_bounds(self, spark, sf_dir):
        from psvm_spark.queries.llm import _PERM_DIMS
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        rows = QUERIES["ml_permutation_importance"](spark, sf_dir).collect()
        assert sorted(r.dim for r in rows) == sorted(_PERM_DIMS)
        base_acc = QUERIES["eval_accuracy"](spark, sf_dir).collect()[0].accuracy
        for r in rows:
            # all variants share the unpermuted baseline = eval_accuracy
            assert abs(r.acc_base - base_acc) < 1e-9
            assert 0.0 <= r.acc_perm <= 1.0
            assert abs(r.importance - (r.acc_base - r.acc_perm)) < 1e-9


class TestConformalCoverage:
    def test_finite_sample_guarantee_and_qhat_rank(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        row = QUERIES["ml_conformal_coverage"](spark, sf_dir).collect()[0]
        assert row.n_cal > 0 and row.n_test > 0
        # split-conformal guarantee: coverage >= 1 - alpha - slack on
        # exchangeable data; the fixture slices are iid hash slices, so
        # a generous finite-sample slack documents the law
        assert row.coverage >= 0.9 - 3.0 / (row.n_cal + 1) ** 0.5
        assert 0.0 <= row.coverage <= 1.0


class TestLabelPermutationTest:
    def test_p_value_construction(self, spark, sf_dir):
        from psvm_spark.queries.llm import _LPERM_SHIFTS
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        row = QUERIES["ml_label_permutation_test"](spark, sf_dir).collect()[0]
        assert row.n_perm == _LPERM_SHIFTS
        assert 0 <= row.n_ge <= row.n_perm
        assert abs(row.p_value - (1 + row.n_ge) / (row.n_perm + 1)) < 1e-9
        base = QUERIES["eval_accuracy"](spark, sf_dir).collect()[0]
        assert abs(row.acc_true - base.accuracy) < 1e-9
        # full Python replay of the cyclic-shift accuracies (the
        # synthetic model is near-chance on the fixture, so p is NOT
        # expected to be small — the construction is what's tested)
        scored = sorted(
            (r.t_id, r.pred)
            for r in QUERIES["svm_predict_score"](spark, sf_dir).collect()
        )
        from psvm_spark.catalog import load_table

        labels = dict(
            load_table(spark, sf_dir, "embeddings")
            .filter("vec_id % 20 = 1")
            .selectExpr("vec_id", "label")
            .collect()
        )
        ids = [t for t, _ in scored]
        preds = [p for _, p in scored]
        ys = [1 if labels[t] % 2 == 0 else -1 for t in ids]
        n = len(ids)
        acc_true = sum(p == y for p, y in zip(preds, ys)) / n
        assert abs(row.acc_true - acc_true) < 1e-9
        n_ge = 0
        for s in range(1, _LPERM_SHIFTS + 1):
            shifted = [ys[(i + s) % n] for i in range(n)]
            if sum(p == y for p, y in zip(preds, shifted)) / n >= acc_true:
                n_ge += 1
        assert row.n_ge == n_ge


class TestShapleyTwoFeature:
    def test_additivity_and_replay(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        rows = {
            r.feature: r
            for r in QUERIES["ml_shapley_two_feature"](spark, sf_dir).collect()
        }
        assert set(rows) == {1, 2}
        e = load_table(spark, sf_dir, "embeddings").select(
            F.expr(
                "cast(floor(cast(embedding[0] as double) * 1024e0 + 5e-1) as bigint)"
            ).alias("x1"),
            F.expr(
                "cast(floor(cast(embedding[1] as double) * 1024e0 + 5e-1) as bigint)"
            ).alias("x2"),
            F.col("label").cast("bigint").alias("y"),
            (F.col("vec_id") % 4 == 0).alias("is_val"),
        )
        data = e.collect()
        tr = [r for r in data if not r.is_val]
        va = [r for r in data if r.is_val]
        s11 = sum(r.x1 * r.x1 for r in tr)
        s22 = sum(r.x2 * r.x2 for r in tr)
        s12 = sum(r.x1 * r.x2 for r in tr)
        sy1 = sum(r.x1 * r.y for r in tr)
        sy2 = sum(r.x2 * r.y for r in tr)
        det = s11 * s22 - s12 * s12
        b1 = (sy1 * s22 - sy2 * s12) / det
        b2 = (sy2 * s11 - sy1 * s12) / det
        c1, c2 = sy1 / s11, sy2 / s22
        phi1 = [
            round(0.5 * (c1 * r.x1 + b1 * r.x1 + b2 * r.x2 - c2 * r.x2), 6)
            for r in va
        ]
        phi2 = [
            round(0.5 * (c2 * r.x2 + b1 * r.x1 + b2 * r.x2 - c1 * r.x1), 6)
            for r in va
        ]
        n = len(va)
        assert rows[1].n_val == n and rows[2].n_val == n
        assert abs(rows[1].mean_phi - sum(phi1) / n) < 1e-6
        assert abs(rows[2].mean_phi - sum(phi2) / n) < 1e-6
        assert abs(rows[1].mean_abs_phi - sum(abs(p) for p in phi1) / n) < 1e-6
        # additivity: phi1 + phi2 equals the full-model prediction
        for r, p1, p2 in zip(va, phi1, phi2):
            full = b1 * r.x1 + b2 * r.x2
            assert abs((p1 + p2) - full) < 2e-6


class TestLearningCurve:
    def test_nesting_monotone_and_replay(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        rows = sorted(
            QUERIES["ml_learning_curve"](spark, sf_dir).collect(), key=lambda r: r.k
        )
        assert [r.k for r in rows] == [1, 2, 4, 6]
        # nested fractions: train size strictly increases
        sizes = [r.n_train for r in rows]
        assert all(a < b for a, b in zip(sizes, sizes[1:]))
        # replay the k=6 fit locally
        e = load_table(spark, sf_dir, "embeddings").select(
            F.expr(
                "cast(floor(cast(embedding[0] as double) * 1024e0 + 5e-1) as bigint)"
            ).alias("x"),
            F.col("label").cast("bigint").alias("y"),
            (F.col("vec_id") % 8).alias("b"),
        ).collect()
        tr = [r for r in e if r.b < 6]
        n = len(tr)
        sx = sum(r.x for r in tr)
        sxx = sum(r.x * r.x for r in tr)
        sy = sum(r.y for r in tr)
        sxy = sum(r.x * r.y for r in tr)
        b = (n * sxy - sx * sy) / (n * (sxx + 16) - sx * sx)
        a = (sy - b * sx) / n
        va = [r for r in e if r.b == 7]
        sse = sum((r.y - a - b * r.x) ** 2 for r in va)
        last = rows[-1]
        assert last.n_train == n
        assert abs(last.slope - b) < 1e-9
        assert abs(last.val_sse - sse) < 1e-4


class TestTreeDepth2:
    def test_level2_refines_root_and_replay(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        rows = QUERIES["ml_tree_depth2"](spark, sf_dir).collect()
        stump = {r.grp: r for r in QUERIES["ml_stump_split"](spark, sf_dir).collect()}
        by_node = {(r.grp, r.leaf): r for r in rows}
        # every group contributes at most two leaves, keyed L/R
        assert all(leaf in ("L", "R") for (_, leaf) in by_node)
        for (grp, leaf), r in by_node.items():
            assert r.root_split_qty == stump[grp].split_qty
            assert r.gain >= -1e-9  # BSS(best split) >= BSS(no split)
            assert r.n_left > 0 and r.n_right > 0
            assert r.n_left + r.n_right == r.n_node
        # leaf sizes reconcile with the root split sizes
        for grp, s in stump.items():
            sizes = {
                leaf: by_node[(grp, leaf)].n_node
                for leaf in ("L", "R")
                if (grp, leaf) in by_node
            }
            if "L" in sizes:
                assert sizes["L"] == s.n_left
            if "R" in sizes:
                assert sizes["R"] == s.n_right


class TestKfoldCvRidge:
    def test_complement_suffstats_and_cv_mean(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        rows = sorted(
            QUERIES["ml_kfold_cv_ridge"](spark, sf_dir).collect(),
            key=lambda r: r.fold,
        )
        assert [r.fold for r in rows] == [0, 1, 2, 3]
        data = load_table(spark, sf_dir, "embeddings").select(
            F.expr(
                "cast(floor(cast(embedding[0] as double) * 1024e0 + 5e-1) as bigint)"
            ).alias("x"),
            F.col("label").cast("bigint").alias("y"),
            (F.col("vec_id") % 4).alias("f"),
        ).collect()
        n_all = len(data)
        for r in rows:
            assert r.n_train + r.n_val == n_all
            tr = [d for d in data if d.f != r.fold]
            va = [d for d in data if d.f == r.fold]
            n = len(tr)
            sx = sum(d.x for d in tr); sxx = sum(d.x * d.x for d in tr)
            sy = sum(d.y for d in tr); sxy = sum(d.x * d.y for d in tr)
            b = (n * sxy - sx * sy) / (n * (sxx + 16) - sx * sx)
            a = (sy - b * sx) / n
            mse = sum((d.y - a - b * d.x) ** 2 for d in va) / len(va)
            assert abs(r.slope - b) < 1e-9
            assert abs(r.val_mse - mse) < 1e-6
        cv = sum(r.val_mse for r in rows) / 4
        assert abs(rows[0].cv_mse - cv) < 1e-8
