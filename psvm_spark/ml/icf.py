"""Parallel Incomplete Cholesky Factorization: the twin of psvm's icf.cc.

psvm factors the Gram matrix K ~= H H^T by greedy pivoting on the
largest residual diagonal [psvm:icf.cc, NIPS'07 section 3].  Each
machine keeps its rows of the input and of H in memory; per rank-1
update it joins one argmax-AllReduce (the global largest residual) and
one broadcast of the pivot row, then updates its own rows locally.

:func:`icf_pivots` runs the same loop as ONE barrier stage
(``mapInPandas(..., barrier=True)``) in which each task is a psvm rank:

- each rank quantizes its rows once into NumPy: ``Q`` (integer
  thousandths), the residual diagonal and ``H``;
- per step, each rank picks its local best (largest residual, ties to
  the lowest ``vec_id``) and the ranks exchange ``(resid, vec_id, q row,
  h row)`` with ``BarrierTaskContext.allGather``: one collective does
  the work of psvm's argmax-AllReduce and its pivot broadcast;
- each rank applies the rank-1 update to its own rows;
- rank 0 emits the ``(step, pivot_vec_id, resid_fp)`` rows.

The state never leaves executor memory: no per-step job, checkpoint or
query plan.

Arithmetic is bit-exact against the DuckDB oracle of ``ml_icf_factor``
because it keeps the oracle's IEEE operation order: Gram entries are
exact int64 dot products; ``hdot`` is an explicit left fold over the
columns of ``H`` (never ``np.dot``/``@`` on doubles, whose BLAS sums in
another order); ``hnew = (kip - hdot) / sqrt(presid)`` and ``resid -=
hnew * hnew`` are single correctly-rounded ops.  Floats cross the
collective as JSON, whose ``repr`` round-trips exactly.

Rank count follows data size, not core count: one rank per
``spark.sql.files.maxPartitionBytes`` of the input's Catalyst size
estimate, at least 1 and at most ``defaultParallelism`` (a barrier
stage needs every rank scheduled at once).  The reason is the cost of
the collective.  Over one rank ``allGather`` returns the rank's own
message without any RPC.  Across ranks each call costs about 1 s on
PySpark 4.1: ``BarrierTaskContext.runBarrier`` polls its RPC future with
``Thread.sleep(1000)``.  On a 4-core ``local[4]`` box, ``ml_icf_factor``
at sf0.01 (256 rows, 5 steps) takes 5.6-6.3 s of wall time on 4 ranks
and 0.4-0.9 s on one.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from psvm_spark.ml.kernels import SCALE

_OUT_SCHEMA = "step int, pivot_vec_id bigint, resid_fp bigint"


def n_ranks(df: DataFrame) -> int:
    """One rank per ``spark.sql.files.maxPartitionBytes`` of ``df``'s
    Catalyst size estimate, clamped to ``[1, defaultParallelism]``."""
    spark = df.sparkSession
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    per_rank = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return max(1, min(math.ceil(size / per_rank), spark.sparkContext.defaultParallelism))


def icf_pivots(df: DataFrame, rank: int) -> DataFrame:
    """Greedy-pivot ICF of the linear-kernel Gram matrix of ``df``'s
    quantized ``embedding`` rows, ``rank`` steps.  ``rank`` is the rank
    of the factor; the psvm ranks are the stage's tasks (:func:`n_ranks`).

    ``df`` needs ``vec_id`` (bigint, unique) and ``embedding`` (array of
    floats).  Returns one row per step: ``step`` (1-based),
    ``pivot_vec_id`` and ``resid_fp = floor(pivot residual * 1e6)``.
    """
    df = df.select("vec_id", "embedding")
    ranks = n_ranks(df)
    if df._jdf.queryExecution().toRdd().getNumPartitions() != ranks:
        # a barrier stage rejects coalesce; repartition is a full shuffle
        df = df.repartition(ranks)

    # NOTE: the closure must be self-contained (no psvm_spark imports) —
    # executor Python workers don't have this repo on their sys.path.
    # The int SCALE it reads ships by value with the closure's globals.
    def run_rank(batches):
        import json
        import math

        import numpy as np
        import pandas as pd
        from pyspark import BarrierTaskContext

        ctx = BarrierTaskContext.get()
        n_tasks = len(ctx.getTaskInfos())

        def gather(msg: str) -> list[str]:
            return [msg] if n_tasks == 1 else ctx.allGather(msg)

        frames = [b for b in batches if len(b)]
        ids = np.array([i for f in frames for i in f["vec_id"]], dtype=np.int64)
        X = np.zeros((0, 0))
        if frames:
            X = np.stack([np.asarray(v, np.float64) for f in frames for v in f["embedding"]])
        Q = np.floor(X * float(SCALE) + 0.5).astype(np.int64)
        resid = (Q * Q).sum(axis=1).astype(np.float64)
        H = np.zeros((len(ids), rank))

        out = []
        for step in range(rank):
            mine = None
            if len(ids):
                # largest residual, ties to the lowest vec_id
                i = int(np.lexsort((ids, -resid))[0])
                mine = [float(resid[i]), int(ids[i]), Q[i].tolist(), H[i, :step].tolist()]
            cands = [c for c in map(json.loads, gather(json.dumps(mine))) if c is not None]
            if not cands:
                raise ValueError("icf_pivots: the input has no rows")
            presid, pid, pq, ph = min(cands, key=lambda c: (-c[0], c[1]))
            out.append((step + 1, pid, math.floor(presid * 1e6)))
            if not len(ids):
                continue
            kip = (Q @ np.asarray(pq, np.int64)).astype(np.float64)
            hdot = np.zeros(len(ids))
            for j, phj in enumerate(ph):
                hdot = hdot + H[:, j] * phj
            hnew = (kip - hdot) / math.sqrt(presid)
            H[:, step] = hnew
            resid = resid - hnew * hnew

        if ctx.partitionId() == 0:
            yield pd.DataFrame(out, columns=["step", "pivot_vec_id", "resid_fp"])

    return df.mapInPandas(run_rank, _OUT_SCHEMA, barrier=True)
