"""50x amplification tier for the df-capped dedup family + the LSH ANN
path (round-6 verdict item 8): pressure-test the `_SHINGLE_DF_CAP` and
probe-modulo constants one tier beyond the standing 20x measurement
before quoting the 100x story.

Amplification semantics are identical to measure_scale.py (new
ENTITIES, not denser keys): doc_id/vec_id shift per copy; text goes
through one of 60 distinct letter-rotation transforms (5 vowel x 4
'snrt' x 3 'ldcm' rotations) so shingles almost never collide across
copies; embeddings get per-copy deterministic sign-flip patterns
(within-copy geometry exact, cross-copy cosines ~0).  Only documents
and embeddings are amplified — the measured queries read nothing else —
and the remaining fixture tables are symlinked from the base dir so
load_table still resolves.

Expected shapes at 50x:
- df-capped posting joins (dedup_ngram_jaccard, dedup_components,
  decontaminate_containment): candidate volume is bounded per shingle
  by the cap, and cross-copy shingle collisions are rare, so cost
  should stay near-linear (ratio well under 50 after fixed overheads).
- dedup_minhash: banded candidates, same near-linear expectation.
- sim_ann_lsh (fixed probes, probe_modulo x50): linear in corpus with
  the documented big constant.

Usage: python scripts/measure_scale50.py [base_sf_dir] [out_dir]
Prints one JSON line; reruns reuse the amplified tables (delete
out_dir to force a rebuild).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from psvm_spark import registry
from psvm_spark.session import SCALE_CONFS, get_spark, scoped_confs

AMP = 50
MOD = 25200  # lcm(2..10) * 50 — keeps every `id % m` subset copy-invariant

VOWELS = "aeiou"
CONS = "snrt"
CONS2 = "ldcm"

DF_CAP_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_components",
    "decontaminate_containment",
    "dedup_minhash",
]
FIXED_PROBE_QUERIES = ["sim_ann_lsh"]
# Round-7 verdict item 7: the graph family's >4x ratios at 20x were the
# only ones unconfirmed at 50x.  Same graph-specific amplification as
# measure_scale.py: BOTH lineitem endpoint keys shift per copy and
# psvm.graph.n_nodes scales by AMP, so the amplified graph is 50x edges
# over a 50x vertex space at base density (edge-volume-bound behavior,
# not fixture densification).
GRAPH_QUERIES = ["graph_kcore", "graph_random_walks", "graph_pagerank"]

SYMLINK_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events",
]


def _offset(df, key) -> int:
    mx = df.agg(F.max(key)).collect()[0][0] or 0
    return ((mx // MOD) + 1) * MOD


def _rotated_text(col, cp):
    """One of 60 distinct letter-rotation transforms keyed by cp."""
    out = None
    for k in range(AMP):
        ra, rb, rc = k % 5, (k // 5) % 4, k // 20
        va = VOWELS[ra:] + VOWELS[:ra]
        cb = CONS[rb:] + CONS[:rb]
        cc = CONS2[rc:] + CONS2[:rc]
        t = F.translate(F.translate(F.translate(col, VOWELS, va), CONS, cb), CONS2, cc)
        out = F.when(cp == k, t) if out is None else out.when(cp == k, t)
    return out.otherwise(col)


def build(spark, base: str, out: str) -> None:
    if os.path.isdir(out) and os.path.exists(os.path.join(out, "_DONE")):
        return
    os.makedirs(out, exist_ok=True)
    for t in SYMLINK_TABLES:
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{base.rstrip('/')}/{t}.parquet", dst)

    copies = spark.range(AMP).toDF("cp")

    docs = spark.read.parquet(f"{base}/documents.parquet")
    did_off = _offset(docs, "doc_id")
    (
        docs.crossJoin(copies)
        .withColumn("doc_id", F.col("doc_id") + F.col("cp") * did_off)
        .withColumn("text", _rotated_text(F.col("text"), F.col("cp")))
        .drop("cp")
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )

    emb = spark.read.parquet(f"{base}/embeddings.parquet")
    vid_off = _offset(emb, "vec_id")
    sign = lambda i: F.when(  # noqa: E731
        F.pmod(F.xxhash64(F.col("cp") * F.lit(1000003) + i), F.lit(2)) == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    (
        emb.crossJoin(copies)
        .withColumn("vec_id", F.col("vec_id") + F.col("cp") * vid_off)
        .withColumn(
            "embedding",
            F.transform("embedding", lambda x, i: (x * sign(i)).cast("float")),
        )
        .drop("cp")
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )
    Path(out, "_DONE").touch()


def build_graph(spark, base: str, out: str) -> None:
    """Lineitem-only graph variant: both endpoint keys shift per copy so
    the derived vertex set grows with the data (measure_scale.py's
    build_graph_amplified at AMP=50)."""
    if os.path.isdir(out) and os.path.exists(os.path.join(out, "_DONE")):
        return
    os.makedirs(out, exist_ok=True)
    li = spark.read.parquet(f"{base}/lineitem.parquet")
    okey_off = _offset(li, "l_orderkey")
    pkey_off = _offset(li, "l_partkey")
    (
        li.crossJoin(spark.range(AMP).toDF("cp"))
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("cp") * okey_off)
        .withColumn("l_partkey", F.col("l_partkey") + F.col("cp") * pkey_off)
        .drop("cp")
        .write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )
    Path(out, "_DONE").touch()


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/psvm_scale50"
    spark = get_spark("psvm_scale50")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()

    t0 = time.perf_counter()
    build(spark, base, out)
    build_s = round(time.perf_counter() - t0, 1)

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    mat(registry.QUERIES["agg_pricing_summary"](spark, base))  # warm

    def timed(name, sf_dir):
        t = time.perf_counter()
        mat(registry.QUERIES[name](spark, sf_dir))
        return round(time.perf_counter() - t, 2)

    res = {"build_sec": build_s, "amp": AMP, "queries": {}}
    for name in DF_CAP_QUERIES:
        b = timed(name, base)
        a = timed(name, out)
        res["queries"][name] = {
            "base": b, "amp50": a, "ratio": round(a / b, 1), "factor": AMP,
        }
        print(f"{name}: base {b}s amp50 {a}s ratio {round(a/b,1)}x", file=sys.stderr)
    for name in FIXED_PROBE_QUERIES:
        b = timed(name, base)
        with scoped_confs(
            spark, {"psvm.sim.probe_modulo": str(SCALE_CONFS["sim.probe_modulo"] * AMP)}
        ):
            a = timed(name, out)
        res["queries"][name] = {
            "base": b, "amp50_fixed_probes": a, "ratio": round(a / b, 1),
            "factor": AMP,
            "note": "corpus 50x, probe count held at base (probe_modulo x50)",
        }
        print(
            f"{name}: base {b}s amp50/fixed-probes {a}s ratio {round(a/b,1)}x",
            file=sys.stderr,
        )
    out_graph = out.rstrip("/") + "_graph"
    build_graph(spark, base, out_graph)
    for name in GRAPH_QUERIES:
        b = timed(name, base)
        with scoped_confs(spark, {"psvm.graph.n_nodes": str(SCALE_CONFS["graph.n_nodes"] * AMP)}):
            a = timed(name, out_graph)
        res["queries"][name] = {
            "base": b, "amp50_scaled_vertices": a, "ratio": round(a / b, 1),
            "factor": AMP,
            "note": "50x edges over 50x vertex space (n_nodes conf x50): base density",
        }
        print(
            f"{name}: base {b}s amp50/scaled-vertices {a}s ratio {round(a/b,1)}x",
            file=sys.stderr,
        )
    print(json.dumps(res))


if __name__ == "__main__":
    main()
