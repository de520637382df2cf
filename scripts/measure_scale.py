"""Amplified-scale smoke: the 10 most expensive queries on a 20x
deterministic amplification of the sf0.1 fixtures (~12 M lineitem rows).

Amplification semantics: scale by NEW ENTITIES, not denser keys — every
copy shifts its entity ids by a fixed offset and decorrelates its
content, so per-key densities (clicks per user, docs per near-dup
cluster, vectors per cosine neighborhood) stay what they are at base
scale.  A copy that merely duplicated rows would measure quadratic
blow-up of the *fixture*, not the engine:

- lineitem/orders: l_orderkey/o_orderkey += k*OFFSET (FKs stay
  consistent); dims (customer/supplier/part/nation/region) stay fixed —
  the realistic 100 TB shape (facts grow, dims don't).
- events: event_id AND user_id shift, so the band join's per-user
  click density is copy-invariant.
- documents: doc_id shifts; copy k's text goes through its own
  letter-rotation transform (5 vowel x 4 'snrt' x 3 'ldcm' rotations,
  60 distinct; the 'ldcm' rotation is the identity for k < 20), so
  4-word shingles almost never collide across copies and the dedup
  tier sees n times the corpora, not n identical corpora.
- embeddings: vec_id shifts; each copy applies its own deterministic
  per-dimension sign-flip pattern.  Sign flips cancel inside a copy
  (cos(s.x, s.y) == cos(x, y): within-copy geometry is EXACTLY the
  base corpus) while cross-copy cosines randomize to ~0.

OFFSET is a multiple of 25200 = lcm(2..10) * 50, so every
``id % m`` probe/subset predicate in the query surface selects the
same relative rows in every copy.

Three measurement groups:
- AMP (20x): the bucketed/banded/shuffle-based tier — must scale
  near-linearly (ratio well under the 20x data factor after fixed
  overheads).
- FIXED-PROBE (20x corpus, constant probe set): the similarity-search
  queries (sim_topk_cosine, sim_ann_lsh, sim_ivf_kmeans).  Their probe
  set is a serving-workload parameter, not a corpus property, so the
  realistic scale question is "bigger index, same query rate": the
  script raises psvm.sim.probe_modulo by the amp factor so the probe
  COUNT stays at its base value while the corpus grows 20x.  Expected
  ratio <= 20x (work is probes x corpus-fraction).  Measured context:
  random-projection LSH cannot prune uniform unit vectors far without
  losing recall (pruning to 47% of pairs drops recall@10 to ~0.58 on
  this fixture), so candidate volume is data-dependent by nature; the
  round-7 deterministic E2LSH rewrite still cut sim_ann_lsh's 50x
  fixed-probe ratio from ~55x to 2.1x (SCALE.md §9h) because only the
  (vec_id, table, bucket) banding and the candidate set — never the
  corpus floats — cross the wire.  The deterministic bounded-candidates
  path remains IVF (nprobe/k of the corpus per probe).
- AMP_QUAD (4x): the brute-force all-pairs baseline
  (dedup_embedding), O(n^2) BY DESIGN — its scale path is
  dedup_minhash / the LSH banding family, measured above.  Since
  round 6 its input is capped at vec_id < _COS_DEDUP_CAP (4000), so
  at sf0.1-amp4 (20k rows) the measured ratio should be ~FLAT (the
  cap truncates amplification); on uncapped inputs the expected
  ratio is ~factor^2.

Usage: python scripts/measure_scale.py [base_sf_dir] [out_dir]
Prints one JSON line; best-effort cleanup is skipped so reruns reuse
the amplified tables (delete out_dir to force a rebuild).
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

AMP = 20
AMP_QUAD = 4
MOD = 25200  # lcm(2..10) * 50 — keeps every `id % m` subset copy-invariant

COPY_AS_IS = ["region", "nation", "customer", "supplier", "part"]
AMP_QUERIES = [
    "dedup_minhash",
    "dedup_components",
    "join_q9_shape",
    "join_q8_shape",
    "join_q21_shape",
    "agg_percentile",
    "join_range",
    # round-4 tier: all linear narrow/one-shuffle shapes.  The graph
    # queries are deliberately absent — their vertex space is a fixture
    # CONSTANT (N_NODES), so 20x more edges densify the same graph and
    # wedge volume grows super-linearly by construction, which measures
    # the fixture, not the engine (at real scale vertex ids are real
    # entities and grow with the data).
    "join_bloom_prune",
    "agg_cms_heavy_hitters",
    "cdc_merge_apply",
    "ts_concurrency_peak",
    "doc_chunk_overlap",
    # session-4 additions: the explode-heavy text tier (chunk-dedup
    # window on the chunk string, inverted-index rank-then-filter) and
    # the PQ encode (corpus x 32-row broadcast codebook) are the new
    # shapes worth a scaling measurement; the CUSUM windows stand in
    # for the stacked-running-window family.
    "dedup_chunk_corpus",
    "text_inverted_index",
    "sim_pq_encode",
    "ts_cusum_drift",
    # late session-4 tier: the bucketed attribution time join and the
    # basket self-join projection are the two new shapes whose cost is
    # join-volume-driven rather than narrow-map-driven.
    "attribution_multi_touch",
    "graph_copurchase_pairs",
]
# Graph tier, measured on a GRAPH-SPECIFIC amplification (round 5):
# vertex ids are hash-derived from (l_orderkey, l_partkey), so the graph
# variant shifts BOTH keys per copy (dangling part FK is fine — the
# graph queries read lineitem only) and raises psvm.graph.n_nodes by
# the amp factor.  Uniform hashing into the 20x id space then yields a
# 20x-edge 20x-vertex graph of base density — per-vertex degree
# distribution copy-invariant — instead of densifying a constant-size
# fixture graph (which would measure wedge blow-up of the fixture, not
# the engine).
GRAPH_QUERIES = [
    "graph_degree_stats",
    "graph_triangle_count",
    "graph_pagerank",
]
FIXED_PROBE_QUERIES = [
    "sim_topk_cosine",
    # round-5 addition: negatives per probe — probe-count-governed like
    # the rest of this group
    "sample_negatives",
    "sim_ann_lsh",
    "sim_ivf_kmeans",
    # PQ ADC: LUT count follows the probe set (serving parameter), the
    # code side grows with the corpus — same fixed-probe semantics.
    "sim_pq_adc_topk",
]
QUAD_QUERIES = ["dedup_embedding"]

VOWELS = "aeiou"
CONS = "snrt"
CONS2 = "ldcm"


def _offset(df, key) -> int:
    mx = df.agg(F.max(key)).collect()[0][0] or 0
    return ((mx // MOD) + 1) * MOD


def _with_copies(spark, df, n):
    return df.crossJoin(spark.range(n).toDF("cp"))


def _rotated_text(col, cp, n):
    """Copy cp's letter rotation, for cp < n (distinct for n <= 60)."""
    # one WHEN branch per copy: translate's pattern args must be literals
    out = None
    for k in range(n):
        ra, rb, rc = k % 5, (k // 5) % 4, k // 20
        va = VOWELS[ra:] + VOWELS[:ra]
        cb = CONS[rb:] + CONS[:rb]
        cc = CONS2[rc:] + CONS2[:rc]
        t = F.translate(F.translate(F.translate(col, VOWELS, va), CONS, cb), CONS2, cc)
        out = F.when(cp == k, t) if out is None else out.when(cp == k, t)
    return out.otherwise(col)


def build_amplified(spark, base: str, out: str, n: int) -> None:
    if os.path.isdir(out) and os.path.exists(os.path.join(out, "_DONE")):
        return
    os.makedirs(out, exist_ok=True)

    def w(df, name):
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    for t in COPY_AS_IS:
        w(spark.read.parquet(f"{base}/{t}.parquet"), t)

    li = spark.read.parquet(f"{base}/lineitem.parquet")
    orders = spark.read.parquet(f"{base}/orders.parquet")
    okey_off = max(_offset(li, "l_orderkey"), _offset(orders, "o_orderkey"))
    w(
        _with_copies(spark, li, n)
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("cp") * okey_off)
        .drop("cp"),
        "lineitem",
    )
    w(
        _with_copies(spark, orders, n)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("cp") * okey_off)
        .drop("cp"),
        "orders",
    )

    ev = spark.read.parquet(f"{base}/events.parquet")
    eid_off = _offset(ev, "event_id")
    uid_off = _offset(ev, "user_id")
    w(
        _with_copies(spark, ev, n)
        .withColumn("event_id", F.col("event_id") + F.col("cp") * eid_off)
        .withColumn("user_id", F.col("user_id") + F.col("cp") * uid_off)
        .drop("cp"),
        "events",
    )

    docs = spark.read.parquet(f"{base}/documents.parquet")
    did_off = _offset(docs, "doc_id")
    amp_docs = (
        _with_copies(spark, docs, n)
        .withColumn("doc_id", F.col("doc_id") + F.col("cp") * did_off)
        .withColumn("text", _rotated_text(F.col("text"), F.col("cp"), n))
        .drop("cp")
    )
    w(amp_docs, "documents")

    emb = spark.read.parquet(f"{base}/embeddings.parquet")
    vid_off = _offset(emb, "vec_id")
    sign = lambda i: F.when(  # noqa: E731
        F.pmod(F.xxhash64(F.col("cp") * F.lit(1000003) + i), F.lit(2)) == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    amp_emb = (
        _with_copies(spark, emb, n)
        .withColumn("vec_id", F.col("vec_id") + F.col("cp") * vid_off)
        .withColumn(
            "embedding",
            F.transform("embedding", lambda x, i: (x * sign(i)).cast("float")),
        )
        .drop("cp")
    )
    w(amp_emb, "embeddings")
    Path(out, "_DONE").touch()


def build_graph_amplified(spark, base: str, out: str, n: int) -> None:
    """Lineitem-only variant for the graph tier: BOTH endpoint keys
    shift per copy so the derived vertex set grows with the data."""
    if os.path.isdir(out) and os.path.exists(os.path.join(out, "_DONE")):
        return
    os.makedirs(out, exist_ok=True)
    li = spark.read.parquet(f"{base}/lineitem.parquet")
    okey_off = _offset(li, "l_orderkey")
    pkey_off = _offset(li, "l_partkey")
    (
        _with_copies(spark, li, n)
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("cp") * okey_off)
        .withColumn("l_partkey", F.col("l_partkey") + F.col("cp") * pkey_off)
        .drop("cp")
        .write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )
    Path(out, "_DONE").touch()


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out20 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/psvm_scale20"
    out4 = out20.rstrip("/") + "_q4"
    spark = get_spark("psvm_scale_smoke")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()

    t0 = time.perf_counter()
    build_amplified(spark, base, out20, AMP)
    build_amplified(spark, base, out4, AMP_QUAD)
    build_s = round(time.perf_counter() - t0, 1)

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    # warm the JVM/codegen/python-worker paths once
    mat(registry.QUERIES["agg_pricing_summary"](spark, base))

    def timed(name, sf_dir):
        t = time.perf_counter()
        mat(registry.QUERIES[name](spark, sf_dir))
        return round(time.perf_counter() - t, 2)

    res = {"build_sec": build_s, "amp": AMP, "amp_quad": AMP_QUAD, "queries": {}}
    for name in AMP_QUERIES:
        b = timed(name, base)
        a = timed(name, out20)
        res["queries"][name] = {
            "base": b, "amp20": a, "ratio": round(a / b, 1), "factor": AMP,
        }
        print(f"{name}: base {b}s amp20 {a}s ratio {round(a/b,1)}x", file=sys.stderr)
    out_graph = out20.rstrip("/") + "_graph"
    build_graph_amplified(spark, base, out_graph, AMP)
    for name in GRAPH_QUERIES:
        b = timed(name, base)
        with scoped_confs(spark, {"psvm.graph.n_nodes": str(SCALE_CONFS["graph.n_nodes"] * AMP)}):
            a = timed(name, out_graph)
        res["queries"][name] = {
            "base": b, "amp20_scaled_vertices": a, "ratio": round(a / b, 1),
            "factor": AMP,
            "note": "20x edges over 20x vertex space (n_nodes conf x20): base density",
        }
        print(
            f"{name}: base {b}s amp20/scaled-vertices {a}s ratio {round(a/b,1)}x",
            file=sys.stderr,
        )
    for name in FIXED_PROBE_QUERIES:
        b = timed(name, base)
        with scoped_confs(
            spark, {"psvm.sim.probe_modulo": str(SCALE_CONFS["sim.probe_modulo"] * AMP)}
        ):
            a = timed(name, out20)
        res["queries"][name] = {
            "base": b, "amp20_fixed_probes": a, "ratio": round(a / b, 1),
            "factor": AMP,
            "note": "corpus 20x, probe count held at base (probe_modulo x20)",
        }
        print(
            f"{name}: base {b}s amp20/fixed-probes {a}s ratio {round(a/b,1)}x",
            file=sys.stderr,
        )
    for name in QUAD_QUERIES:
        b = timed(name, base)
        a = timed(name, out4)
        res["queries"][name] = {
            "base": b, "amp4": a, "ratio": round(a / b, 1), "factor": AMP_QUAD,
            "note": "brute-force pair baseline: O(n^2) by design",
        }
        print(f"{name}: base {b}s amp4 {a}s ratio {round(a/b,1)}x", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
