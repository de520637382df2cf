"""50x amplification tier for the df-capped dedup family + the LSH ANN
path (round-6 verdict item 8): pressure-test the `_SHINGLE_DF_CAP` and
probe-modulo constants one tier beyond the standing 20x measurement
before quoting the 100x story.

The amplifier is measure_scale.build_amplified at n = 50 (new ENTITIES,
not denser keys): every fact table is amplified, doc_id/vec_id shift
per copy, text goes through one of 60 distinct letter-rotation
transforms so shingles almost never collide across copies, and
embeddings get per-copy deterministic sign-flip patterns (within-copy
geometry exact, cross-copy cosines ~0).  The graph tier uses
measure_scale.build_graph_amplified.

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
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from measure_scale import build_amplified, build_graph_amplified

from psvm_spark import registry
from psvm_spark.session import SCALE_CONFS, get_spark, scoped_confs

AMP = 50

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


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/psvm_scale50"
    spark = get_spark("psvm_scale50")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()

    t0 = time.perf_counter()
    build_amplified(spark, base, out, AMP)
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
    build_graph_amplified(spark, base, out_graph, AMP)
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
