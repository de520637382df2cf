"""Measure a wave of queries at 20x amplification, one protocol each.

Generalizes the per-round ad-hoc wave scripts: each query is tagged
with the measurement protocol its workload definition requires (see
measure_scale.py's docstring for the amplification semantics and the
rationale for each protocol):

  plain  - 20x amplified fixtures, no conf changes (the default for
           shuffle/window/calendar-bounded shapes).
  graph  - graph-specific amplification (both edge keys shifted per
           copy) with psvm.graph.n_nodes raised by the amp factor, so
           the amplified graph keeps base density.
  geo    - spatial-density protocol: psvm.geo.dbscan_grid raised by
           sqrt(amp) so 2-D density stays constant.
  svm    - fixed-model protocol: psvm.svm.sv_modulo / test_modulo
           raised by the amp factor (SV set and eval panel are model
           artifacts, not corpus fractions).
  probe  - fixed-probe protocol: psvm.sim.probe_modulo raised by the
           amp factor (probe count is a serving parameter).

Usage:
  python scripts/measure_wave.py OUT.json q1:plain q2:graph q3:svm ...

Amplified tables are built once under /tmp/psvm_scale20 (and _graph)
and reused across runs; delete those dirs to force a rebuild.
"""
from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from psvm_spark import registry
from psvm_spark.session import SCALE_CONFS, get_spark, scoped_confs

from measure_scale import AMP, build_amplified, build_graph_amplified  # noqa: E402


def main() -> int:
    valid = {"plain", "graph", "svm", "probe", "geo"}
    if (
        len(sys.argv) < 3
        or any(":" not in a for a in sys.argv[2:])
        or any(a.rsplit(":", 1)[1] not in valid for a in sys.argv[2:])
    ):
        print(__doc__, file=sys.stderr)
        return 2
    out_path = sys.argv[1]
    specs = [a.rsplit(":", 1) for a in sys.argv[2:]]
    base = "/root/testdata/sf0.1"
    out20 = "/tmp/psvm_scale20"
    out_graph = out20 + "_graph"
    spark = get_spark("psvm_wave_measure")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()

    build_amplified(spark, base, out20, AMP)
    if any(p == "graph" for _, p in specs):
        build_graph_amplified(spark, base, out_graph, AMP)

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    mat(registry.QUERIES["agg_pricing_summary"](spark, base))  # warm-up

    def timed(name, sf_dir):
        t = time.perf_counter()
        mat(registry.QUERIES[name](spark, sf_dir))
        return round(time.perf_counter() - t, 2)

    def scaled(name, factor):
        return {f"psvm.{name}": str(round(SCALE_CONFS[name] * factor))}

    confs = {
        "graph": scaled("graph.n_nodes", AMP),
        "svm": scaled("svm.sv_modulo", AMP) | scaled("svm.test_modulo", AMP),
        "probe": scaled("sim.probe_modulo", AMP),
        # spatial density: points grow AMP-x, so the grid SIDE grows
        # sqrt(AMP)-x to hold points-per-cell (and with it per-point
        # candidate volume) constant — the n_nodes recipe in 2-D
        "geo": scaled("geo.dbscan_grid", AMP ** 0.5),
        "plain": {},
    }
    res = {"amp": AMP, "queries": {}}
    for name, proto in specs:
        b = timed(name, base)
        amp_dir = out_graph if proto == "graph" else out20
        with scoped_confs(spark, confs[proto]):
            a = timed(name, amp_dir)
        res["queries"][name] = {
            "base": b,
            "amp20": a,
            "ratio": round(a / b, 1) if b else None,
            "factor": AMP,
            "protocol": proto,
        }
        ratio = res["queries"][name]["ratio"]
        print(f"{name} [{proto}]: base {b}s amp20 {a}s ratio {ratio}x",
              file=sys.stderr)
    Path(out_path).write_text(json.dumps(res) + "\n")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
