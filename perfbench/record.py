"""Record sets of benchmark runs and summarise them.

    python3 perfbench/record.py run --set A --seeds 1-10 [--workloads w1,w2] [--trace-seed 0]
    python3 perfbench/record.py summary

``run`` runs ``run.py`` once per (workload, seed), one after another,
and writes the last JSON line of each run to
``perfbench/records/<set>.json``.  With ``--trace-seed`` it also makes
one traced run per workload, stored under the set's ``traced`` key.

``summary`` reads every set in ``perfbench/records/`` and writes
``perfbench/records/RECORD.md``: per workload and end-to-end metric the
median, first and third quartile and their spread (q3 - q1) / median for
each set, how far each set's median lies from the first set's, and the
traced per-layer table with its tracing overhead (traced ``wall_s``
minus the untraced median).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
RECORDS = HERE / "records"
# Wall-clock metrics run.py prints but BENCHMARK.json does not bound:
# on a shared host their spread is set by CPU steal, not by the program.
UNBOUNDED = [{"name": n, "unit": "s", "bound": "none"}
             for n in ("query_s", "housekeep_s", "wall_s", "key_p50_s")]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True, check=True,
    )
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["seed"], res["elapsed_s"] = seed, time.monotonic() - t0
    # Every "<name> <value> <unit>" line, bounded in BENCHMARK.json or not.
    res["printed"] = {}
    for ln in lines:
        parts = ln.split()
        try:
            res["printed"][parts[0]] = float(parts[1])
        except (IndexError, ValueError):
            continue
    res["steal_share"] = res["printed"]["cpu_steal_share"]
    print(f"{workload} seed {seed} trace {trace}: {res['elapsed_s']:.1f} s, "
          f"correct {res['correct']}, steal {res['steal_share']:.3f}",
          file=sys.stderr, flush=True)
    return res


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cmd_run(args) -> None:
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    record = {"seconds": bench["run_seconds"], "runs": {}, "traced": {}}
    for name in names:
        record["runs"][name] = [one_run(name, s, bench["run_seconds"], 0)
                                for s in seed_range(args.seeds)]
        if args.trace_seed is not None:
            record["traced"][name] = one_run(name, args.trace_seed, bench["run_seconds"], 1)
    RECORDS.mkdir(exist_ok=True)
    (RECORDS / f"{args.set}.json").write_text(json.dumps(record, indent=1) + "\n")


def cmd_summary(_args) -> None:
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    sets = {p.stem: json.loads(p.read_text()) for p in sorted(RECORDS.glob("*.json"))}
    lines = ["# Benchmark record", "",
             "Generated by `python3 perfbench/record.py summary` from the sets in this "
             "directory.  Spread is (q3 - q1) / median over the set's runs; shift is "
             "the set's median over the first set's median, minus one.", ""]
    for wl in bench["workloads"]:
        name = wl["name"]
        have = {k: v["runs"][name] for k, v in sets.items() if name in v["runs"]}
        if not have:
            continue
        first = next(iter(have.values()))
        lines += [f"## {name}", "",
                  "| metric | bound | set | runs | q1 | median | q3 | spread | shift |",
                  "| --- | --- | --- | --- | --- | --- | --- | --- | --- |"]
        for m in bench["end_to_end"] + UNBOUNDED:
            base = quartiles([r["printed"][m["name"]] for r in first])[1]
            for set_name, runs in have.items():
                vals = [r["printed"][m["name"]] for r in runs]
                q1, q2, q3 = quartiles(vals)
                lines.append(
                    f"| {m['name']} ({m['unit']}) | {m['bound']} | {set_name} | {len(vals)} "
                    f"| {q1:.4g} | {q2:.4g} | {q3:.4g} | {(q3 - q1) / q2:.3f} "
                    f"| {q2 / base - 1:+.3f} |")
        runs = [r for v in have.values() for r in v]
        lines += ["", f"Runs attempted {sum(r['attempted'] for r in runs)} keys, "
                  f"failed {sum(r['failed'] for r in runs)}; "
                  f"run length median {statistics.median(r['elapsed_s'] for r in runs):.1f} s, "
                  f"max {max(r['elapsed_s'] for r in runs):.1f} s; CPU steal share median "
                  f"{statistics.median(r['steal_share'] for r in runs):.3f}, "
                  f"max {max(r['steal_share'] for r in runs):.3f}.", ""]
    traced = {(k, wl): v["traced"][wl] for k, v in sets.items() for wl in v.get("traced", {})}
    if traced:
        cols = list(traced)
        lines += ["## Per-layer metrics (traced runs)", "",
                  "| metric | unit | " + " | ".join(f"{wl} ({s})" for s, wl in cols) + " |",
                  "| --- | --- | " + " | ".join("---" for _ in cols) + " |"]
        for m in bench["per_layer"]:
            vals = [traced[c]["metrics"][m["name"]]["value"] for c in cols]
            lines.append(f"| {m['name']} | {m['unit']} | "
                         + " | ".join(f"{v:.4g}" for v in vals) + " |")
        overhead = []
        for s, wl in cols:
            untraced = statistics.median(r["printed"]["wall_s"] for r in sets[s]["runs"][wl])
            overhead.append(traced[(s, wl)]["metrics"]["trace.wall_s"]["value"] - untraced)
        lines.append("| tracing overhead: trace.wall_s - untraced median wall_s | s | "
                     + " | ".join(f"{v:+.4g}" for v in overhead) + " |")
    (RECORDS / "RECORD.md").write_text("\n".join(lines) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(required=True)
    run = sub.add_parser("run")
    run.add_argument("--set", required=True)
    run.add_argument("--seeds", required=True)
    run.add_argument("--workloads")
    run.add_argument("--trace-seed", type=int)
    run.set_defaults(fn=cmd_run)
    sub.add_parser("summary").set_defaults(fn=cmd_summary)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
