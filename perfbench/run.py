"""psvm_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Each run is one fresh worker process
(``worker.py``) holding a ``local[<cpus>]`` session, driven as a single
closed-loop client: the workload's pinned keys (``workloads.json``) run
once each, one after another: the first pinned key first, the rest in
an order drawn from ``--seed``.  The key lists are sized so that a run
measures about ``--seconds`` of query work on a 4-core box; the flag is
accepted for the command contract and does not cut a run short, so
every run does the same work.  Inputs are
generated under ``.bench_work/`` from the workload's fixed data seed and
cached behind a manifest.  Every key's output is checked: oracle-backed
keys against the DuckDB oracle's digest on the same inputs, rows-only
keys against a recorded schema, row count and value ranges.

``--trace 0`` prints the end-to-end metrics, one ``name value unit``
line each, and the JSON line carries the ones ``BENCHMARK.json`` bounds.  Wall
times are printed but not bounded, because on a shared host their
spread follows CPU steal; ``query_cpu_s``, the CPU time of the worker,
its JVM and Python workers inside the key windows, leaves steal out.
``--trace 1`` reports per-layer metrics instead, from spans around calls
into the engine's modules and from Spark's event log.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  Exit code 0 means the run completed; outputs may still be
wrong, which ``correct``/``failed`` report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
WORKER_TIMEOUT_S = 165
# Reading smaps_rollup walks the page tables of the JVM's heap in kernel
# time; sampled every 0.1 s it cost ~15 s of system CPU per run.
PSS_SAMPLE_S = 1.0

sys.path.insert(0, str(HERE))


def load_workloads() -> dict:
    return json.loads((HERE / "workloads.json").read_text())


def process_group_pss(pgid: int) -> tuple[int, int]:
    """(proportional set size in bytes, process count) of a process group.

    PSS splits each shared page among the processes mapping it, so the
    Python workers forked from one daemon are not counted once per fork,
    as resident set sizes would count them.
    """
    total = count = 0
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
            if int(stat.rsplit(")", 1)[1].split()[2]) != pgid:
                continue
            count += 1
            with open(f"/proc/{entry.name}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue  # process exited while being read
    return total, count


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from the first line of /proc/stat.

    Steal is time the hypervisor gave this machine's CPUs to others; on a
    shared host it is the main source of run-to-run spread.
    """
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def stop_group(pgid: int) -> None:
    """Kill what is left of a process group and wait until it is gone."""
    deadline = time.monotonic() + 30
    while process_group_pss(pgid)[1]:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"process group {pgid} did not exit")
        time.sleep(0.1)


def run_worker(request: dict, run_dir: Path, env: dict) -> tuple[dict, float, float]:
    """Run the worker; return (result, launch epoch, peak PSS in MB)."""
    req_path, res_path = run_dir / "request.json", run_dir / "result.json"
    req_path.write_text(json.dumps(request))
    t_launch = time.time()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), str(req_path), str(res_path)],
        env=env, cwd=str(ROOT), stdout=sys.stderr, start_new_session=True,
    )
    peak = 0
    try:
        while proc.poll() is None:
            if time.time() - t_launch > WORKER_TIMEOUT_S:
                raise TimeoutError(f"worker exceeded {WORKER_TIMEOUT_S}s")
            peak = max(peak, process_group_pss(proc.pid)[0])
            time.sleep(PSS_SAMPLE_S)
    finally:
        stop_group(proc.pid)
        proc.wait()
    if proc.returncode != 0 or not res_path.exists():
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    return json.loads(res_path.read_text()), t_launch, peak / 2**20


def end_to_end(res: dict, t_launch: float, peak_mb: float) -> dict[str, float]:
    windows = res["windows"]
    return {
        "setup_s": sum(res["setup"].values()),
        "query_s": sum(w["query_s"] for w in windows),
        "housekeep_s": sum(w["housekeep_s"] for w in windows),
        "wall_s": res["done"] - t_launch - res["check_s"] - res["gen_s"],
        "key_p50_s": statistics.median(w["query_s"] for w in windows),
        "query_cpu_s": sum(w["cpu_s"] for w in windows),
        "key_cpu_p50_s": statistics.median(w["cpu_s"] for w in windows),
        "peak_pss_mb": peak_mb,
    }


def per_layer(res: dict, e2e: dict[str, float]) -> dict[str, float]:
    from tracing import fold_event_log

    windows = res["windows"]
    log_dir = Path(res["event_log_dir"].removeprefix("file:"))
    lines = (log_dir / res["app_id"]).read_text().splitlines()
    ev = fold_event_log(lines, [(w["start_ms"], w["end_ms"]) for w in windows])
    build = fold_event_log(
        lines, [(w["start_ms"], w.get("build_end_ms", w["end_ms"])) for w in windows])
    self_s, calls = res["tracer"]["self_s"], res["tracer"]["calls"]
    ml = [k for k in self_s if k.startswith("ml.")]
    out = {
        "session.get_spark_s": res["setup"]["get_spark_s"],
        "registry.load_all_s": res["setup"]["load_all_s"],
        "spark.warmup_s": res["setup"]["warmup_s"],
        "catalog.load_table_calls": calls.get("catalog.load_table", 0),
        "catalog.load_table_s": self_s.get("catalog.load_table", 0.0),
        "queries.build_s": self_s.get("queries.build", 0.0),
        "queries.build_jobs": build.get("jobs", 0),
        "queries.local_df_calls": calls.get("queries.local_df", 0),
        "queries.local_df_s": self_s.get("queries.local_df", 0.0),
        "queries.checkpoint_calls": calls.get("queries.checkpoint", 0),
        "ml.calls": sum(calls[k] for k in ml),
        "ml.s": sum(self_s[k] for k in ml),
    }
    for fn in ("fit_eval_linear_svc", "nystrom_map", "pick_landmarks"):
        out[f"ml.{fn}_s"] = self_s.get(f"ml.{fn}", 0.0)
    batches = ev.get("batches", 0)
    out.update({
        "streaming.runs": calls.get("streaming.run_to_table", 0),
        "streaming.run_to_table_s": self_s.get("streaming.run_to_table", 0.0),
        "streaming.batches": batches,
        "streaming.useful_batch_ratio": ev.get("useful_batches", 0) / batches if batches else 0.0,
    })
    for stem in ("trigger", "add_batch", "query_planning", "wal_commit",
                 "commit_offsets", "latest_offset"):
        out[f"streaming.{stem}_s"] = ev.get(f"{stem}_s", 0.0)
    out.update({
        "spark.materialize_s": self_s.get("spark.materialize", 0.0),
        "spark.plan_s": self_s.get("spark.plan", 0.0),
    })
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_bytes", "python_io_bytes"):
        out[f"spark.{k}"] = ev.get(k, 0)
    out["spark.task_skew"] = ev["task_skew"]
    out["spark.core_idle_share"] = 1.0 - ev.get("executor_run_s", 0.0) / (
        e2e["query_s"] * res["cores"])
    out["trace.wall_s"] = e2e["wall_s"]
    out["trace.query_s"] = e2e["query_s"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for needed in ("psvm_spark", "bench.py", "scripts/measure_scale.py"):
        if not (ROOT / needed).exists():
            print(f"perfbench: {ROOT / needed} not found; run from a psvm_spark checkout",
                  file=sys.stderr)
            return 2
    cfg = load_workloads()
    if args.workload not in cfg["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = cfg["workloads"][args.workload]
    bench_cfg = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in bench_cfg["end_to_end"] + bench_cfg["per_layer"]}

    import gen

    base_dir = WORK / "data" / f"sf{spec['sf']}-seed{cfg['data_seed']}"
    g0 = time.perf_counter()
    gen.ensure(str(base_dir), lambda d: gen.write_tables(d, cfg["data_seed"], spec["sf"]))
    base_gen_s = time.perf_counter() - g0

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        (run_dir / sub).mkdir(parents=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": cfg["driver_memory"],
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(run_dir / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        "PYTHONWARNINGS": "ignore",
    })
    confs = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.dir": f"file:{run_dir / 'eventlog'}"})
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    request = {
        "root": str(ROOT), "workload": spec, "seed": args.seed, "trace": args.trace,
        "base_dir": str(base_dir),
        "amp_dir": f"{base_dir}-amp{spec.get('amplify')}",
        "warehouse_dir": str(run_dir / "warehouse"),
    }
    steal0, total0 = cpu_ticks()
    try:
        res, t_launch, peak_mb = run_worker(request, run_dir, env)
        metrics = end_to_end(res, t_launch, peak_mb)
        if args.trace:
            metrics = per_layer(res, metrics)
    except (RuntimeError, TimeoutError, KeyError, OSError) as ex:
        print(f"perfbench: run failed: {ex}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = len(res["windows"]), len(res["failures"])
    print(f"workload {args.workload} seed {args.seed}: {attempted} keys run, {failed} failed")
    steal1, total1 = cpu_ticks()
    print(f"fail_rate {failed / attempted:.4f} ratio")
    print(f"cpu_steal_share {(steal1 - steal0) / max(total1 - total0, 1):.4f} ratio "
          f"(machine-wide, over the run)")
    print(f"fixture_gen_s {base_gen_s + res['gen_s']:.3f} s (not in setup_s or wall_s)")
    for w in res["windows"]:
        print(f"  {w['key']}: {w['query_s']:.3f} s "
              f"(housekeep {w['housekeep_s']:.3f} s, check {w.get('check_s', 0.0):.3f} s)")
    for key, why in sorted(res["failures"].items()):
        print(f"FAILED {key}: {why}")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units.get(name, 's')}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                    if k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
