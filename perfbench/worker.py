"""One benchmark run, in a fresh process: set up, run keys, check outputs.

Started by ``run.py``; not meant to be run by hand.  Usage:

    python3 perfbench/worker.py <request.json> <result.json>

The request names the checkout root, the workload spec (from
``workloads.json``), the seed, whether to trace and the fixture
directories.  The result holds the raw timings the parent turns into
metrics.

The workload's pinned keys run once each: the first pinned key first,
the rest in an order drawn from the seed.  Timed windows follow
``bench.py``: query call plus ``noop`` materialisation, with
``bench.housekeep`` run untimed before each key.
Each key's output is checked right after its window and before
housekeeping, so the check sees the same DataFrame and its time is kept
out of every metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time
import traceback
from pathlib import Path


def group_cpu_s() -> float:
    """CPU seconds used so far by this process group: the worker, its JVM
    and the JVM's Python workers, with the children they have reaped.

    Unlike wall time, CPU time leaves out the time the hypervisor gives
    this machine's CPUs to other guests, which on a shared host swings a
    run's wall time by half.
    """
    pgid, ticks = os.getpgid(0), 0
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while being read
        if int(fields[2]) == pgid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def canon_digest(pdf) -> str:
    """Order-insensitive digest of a result frame: column names, dtype
    families and the sorted canonical rows of ``psvm_spark.oracle``."""
    from psvm_spark.oracle import _canon_rows

    cols = sorted(pdf.columns)
    families = [getattr(pdf[c].dtype, "kind", "?") for c in cols]
    families = ["i" if k in "iu" else k for k in families]
    h = hashlib.sha256(repr((cols, families)).encode())
    for row in _canon_rows(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()


def duckdb_connection(fixture_dir: str):
    import duckdb

    from psvm_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = Path(fixture_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def expected_digests(fixture_dir: str, keys: list[str]) -> dict[str, str]:
    """DuckDB-oracle digests for ``keys``, cached beside the fixture."""
    from psvm_spark import registry

    cache = Path(fixture_dir, "EXPECTED.json")
    known = json.loads(cache.read_text()) if cache.exists() else {}
    missing = [k for k in keys if k not in known]
    if missing:
        con = duckdb_connection(fixture_dir)
        try:
            for k in missing:
                known[k] = canon_digest(con.execute(registry.ORACLES[k]).df())
        finally:
            con.close()
        cache.write_text(json.dumps(known, indent=1, sort_keys=True))
    return {k: known[k] for k in keys}


def check_rows(pdf, spec: dict) -> str | None:
    """Rows-only check: exact column list, row count, value ranges."""
    if list(pdf.columns) != spec["columns"]:
        return f"columns {list(pdf.columns)} != {spec['columns']}"
    if len(pdf) != spec["rows"]:
        return f"{len(pdf)} rows != {spec['rows']}"
    for col, (lo, hi) in spec.get("ranges", {}).items():
        bad = pdf[(pdf[col] < lo) | (pdf[col] > hi) | pdf[col].isna()]
        if len(bad):
            return f"{col}={bad[col].tolist()} outside [{lo}, {hi}]"
    return None


def validate_keys(spec: dict, queries, oracles) -> None:
    """Fail loudly when a pinned key is not registered, or is neither
    oracle-backed nor given a rows-only check."""
    keys, rows_only = spec["keys"], spec.get("rows_only", {})
    problems = [f"{k}: not registered" for k in keys if k not in queries]
    problems += [f"{k}: no oracle and no rows_only check" for k in keys
                 if k in queries and k not in oracles and k not in rows_only]
    problems += [f"{k}: rows_only but not pinned" for k in rows_only if k not in keys]
    if len(set(keys)) != len(keys):
        problems.append("duplicate keys")
    if problems:
        raise ValueError("workload key list invalid: " + "; ".join(problems))


def key_order(keys: list[str], seed: int) -> list[str]:
    """The pinned keys in the order the seed draws, after the first key.

    The first key of a fresh process pays one-off costs that follow
    whichever key comes first (Python worker start, JIT of the shared
    paths), several seconds on a 4-core box.  Keeping the first key in
    place keeps those costs on one key, so a key's time does not depend
    on the seed.
    """
    rest = list(keys[1:])
    random.Random(seed).shuffle(rest)
    return [*keys[:1], *rest]


def main(request_path: str, result_path: str) -> None:
    req = json.loads(Path(request_path).read_text())
    root, spec = req["root"], req["workload"]
    sys.path[:0] = [root, f"{root}/scripts"]
    res: dict = {"windows": [], "failures": {}}
    tracer = None

    # --- setup: get_spark + registry.load_all + warm-up (bench.py order)
    t0 = time.perf_counter()
    _redirect_warehouse(req["warehouse_dir"])
    from psvm_spark.session import get_spark

    spark = get_spark("psvm_spark_perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    import bench
    from psvm_spark import registry

    registry.load_all()
    t2 = time.perf_counter()
    validate_keys(spec, registry.QUERIES, registry.ORACLES)
    bench.materialize(registry.QUERIES["agg_pricing_summary"](spark, req["base_dir"]))
    t3 = time.perf_counter()
    res["setup"] = {"get_spark_s": t1 - t0, "load_all_s": t2 - t1, "warmup_s": t3 - t2}
    if req["trace"]:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
        tracer.count_method(type(spark.range(1)), "localCheckpoint", "queries.checkpoint")

    # --- amplified fixture (own line, outside setup_s and wall_s)
    sf_dir = req["base_dir"]
    gen_s = 0.0
    if spec.get("amplify"):
        import gen
        import measure_scale

        sf_dir = req["amp_dir"]
        g0 = time.perf_counter()
        gen.ensure(sf_dir, lambda d: measure_scale.build_amplified(
            spark, req["base_dir"], d, spec["amplify"]))
        gen_s = time.perf_counter() - g0
    res["gen_s"] = gen_s

    # --- expected outputs (part of the output check)
    c0 = time.perf_counter()
    oracle_keys = [k for k in spec["keys"] if k not in spec.get("rows_only", {})]
    expected = expected_digests(sf_dir, oracle_keys)
    check_s = time.perf_counter() - c0

    for name in key_order(spec["keys"], req["seed"]):
        h0 = time.perf_counter()
        bench.housekeep(spark, 0)
        h1 = time.perf_counter()
        w = {"key": name, "housekeep_s": h1 - h0, "start_ms": time.time() * 1e3}
        cpu0 = group_cpu_s()
        fn = registry.QUERIES[name]
        try:
            if tracer:
                with tracer.span("queries.build"):
                    df = fn(spark, sf_dir)
                w["build_end_ms"] = time.time() * 1e3
                with tracer.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("spark.materialize"):
                    bench.materialize(df)
            else:
                df = fn(spark, sf_dir)
                bench.materialize(df)
        except Exception as ex:  # noqa: BLE001 — a failed key is counted, not fatal
            w["query_s"] = time.perf_counter() - h1
            w["end_ms"] = time.time() * 1e3
            w["cpu_s"] = group_cpu_s() - cpu0
            res["failures"][name] = (
                f"{type(ex).__name__}: {str(ex).splitlines()[0][:300] if str(ex) else ''}")
            traceback.print_exc(file=sys.stderr)
            res["windows"].append(w)
            continue
        w["query_s"] = time.perf_counter() - h1
        w["end_ms"] = time.time() * 1e3
        w["cpu_s"] = group_cpu_s() - cpu0
        c0 = time.perf_counter()
        try:
            pdf = df.toPandas()
            if name in spec.get("rows_only", {}):
                err = check_rows(pdf, spec["rows_only"][name])
            else:
                got = canon_digest(pdf)
                err = None if got == expected[name] else (
                    f"digest {got[:12]} != oracle {expected[name][:12]}")
        except Exception as ex:  # noqa: BLE001
            err = f"check raised {type(ex).__name__}: {ex}"
        w["check_s"] = time.perf_counter() - c0
        check_s += w["check_s"]
        if err:
            res["failures"][name] = f"wrong output: {err}"
        res["windows"].append(w)
    res["done"] = time.time()
    res["check_s"] = check_s
    res["cores"] = spark.sparkContext.defaultParallelism
    if tracer:
        res["tracer"] = {"self_s": dict(tracer.self_s), "calls": dict(tracer.calls)}
        res["event_log_dir"] = spark.sparkContext.getConf().get("spark.eventLog.dir")
        res["app_id"] = spark.sparkContext.applicationId
    spark.stop()
    Path(result_path).write_text(json.dumps(res))


def _redirect_warehouse(path: str) -> None:
    """Point the session's warehouse directory into the benchmark's work
    directory.  ``get_spark`` hard-codes one under /tmp, and the catalog
    calls in ``bench.housekeep`` create it; the benchmark writes only
    inside its checkout."""
    from pyspark.sql import SparkSession

    original = SparkSession.Builder.config

    def config(self, key=None, value=None, conf=None, *, map=None):
        if key == "spark.sql.warehouse.dir":
            value = path
        return original(self, key, value, conf, map=map)

    SparkSession.Builder.config = config


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    main(sys.argv[1], sys.argv[2])
