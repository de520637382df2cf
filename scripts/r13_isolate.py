"""Round-13 optimization harness: isolate keys, time them, dump plans.

Usage:
  python scripts/r13_isolate.py time OUT.json key1 key2 ...   # median-of-3 noop timings
  python scripts/r13_isolate.py plan SUFFIX key1 key2 ...     # write plans/r13/<key>_<SUFFIX>.txt

Timing protocol = bench.py's: same session confs (get_spark), per-key
housekeep (cache clear + System.gc) OUTSIDE the timed window, noop sink
materialization, `$SPARK_GRAFT_SF_DIR` input (default sf0.1).  Three
runs per key; the JSON records all three plus the median so first-touch
fixture-cache effects are visible instead of folded in.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from psvm_spark import registry
from psvm_spark.session import get_spark


def housekeep(spark) -> None:
    try:
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("psvm_stream_"):
                spark.catalog.dropTempView(t.name)
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass


def main() -> int:
    mode = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("r13_isolate")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    # warm codegen exactly like bench.py
    registry.QUERIES["agg_pricing_summary"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    if mode == "time":
        out_path, keys = sys.argv[2], sys.argv[3:]
        rec: dict[str, dict] = {}
        n_runs = int(os.environ.get("R13_ISO_RUNS", "3"))
        for k in keys:
            runs = []
            for _ in range(n_runs):
                housekeep(spark)
                t0 = time.perf_counter()
                registry.QUERIES[k](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.perf_counter() - t0, 4))
            rec[k] = {"runs": runs, "median": statistics.median(runs)}
            print(f"{k}: {runs} median={rec[k]['median']}", flush=True)
        Path(out_path).write_text(json.dumps(rec, indent=1, sort_keys=True))
        return 0

    if mode == "plan":
        suffix, keys = sys.argv[2], sys.argv[3:]
        plans = Path(__file__).resolve().parents[1] / "plans" / "r13"
        plans.mkdir(parents=True, exist_ok=True)
        for k in keys:
            df = registry.QUERIES[k](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (plans / f"{k}_{suffix}.txt").write_text(txt)
            print(f"wrote {k}_{suffix}.txt", flush=True)
        return 0

    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
