"""Self-tests for the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
from tracing import Tracer, fold_event_log  # noqa: E402
from record import quartiles, spread  # noqa: E402
from worker import canon_digest, check_rows, key_order, validate_keys  # noqa: E402


def _task(stage: int, launch: int, finish: int, run_ms: int, **metrics) -> str:
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": []},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                         "JVM GC Time": 1, "Memory Bytes Spilled": 0,
                         "Disk Bytes Spilled": 0, **metrics},
    })


def _progress(ts: str, rows: int, add_batch_ms: int) -> str:
    return json.dumps({
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {"timestamp": ts, "sources": [{"numInputRows": rows}],
                     "durationMs": {"addBatch": add_batch_ms, "triggerExecution": 2 * add_batch_ms}},
    })


def test_fold_event_log_attributes_by_window():
    t0 = 1_700_000_000_000  # 2023-11-14T22:13:20Z
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                    "Submission Time": t0 + 10, "Stage IDs": [0, 1]}),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1,
                    "Submission Time": t0 + 5000, "Stage IDs": [2]}),  # outside
        json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}}),
        json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}}),
        _task(0, t0 + 20, t0 + 30, 10, **{"Input Metrics": {"Bytes Read": 100}}),
        _task(0, t0 + 20, t0 + 60, 40, **{"Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}),
        _task(0, t0 + 20, t0 + 40, 20),
        _task(1, t0 + 70, t0 + 80, 10, **{"Shuffle Read Metrics": {
            "Remote Bytes Read": 3, "Local Bytes Read": 4}}),
        _task(2, t0 + 5010, t0 + 5020, 999),  # belongs to the job outside
        _progress("2023-11-14T22:13:20.500Z", 10, 30),
        _progress("2023-11-14T22:13:20.700Z", 0, 20),
        _progress("2023-11-14T22:13:30.000Z", 5, 1000),  # outside
        json.dumps({"Event": "SparkListenerLogStart"}),
    ]
    out = fold_event_log(lines, [(t0, t0 + 1000)])
    assert out["jobs"] == 1 and out["stages"] == 1 and out["tasks"] == 4
    assert out["executor_run_s"] == pytest.approx(0.08)
    assert out["executor_cpu_s"] == pytest.approx(0.08)
    assert out["jvm_gc_s"] == pytest.approx(0.004)
    assert out["input_bytes"] == 100
    assert out["shuffle_write_bytes"] == 7 and out["shuffle_read_bytes"] == 7
    # stage 0 tasks last 10/40/20 ms: max/median = 2; stage 1 has one task
    assert out["task_skew"] == pytest.approx(2.0)
    assert out["batches"] == 2 and out["useful_batches"] == 1
    assert out["add_batch_s"] == pytest.approx(0.05)
    assert out["trigger_s"] == pytest.approx(0.1)


def test_fold_event_log_empty_windows():
    out = fold_event_log([], [])
    assert out == {"task_skew": 1.0}


def test_digest_is_order_insensitive():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0], "s": ["x", "y", "z"]})
    shuffled = a.iloc[[2, 0, 1]][["s", "v", "k"]].reset_index(drop=True)
    assert canon_digest(a) == canon_digest(shuffled)
    changed = a.copy()
    changed.loc[0, "v"] = 0.5000000001
    assert canon_digest(a) != canon_digest(changed)
    assert canon_digest(a) != canon_digest(a.astype({"k": "float64"}))


def test_check_rows():
    spec = {"columns": ["model", "accuracy"], "rows": 1, "ranges": {"accuracy": [0.5, 1.0]}}
    assert check_rows(pd.DataFrame({"model": ["m"], "accuracy": [0.9]}), spec) is None
    assert "outside" in check_rows(pd.DataFrame({"model": ["m"], "accuracy": [0.1]}), spec)
    assert "rows" in check_rows(pd.DataFrame({"model": [], "accuracy": []}), spec)
    assert "columns" in check_rows(pd.DataFrame({"accuracy": [0.9]}), spec)


def test_validate_keys():
    queries, oracles = {"a": 1, "b": 2, "c": 3}, {"a": "sql", "b": "sql"}
    validate_keys({"keys": ["a", "c"], "rows_only": {"c": {}}}, queries, oracles)
    for spec, msg in [
        ({"keys": ["a", "zzz"]}, "zzz: not registered"),
        ({"keys": ["c"]}, "c: no oracle"),
        ({"keys": ["a"], "rows_only": {"b": {}}}, "b: rows_only but not pinned"),
        ({"keys": ["a", "a"]}, "duplicate"),
    ]:
        with pytest.raises(ValueError, match=msg):
            validate_keys(spec, queries, oracles)


def test_pinned_workloads_match_benchmark_and_registry():
    from psvm_spark import registry

    registry.load_all()
    cfg = json.loads((HERE / "workloads.json").read_text())
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(cfg["workloads"])
    for spec in cfg["workloads"].values():
        validate_keys(spec, registry.QUERIES, registry.ORACLES)


def test_tracer_self_time_nets_out_children():
    tr = Tracer()
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.05)
    assert tr.calls == {"outer": 1, "inner": 1}
    assert 0.045 < tr.self_s["inner"] < 0.2
    assert 0.015 < tr.self_s["outer"] < 0.045


def test_generator_is_deterministic_and_manifest_catches_damage(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    assert gen.ensure(str(a), lambda d: gen.write_tables(d, 7, 0.001))
    assert not gen.ensure(str(a), lambda d: gen.write_tables(d, 7, 0.001))
    gen.write_tables(str(b), 7, 0.001)
    assert gen.manifest(str(b)) == json.loads((a / gen.MANIFEST).read_text())
    gen.write_tables(str(b), 8, 0.001)
    assert gen.manifest(str(b)) != json.loads((a / gen.MANIFEST).read_text())
    (a / "lineitem.parquet").write_bytes(b"truncated")
    assert gen.ensure(str(a), lambda d: gen.write_tables(d, 7, 0.001))
    assert gen.manifest(str(a))["lineitem"]["rows"] == 6000


def test_key_order_is_a_seeded_permutation():
    keys = ["a", "b", "c", "d", "e"]
    assert key_order(keys, 3) == key_order(keys, 3)
    assert sorted(key_order(keys, 3)) == keys
    assert {key_order(keys, s)[0] for s in range(20)} == {"a"}
    assert len({tuple(key_order(keys, s)) for s in range(20)}) > 1


def test_spread_uses_statistics_quartiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 12.0, 10.0, 8.0, 10.2, 9.8]
    q1, q2, q3 = quartiles(vals)
    assert q2 == 10.0
    assert spread(vals) == pytest.approx((q3 - q1) / 10.0)
