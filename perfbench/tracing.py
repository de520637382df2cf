"""Per-layer tracing for the benchmark's traced runs.

Two sources, neither of which touches ``psvm_spark`` code:

- ``Tracer`` times calls into the engine's public module functions.  It
  swaps each function for a timing wrapper in every ``psvm_spark``
  module namespace that holds it, and keeps *self* time per layer: a
  span's duration minus the time its nested spans cover.
- ``fold_event_log`` reads Spark's own (uncompressed) event log and
  attributes jobs, stages, tasks and streaming progress to the timed
  windows the benchmark recorded, by wall-clock time.  Micro-batch jobs
  carry the stream's own job group, not the key's, so time is the only
  attribution that covers them.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import time
from collections import defaultdict
from collections.abc import Iterable
from contextlib import contextmanager
from datetime import datetime
from types import ModuleType

# (module, function, layer) — layer names are the per-layer metric stems.
TRACED_FUNCTIONS = [
    ("psvm_spark.catalog", "load_table", "catalog.load_table"),
    ("psvm_spark.queries._util", "local_df", "queries.local_df"),
    ("psvm_spark.ml.svm", "fit_eval_linear_svc", "ml.fit_eval_linear_svc"),
    ("psvm_spark.ml.svm", "fit_eval_ovr_multiclass", "ml.fit_eval_ovr_multiclass"),
    ("psvm_spark.ml.svm", "nystrom_map", "ml.nystrom_map"),
    ("psvm_spark.ml.svm", "pick_landmarks", "ml.pick_landmarks"),
    ("psvm_spark.ml.svm", "binary_train_test", "ml.binary_train_test"),
    ("psvm_spark.streaming.jobs", "run_to_table", "streaming.run_to_table"),
]

_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")

_STREAM_PHASES = {
    "triggerExecution": "trigger",
    "addBatch": "add_batch",
    "queryPlanning": "query_planning",
    "walCommit": "wal_commit",
    "commitOffsets": "commit_offsets",
    "latestOffset": "latest_offset",
}


class Tracer:
    """Self time and call counts per layer, from nested spans."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._child_s: list[float] = []

    @contextmanager
    def span(self, layer: str):
        self._child_s.append(0.0)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            self.self_s[layer] += dur - self._child_s.pop()
            self.calls[layer] += 1
            if self._child_s:
                self._child_s[-1] += dur

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def install(self, functions=TRACED_FUNCTIONS) -> None:
        """Swap each listed function for a traced one wherever the engine
        holds a reference (``from m import f`` copies the binding)."""
        for mod_name, _, _ in functions:
            importlib.import_module(mod_name)
        engine = [m for n, m in sys.modules.items()
                  if isinstance(m, ModuleType) and n.startswith("psvm_spark")]
        for mod_name, fn_name, layer in functions:
            original = getattr(sys.modules[mod_name], fn_name)
            traced = self.wrap(original, layer)
            for mod in engine:
                for attr, val in list(vars(mod).items()):
                    if val is original:
                        setattr(mod, attr, traced)

    def count_method(self, cls: type, name: str, layer: str) -> None:
        """Count calls to a method (e.g. ``DataFrame.localCheckpoint``)."""
        original = getattr(cls, name)

        @functools.wraps(original)
        def counted(*args, **kwargs):
            self.calls[layer] += 1
            return original(*args, **kwargs)

        setattr(cls, name, counted)


def _progress_ms(progress: dict) -> float:
    ts = progress.get("timestamp")
    if not ts:
        return float("nan")
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def _window_of(t_ms: float, windows: list[tuple[float, float]]) -> int | None:
    for i, (lo, hi) in enumerate(windows):
        if lo <= t_ms <= hi:
            return i
    return None


def fold_event_log(lines: Iterable[str], windows: list[tuple[float, float]]) -> dict:
    """Fold Spark event-log lines into totals over the given windows.

    ``windows`` are (start_ms, end_ms) epoch intervals.  A job belongs to
    the window holding its submission time; its stages and tasks follow
    it.  A streaming progress event belongs to the window holding its
    trigger timestamp.  Events outside every window are ignored.
    """
    job_window: dict[int, int] = {}
    stage_window: dict[int, int] = {}
    task_ms: dict[int, list[float]] = defaultdict(list)
    tot: dict[str, float] = defaultdict(float)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            w = _window_of(ev["Submission Time"], windows)
            if w is None:
                continue
            job_window[ev["Job ID"]] = w
            tot["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_window[sid] = w
        elif kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_window:
                tot["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_window:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            tot["tasks"] += 1
            task_ms[sid].append(info["Finish Time"] - info["Launch Time"])
            tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            tot["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            tot["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            # The log carries Python-worker traffic, not Python-worker time.
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in _PYTHON_BYTES:
                    tot["python_io_bytes"] += int(acc.get("Update") or 0)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = ev["progress"]
            if _window_of(_progress_ms(p), windows) is None:
                continue
            tot["batches"] += 1
            if sum(src.get("numInputRows", 0) for src in p.get("sources", [])) > 0:
                tot["useful_batches"] += 1
            for phase, stem in _STREAM_PHASES.items():
                tot[f"{stem}_s"] += p.get("durationMs", {}).get(phase, 0) / 1e3
    skews = [max(d) / max(statistics.median(d), 1.0)
             for d in task_ms.values() if len(d) >= 2]
    tot["task_skew"] = statistics.fmean(skews) if skews else 1.0
    return dict(tot)
