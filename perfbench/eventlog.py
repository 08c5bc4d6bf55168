"""Spark event-log parsing: attribute jobs, stages and task metrics to
the benchmark's spans.

A span is one timed call into a layer (a row's construction, its
execution, a ``load_table`` call, a streaming job). Each span sets the
Spark job group to its span id before the call, so a job is attributed
to the span whose id it carries. Jobs started by a streaming query's own
thread carry the query's run id instead; those are attributed to the
span whose wall-clock interval contains the job's submission time (one
client, so spans never overlap).

The event log is the uncompressed JSON-lines log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

# Spark 4.1 PythonSQLMetrics names -> our counter keys. Timing metrics
# are millisecond accumulators, size metrics bytes.
PYTHON_METRICS = {
    "time to run Python workers": "python.total_ms",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


@dataclass
class Span:
    span_id: str
    layer: str
    name: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class SpanStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    counters: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value


def event_log_files(log_dir: str) -> list[str]:
    """The files of the single application log in ``log_dir``: one file,
    or (Spark 4's default rolling layout) an ``eventlog_v2_*`` directory
    of ``events_<n>_*`` parts, returned in order."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]


def _events(log_files: list[str]):
    for path in log_files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def _task_counters(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = {
        "task_run_ms": m.get("Executor Run Time", 0),
        "task_cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_rows": inp.get("Records Read", 0),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is not None:
            out[key] = out.get(key, 0) + int(acc.get("Update") or 0)
    return out


def attribute(log_files: list[str], spans: list[Span]) -> dict[str, SpanStats]:
    """Per-span job/stage/task counts and summed task metrics."""
    by_id = {s.span_id: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    stage_span: dict[int, str] = {}
    stats = {s.span_id: SpanStats() for s in spans}

    def by_time(t_ms: int) -> str | None:
        t = t_ms / 1000.0
        for s in ordered:
            if s.start <= t <= s.end:
                return s.span_id
        return None

    for ev in _events(log_files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            sid = group if group in by_id else by_time(ev.get("Submission Time", 0))
            if sid is None:
                continue
            stats[sid].jobs += 1
            for st in ev.get("Stage IDs", []):
                stage_span[st] = sid
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            sid = stage_span.get(info.get("Stage ID"))
            # skipped stages (shuffle reuse) never submit
            if sid is not None and info.get("Submission Time") is not None:
                stats[sid].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            if sid is None:
                continue
            stats[sid].tasks += 1
            for k, v in _task_counters(ev).items():
                stats[sid].add(k, v)
    return stats
