"""Spans recorded around calls into the engine, and the Spark event log
reader that attributes executor work to them.

Spans are kept in memory and read once the run ends. The workloads run
one client thread, so spans of one kind never overlap; a Spark job
belongs to the span whose job group it carries, or else to the span
open when the job was submitted (jobs started on the engine's own
helper threads carry no group).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    name: str
    kind: str  # read | write | other: which end-to-end sum it joins
    phase: str  # construct (driver-side plan building) | action
    start: float  # epoch seconds
    end: float = 0.0
    cycle: int | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self.cycle: int | None = None
        self._sc = None

    def attach(self, spark) -> None:
        """Tag the jobs of every later span with a job group naming it."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, layer: str, name: str, kind: str = "other",
             phase: str = "action"):
        sp = Span(layer, name, kind, phase, time.time(), cycle=self.cycle)
        if self._sc is not None:
            self._sc.setJobGroup(f"{len(self.spans)}:{layer}:{name}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def sum(self, cycle: int | None = None, **match) -> float:
        return sum(s.wall for s in self.select(cycle, **match))

    def select(self, cycle: int | None = None, **match) -> list[Span]:
        return [
            s for s in self.spans
            if (cycle is None or s.cycle == cycle)
            and all(getattr(s, k) == v for k, v in match.items())
        ]


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


class EventLogError(RuntimeError):
    pass


def trace_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a traced run: an uncompressed event log in
    ``log_dir`` (Spark 4.1 compresses with zstd by default)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_events(log_dir: str) -> list[dict]:
    """All events of the one application logged in ``log_dir``.

    Refuses a missing, compressed or unfinished log: the caller would
    otherwise report zeros for work that happened."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )
    if not files:
        raise EventLogError(f"no event log under {log_dir}")
    for f in files:
        base = os.path.basename(f)
        if base.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise EventLogError(f"compressed event log {base}")
        if base.endswith(".inprogress"):
            raise EventLogError(f"unfinished event log {base}")
    events = []
    for f in files:
        if os.path.basename(f).startswith("appstatus"):
            continue
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    kinds = {e.get("Event") for e in events}
    if "SparkListenerApplicationEnd" not in kinds:
        raise EventLogError("event log has no application end")
    return events


@dataclass
class LayerStats:
    jobs: int = 0
    stages: int = 0
    job_ms: float = 0.0  # union of this span set's job intervals
    task_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    bytes_read: int = 0
    files_read: int = 0
    files_written: int = 0
    bytes_written: int = 0
    sort_ms: float = 0.0
    agg_build_ms: float = 0.0
    job_intervals: list = field(default_factory=list)


# SQL metric names (as Spark 4.1 labels them) -> LayerStats field
_SQL_METRICS = {
    "sort time": "sort_ms",
    "time in aggregation build": "agg_build_ms",
    "number of files read": "files_read",
    "number of written files": "files_written",
    "written output": "bytes_written",
}


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        name = _SQL_METRICS.get(m.get("name"))
        if name:
            out[int(m["accumulatorId"])] = name
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(events: list[dict], spans: list[Span]) -> dict[int, LayerStats]:
    """Per-span executor statistics, keyed by the span's index."""
    spans_ms = [(s.start * 1000.0, s.end * 1000.0) for s in spans]

    def span_at(t_ms: float) -> int | None:
        # innermost (latest-starting) span open at t_ms
        best = None
        for i, (s, e) in enumerate(spans_ms):
            if s <= t_ms <= e and (best is None or s >= spans_ms[best][0]):
                best = i
        return best

    acc_names: dict[int, str] = {}
    exec_span: dict[int, int | None] = {}
    job_span: dict[int, int | None] = {}
    job_start: dict[int, float] = {}
    stage_span: dict[int, int | None] = {}
    stats: dict[int, LayerStats] = {}

    def get(i):
        return stats.setdefault(i, LayerStats())

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc_names)
            if kind.endswith("SQLExecutionStart"):
                exec_span[ev["executionId"]] = span_at(float(ev["time"]))
        elif kind.endswith("DriverAccumUpdates"):
            i = exec_span.get(ev.get("executionId"))
            if i is None:
                continue
            for acc_id, value in ev.get("accumUpdates", []):
                name = acc_names.get(int(acc_id))
                if name:
                    st = get(i)
                    setattr(st, name, getattr(st, name) + value)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            i = None
            if group and ":" in group and group.split(":", 1)[0].isdigit():
                idx = int(group.split(":", 1)[0])
                i = idx if idx < len(spans) else None
            if i is None:
                i = span_at(float(ev["Submission Time"]))
            job_span[ev["Job ID"]] = i
            job_start[ev["Job ID"]] = float(ev["Submission Time"])
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = i
            if i is not None:
                get(i).jobs += 1
        elif kind == "SparkListenerJobEnd":
            i = job_span.get(ev["Job ID"])
            if i is not None:
                get(i).job_intervals.append(
                    (job_start[ev["Job ID"]], float(ev["Completion Time"]))
                )
        elif kind == "SparkListenerStageCompleted":
            i = stage_span.get(ev["Stage Info"]["Stage ID"])
            if i is not None:
                get(i).stages += 1
        elif kind == "SparkListenerTaskEnd":
            i = stage_span.get(ev["Stage ID"])
            if i is None:
                continue
            st = get(i)
            tm = ev.get("Task Metrics") or {}
            st.task_cpu_ms += tm.get("Executor CPU Time", 0) / 1e6
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.bytes_read += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc_names.get(int(acc.get("ID", -1)))
                if name:
                    setattr(st, name, getattr(st, name) + float(acc.get("Update", 0)))
    for st in stats.values():
        st.job_ms = _union_ms(st.job_intervals)
    return stats
