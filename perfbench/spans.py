"""Per-layer tracing for the KG-build benchmark.

Spans are recorded from the benchmark's own code around its calls into the
program: session start, data generation, and one span per ``plans.kg``
kernel.  The kernels only build lazy plans, so the benchmark materializes
each kernel's output inside that kernel's span; the span's wall time is the
kernel's work plus its parquet write.

Every span runs under its own Spark job group.  After the run the
uncompressed Spark event log is parsed and each task is attributed to the
span whose group its job carries: task counts, CPU, GC, shuffle, spill,
input and output rows, and the Python-worker SQL metrics.  Spans stay in
memory until ``Tracer.report`` aggregates them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# SQL metric names Spark attaches to Python-UDF plan nodes (per-task
# milliseconds and bytes; the names are Spark's own).  Spark's "time to
# initialize Python workers" is left out: a reused worker starts that clock
# when it finishes its previous task, so it counts idle time.
_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    name: str
    group: str
    op: int
    start: float
    end: float = 0.0
    children: list[Span] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class _Task:
    group: str
    run_ms: int
    cpu_ns: int
    gc_ms: int
    failed: bool
    shuffle_write: int
    shuffle_read: int
    fetch_wait_ms: int
    spill: int
    rows_in: int
    rows_out: int
    bytes_out: int
    accums: dict[str, int]
    stage: int


class Tracer:
    """Span recorder.  A disabled tracer records nothing and sets no job
    groups, so untraced runs execute exactly the program's calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = 0  # 0: set-up and warm-up, 1..n: timed operations
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"perfbench-{len(self.spans)}", self.op, time.perf_counter())
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent.group, parent.name)
                else:
                    self._sc.setJobGroup("perfbench-root", "perfbench")

    def attribute(self, event_log_dir: str) -> None:
        """Attach event-log task metrics to every recorded span."""
        files = glob.glob(os.path.join(event_log_dir, "*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {event_log_dir}, found {len(files)}")
        stage_group: dict[int, str] = {}
        tasks: list[_Task] = []
        with open(files[0]) as fh:
            for line in fh:
                e = json.loads(line)
                if e["Event"] == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif e["Event"] == "SparkListenerTaskEnd":
                    tasks.append(_parse_task(e, stage_group.get(e["Stage ID"], "")))
        by_group: dict[str, list[_Task]] = {}
        for t in tasks:
            by_group.setdefault(t.group, []).append(t)
        for s in self.spans:
            s.metrics = _task_metrics(by_group.get(s.group, []))

    def report(self, names: list[str]) -> dict[str, float]:
        """Median over a span's instances of each ``<span>.<metric>``.
        Instances inside timed operations are preferred to set-up and
        warm-up ones; spans that never ran report 0."""
        inst: dict[str, list[Span]] = {}
        for s in self.spans:
            inst.setdefault(s.name, []).append(s)
        out: dict[str, float] = {}
        for full in names:
            span_name, metric = full.rsplit(".", 1)
            spans = inst.get(span_name, [])
            spans = [s for s in spans if s.op > 0] or spans
            vals = [_span_value(s, metric) for s in spans]
            out[full] = statistics.median(vals) if vals else 0.0
        return out


def _span_value(s: Span, metric: str) -> float:
    if metric == "wall_s":
        return s.wall
    if metric == "self_s":
        return s.wall - sum(c.wall for c in s.children)
    return float(s.metrics.get(metric, 0.0))


def _parse_task(e: dict, group: str) -> _Task:
    m = e.get("Task Metrics") or {}
    info = e["Task Info"]
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = m.get("Output Metrics") or {}
    accums: dict[str, int] = {}
    for a in info.get("Accumulables", []):
        name, upd = a.get("Name"), a.get("Update")
        if name in (_PY_RUN, _PY_START, _PY_SENT, _PY_RETURNED):
            accums[name] = accums.get(name, 0) + int(upd)
    return _Task(
        group=group,
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        failed=bool(info.get("Failed")),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        shuffle_read=sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        rows_in=(m.get("Input Metrics") or {}).get("Records Read", 0),
        rows_out=out.get("Records Written", 0),
        bytes_out=out.get("Bytes Written", 0),
        accums=accums,
        stage=e["Stage ID"],
    )


def _task_metrics(ts: list[_Task]) -> dict[str, float]:
    def acc(name: str) -> int:
        return sum(t.accums.get(name, 0) for t in ts)

    # skew: slowest over median task of each shuffle-reading Spark stage
    reduce_tasks: dict[int, list[int]] = {}
    for t in ts:
        if t.shuffle_read:
            reduce_tasks.setdefault(t.stage, []).append(t.run_ms)
    skew = [max(v) / max(statistics.median(v), 1) for v in reduce_tasks.values() if len(v) > 1]
    rows_in = sum(t.rows_in for t in ts)
    rows_out = sum(t.rows_out for t in ts)
    return {
        "tasks": float(len(ts)),
        "failed_tasks": float(sum(t.failed for t in ts)),
        "cpu_s": sum(t.cpu_ns for t in ts) / 1e9,
        "gc_s": sum(t.gc_ms for t in ts) / 1e3,
        "shuffle_write_bytes": float(sum(t.shuffle_write for t in ts)),
        "shuffle_read_bytes": float(sum(t.shuffle_read for t in ts)),
        "fetch_wait_s": sum(t.fetch_wait_ms for t in ts) / 1e3,
        "spill_bytes": float(sum(t.spill for t in ts)),
        "task_max_over_median": max(skew, default=1.0),
        "rows_in": float(rows_in),
        "rows_out": float(rows_out),
        "output_bytes": float(sum(t.bytes_out for t in ts)),
        "dedup_ratio": rows_out / rows_in if rows_in else 0.0,
        "python_run_s": acc(_PY_RUN) / 1e3,
        "python_init_s": acc(_PY_START) / 1e3,
        "python_bytes_sent": float(acc(_PY_SENT)),
        "python_bytes_returned": float(acc(_PY_RETURNED)),
    }
