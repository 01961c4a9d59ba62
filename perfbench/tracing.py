"""Spans around public calls, Spark job groups, and the event-log parser
that attributes Spark's own per-stage metrics to those spans.

A span is opened by the benchmark around one call into a ferret_spark
layer. While it is open the Spark job group is the span id, so every job
the call submits carries it in the event log; `layer_table` later joins
the jobs back to their spans and sums per layer.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Percentiles considered for the tail figure, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}
STAGE_METRICS = (
    "py_start_ms",
    "py_init_ms",
    "py_run_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_ms",
    "driver_gap_ms",
)


def nearest_rank(values, p: float) -> float:
    """The p-th percentile by nearest rank (a value that was measured)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n: int) -> float | None:
    """Highest percentile with at least ten samples beyond its rank, or
    None when fewer than 20 samples leave even the median without ten."""
    for p in TAIL_CANDIDATES:
        if n - max(1, math.ceil(p / 100.0 * n)) >= 10:
            return p
    return None


@dataclass
class Span:
    sid: str
    layer: str
    name: str
    parent: str | None
    start: float  # epoch seconds, comparable with event-log millis
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory. Disabled, it only runs the body: no job
    group, no bookkeeping, so untraced runs measure the bare calls."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.peak_rss_mb = 0.0

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=f"pb{len(self.spans)}",
            layer=layer,
            name=name,
            parent=parent.sid if parent else None,
            start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.sid, f"{layer}:{name}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.peak_rss_mb = max(self.peak_rss_mb, proc_tree_rss_mb(os.getpid()))
            if parent is not None:
                sc.setJobGroup(parent.sid, f"{parent.layer}:{parent.name}")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    group: str | None
    start_ms: int
    end_ms: int = 0
    tasks: int = 0
    records_read: int = 0
    metrics: dict = field(
        default_factory=lambda: {m: 0 for m in STAGE_METRICS if m != "driver_gap_ms"}
    )


def event_files(log_dir: str) -> list[str]:
    """Every events file Spark wrote under ``log_dir``: one rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` directory per SparkContext."""
    files = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return files


def parse_jobs(log_dir: str) -> list[Job]:
    """Jobs from every application log under ``log_dir``, each with its
    job group and the task metrics of the stages it ran. Job and stage ids
    restart per application, so they are keyed by application."""
    jobs: dict[tuple, Job] = {}
    stage_job: dict[tuple, tuple] = {}
    for path in event_files(log_dir):
        app = os.path.basename(os.path.dirname(path))
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    props = ev.get("Properties") or {}
                    jobs[key] = Job(
                        group=props.get("spark.jobGroup.id"),
                        start_ms=int(ev["Submission Time"]),
                    )
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(app, sid)] = key
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job.end_ms = int(ev["Completion Time"])
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get((app, ev["Stage ID"]))
                    if key is None:
                        continue
                    _add_task(jobs[key], ev)
    return list(jobs.values())


def _add_task(job: Job, ev: dict) -> None:
    job.tasks += 1
    m = job.metrics
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = PY_METRICS.get(acc.get("Name"))
        if name is not None:
            m[name] += int(acc.get("Update") or 0)
    tm = ev.get("Task Metrics") or {}
    m["gc_ms"] += int(tm.get("JVM GC Time", 0))
    m["spill_bytes"] += int(tm.get("Disk Bytes Spilled", 0))
    m["shuffle_write_bytes"] += int(
        (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    )
    job.records_read += int((tm.get("Input Metrics") or {}).get("Records Read", 0))


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def span_stats(spans: list[Span], jobs: list[Job]) -> dict[str, dict]:
    """Per span id: its own jobs' summed stage metrics, job/task/record
    counts, and driver_gap_ms = span wall minus the union of its jobs'
    submit-to-complete intervals and its child spans."""
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        if j.group is not None:
            by_group.setdefault(j.group, []).append(j)
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        js = by_group.get(s.sid, [])
        st = {m: 0 for m in STAGE_METRICS}
        for j in js:
            for k, v in j.metrics.items():
                st[k] += v
        lo, hi = _ms(s.start), _ms(s.end)
        busy = [(j.start_ms, j.end_ms or hi) for j in js]
        busy += [(_ms(c.start), _ms(c.end)) for c in kids.get(s.sid, [])]
        st["driver_gap_ms"] = max(0, hi - lo - _covered_ms(busy, lo, hi))
        st["jobs"] = len(js)
        st["tasks"] = sum(j.tasks for j in js)
        st["records_read"] = sum(j.records_read for j in js)
        out[s.sid] = st
    return out


def layer_table(spans: list[Span], stats: dict[str, dict], layers) -> dict:
    """``<layer>.<metric>`` summed over the layer's spans. Each job belongs
    to the innermost span open when it ran, so no job is counted twice."""
    table = {f"{L}.{m}": 0.0 for L in layers for m in STAGE_METRICS}
    for s in spans:
        if s.layer in layers:
            for m in STAGE_METRICS:
                table[f"{s.layer}.{m}"] += float(stats[s.sid][m])
    return table


def _ms(t: float) -> int:
    return int(round(t * 1000))


def coverage(spans: list[Span], t0: float, t1: float) -> tuple[float, float]:
    """Share of the timed wall [t0, t1] that top-level spans cover, and the
    unattributed remainder in ms."""
    tops = [(_ms(s.start), _ms(s.end)) for s in spans if s.parent is None]
    covered = _covered_ms(tops, _ms(t0), _ms(t1))
    wall = max(1, _ms(t1) - _ms(t0))
    return covered / wall, float(wall - covered)


def proc_tree_rss_mb(root_pid: int) -> float:
    """Resident set of ``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo += children.get(pid, [])
    return total * os.sysconf("SC_PAGE_SIZE") / (1 << 20)
