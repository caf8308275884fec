"""Tracing for the benchmark: in-memory spans around public calls, Spark
event-log attribution of task metrics to those spans, and a /proc peak-RSS
sampler.

Spans are recorded from the benchmark's own files, around each call into a
layer of the package. Before a span opens, its id becomes the Spark job
group, so every ``SparkListenerTaskEnd`` in the (uncompressed) event log
names the span whose call caused it.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; when disabled ``span`` only yields, so an
    untraced run pays no bookkeeping and sets no job groups."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext if enabled else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        # job groups that Spark sets itself (a streaming query labels its
        # jobs with its run id) -> the span that started them
        self.groups: dict[str, int] = {}

    def reset(self) -> None:
        """Drop the spans recorded so far (the warm-up); ids keep counting,
        so event-log jobs of dropped spans match no kept span."""
        self.spans = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next_id, name, parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 time.perf_counter())
        self._next_id += 1
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s.id}", name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent.id}", parent.name, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def adopt(self, group: str) -> None:
        """Attribute jobs of Spark job group ``group`` to the open span."""
        if self.enabled and self._stack:
            self.groups[group] = self._stack[-1].id

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its children cover (children of one
        span run one after another, so their durations add)."""
        kids = sum(c.seconds for c in self.spans if c.parent == span.id)
        return span.seconds - kids

    def write(self, path: str, tasks: dict) -> None:
        out = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = self.self_seconds(s)
            d["spark"] = tasks.get(s.id, {})
            out.append(d)
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


TASK_FIELDS = ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
               "shuffle_write_bytes", "spill_bytes", "job_s", "task_s")


def _zero() -> dict:
    return {k: 0 for k in TASK_FIELDS} | {"stage_task_s": {}}


def event_log_by_span(log_dir: str, groups: dict[str, int]) -> dict[int, dict]:
    """Parse every event log in ``log_dir`` (plain JSON lines) into per-span
    Spark totals, keyed by span id: jobs, stages, tasks, executor CPU, JVM
    GC, shuffle bytes written, bytes spilled, job wall seconds, task run
    seconds, and each stage's task run times (for skew). A job belongs to
    the span named by its ``span-<id>`` job group, or by ``groups``."""
    out: dict[int, dict] = {}
    stage_span: dict[int, int] = {}
    job_span: dict[int, int] = {}
    job_start: dict[int, int] = {}
    # Spark 4 writes one directory of rolled files per application
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir)
                   for n in names if n.startswith("events_"))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith("span-"):
                        sid = int(group[5:])
                    elif group in groups:
                        sid = groups[group]
                    else:
                        continue
                    job_span[ev["Job ID"]] = sid
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    acc = out.setdefault(sid, _zero())
                    acc["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerJobEnd":
                    sid = job_span.get(ev["Job ID"])
                    if sid is not None:
                        out[sid]["job_s"] += (ev["Completion Time"] - job_start[ev["Job ID"]]) / 1000
                elif kind == "SparkListenerStageCompleted":
                    sid = stage_span.get(ev["Stage Info"]["Stage ID"])
                    if sid is not None:
                        out[sid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    acc = out[sid]
                    acc["tasks"] += 1
                    acc["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    acc["gc_s"] += m["JVM GC Time"] / 1000
                    acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    acc["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    acc["task_s"] += m["Executor Run Time"] / 1000
                    acc["stage_task_s"].setdefault(ev["Stage ID"], []).append(
                        m["Executor Run Time"] / 1000)
    return out


def _status_kb(pid: int, field_name: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field_name + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(x) for x in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


class RssSampler:
    """Peak resident memory of this process, the JVM and the JVM's Python
    workers: the two long-lived processes report their own high-water mark
    (``VmHWM``); workers come and go, so their summed ``VmRSS`` is sampled."""

    def __init__(self, jvm_pid: int, interval: float = 0.25) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            kb = sum(_status_kb(p, "VmRSS") for p in _descendants(self.jvm_pid))
            self.workers_peak_kb = max(self.workers_peak_kb, kb)

    def start(self) -> None:
        self._thread.start()

    def stop_mb(self) -> float:
        """Stop sampling and return the summed peak in MiB."""
        self._stop.set()
        self._thread.join()
        parts = (_status_kb(self.jvm_pid, "VmHWM"), _status_kb(os.getpid(), "VmHWM"),
                 self.workers_peak_kb)
        print(f"[perfbench] peak rss kB jvm/python/workers {parts}", file=sys.stderr)
        return sum(parts) / 1024
