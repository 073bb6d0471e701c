"""Measurement helpers: process-tree CPU from ``/proc``, peak resident
memory, in-memory spans, a span-closing ``SnapshotStore``, and Spark
event-log task attribution to spans.

Everything here measures from outside the program: the benchmark times
its own calls into the pipeline and the query registry.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from abecto_spark.sources.checkpoint import SnapshotStore

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds incl. reaped children) for every
    readable process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may hold spaces and parens: fields resume after the last ')'
        rest = raw[raw.rindex(")") + 2:].split()
        ppid = int(rest[1])
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out[int(entry)] = (ppid, ticks / _CLK_TCK)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU-seconds (user + system, own + reaped children) of ``root`` and
    every live descendant. A descendant that exits between two samples
    moves its time into its parent's reaped-children fields, so the
    difference of two samples stays whole."""
    root = os.getpid() if root is None else root
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def peak_rss_mb(pids) -> float:
    """Sum of each process's resident high-water mark (VmHWM)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float
    cpu_s: float
    rows_out: int

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class SpanRecorder:
    """Contiguous spans: each ``mark`` closes the span that began at the
    previous mark (or ``begin``). Process-tree CPU is sampled at every
    boundary only when tracing; otherwise spans carry wall time alone."""

    trace: bool
    spans: list[Span] = field(default_factory=list)
    _t: float = 0.0
    _cpu: float = 0.0

    def begin(self) -> float:
        self._t = time.time()
        self._cpu = tree_cpu_s() if self.trace else 0.0
        return self._t

    def mark(self, name: str, rows_out: int = 0) -> Span:
        now = time.time()
        cpu = tree_cpu_s() if self.trace else 0.0
        span = Span(name, self._t, now, cpu - self._cpu, rows_out)
        self.spans.append(span)
        self._t, self._cpu = now, cpu
        return span


# snapshot stage -> the span (layer) it closes
STAGE_SPANS = {
    "s1_mentions": "s1_extract",
    "s2_edges": "s2_link",
    "s3_canonical": "s3_canonical",
    "s4_triples": "s4_triples",
    "s5_measures": "s5_measures",
}


class TracingStore(SnapshotStore):
    """A ``SnapshotStore`` whose ``write`` closes one stage span (from the
    end of the previous write to the end of this one, so eager work a
    stage does before its write, such as S2's ``localCheckpoint``, lands
    in that stage) and whose ``read`` counts calls."""

    def __init__(self, spark, root: str, recorder: SpanRecorder):
        super().__init__(spark, root)
        self.recorder = recorder
        self.read_calls = 0

    def write(self, df, stage: str, config_token: str = "") -> dict:
        manifest = super().write(df, stage, config_token)
        self.recorder.mark(STAGE_SPANS[stage], manifest["row_count"])
        return manifest

    def read(self, stage: str):
        self.read_calls += 1
        return super().read(stage)


def dir_mb(root: str) -> float:
    total = 0
    for base, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


# ---- Spark event log ------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class TaskRecord:
    launch_ms: int
    finish_ms: int
    cpu_ns: int
    shuffle_write_bytes: int
    spill_bytes: int
    peak_exec_bytes: int


def read_event_log(path: str) -> tuple[list[int], list[TaskRecord]]:
    """Job submission times (ms) and finished tasks from an uncompressed
    Spark event log."""
    jobs, tasks = [], []
    with open(path) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line[:40]:
                jobs.append(json.loads(line)["Submission Time"])
            elif '"SparkListenerTaskEnd"' in line[:40]:
                ev = json.loads(line)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append(TaskRecord(
                    info["Launch Time"],
                    info["Finish Time"],
                    m.get("Executor CPU Time", 0),
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                    m.get("Peak Execution Memory", 0),
                ))
    return jobs, tasks


def attribute(spans: list[Span], jobs: list[int], tasks: list[TaskRecord]) -> list[dict]:
    """Spark counters per span: a job belongs to the span containing its
    submission time, a task to the span containing its launch time.
    Work outside every span (warm-up, checks) is dropped."""
    out = [
        {"jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "shuffle_write_mb": 0.0,
         "spill_mb": 0.0, "peak_exec_mb": 0.0, "max_task_ms": 0}
        for _ in spans
    ]

    def owner(ms: int) -> int | None:
        t = ms / 1000.0
        for i, s in enumerate(spans):
            if s.start <= t < s.end:
                return i
        return None

    for ms in jobs:
        i = owner(ms)
        if i is not None:
            out[i]["jobs"] += 1
    for task in tasks:
        i = owner(task.launch_ms)
        if i is None:
            continue
        r = out[i]
        r["tasks"] += 1
        r["executor_cpu_s"] += task.cpu_ns / 1e9
        r["shuffle_write_mb"] += task.shuffle_write_bytes / 2**20
        r["spill_mb"] += task.spill_bytes / 2**20
        r["peak_exec_mb"] = max(r["peak_exec_mb"], task.peak_exec_bytes / 2**20)
        r["max_task_ms"] = max(r["max_task_ms"], task.finish_ms - task.launch_ms)
    return out
