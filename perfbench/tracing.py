"""Measurement primitives: latency summaries, spans, the Spark event-log
reader and the RSS sampler.

Nothing here imports the engine. Spans are recorded by the benchmark's
own code around calls into ``bda_spark``; executor-side numbers come
from Spark's event log, parsed after the session stops.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# A tail percentile is reported only with at least this many samples
# beyond it.
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, int] | None:
    """The highest whole percentile p that still has at least
    ``TAIL_BEYOND`` samples strictly beyond its rank, as (value, p).
    None below ``2 * TAIL_BEYOND`` samples, where that percentile would
    be the median or lower.

    Failed operations are passed in as ``inf``: they miss every limit,
    so they sort last and can only raise the tail."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return None
    ranked = sorted(values)
    # rank k (1-based) has n - k samples beyond it
    k = n - TAIL_BEYOND
    p = (100 * k) // n
    return ranked[k - 1], p


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: str = ""
    index: int = 0

    @property
    def group(self) -> str:
        return f"{self.trace_id}/{self.name}/{self.layer}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover. Overlapping children are merged first, so a stretch
    covered by two children is subtracted once."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.index, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.index] = s.duration - covered
    return out


@dataclass
class Tracer:
    """In-memory spans for one run. With ``enabled`` every span also
    sets the Spark job group ``<trace_id>/<name>/<layer>``, so the event
    log attributes each stage to the span that launched it; untraced
    runs keep the spans' wall times and skip the job groups."""

    trace_id: str
    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str):
        s = Span(name, layer, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 trace_id=self.trace_id, index=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.index)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(s.group, s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled and self.sc is not None:
                if self._stack:
                    p = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(p.group, p.group)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def to_records(self) -> list[dict]:
        st = self_times(self.spans)
        return [{"name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
                 "parent": s.parent, "trace_id": s.trace_id, "self_s": st[s.index]}
                for s in self.spans]


# ------------------------------------------------------------ event log
@dataclass
class TaskRow:
    group: str | None
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    sched_delay_s: float
    records_in: int
    bytes_in: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    bytes_out: int
    records_out: int
    failed: bool


@dataclass
class EventLog:
    """What the benchmark needs from one Spark event log: every task
    with the job group of the job that first ran its stage, job counts
    per group, and stage wall times."""

    tasks: list[TaskRow] = field(default_factory=list)
    jobs_per_group: dict[str, int] = field(default_factory=dict)
    stage_wall_s: dict[int, float] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)

    @classmethod
    def parse_lines(cls, lines) -> "EventLog":
        log = cls()
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                log.jobs_per_group[group] = log.jobs_per_group.get(group, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    log.stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") and info.get("Completion Time"):
                    log.stage_wall_s[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                log.tasks.append(_task_row(ev, log.stage_group))
        return log

    @classmethod
    def read_dir(cls, directory: str) -> "EventLog":
        names = [n for n in os.listdir(directory) if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log in {directory}, found {names}")
        with open(os.path.join(directory, names[0])) as f:
            return cls.parse_lines(f)

    def select(self, groups: set[str]) -> list[TaskRow]:
        return [t for t in self.tasks if t.group in groups]

    def jobs(self, groups) -> int:
        return sum(self.jobs_per_group.get(g, 0) for g in groups)


def _task_row(ev: dict, stage_group: dict) -> TaskRow:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    total_ms = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
    overhead_ms = (m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
                   + info.get("Getting Result Time", 0))
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return TaskRow(
        group=stage_group.get(ev.get("Stage ID")),
        stage=ev.get("Stage ID"),
        run_s=run_ms / 1000.0,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        sched_delay_s=max(0, total_ms - run_ms - overhead_ms) / 1000.0,
        records_in=inp.get("Records Read", 0) + sr.get("Total Records Read", 0),
        bytes_in=inp.get("Bytes Read", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        bytes_out=out.get("Bytes Written", 0),
        records_out=out.get("Records Written", 0),
        failed=bool(info.get("Failed")) or reason != "Success",
    )


def executor_metrics(tasks: list[TaskRow]) -> dict[str, float]:
    n = len(tasks)
    return {
        "executor.cpu_s": sum(t.cpu_s for t in tasks),
        "executor.run_s": sum(t.run_s for t in tasks),
        "executor.gc_s": sum(t.gc_s for t in tasks),
        "executor.tasks": n,
        "executor.useful_task_frac": (sum(t.records_in > 0 for t in tasks) / n) if n else 0.0,
        "executor.shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "executor.shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "executor.spill_bytes": sum(t.spill for t in tasks),
        "executor.sched_delay_s": sum(t.sched_delay_s for t in tasks),
        "executor.tasks_failed": sum(t.failed for t in tasks),
    }


# ---------------------------------------------------------------- RSS
def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
        return 0


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the command name may hold spaces; fields resume after ')'
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return 0
    # fields[0] is the state, the 3rd field of stat; utime is the 14th
    return sum(int(x) for x in fields[11:15])


def cpu_seconds() -> float:
    """CPU time used so far by this process and its descendants (the JVM
    and its Python workers), including descendants already reaped. On a
    virtual machine the kernel leaves time stolen by the hypervisor out
    of it, so it follows the work done rather than the host's load."""
    me = os.getpid()
    return sum(_cpu_ticks(p) for p in [me, *_descendants(me)]) / _CLK_TCK


def steal_seconds() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs, summed
    over the CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


class RssSampler:
    """Peak summed RSS of this process and its descendants (the JVM and
    its Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in [me, *_descendants(me)]))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
