"""Spans around calls into the program, and the counters behind them.

A traced run records one span per call: name, start, end and parent.
Each span runs its Spark jobs under its own job group, so after the run
the jobs, tasks, shuffle bytes, spill, peak execution memory and GC
time of every span can be read back from Spark's status store.  Spans
are kept in memory and folded into per-layer metrics at the end; an
untraced run enters the same ``span`` blocks but records nothing and
sets no job group.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1 << 20


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    shuffle_write: int = 0
    spill: int = 0
    peak_exec_mem: int = 0
    gc_ms: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setJobGroup("perfbench-none", "outside any span")
        else:
            self.sc.setJobGroup(f"perfbench-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  time.perf_counter())
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.sid)
        self._stack.append(sp)
        self._group(sp)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)

    # ------------------------------------------------------ fold-up

    def collect_counters(self) -> tuple[int, int]:
        """Fill every span's Spark counters from the status store.
        Returns (sum of the spans' tasks, the session's task count read
        from the store's stage list)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stages = _stage_table(store)
        owner: dict[int, int] = {}  # stage id -> first job listing it
        job_span: dict[int, Span] = {}
        for sp in self.spans:
            for j in tracker.getJobIdsForGroup(f"perfbench-{sp.sid}"):
                job_span[j] = sp
        for j in sorted(job_span):
            for s in tracker.getJobInfo(j).stageIds:
                owner.setdefault(s, j)
        for j, sp in job_span.items():
            sp.jobs += 1
            sp.tasks += store.job(j).numCompletedTasks()
        for s, j in owner.items():
            sp = job_span[j]
            for st in stages.get(s, ()):
                sp.shuffle_write += st["shuffle_write"]
                sp.spill += st["spill"]
                sp.peak_exec_mem = max(sp.peak_exec_mem, st["peak_exec_mem"])
                sp.gc_ms += st["gc_ms"]
        total = sum(st["tasks"] for v in stages.values() for st in v)
        return sum(sp.tasks for sp in self.spans), total

    def self_time(self, sp: Span) -> float:
        """Duration minus the time its children cover (children of one
        span run one after another, so their durations add)."""
        return sp.dur - sum(self.spans[c].dur for c in sp.children)

    def within(self, root_name: str) -> list[Span]:
        """Every span under the spans named ``root_name``."""
        roots = {sp.sid for sp in self.spans if sp.name == root_name}
        out = []
        for sp in self.spans:
            p = sp.parent
            while p is not None and p not in roots:
                p = self.spans[p].parent
            if p is not None:
                out.append(sp)
        return out


def _stage_table(store) -> dict[int, list[dict]]:
    d4 = getattr(store, "stageList$default$4")()
    d5 = getattr(store, "stageList$default$5")()
    lst = store.stageList(None, False, False, d4, d5)
    out: dict[int, list[dict]] = {}
    for i in range(lst.size()):
        s = lst.apply(i)
        out.setdefault(s.stageId(), []).append({
            "tasks": s.numCompleteTasks(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "peak_exec_mem": s.peakExecutionMemory(),
            "gc_ms": s.jvmGcTime(),
        })
    return out


def layer_metrics(tr: Tracer, names: dict) -> dict[str, float]:
    """Per-layer metrics from the spans of the measured window.

    ``names`` maps a span name to the suffixes wanted for it.  Counts,
    bytes and seconds are totals over the measured round; ``ms`` is the
    median self time of one call; ``peak_exec_mem_mb`` is the largest
    stage figure seen (Spark sums it over a stage's tasks)."""
    measured = tr.within("measure")
    out: dict[str, float] = {}
    for name, suffixes in names.items():
        sps = [sp for sp in measured if sp.name == name]
        for suf in suffixes:
            key = f"{name}.{suf}"
            if suf == "s":
                out[key] = sum(tr.self_time(sp) for sp in sps)
            elif suf == "ms":
                out[key] = (statistics.median(tr.self_time(sp) for sp in sps)
                            * 1e3 if sps else 0.0)
            elif suf == "jobs":
                out[key] = sum(sp.jobs for sp in sps)
            elif suf == "shuffle_write_mb":
                out[key] = sum(sp.shuffle_write for sp in sps) / MB
            elif suf == "spill_mb":
                out[key] = sum(sp.spill for sp in sps) / MB
            elif suf == "peak_exec_mem_mb":
                out[key] = max((sp.peak_exec_mem for sp in sps), default=0) / MB
            else:
                raise KeyError(key)
    return out


# ---------------------------------------------------------------- memory

def _parents() -> dict[int, int]:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among
    the processes sharing them.  Summing plain RSS would count the
    copy-on-write pages of every forked Python worker once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU time of a process tree, including children its
    members have already reaped.  Unlike wall time, it does not grow
    when the host steals CPU from this machine."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_pids(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers it forks): the largest sum of their
    proportional set sizes, sampled from /proc every ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = sum(_pss_bytes(p) for p in tree_pids(os.getpid()))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
