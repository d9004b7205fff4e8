"""Spans, Spark job/task counts and process-tree memory, all measured
from outside the library.

Spans are held in memory and written out once, at the end of a traced
run. Each records its name, start, end, parent span and query id; a
layer's self time is its duration minus the part of it that its
children cover.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, Iterator, List, Optional, Sequence, Tuple


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    qid: Optional[int]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; nesting follows the calling thread's open spans.

    A disabled tracer records nothing and adds only a context-manager
    call, so the untraced code path and the traced one are the same code.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, qid: Optional[int] = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if qid is None and parent is not None:
            qid = parent.qid
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), 0.0,
                      parent.id if parent else None, qid)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        children = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return self_seconds((span.start, span.end), children)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([dict(asdict(s), self_s=self.self_time(s)) for s in self.spans], fh)


def self_seconds(interval: Tuple[float, float], children: Sequence[Tuple[float, float]]) -> float:
    """Length of ``interval`` not covered by the union of ``children``."""
    lo, hi = interval
    covered, cur_lo, cur_hi = 0.0, None, None
    for c_lo, c_hi in sorted((max(a, lo), min(b, hi)) for a, b in children):
        if c_hi <= c_lo:
            continue
        if cur_hi is None or c_lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = c_lo, c_hi
        else:
            cur_hi = max(cur_hi, c_hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


class JobCounter:
    """Counts the Spark jobs and tasks a block of calls launches.

    Tags the calling thread's jobs with a fresh job group and reads the
    group's jobs back from ``statusTracker()``.
    """

    def __init__(self, sc) -> None:
        self.sc = sc
        self._ids = itertools.count(1)

    @contextmanager
    def group(self) -> Iterator[Dict[str, int]]:
        gid = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(gid, gid)
        out: Dict[str, int] = {}
        try:
            yield out
        finally:
            out.update(self._count(gid))
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _count(self, gid: str) -> Dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        # stage completion reaches the tracker through the listener bus,
        # a moment after the action returns
        deadline = time.perf_counter() + 2.0
        while time.perf_counter() < deadline:
            infos = [st.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            time.sleep(0.01)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks + stage.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks}


def _tree_rss_kb(root: int) -> int:
    """Resident kB of ``root`` and every descendant, read from /proc."""
    children: Dict[int, List[int]] = {}
    rss: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background sampler of this process tree's peak RSS, per phase."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.phase = "setup"
        self.peak_mb: Dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)
        self.sample()

    def sample(self) -> None:
        mb = _tree_rss_kb(os.getpid()) / 1024.0
        self.peak_mb[self.phase] = max(self.peak_mb.get(self.phase, 0.0), mb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()
