"""Measurement plumbing: spans, counters and the process-tree sampler.

Spans are kept in memory and written out once, when the run ends. Each
span has a name, start and end (wall-clock seconds), the id of the span
that caused it, and a trace id (the run, or one micro-batch).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import signal
import threading
import time
from dataclasses import asdict, dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str


class Tracer:
    """In-memory span recorder. `enabled=False` records nothing."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()

    def span(self, name: str, trace: str | None = None):
        return _SpanCtx(self, name, trace)

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace `module.attr` by a function that records a span around
        each call (and hands the result to `on_result`)."""
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with tracer.span(name):
                out = fn(*a, **kw)
            if on_result is not None:
                on_result(out)
            return out

        setattr(module, attr, wrapped)

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time covered by child spans."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(s.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": [asdict(s) for s in self.spans],
                       "self_s": self.self_times(), "counters": self.counters}, f, indent=1)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, trace: str | None):
        self.t, self.name, self.trace = tracer, name, trace

    def __enter__(self):
        if not self.t.enabled:
            return self
        stack = self.t._local.__dict__.setdefault("stack", [])
        self.parent = stack[-1] if stack else None
        self.id = next(self.t._ids)
        stack.append(self.id)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            end = time.time()
            self.t._local.stack.pop()
            self.t.spans.append(Span(self.id, self.name, self.start, end, self.parent,
                                     self.trace or self.t.trace_id))
        return False


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages), for
    processes that have not exited (zombies are left out)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rfind(")") + 2:].split()
        if fields[0] == "Z":
            continue
        # fields[0] is state; ppid=1, utime=11, stime=12, cutime=13, cstime=14, rss=21
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]), int(fields[21]))
    return out


def _tree(table, root: int, exclude: set[int]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class ProcSampler:
    """Samples the resident memory of this process and every descendant
    (driver JVM, Python workers, Node sidecars) from /proc, and reads the
    tree's user+system CPU on demand. Processes in `exclude` (and their
    descendants) are left out, e.g. the load generator."""

    def __init__(self, period_s: float = 0.2):
        self.root = os.getpid()
        self.exclude: set[int] = set()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period_s,), daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def _loop(self, period_s: float) -> None:
        while not self._stop.wait(period_s):
            self.sample()

    def sample(self) -> None:
        table = _proc_table()
        rss = sum(table[p][2] for p in _tree(table, self.root, self.exclude) if p in table)
        self.peak_rss = max(self.peak_rss, rss * PAGE)

    def cpu_s(self) -> float:
        table = _proc_table()
        return sum(table[p][1] for p in _tree(table, self.root, self.exclude)
                   if p in table) / CLK_TCK

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def reap(self, timeout_s: float = 2.0) -> None:
        """Wait until every descendant process has ended; terminate the
        ones still running after `timeout_s` (a Node sidecar the driver
        started waits on its stdin until killed), then kill them."""
        deadline = time.time() + timeout_s
        sig = None
        while True:
            table = _proc_table()
            alive = [p for p in _tree(table, self.root, set()) if p != self.root]
            if not alive:
                return
            if time.time() > deadline:
                sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
                for p in alive:
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
                deadline = time.time() + 10
            time.sleep(0.1)


def host_state() -> dict:
    """Host load and cumulative CPU steal, recorded with every run."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"load_1m": load1, "steal_s": int(cpu[8]) / CLK_TCK}
