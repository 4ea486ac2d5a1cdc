"""Spans around the package's public functions, the Spark event-log
reader that turns them into per-layer numbers, and the /proc readers
for CPU time and peak memory.

Spans are recorded from outside the package: :meth:`Tracer.patch`
rebinds a public function to a timing wrapper in every loaded module
that holds it, so calls through ``module.fn`` and names bound by
``from module import fn`` are both seen. While a span is open, the
Spark local property ``perfbench.span`` carries its id, so every job it
starts is tagged with it in the event log.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder for one process."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_prop(self) -> None:
        self.sc.setLocalProperty(SPAN_PROP, str(self._stack[-1]) if self._stack else None)

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, parent, time.perf_counter()))
        self._stack.append(sid)
        self._set_prop()
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        popped = self._stack.pop()
        if popped != sid:
            raise RuntimeError(f"span {sid} closed while {popped} was open")
        self._set_prop()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield sid
        finally:
            self.end(sid)

    def current(self) -> str:
        """Name of the innermost open span, "" outside any."""
        return self.spans[self._stack[-1]].name if self._stack else ""

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, targets: dict[str, tuple[object, str]]) -> None:
        """Rebind each ``(owner, attr)`` to a wrapper recording span
        ``name``, in the owner and in every loaded module bound to the
        same function object."""
        for name, (owner, attr) in targets.items():
            orig = getattr(owner, attr)
            wrapped = self.wrap(name, orig)
            holders = [owner] + [
                m for m in list(sys.modules.values())
                if m is not None and m is not owner and getattr(m, attr, None) is orig
            ]
            for h in holders:
                self._patched.append((h, attr, orig))
                setattr(h, attr, wrapped)

    def patch_method(self, cls, attr: str, method) -> None:
        """Replace ``cls.attr`` with ``method``; undone by unpatch()."""
        self._patched.append((cls, attr, getattr(cls, attr)))
        setattr(cls, attr, method)

    def unpatch(self) -> None:
        for h, attr, orig in reversed(self._patched):
            setattr(h, attr, orig)
        self._patched.clear()

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.parent].append(s)
        return out

    def subtree(self, sid: int) -> list[Span]:
        kids = self.children()
        out, todo = [], [sid]
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo += [k.id for k in kids[s.id]]
        return out

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        covered = sum(k.end - k.start for k in self.children()[sid])
        return (s.end - s.start) - covered


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    span: int | None
    execution: int | None
    stages: list[int]
    start_ms: int = 0
    end_ms: int = 0


@dataclass
class StageTotals:
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    tasks: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, StageTotals]
    # execution id -> accumulator id -> (node name, metric name)
    metric_names: dict[int, dict[int, tuple[str, str]]]
    # execution id -> number of shuffle Exchange nodes in the last plan
    exchanges: dict[int, int]
    # accumulator id -> summed updates
    accums: dict[int, int]

    def jobs_of(self, span_ids: set[int]) -> list[Job]:
        return [j for j in self.jobs.values() if j.span in span_ids]

    def totals(self, span_ids: set[int]) -> StageTotals:
        out = StageTotals()
        seen: set[int] = set()
        for j in self.jobs_of(span_ids):
            for sid in j.stages:
                st = self.stages.get(sid)
                if st is None or sid in seen:
                    continue
                seen.add(sid)
                out.cpu_s += st.cpu_s
                out.gc_s += st.gc_s
                out.shuffle_write_b += st.shuffle_write_b
                out.spill_b += st.spill_b
                out.tasks += st.tasks
        return out

    def executions_of(self, span_ids: set[int]) -> set[int]:
        return {j.execution for j in self.jobs_of(span_ids) if j.execution is not None}

    def node_metric(self, executions: set[int], node_prefix: str, metric: str, agg=sum) -> int:
        """``metric`` of every node named ``node_prefix*`` in the given
        executions, each summed over its tasks. Within one execution the
        nodes are combined with ``agg`` (``max`` for chained nodes whose
        timings overlap); the executions are then summed."""
        total = 0
        for ex in executions:
            per_node = [
                self.accums.get(acc, 0)
                for acc, (node, name) in self.metric_names.get(ex, {}).items()
                if node.startswith(node_prefix) and name == metric
            ]
            if per_node:
                total += agg(per_node)
        return total


def _walk_plan(info: dict, out: dict[int, tuple[str, str]], counts: list[int]) -> None:
    name = info.get("nodeName", "")
    if name == "Exchange":
        counts[0] += 1
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (name, m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out, counts)


def read_event_log(log_dir: Path) -> EventLog:
    files = sorted(p for p in log_dir.rglob("*") if p.is_file() and "events" in p.name and not p.name.startswith("."))
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = defaultdict(StageTotals)
    names: dict[int, dict[int, tuple[str, str]]] = defaultdict(dict)
    exchanges: dict[int, int] = {}
    accums: dict[int, int] = defaultdict(int)
    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    span = props.get(SPAN_PROP)
                    ex = props.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"],
                        int(span) if span not in (None, "") else None,
                        int(ex) if ex not in (None, "") else None,
                        list(e.get("Stage IDs", [])),
                        start_ms=e.get("Submission Time", 0),
                    )
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end_ms = e.get("Completion Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    info = e.get("Task Info", {})
                    if info.get("Failed") or info.get("Killed"):
                        continue
                    m = e.get("Task Metrics") or {}
                    st = stages[e["Stage ID"]]
                    st.tasks += 1
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.spill_b += m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Metadata") == "sql":
                            try:
                                accums[acc["ID"]] += int(acc.get("Update", 0))
                            except (TypeError, ValueError):
                                pass
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    ex = e["executionId"]
                    counts = [0]
                    _walk_plan(e["sparkPlanInfo"], names[ex], counts)
                    exchanges[ex] = counts[0]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in e.get("accumUpdates", []):
                        accums[acc_id] += int(value)
    return EventLog(jobs, dict(stages), dict(names), exchanges, dict(accums))


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds of the process and its reaped
    children), from /proc/<pid>/stat."""
    out: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces; the fields after its ')' are fixed:
        # state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        f = stat.rsplit(")", 1)[1].split()
        out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]) / _TICK)
    return out


def descendants(root: int, table: dict[int, tuple[int, float]] | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _cpu) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        found = kids[todo.pop()]
        out += found
        todo += found
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM, the Python workers and their exited children). A process that
    exits is counted through its parent once reaped."""
    table = _proc_table()
    me = os.getpid()
    own = os.times()
    return own.user + own.system + sum(table[p][1] for p in descendants(me, table) if p in table)


def _hwm_bytes(pid: int) -> int:
    """The process's peak resident set (VmHWM), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Tracks the peak resident memory (VmHWM) of each descendant of
    this process (the JVM and the Python workers it forks) and reports
    their sum. A process's last reading is kept after it exits."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self._peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    @property
    def peak_bytes(self) -> int:
        return sum(self._peaks.values())

    def _sample(self, me: int) -> None:
        for p in descendants(me):
            self._peaks[p] = max(self._peaks.get(p, 0), _hwm_bytes(p))

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self._sample(me)
            self._stop.wait(self.interval_s)
        self._sample(me)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
