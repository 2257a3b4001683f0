"""In-memory spans around the program's public functions.

A span is (name, start, end, parent, request id). Spans open only in the
benchmark's own wrappers, installed at the program's import sites, so the
program's files stay untouched. Each span also counts the py4j round trips
made while it is the innermost span, and the layers that submit Spark jobs
(``JOB_LAYERS``) tag them with a job group named ``<request>:<layer>`` so
the event log and ``statusTracker()`` can attribute jobs per operation.

A span's self time is its duration minus the time its children cover;
children run one after another on the calling thread, so that is the sum
of their durations.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

JOB_LAYERS = ("web", "ingestion", "queries", "operators")


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


@dataclass
class Span:
    name: str
    start: float
    req: str
    parent: "Span | None"
    end: float = 0.0
    py4j: int = 0
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.roots: list[Span] = []
        self._local = threading.local()
        self._req = ""
        self._group: str | None = None
        self._quiet = False
        self.enabled = True  # off: wrappers pass straight through
        client = sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            stack = getattr(self._local, "stack", None)
            if stack and self.enabled and not self._quiet:
                stack[-1].py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._unpatch = lambda: setattr(client, "send_command", send)

    def close(self) -> None:
        self._unpatch()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def request(self, req: str):
        """The root span of one operation; its id names the job groups."""
        self._req = req
        return self.span("op")

    def span(self, name: str):
        return _SpanCtx(self, name) if self.enabled else contextlib.nullcontext()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with _SpanCtx(self, name):
                return fn(*args, **kwargs)

        return traced

    def _set_group(self, group: str | None) -> None:
        self._group = group
        self._quiet = True
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._quiet = False

    def job_groups(self) -> set[str]:
        return {f"{r.req}:{lay}" for r in self.roots for lay in JOB_LAYERS}


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self) -> Span:
        stack = self.t._stack()
        parent = stack[-1] if stack else None
        sp = Span(self.name, time.perf_counter(), self.t._req, parent)
        lay = layer_of(self.name)
        self.prev_group = self.t._group
        self.regrouped = lay in JOB_LAYERS and (
            parent is None or layer_of(parent.name) != lay
        )
        if self.regrouped:
            self.t._set_group(f"{sp.req}:{lay}")
        stack.append(sp)
        self.sp = sp
        return sp

    def __exit__(self, *exc) -> None:
        sp = self.sp
        sp.end = time.perf_counter()
        stack = self.t._stack()
        stack.pop()
        if self.regrouped:
            self.t._set_group(self.prev_group)
        if sp.parent is not None:
            sp.parent.children.append(sp)
        else:
            self.t.roots.append(sp)


def walk(span: Span):
    yield span
    for c in span.children:
        yield from walk(c)


def per_op(root: Span) -> tuple[Counter, Counter, Counter]:
    """(self seconds, span seconds, py4j calls) per span name under ``root``."""
    self_s, dur, py4j = Counter(), Counter(), Counter()
    for sp in walk(root):
        self_s[sp.name] += sp.self_s
        dur[sp.name] += sp.dur
        py4j[sp.name] += sp.py4j
    return self_s, dur, py4j


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) of one job group, from ``statusTracker()``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks
