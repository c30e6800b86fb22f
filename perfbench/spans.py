"""In-memory spans for the traced benchmark run, and the arithmetic over them.

A span is one call into a layer: name, start, end, the span that caused it,
and the pass it belongs to. ``Tracer.span`` also labels every Spark job the
calling thread starts inside the span with ``perfbench:<span id>``, so the
event-log counters can be charged to it (``eventlog``).

Self time is a span's duration minus the part of its interval that its
children cover. Children may overlap each other: the pipeline commits the
nodes and edges tables from two threads, so their spans run side by side
under one parent, and the covered part is the length of the union.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from eventlog import LABEL_PREFIX

JOB_DESCRIPTION = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: str
    thread: str = ""
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def children_of(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        out[s.parent].append(s)
    return out


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the union of the children's intervals, each clipped
    to the span."""
    covered = union_length(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    )
    return max(0.0, span.duration - covered)


def self_times(spans: list[Span]) -> dict[int, float]:
    kids = children_of(spans)
    return {s.id: self_time(s, kids.get(s.id, [])) for s in spans}


def blocking_chain(span: Span, children: list[Span]) -> list[Span]:
    """The children the span waited on: walking back from its end, take the
    child that ends last before the cursor, then continue from that child's
    start. Of two concurrent children only the one that ends later is on the
    chain; the chain members never overlap each other."""
    chain: list[Span] = []
    cursor = span.end
    pending = sorted(children, key=lambda c: c.end, reverse=True)
    for c in pending:
        if c.end <= cursor and c.start >= span.start:
            chain.append(c)
            cursor = c.start
    chain.reverse()
    return chain


def blocking_set(root: Span, spans: list[Span]) -> list[Span]:
    """Every span on the blocking path below ``root`` (root excluded)."""
    kids = children_of(spans)
    out: list[Span] = []
    todo = [root]
    while todo:
        s = todo.pop()
        chain = blocking_chain(s, kids.get(s.id, []))
        out.extend(chain)
        todo.extend(chain)
    return out


def account_pass(root: Span, spans: list[Span]) -> dict[str, float]:
    """How the pass's wall splits: ``self_s`` is time no span covers (glue in
    the pass itself), ``blocking_s`` the summed self time of spans on the
    blocking path, and ``unaccounted_s`` what is left: time covered only by
    spans that ran concurrently with the blocking path and stuck out of it."""
    mine = [s for s in spans if s.pass_id == root.pass_id]
    st = self_times(mine)
    blocking = sum(st[s.id] for s in blocking_set(root, mine))
    own = st[root.id]
    return {
        "wall_s": root.duration,
        "self_s": own,
        "blocking_s": blocking,
        "unaccounted_s": root.duration - own - blocking,
    }


class Tracer:
    """Collects spans in memory. ``span`` is re-entrant and thread-aware:
    each thread keeps its own stack, and a span opened on a thread with an
    empty stack (a worker thread the program started) gets the current pass
    span as its parent."""

    def __init__(self, spark_context=None, clock=time.perf_counter):
        self.sc = spark_context
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._pass_root: int | None = None
        self._pass_id = ""

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _label(self, value: str | None) -> str | None:
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty(JOB_DESCRIPTION)
        self.sc.setLocalProperty(JOB_DESCRIPTION, value)
        return prev

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1].id if stack else self._pass_root
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, name, self.clock(), 0.0, parent, self._pass_id,
                 threading.current_thread().name)
        prev = self._label(f"{LABEL_PREFIX}{sid}")
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = self.clock()
            self._label(prev)
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def pass_span(self, name: str, pass_id: str):
        """The root span of one pass; spans opened in any thread until it
        closes belong to it."""
        self._pass_id = pass_id
        try:
            with self.span(name) as root:
                self._pass_root = root.id
                yield root
        finally:
            self._pass_root = None

    def count(self, key: str, value: float) -> None:
        """Add to a counter of the innermost open span of this thread."""
        s = self.current()
        if s is not None:
            s.counters[key] = s.counters.get(key, 0.0) + float(value)
