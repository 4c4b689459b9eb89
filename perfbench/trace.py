"""Spans for the traced run, and the streaming-query listener.

A span is ``(id, name, start, end, parent, attrs)`` on the wall clock
(``time.time()``), the clock Spark stamps jobs and progress events
with, so benchmark spans, job intervals and micro-batches line up.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from .census import interval_union


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans. ``span()`` nests by call stack on the calling
    thread; ``add()`` records an interval measured elsewhere (a Spark
    job, a micro-batch) under an explicit parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent, attrs))
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body as a child of the innermost open span. Only the
        benchmark's own thread opens spans this way."""
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def adopt(self, child_ids: list[int], parent_ids: list[int]) -> None:
        """Re-parent each child to the shortest candidate span that
        contains it in time (spans recorded on Spark's threads, such as
        document-sink calls inside a micro-batch)."""
        parents = [self.spans[p] for p in parent_ids]
        for cid in child_ids:
            c = self.spans[cid]
            inside = [p for p in parents if p.start <= c.start and c.end <= p.end]
            if inside:
                c.parent = min(inside, key=lambda p: p.end - p.start).id

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by the
        span's children, i.e. time spent in that layer itself."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = interval_union(
                [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, []) if b > s.start and a < s.end]
            )
            out[s.name] = out.get(s.name, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": [asdict(s) for s in self.spans]}, f)


class RunListener(StreamingQueryListener):
    """Records each streaming query's ``runId`` (Spark names the job
    group of a query's micro-batches after it), its progress reports
    and its termination."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[tuple[float, str]] = []
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append((time.time(), str(event.runId)))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def runs_since(self, t0: float, timeout_s: float = 5.0) -> list[str]:
        """Run ids of queries started at or after ``t0``, once each has
        reported termination (events arrive asynchronously)."""
        with self._lock:
            runs = [r for t, r in self.started if t >= t0]
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self._lock:
                if all(r in self.terminated for r in runs):
                    break
            time.sleep(0.01)
        return runs

    def progress_of(self, run_id: str) -> list[dict]:
        with self._lock:
            return list(self.progress.get(run_id, []))
