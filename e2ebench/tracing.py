"""Spans and counters recorded from the benchmark's side of each layer.

Nothing here edits the engine. A traced run wraps the public functions
the engine calls between its own modules (``pipeline.write_sink`` and
friends), times the calls the benchmark makes itself, and reads Spark's
public progress and query-execution objects.

Spans are ``(id, name, start, end, parent, rep)`` tuples kept in memory
and written once when the run ends. ``rep`` is the workload repetition
every span of one repetition shares.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    patches nothing, so untraced runs execute the same benchmark code."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.rep = 0
        self.self_s = 0.0  # time spent inside the tracer itself
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)  # reserve the id; filled on exit
        self._stack.append(sid)
        start = time.perf_counter()
        self.self_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[sid] = (sid, name, start, end, parent, self.rep)
            self.self_s += time.perf_counter() - end

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` in a span named ``name`` until
        :meth:`restore`. Class- and static methods keep their kind."""
        if not self.enabled:
            return
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        if isinstance(raw, classmethod):
            wrapped = classmethod(wrapped)
        elif isinstance(raw, staticmethod):
            wrapped = staticmethod(wrapped)
        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def durations(self, name: str, rep: int | None = None) -> list[float]:
        return [
            s[3] - s[2]
            for s in self.spans
            if s is not None and s[1] == name and (rep is None or s[5] == rep)
        ]

    def last_end(self, name: str, rep: int) -> float | None:
        ends = [s[3] for s in self.spans if s is not None and s[1] == name and s[5] == rep]
        return max(ends) if ends else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                if s is not None:
                    sid, name, start, end, parent, rep = s
                    f.write(json.dumps({"id": sid, "name": name, "start": start,
                                        "end": end, "parent": parent, "rep": rep}) + "\n")


class ProgressLog(StreamingQueryListener):
    """Every ``onQueryProgress`` event, as the progress JSON dict.
    Listener callbacks arrive on a py4j thread, hence the lock."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self._events.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def events(self) -> list[dict]:
        with self._lock:
            return list(self._events)


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s
    query execution, from its ``QueryPlanningTracker`` phases."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


def shuffle_bytes(df) -> int:
    """Bytes written by every shuffle exchange of ``df``'s executed
    plan (the ``dataSize`` SQL metric), following adaptive query
    stages down to their exchanges."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "ShuffleExchangeExec":
            metric = node.metrics().get("dataSize")
            if metric.isDefined():
                total += metric.get().value()
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return int(total)
