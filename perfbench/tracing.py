"""In-memory span tracing for the benchmark's traced run.

A span is (id, parent, name, start, end, attrs). Each op opens a root
span; calls into the engine's layers open child spans. Every span runs
its Spark jobs under its own job group, so after the op the job, stage
and task counts of each span are read back from ``statusTracker()``.

Layer spans come from wrapping the package's public functions at run
time (``instrument``); the package itself is not modified. Wrappers
check ``Tracer.active`` and call straight through when tracing is off,
so the untraced rounds of a traced run pay one attribute test per call.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    def open(self, name: str, **attrs) -> Span | None:
        if not self.active:
            return None
        span = Span(len(self.spans), self._stack[-1].id if self._stack else None,
                    name, time.perf_counter(), attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        self._group(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self._stack.pop()
        self._group(self._stack[-1] if self._stack else None)

    def in_span(self, name: str) -> bool:
        return any(s.name == name for s in self._stack)

    def resolve_jobs(self, spans: list[Span]) -> None:
        """Fill job/stage/task counts of finished spans; call outside
        the timed region."""
        st = self.sc.statusTracker()
        for s in spans:
            for jid in st.getJobIdsForGroup(f"perfbench-{s.id}"):
                info = st.getJobInfo(jid)
                s.jobs += 1
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        s.stages += 1
                        s.tasks += si.numCompletedTasks + si.numFailedTasks

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def dump(self, path: str) -> None:
        kids = self.children()
        with open(path, "w") as f:
            json.dump([asdict(s) | {"self_s": self_time(s, kids)} for s in self.spans], f)


def self_time(span: Span, kids: dict[int, list[Span]]) -> float:
    """The span's duration minus the part its child spans cover."""
    return span.dur - sum(c.dur for c in kids.get(span.id, []))


def instrument(tracer: Tracer, targets: dict[str, str]) -> None:
    """Wrap ``module:attr`` (``attr`` may be ``Class.method``) so each
    call records a span named by the mapping's value. A call nested in
    a span of the same name (recursion) records nothing extra."""
    for target, span_name in targets.items():
        mod_name, attr = target.split(":")
        owner = importlib.import_module(mod_name)
        *path, leaf = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        setattr(owner, leaf, _wrap(tracer, getattr(owner, leaf), span_name))


def _wrap(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active or tracer.in_span(name):
            return fn(*args, **kwargs)
        span = tracer.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.close(span)
    return wrapper
