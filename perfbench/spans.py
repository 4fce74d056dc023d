"""Spans around the package's public calls, recorded from the benchmark side.

A :class:`Tracer` patches named attributes of the package's modules with
wrappers that open a span per call, so the spans sit exactly at the layer
boundaries the program already has and the program itself is unchanged.
Spans are held in memory; :meth:`Tracer.dump` writes them out once, after
the timed phase.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass
from typing import Any, Callable, Iterator, Optional


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    #: batch the span belongs to (one job group per batch), or None
    batch: Optional[str]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self.batch: Optional[str] = None

    # -- recording ---------------------------------------------------------

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.batch)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not s:
            raise RuntimeError(f"span {s.name} closed out of order (top was {popped.name})")

    def call(self, name: str, fn: Callable, *args, **kwargs):
        s = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(s)

    # -- patching ----------------------------------------------------------

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records one span per call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        self._patch(owner, attr, orig, wrapper)

    def wrap_iter(self, owner: Any, attr: str, name: str, on_step: Callable[[int], None]) -> None:
        """Replace generator function ``owner.attr`` with one that records a
        span per ``next()`` (the work the generator does to produce one item,
        including the step that finds it exhausted). ``on_step(i)`` runs just
        before step ``i`` starts."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs) -> Iterator:
            it = orig(*args, **kwargs)
            i = 0
            while True:
                on_step(i)
                s = self.open(name)
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    self.close(s)
                i += 1
                yield item

        self._patch(owner, attr, orig, wrapper)

    def _patch(self, owner: Any, attr: str, orig: Any, new: Any) -> None:
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reading -----------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def job_counts(sc, groups: list[str]) -> dict[str, tuple[int, int, int]]:
    """Per job group: (jobs, stages run, tasks completed) from the public
    ``StatusTracker``. Stages skipped because their shuffle output was
    reused ran no task and are not counted."""
    tracker = sc.statusTracker()
    out = {}
    for g in groups:
        jobs = tracker.getJobIdsForGroup(g)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        out[g] = (len(jobs), stages, tasks)
    return out
