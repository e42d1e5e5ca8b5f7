"""In-memory spans around calls into the engine's public functions.

A :class:`Tracer` records one :class:`Span` per call (name, start, end,
parent, query id), sets a Spark job group per span so that the event log
can attribute every job to the innermost span that fired it, and computes
self time (a span's duration minus the part of it covered by its direct
children). Spans stay in memory until the run writes them out.

The engine's code is not modified: :meth:`Tracer.wrap` replaces a public
function with a span-opening wrapper in every module of the package that
holds a reference to it, and :meth:`Tracer.unwrap_all` restores them.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Any, Callable, Iterator

PACKAGE = "aws_cli_data_pipeline_tools_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    query: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def job_group(span_id: int) -> str:
    return f"perfbench-{span_id}"


def span_of_group(group: str | None) -> int | None:
    """Inverse of :func:`job_group`; None for jobs fired outside any span."""
    if group and group.startswith("perfbench-"):
        return int(group.split("-", 1)[1])
    return None


class Tracer:
    """Span recorder. ``spark_context`` may be None (unit tests): spans are
    then recorded without setting job groups."""

    def __init__(self, spark_context: Any = None,
                 clock: Callable[[], float] = time.perf_counter) -> None:
        self._sc = spark_context
        self._clock = clock
        self._stack: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []
        self.spans: list[Span] = []
        self.query: str | None = None

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._clock(), 0.0,
                 parent.id if parent else None, self.query)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(job_group(s.id), s.name)

    def wrap(self, module: Any, attr: str, name: str) -> None:
        """Open span ``name`` around every call of ``module.attr``, wherever
        the package imported it by name."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                return orig(*args, **kwargs)

        holders = [module] + [
            m for name, m in list(sys.modules.items())
            if name.startswith(PACKAGE) and m is not module and m is not None
        ]
        for mod in holders:
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)
                    self._patched.append((mod, key, orig))

    def unwrap_all(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: duration minus the summed duration of its
    direct children (children never overlap: one thread records them)."""
    child_total: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_total[s.parent] = child_total.get(s.parent, 0.0) + s.duration
    return {s.id: s.duration - child_total.get(s.id, 0.0) for s in spans}


def ancestors(spans_by_id: dict[int, Span], span_id: int | None) -> Iterator[Span]:
    """The span and each of its ancestors, innermost first."""
    while span_id is not None:
        s = spans_by_id[span_id]
        yield s
        span_id = s.parent


def outermost_durations(spans: list[Span], name: str,
                        within: set[int] | None = None) -> tuple[float, int]:
    """Total inclusive duration and call count of spans named ``name``,
    counting a call nested in another call of the same name once.
    ``within`` restricts to spans whose ids are in the set."""
    by_id = {s.id: s for s in spans}
    total, calls = 0.0, 0
    for s in spans:
        if s.name != name or (within is not None and s.id not in within):
            continue
        calls += 1
        if any(a.name == name for a in ancestors(by_id, s.parent)):
            continue
        total += s.duration
    return total, calls
