"""Spans around the engine's public entry points, installed from outside.

``Tracer.install`` wraps these callables and ``Tracer.uninstall`` puts the
originals back:

- ``redisgraph_spark.cypher.parser.parse``          span ``cypher.parse``
- ``CypherPlanner.plan``                            span ``planner.plan``
- ``Graph.query``                                   span ``graph.query``
- ``DataFrame.localCheckpoint`` / ``checkpoint``    span ``algorithms.checkpoint``
  (on ``pyspark.sql.classic.dataframe.DataFrame``: the classic class
  overrides both, so patching the base class would miss them)
- py4j ``GatewayClient.send_command``               a message count on the
  innermost open span

The benchmark opens ``exec.fetch`` itself around ``toPandas()``. Spans
live in memory; a layer's self time is its span's duration minus the
part of that interval its child spans cover.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    py4j_msgs: int = 0
    children: list[int] = field(default_factory=list)


def _targets():
    """(owner, attribute, span name or None for the py4j counter)."""
    import py4j.java_gateway
    import pyspark.sql.classic.dataframe as classic_df

    import redisgraph_spark.cypher.parser as parser
    from redisgraph_spark.graph.graph import Graph
    from redisgraph_spark.planner.planner import CypherPlanner
    return [
        (parser, "parse", "cypher.parse"),
        (CypherPlanner, "plan", "planner.plan"),
        (Graph, "query", "graph.query"),
        (classic_df.DataFrame, "localCheckpoint", "algorithms.checkpoint"),
        (classic_df.DataFrame, "checkpoint", "algorithms.checkpoint"),
        (py4j.java_gateway.GatewayClient, "send_command", None),
    ]


class Tracer:
    """Records nested spans and py4j message counts on the thread that
    installed it; calls from other threads pass through untraced."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object, bool]] = []
        self._thread = threading.get_ident()

    # -- wrappers ---------------------------------------------------------
    def install(self, targets=None) -> None:
        if self._saved:
            raise RuntimeError("tracer already installed")
        for owner, attr, name in (targets if targets is not None
                                  else _targets()):
            orig = getattr(owner, attr)
            own = attr in vars(owner)
            wrapper = (self._counting(orig) if name is None
                       else self._spanning(name, orig))
            setattr(owner, attr, wrapper)
            self._saved.append((owner, attr, orig, own))

    def uninstall(self) -> None:
        for owner, attr, orig, own in reversed(self._saved):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._saved.clear()

    def _spanning(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            if threading.get_ident() != tracer._thread:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)
        wrapper.__wrapped__ = fn
        return wrapper

    def _counting(self, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            # messages outside any span (the benchmark's own JVM reads
            # between operations) are not the engine's traffic
            if tracer._stack and threading.get_ident() == tracer._thread:
                tracer.spans[tracer._stack[-1]].py4j_msgs += 1
            return fn(*args, **kwargs)
        wrapper.__wrapped__ = fn
        return wrapper

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent=parent))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    # -- arithmetic -------------------------------------------------------
    def layer_summary(self, first: int, last: int) -> dict[str, dict]:
        """Per span name over spans[first:last]: summed self seconds,
        span count and py4j messages sent while that span was
        innermost."""
        out: dict[str, dict] = {}
        for i in range(first, last):
            s = self.spans[i]
            d = out.setdefault(s.name, {"self_s": 0.0, "count": 0,
                                        "py4j_msgs": 0})
            d["self_s"] += self_time(self.spans, i)
            d["count"] += 1
            d["py4j_msgs"] += s.py4j_msgs
        return out


def self_time(spans: list[Span], idx: int) -> float:
    """Duration of ``spans[idx]`` minus the union of its children's
    intervals clipped to it (never negative)."""
    s = spans[idx]
    covered = 0.0
    cur_start = cur_end = None
    for a, b in sorted((max(spans[c].start, s.start),
                        min(spans[c].end, s.end)) for c in s.children):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return max(0.0, (s.end - s.start) - covered)
