"""Spans and counters recorded from outside the engine.

The benchmark does not edit the engine to trace it. It replaces the
public functions of each layer with thin wrappers (``Tracer.patch``) that
open a span around the call. A span knows its layer, its operation and
the span that was open on the same thread when it started. A layer's
self time is its span's duration minus the time covered by the spans
opened inside it (its children), so nested layers never count twice.

Spans stay in memory and are written out once, as JSON lines, when the
run ends. Wrappers are installed only for a traced run; when a traced
run switches tracing off for an untraced block (the overhead estimate)
a wrapper costs one attribute test.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict
from typing import Any, Callable, Iterable

PACKAGE = "dbt_nlp_sqlizer_team04_spark"


class _Frame:
    __slots__ = ("index", "layer", "name", "start", "child_s")

    def __init__(self, index: int, layer: str, name: str, start: float):
        self.index = index
        self.layer = layer
        self.name = name
        self.start = start
        self.child_s = 0.0


class Tracer:
    """Per-thread span stacks with per-layer totals and named counters."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[dict] = []
        self.layers: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        self.counters: dict[str, float] = defaultdict(float)

    # ------------------------------------------------------------ state
    def reset(self) -> None:
        with self._lock:
            self.spans.clear()
            self.layers.clear()
            self.counters.clear()

    def _stack(self) -> list[_Frame]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op: Any) -> None:
        """Tag the spans this thread opens from now on with ``op``."""
        self._local.op = op

    def stack_names(self) -> list[str]:
        return [f.name for f in self._stack()]

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += n

    # ------------------------------------------------------------ spans
    def open(self, layer: str, name: str) -> _Frame | None:
        if not self.enabled:
            return None
        stack = self._stack()
        start = self.clock()
        span = {
            "op": getattr(self._local, "op", None),
            "layer": layer,
            "name": name,
            "thread": threading.get_ident(),
            "start": start,
            "end": None,
            "parent": stack[-1].index if stack else None,
        }
        with self._lock:
            self.spans.append(span)
            index = len(self.spans) - 1
        frame = _Frame(index, layer, name, start)
        stack.append(frame)
        return frame

    def close(self, frame: _Frame | None) -> None:
        if frame is None:
            return
        end = self.clock()
        stack = self._stack()
        # a frame opened before a reset still pops cleanly
        while stack and stack[-1] is not frame:
            stack.pop()
        if stack:
            stack.pop()
        dur = end - frame.start
        if stack:
            stack[-1].child_s += dur
        with self._lock:
            if frame.index < len(self.spans):
                self.spans[frame.index]["end"] = end
            agg = self.layers[frame.layer]
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - frame.child_s

    def wrap(
        self,
        fn: Callable,
        layer: str,
        name: str,
        *,
        on_call: Callable[[], None] | None = None,
        on_result: Callable[[Any], None] | None = None,
        on_error: Callable[[BaseException], None] | None = None,
    ) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if on_call is not None:
                on_call()
            frame = tracer.open(layer, name)
            try:
                result = fn(*args, **kwargs)
            except BaseException as e:
                if on_error is not None:
                    on_error(e)
                raise
            finally:
                tracer.close(frame)
            if on_result is not None:
                on_result(result)
            return result

        return traced

    # --------------------------------------------------------- patching
    def patch(self, owner: Any, attr: str, layer: str, **hooks) -> None:
        """Wrap ``owner.attr`` and every module of the engine package
        that imported the same function object under the same name."""
        orig = getattr(owner, attr)
        name = f"{owner.__name__.rsplit('.', 1)[-1]}.{attr}"
        wrapped = self.wrap(orig, layer, name, **hooks)
        targets = [owner] + [
            m for m in list(sys.modules.values())
            if m is not None and m is not owner
            and getattr(m, "__name__", "").startswith(PACKAGE)
            and getattr(m, attr, None) is orig
        ]
        for target in targets:
            setattr(target, attr, wrapped)

    # ----------------------------------------------------------- output
    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: Iterable[dict]) -> list[float]:
    """Self time of each closed span in a list whose ``parent`` fields
    index into the same list: duration minus the children's durations.
    The offline twin of the arithmetic ``Tracer.close`` does online."""
    spans = list(spans)
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [
        (s["end"] - s["start"]) - child[i] if s["end"] is not None else 0.0
        for i, s in enumerate(spans)
    ]


# Loops that try NL candidates one after another; each sends every
# candidate through the safety gate exactly once before planning it.
_CANDIDATE_LOOPS = frozenset(
    {"NL2SQLEngine.ask", "NL2SQLEngine.query_df", "SQLizerService.model_query"}
)


def install_layers(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the benchmark names."""
    from dbt_nlp_sqlizer_team04_spark import service
    from dbt_nlp_sqlizer_team04_spark.models import inference
    from dbt_nlp_sqlizer_team04_spark.plans import (
        cost_gate, executor, intent, linking, nl2sql, safety,
    )
    from pyspark.sql import session as spark_session

    def refusals(counter: str, match: str = ""):
        def on_error(e: BaseException) -> None:
            if isinstance(e, safety.SQLSafetyError) and match in str(e):
                tracer.count(counter)
        return on_error

    def generated(result) -> None:
        tracer.count("candidates.generated", len(result))

    def tried() -> None:
        if any(n in _CANDIDATE_LOOPS for n in tracer.stack_names()):
            tracer.count("candidates.tried")

    for verb in ("ask", "nl2sql", "run", "model_query", "schema_overview"):
        tracer.patch(service.SQLizerService, verb, "service")
    # the engine-level orchestration loops count as the service layer
    tracer.patch(nl2sql.NL2SQLEngine, "ask", "service")
    tracer.patch(nl2sql.NL2SQLEngine, "query_df", "service")
    tracer.patch(linking, "select_relevant", "linking")
    tracer.patch(linking, "keyword_match", "linking")
    tracer.patch(inference.SemanticLinker, "relevant", "linking")
    tracer.patch(intent, "analyze_query_intent", "intent")
    for method in ("template_candidates", "llm_candidates"):
        tracer.patch(nl2sql.NL2SQLEngine, method, "candidates",
                     on_result=generated)
    tracer.patch(nl2sql.NL2SQLEngine, "rank", "candidates")
    tracer.patch(nl2sql.NL2SQLEngine, "generate", "candidates")
    tracer.patch(safety, "validate", "safety", on_call=tried,
                 on_error=refusals("safety.refused"))
    tracer.patch(spark_session.SparkSession, "sql", "plan")
    tracer.patch(cost_gate, "cost_gate", "cost_gate",
                 on_error=refusals("cost_gate.rejected"))
    tracer.patch(executor, "collect_with_timeout", "execute",
                 on_error=refusals("execute.timeouts", "timeout"))
    tracer.patch(executor, "run_readonly", "executor")


class Py4JMeter:
    """Counts py4j round trips and the time spent in them while the
    tracer is on. ``internal()`` marks the benchmark's own reads of the
    JVM so they do not count against the engine."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._local = threading.local()

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        # pinned-thread mode (PySpark's default) talks through the first
        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            cls.send_command = self._wrap(cls.send_command)

    def _wrap(self, orig: Callable) -> Callable:
        meter = self

        @functools.wraps(orig)
        def send_command(conn, command, *a, **kw):
            if not meter.tracer.enabled or getattr(meter._local, "internal", 0):
                return orig(conn, command, *a, **kw)
            t0 = time.perf_counter()
            try:
                return orig(conn, command, *a, **kw)
            finally:
                dt = time.perf_counter() - t0
                meter.tracer.count("py4j.calls")
                meter.tracer.count("py4j.busy_s", dt)

        return send_command

    @contextlib.contextmanager
    def internal(self):
        self._local.internal = getattr(self._local, "internal", 0) + 1
        try:
            yield
        finally:
            self._local.internal -= 1
