"""Spans recorded from outside the engine.

``Tracer`` keeps spans in memory: a name, wall-clock start (epoch
seconds, comparable with Spark's job and stage timestamps), duration,
parent span and free attributes. The benchmark opens spans around its
own calls into each layer. With ``Instrumentation`` installed, every
call into a public function of the engine's modules also opens a span,
wherever the call comes from: the wrapper replaces the function in its
defining module and in every ``orca_spark`` module that imported it by
name. ``uninstall`` restores the originals.

``StreamListener`` records Structured Streaming progress per query run.
Start events arrive synchronously inside ``DataStreamWriter.start``;
progress and termination events arrive later on the listener bus, so
``wait_terminated`` blocks until a run's termination event is in before
its progress is read.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    dur: float = 0.0
    parent: int = -1
    attrs: dict = field(default_factory=dict)

    @property
    def end(self) -> float:
        return self.start + self.dur


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else -1, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.dur = time.perf_counter() - t0
            self._stack.pop()

    def mark(self) -> int:
        return len(self.spans)

    def since(self, mark: int) -> list[Span]:
        return self.spans[mark:]


# public functions of these modules are wrapped; registered query
# functions (operators.*, streaming.*) are wrapped through the registry
LAYER_MODULES = (
    "orca_spark.session",
    "orca_spark.tables",
    "orca_spark.schema",
    "orca_spark.io",
    "orca_spark.frame",
)


class Instrumentation:
    """Wraps engine functions so the outermost call into each layer
    records a ``call:<layer>.<fn>`` span. Calls a layer makes into itself
    (recursive inference, a query calling a query) run unwrapped, and
    spans are only opened on the thread that runs the benchmark, so calls
    from engine-owned threads never nest wrongly."""

    def __init__(self, tracer: Tracer, query_fns: dict):
        self._tracer = tracer
        self._owner = threading.get_ident()
        self._active: dict[str, int] = {}
        self._patches: list[tuple[object, str, object]] = []
        self._targets: dict[int, tuple[object, str, str]] = {}
        for modname in LAYER_MODULES:
            mod = sys.modules[modname]
            layer = modname.rsplit(".", 1)[1]
            for name, fn in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == modname
                ):
                    self._targets[id(fn)] = (fn, layer, f"call:{layer}.{name}")
        for qname, fn in query_fns.items():
            layer = fn.__module__.split(".")[1]  # operators / streaming
            self._targets.setdefault(id(fn), (fn, layer, f"call:{layer}.{qname}"))
        for _, layer, _ in self._targets.values():
            self._active[layer] = 0

    def _wrap(self, fn, layer, span_name):
        tracer, owner, active = self._tracer, self._owner, self._active

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if active[layer] or threading.get_ident() != owner:
                return fn(*args, **kwargs)
            active[layer] += 1
            try:
                with tracer.span(span_name):
                    return fn(*args, **kwargs)
            finally:
                active[layer] -= 1

        return wrapper

    def install(self) -> None:
        wrappers = {k: self._wrap(*target) for k, target in self._targets.items()}
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("orca_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and self._targets[id(val)][0] is val:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patches):
            setattr(mod, attr, val)
        self._patches.clear()


class StreamListener(StreamingQueryListener):
    def __init__(self):
        self._cond = threading.Condition()
        self.started: list[tuple[str, float]] = []  # (run id, epoch seconds)
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        with self._cond:
            self.started.append((str(event.runId), time.time()))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
        }
        with self._cond:
            self.progress.setdefault(str(p.runId), []).append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated.add(str(event.runId))
            self._cond.notify_all()

    def wait_terminated(self, run_ids: list[str], timeout: float = 30.0) -> bool:
        deadline = time.monotonic() + timeout
        with self._cond:
            while not all(r in self.terminated for r in run_ids):
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._cond.wait(left)
        return True
