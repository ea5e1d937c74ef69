"""Layer spans recorded from the benchmark's side of each call.

A traced run wraps the public functions of the engine's layers where they
are bound as module attributes (the defining module and every
`storm_data_etl_spark` module that imported the name), so calls made by the
engine itself are timed too. Nothing in the package is edited; `uninstall`
puts the original functions back. An untraced run uses `NullTracer`, which
installs nothing.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager, nullcontext

#: (module, attribute) → span name. These are the layer boundaries the
#: benchmark can see without editing the engine.
WRAP_TARGETS = {
    ("storm_data_etl_spark.session", "get_spark"): "session.get_spark",
    ("storm_data_etl_spark.session", "pin"): "session.pin",
    ("storm_data_etl_spark.session", "release_pinned"): "session.release",
    ("storm_data_etl_spark.plans.tables", "t"): "tables.t",
    ("storm_data_etl_spark.streaming.pipeline", "split_poison"): "enrich.build",
    ("storm_data_etl_spark.streaming.pipeline", "enrich_raw"): "enrich.build",
}

_MARK = "__perfbench_span__"


def is_wrapped(fn) -> bool:  # noqa: ANN001
    return hasattr(fn, _MARK)


class Tracer:
    """In-memory spans: (name, start, end, parent index), nested the way
    the calls nest; a layer's self time is its duration minus the part its
    child spans cover."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            _, start, _, parent = self.spans[idx]
            self.spans[idx] = (name, start, time.perf_counter(), parent)

    def total_s(self, name: str, start: int = 0, stop: int | None = None) -> float:
        """Summed duration of the spans called ``name`` among
        spans[start:stop]. No wrapped function calls another one under the
        same span name, so no span is counted twice."""
        return sum(t1 - t0 for n, t0, t1, _ in self.spans[start:stop] if n == name)

    def overhead_ms(self) -> float:
        """Bookkeeping cost of the spans recorded: span count × the cost of
        one wrapped call to a no-op, measured here."""
        probe = Tracer()._wrap(lambda: None, "probe")
        n = 2000
        t0 = time.perf_counter()
        for _ in range(n):
            probe()
        return len(self.spans) * (time.perf_counter() - t0) / n * 1000.0

    def _wrap(self, fn, name: str):  # noqa: ANN001
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(wrapper, _MARK, name)
        return wrapper

    def install(self) -> None:
        """Wrap every WRAP_TARGETS function wherever a loaded engine module
        binds it."""
        for (mod_name, attr), span_name in WRAP_TARGETS.items():
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(original, span_name)
            for mod in _engine_modules():
                for a in dir(mod):
                    if getattr(mod, a, None) is original:
                        self._undo.append((mod, a, original))
                        setattr(mod, a, wrapper)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._undo):
            setattr(mod, attr, original)
        self._undo.clear()


class NullTracer:
    """The untraced run: no wrappers, no spans."""

    enabled = False

    def span(self, name: str):  # noqa: ARG002
        return nullcontext()

    def total_s(self, name: str, start: int = 0, stop: int | None = None) -> float:  # noqa: ARG002
        return 0.0

    def overhead_ms(self) -> float:
        return 0.0

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


def _engine_modules() -> list:
    return [
        m for m in list(sys.modules.values())
        if getattr(m, "__name__", "").startswith("storm_data_etl_spark")
    ]


def installed_wrappers() -> list[str]:
    """Every engine module attribute currently bound to a span wrapper."""
    return [
        f"{mod.__name__}.{a}"
        for mod in _engine_modules()
        for a in dir(mod)
        if is_wrapped(getattr(mod, a, None))
    ]
