"""Spans around the engine's public functions, recorded from outside.

``Tracer.install()`` replaces every public module-level function of the
traced ``metalpipe_spark`` subpackages with a wrapper that records a
span while the tracer is active, and rebinds every engine module's
reference to the original.  It must run before the catalog modules are
imported, so that their ``from ... import`` lines bind the wrappers.
A wrapper keeps the original's ``__module__`` and ``__qualname__``, so
cloudpickle still ships UDF functions to Python workers by reference
and the workers run the unwrapped originals.

A span records its name, layer, start, end, parent span, query id and
thread.  A layer's self time is its spans' durations minus the time
their child spans cover.  Spans stay in memory until ``write``.

The tracer also counts py4j round trips (Python-to-JVM commands) while
it is active.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import threading
import time
from collections import defaultdict

# Subpackages and modules whose public functions get spans.  Operators
# are split per module (``operators.dedup``); the rest are one layer each.
TRACED = (
    "plans", "modelling", "operators", "sources", "sinks", "streaming",
    "keypath", "udf_registry",
)
ROOT = "metalpipe_spark"
_RELEASE = "m\nd\n"  # py4j memory/delete command prefix


def layer_of(module_name: str) -> str:
    parts = module_name.split(".")[1:]
    if parts[0] == "operators" and len(parts) > 1:
        return f"operators.{parts[1]}"
    return parts[0]


def _modules() -> list:
    mods = []
    for name in TRACED:
        mod = importlib.import_module(f"{ROOT}.{name}")
        mods.append(mod)
        if hasattr(mod, "__path__"):
            for info in pkgutil.iter_modules(mod.__path__, f"{mod.__name__}."):
                mods.append(importlib.import_module(info.name))
    return mods


def _traceable(mod, name: str, fn) -> bool:
    return (
        not name.startswith("_")
        and inspect.isfunction(fn)
        and fn.__module__ == mod.__name__
        # pyspark UDF wrappers are plain functions carrying UDF state.
        and not hasattr(fn, "evalType")
        and not inspect.isgeneratorfunction(fn)
    )


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.query: str | None = None
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, layer: str) -> dict:
        stack = self._stack()
        span = {
            "name": name,
            "layer": layer,
            "query": self.query,
            "thread": threading.get_ident(),
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(),
            "child_s": 0.0,
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        stack.pop()
        dur = span["end"] - span["start"]
        span["self_s"] = dur - span.pop("child_s")
        if stack:
            stack[-1]["child_s"] += dur

    @contextlib.contextmanager
    def phase(self, name: str):
        """Trace the block as span ``name`` (layer: its first dotted
        part) and count py4j commands while it runs."""
        self.active = True
        span = self._open(name, name.split(".")[0])
        try:
            yield
        finally:
            self._close(span)
            self.active = False

    def _wrap(self, fn, layer: str):
        tracer = self
        name = f"{fn.__module__[len(ROOT) + 1:]}.{fn.__qualname__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        return wrapper

    def install(self) -> None:
        """Wrap the traced functions and start counting py4j commands."""
        originals: dict[int, object] = {}
        for mod in _modules():
            layer = layer_of(mod.__name__)
            for name, fn in list(vars(mod).items()):
                if _traceable(mod, name, fn):
                    originals[id(fn)] = self._wrap(fn, layer)
        # Rebind every engine reference, including names other modules
        # imported before the wrappers existed.
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(ROOT):
                continue
            for name, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and w.__wrapped__ is val:
                    setattr(mod, name, w)
        self._count_py4j()

    def _count_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        tracer, local = self, self._local
        serve = clientserver.ClientServerConnection.run

        def run(conn):
            # Threads serving JVM callbacks (listener events) arrive
            # asynchronously; their commands are not the row's work.
            local.callback = True
            serve(conn)

        clientserver.ClientServerConnection.run = run
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                # Object-release commands follow Python's garbage
                # collector, not the engine's work.
                if (
                    tracer.active
                    and not command.startswith(_RELEASE)
                    and not getattr(local, "callback", False)
                ):
                    with tracer._lock:
                        tracer.py4j_calls += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command

    # -- summaries -----------------------------------------------------
    def layer_self(self, since: int = 0) -> dict[str, dict[str, float]]:
        """``{layer: {"self_s": ..., "calls": ...}}`` over the spans
        recorded from index ``since`` on."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"self_s": 0.0, "calls": 0}
        )
        for s in self.spans[since:]:
            if "self_s" in s:
                out[s["layer"]]["self_s"] += s["self_s"]
                out[s["layer"]]["calls"] += 1
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

