"""Spans around the calls into each layer of nvtabular_spark.

A span records its name, start, end, parent span and the unit of work
(iteration or request) it belongs to, plus the py4j calls its thread
made while it was open. Spans are kept in memory and summarized after
the run.

Each span also sets the Spark job group of its thread to ``pb-<id>``,
so every job in the event log maps back to the span that started it.
PySpark pins each Python thread to its own JVM thread, so job groups
are per thread. ``CompiledPlan.run`` fits operators from a thread pool;
a span opened on a thread with no open span takes the innermost open
span of the thread that opened the unit as its parent.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from typing import Callable, List, Optional

# a py4j command that releases a Python-side reference to a JVM
# object; these are sent from finalizers whenever the garbage collector
# runs, so counting them would make call counts vary run to run
_PY4J_GC_COMMAND = "m\nd\n"

FIT_METHODS = ("fit", "fused_fit_requests", "consume_fused",
               "agg_requests", "consume_agg")
TRANSFORM_METHODS = ("transform", "window_fusion")


def group_id(span_id: int) -> str:
    return f"pb-{span_id}"


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer passes every
    wrapped call straight through."""

    def __init__(self, set_group: Optional[Callable] = None):
        #: ``set_group(group_or_None)`` sets the job group of the
        #: calling thread; None (tests) skips job groups
        self._set_group = set_group
        self.enabled = False
        self.unit: Optional[str] = None
        self.spans: List[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._unit_stack: Optional[list] = None

    # -- per-thread state ------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _calls(self) -> int:
        return getattr(self._local, "calls", 0)

    def count_py4j(self, command: str) -> None:
        if getattr(self._local, "quiet", False) or \
                command.startswith(_PY4J_GC_COMMAND):
            return
        self._local.calls = self._calls() + 1

    def _group(self, span: Optional[dict]) -> None:
        if self._set_group is None:
            return
        self._local.quiet = True   # the tracer's own calls are not counted
        try:
            self._set_group(group_id(span["id"]) if span else None)
        finally:
            self._local.quiet = False

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._unit_stack[-1] if self._unit_stack else None)
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "unit": self.unit, "thread": threading.get_ident(),
               "start": time.time(), "end": None, "py4j": 0}
        stack.append(rec)
        self._group(rec)
        calls0 = self._calls()
        try:
            yield rec
        finally:
            rec["py4j"] = self._calls() - calls0
            stack.pop()
            self._group(stack[-1] if stack else None)
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def unit_span(self, unit: str, traced: bool):
        """The root span of one unit of work. Untraced units run with
        the tracer disabled, so they pay only a flag test per wrapped
        call."""
        self.enabled, self.unit = traced, unit
        self._unit_stack = self._stack()
        try:
            with self.span("unit") as rec:
                yield rec
        finally:
            self.enabled, self.unit, self._unit_stack = False, None, None

    # -- wrapping code we do not own ------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span
        ``name``. A call nested in a span of the same name (a method
        calling its base-class version) opens no second span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            stack = self._stack()
            if stack and stack[-1]["name"] == name:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def wrap_operator(self, cls) -> None:
        """Span every fit-phase and transform-phase method ``cls`` has
        as ``operators.<cls>.fit`` / ``operators.<cls>.transform``."""
        for phase, methods in (("fit", FIT_METHODS),
                               ("transform", TRANSFORM_METHODS)):
            for m in methods:
                if callable(getattr(cls, m, None)):
                    self.wrap(cls, m, f"operators.{cls.__name__}.{phase}")

    def install_py4j_counter(self) -> None:
        """Count py4j commands per thread (both gateway flavours)."""
        from py4j import clientserver, java_gateway
        for conn in (clientserver.ClientServerConnection,
                     java_gateway.GatewayConnection):
            orig = conn.send_command

            def send_command(this, command, *a, _orig=orig, **k):
                self.count_py4j(command)
                return _orig(this, command, *a, **k)

            conn.send_command = send_command
