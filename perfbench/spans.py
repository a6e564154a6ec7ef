"""Out-of-engine tracing for the benchmark's traced run.

Nothing here edits the engine. The tracer:

- wraps every public module-level function and public method of the
  engine's layer modules (``LAYERS``) in a span, and rebinds names that
  other engine modules imported directly, so those calls are seen too;
- counts py4j commands by wrapping py4j's client ``send_command``; a
  command goes to the current phase (build or action) and to the
  innermost open span of its thread;
- counts ``txnlog.CommitConflict`` raised and ``try_rewrite`` hits.

Spans live in memory (``Tracer.spans``) until the run writes them out.
A span opened on a thread with no open span of its own (a stream
trigger's callback) takes the main thread's innermost span as parent,
because the main thread is waiting on that work.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "dbt_maxcompute_spark"
LAYERS = (
    "sources", "catalog", "txnlog", "plans.sqldml", "plans.dml",
    "plans.mv_rewrite", "materializations", "streaming", "runner",
    "localframe", "operators.similarity", "operators.dedup",
    "operators.quantize", "operators.clustering", "operators.textanalysis",
    "operators.dsir",
)


@dataclass
class Span:
    sid: int
    parent: int | None
    model: int
    layer: str
    name: str
    t0: float  # epoch seconds, the clock Spark stamps jobs with
    t1: float = 0.0
    tid: int = 0
    py4j: int = 0
    children: list[int] = field(default_factory=list)


def layer_modules(layer: str) -> list:
    """The module for ``layer`` plus, for a package, its submodules."""
    mod = importlib.import_module(f"{PKG}.{layer}")
    mods = [mod]
    if hasattr(mod, "__path__"):
        for info in pkgutil.iter_modules(mod.__path__):
            mods.append(importlib.import_module(f"{mod.__name__}.{info.name}"))
    return mods


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.model = -1
        self.phase = "other"
        self.py4j = {"build": 0, "action": 0, "other": 0}
        self.counters = {"commit_conflicts": 0, "try_rewrite_calls": 0, "try_rewrite_hits": 0}
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.get_ident()
        # stream triggers call back into Python on their own threads
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        tid = threading.get_ident()
        st = self._stacks.get(tid)
        if st is None:
            st = self._stacks[tid] = []
        return st

    def open(self, layer: str, name: str) -> Span:
        st = self._stack()
        if st:
            parent = st[-1]
        else:
            main = self._stacks.get(self._main)
            parent = main[-1] if main else None
        sp = Span(len(self.spans), parent.sid if parent else None, self.model,
                  layer, name, time.time(), tid=threading.get_ident())
        if parent is not None:
            parent.children.append(sp.sid)
        self.spans.append(sp)
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.t1 = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        elif sp in st:
            st.remove(sp)

    def on_py4j(self) -> None:
        st = self._stacks.get(threading.get_ident())
        with self._lock:
            self.py4j[self.phase] += 1
            if st:
                st[-1].py4j += 1

    def count(self, counter: str, n: int = 1) -> None:
        with self._lock:
            self.counters[counter] += n

    # -- install / uninstall ------------------------------------------
    def _set(self, owner, name: str, value) -> None:
        self._restore.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, value)

    def _wrap(self, layer: str, qualname: str, fn):
        tracer = self
        is_rewrite = qualname == "try_rewrite"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            sp = tracer.open(layer, qualname)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(sp)
            if is_rewrite:
                tracer.count("try_rewrite_calls")
                tracer.count("try_rewrite_hits", out is not None)
            return out

        return traced

    def install(self) -> int:
        """Wrap the layer modules and py4j; returns how many module-level
        functions were wrapped (methods come on top)."""
        originals: dict[int, object] = {}
        for layer in LAYERS:
            for mod in layer_modules(layer):
                for name, obj in list(vars(mod).items()):
                    if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj):
                        w = self._wrap(layer, name, obj)
                        originals[id(obj)] = w
                        self._set(mod, name, w)
                    elif inspect.isclass(obj):
                        self._wrap_class(layer, obj)
        # names imported into other engine modules still point at the
        # originals: rebind them to the wrappers
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and inspect.isfunction(obj):
                    self._set(mod, name, w)
        self._install_counters()
        return len(originals)

    def _wrap_class(self, layer: str, cls) -> None:
        for name, attr in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            qual = f"{cls.__name__}.{name}"
            if inspect.isfunction(attr):
                self._set(cls, name, self._wrap(layer, qual, attr))
            elif isinstance(attr, staticmethod):
                self._set(cls, name, staticmethod(self._wrap(layer, qual, attr.__func__)))
            elif isinstance(attr, classmethod):
                self._set(cls, name, classmethod(self._wrap(layer, qual, attr.__func__)))

    def _install_counters(self) -> None:
        from py4j.java_gateway import GatewayClient

        tracer = self
        send = GatewayClient.send_command

        @functools.wraps(send)
        def counted(client, command, *args, **kwargs):
            if tracer.active:
                tracer.on_py4j()
            return send(client, command, *args, **kwargs)

        self._set(GatewayClient, "send_command", counted)

        from dbt_maxcompute_spark.txnlog import CommitConflict

        def conflict_init(exc, *args):
            if tracer.active:
                tracer.count("commit_conflicts")
            RuntimeError.__init__(exc, *args)

        self._restore.append((CommitConflict, "__init__", None))
        CommitConflict.__init__ = conflict_init

    def uninstall(self) -> None:
        for owner, name, value in reversed(self._restore):
            if value is None:
                delattr(owner, name)
            else:
                setattr(owner, name, value)
        self._restore.clear()


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of it that its
    children cover."""
    by_id = {s.sid: s for s in spans}
    out = {}
    for s in spans:
        kids = [(by_id[c].t0, by_id[c].t1) for c in s.children if c in by_id]
        out[s.sid] = (s.t1 - s.t0) - union_length(kids, s.t0, s.t1)
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span open at epoch time ``t`` (latest start wins)."""
    best = None
    for s in spans:
        if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
            best = s
    return best
