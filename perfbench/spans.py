"""In-memory spans and the layer wrappers the benchmark installs from outside.

Every wrapper is set on the program's module or class attribute, never by
editing program code.  Shared builds are always wrapped (their time is moved
out of the first consumer into set-up, and a build that raises aborts the
run); the other layers record spans only while the tracer is enabled.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager

PKG = "dblab_ece_trino_spark"


class BuildFailed(RuntimeError):
    """A shared build raised: the run is aborted, never absorbed by a job."""


class Tracer:
    """Spans kept in memory: id, parent, name, start, end (perf_counter s)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        # Shared builds, timed in both modes: outermost calls only, so a
        # build that consumes another build is not counted twice.
        self.build_s: dict[str, float] = {}
        self.build_calls: dict[str, int] = {}
        self.build_errors: list[str] = []
        self._build_depth = 0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "parent": parent, "name": name, "start": t0, "end": t1, **attrs}
                )

    def builds_total(self) -> float:
        return sum(self.build_s.values())

    def summary(self, since: float = 0.0) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds.

        Self time is a span's duration minus the time its child spans cover
        (children run in the parent's thread, one after another).
        """
        spans = [s for s in self.spans if s["start"] >= since]
        child_s: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in spans:
            d = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += d
            row["self_s"] += d - child_s.get(s["id"], 0.0)
        return out


def _replace_everywhere(original, wrapper) -> None:
    """Point every loaded program-module attribute bound to ``original`` at
    ``wrapper`` -- covers both module-level imports and the function-local
    ``from ...session import materialize`` pattern (which reads the defining
    module's attribute at call time)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, wrapper)


def _spanned(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def _build_wrapper(tracer: Tracer, label: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        outer = tracer._build_depth == 0
        tracer._build_depth += 1
        t0 = time.perf_counter()
        try:
            with tracer.span(f"shared.{label}"):
                return fn(*args, **kwargs)
        except Exception as e:
            tracer.build_errors.append(f"shared_{label}: {type(e).__name__}: {e}")
            raise BuildFailed(f"shared build shared_{label} failed: {e}") from e
        finally:
            tracer._build_depth -= 1
            if outer:
                tracer.build_s[label] = tracer.build_s.get(label, 0.0) + time.perf_counter() - t0
                tracer.build_calls[label] = tracer.build_calls.get(label, 0) + 1

    return wrapper


def shared_builds() -> dict[str, tuple[object, str]]:
    """Every ``shared_*`` function defined in the operator modules, by label."""
    ops = importlib.import_module(f"{PKG}.operators")
    found: dict[str, tuple[object, str]] = {}
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        for attr, value in vars(mod).items():
            if (
                attr.startswith("shared_")
                and callable(value)
                and getattr(value, "__module__", None) == mod.__name__
            ):
                found[attr[len("shared_"):]] = (mod, attr)
    return found


def install(tracer: Tracer) -> list[str]:
    """Wrap the program's layer entry points; returns the shared-build labels."""
    from dblab_ece_trino_spark import entrypoints, loader, session, sql
    from dblab_ece_trino_spark.catalog import CatalogRegistry
    from dblab_ece_trino_spark.session import EngineSession

    get = EngineSession.__dict__["get"].__func__
    EngineSession.get = classmethod(_spanned(tracer, "session.start", get))
    CatalogRegistry.register_sf_dir = _spanned(
        tracer, "catalog.register_sf_dir", CatalogRegistry.register_sf_dir
    )
    for mod, attr, name in (
        (entrypoints, "engine_for", "catalog.engine_for"),
        (sql, "rewrite_three_part_names", "sql.rewrite"),
        (session, "materialize", "session.materialize"),
        (session, "ensure_parallelism", "session.ensure_parallelism"),
        (loader, "ctas_load", "loader.ctas"),
        (loader, "export_bucketed_ndjson", "loader.export"),
    ):
        original = getattr(mod, attr)
        _replace_everywhere(original, _spanned(tracer, name, original))
    builds = shared_builds()
    for label, (mod, attr) in builds.items():
        original = getattr(mod, attr)
        _replace_everywhere(original, _build_wrapper(tracer, label, original))
    return sorted(builds)
