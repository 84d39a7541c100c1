"""Per-layer tracing for the benchmark, done from outside the engine.

:class:`Tracer` wraps the engine's public layer entry points wherever
they are bound, including names imported with ``from ... import``
(``catalog.load`` in the query modules, ``deposit_or_reuse`` in the
three ``*_family`` modules), records a span per call (name, start, end,
parent span, operation id) in memory, and counts work at the same
boundaries. :class:`JobCursor` reads the JVM status store for the jobs
an operation fired. Nothing here runs unless the benchmark is started
with ``--trace 1``.
"""
from __future__ import annotations

import functools
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    op: str | None = None
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _undo: list = field(default_factory=list)

    # --- spans ---------------------------------------------------------

    def span(self, name: str):
        return _SpanCtx(self, name)

    def add(self, key: str, value: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + value

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        """Write the spans as tab-separated lines (index, name, start,
        end, parent index, operation id)."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(f"{i}\t{s.name}\t{s.start:.6f}\t{s.end:.6f}\t{s.parent}\t{s.op}\n")

    # --- wrapping ------------------------------------------------------

    def _wrap_function(self, name: str, fn, around):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return around(fn, *args, **kwargs)

        return wrapper

    def patch_function(self, module, attr: str, name: str, around=None) -> None:
        """Replace ``module.attr`` and every ``yuki_spark`` module global
        bound to the same function object (its import sites)."""
        orig = getattr(module, attr)
        wrapper = self._wrap_function(name, orig, around or _call)
        for mod in list(sys.modules.values()):
            if mod is None or not (mod.__name__ or "").startswith("yuki_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    self._undo.append((mod, key, orig))

    def patch_method(self, cls, attr: str, name: str, around=None) -> None:
        orig = getattr(cls, attr)
        setattr(cls, attr, self._wrap_function(name, orig, around or _call))
        self._undo.append((cls, attr, orig))

    def unpatch(self) -> None:
        for owner, key, orig in reversed(self._undo):
            setattr(owner, key, orig)
        self._undo.clear()

    def install(self) -> None:
        """Wrap catalog, artifact-store, impression and pipeline entry
        points. Call after the engine modules are imported."""
        from yuki_spark import catalog
        from yuki_spark.pipeline import backends, impressions
        from yuki_spark.queries import artifact_store

        self.patch_function(catalog, "load", "catalog.load", self._count("catalog.load_calls"))
        self.patch_function(
            artifact_store, "deposit_or_reuse", "artifact_store.deposit", self._deposit
        )
        self.patch_method(
            impressions.ImpressionStore, "write", "impressions.write", self._imp_write
        )
        self.patch_method(
            impressions.ImpressionStore, "read", "impressions.read",
            self._count("impressions.read_calls"),
        )
        self.patch_method(backends.LocalBackend, "run", "pipeline.run", self._pipeline)

    def _nested(self, name: str) -> bool:
        """Whether the innermost open span on this thread has an
        ancestor span called ``name``."""
        stack = getattr(self._local, "stack", None)
        parent = self.spans[stack[-1]].parent if stack else None
        while parent is not None:
            if self.spans[parent].name == name:
                return True
            parent = self.spans[parent].parent
        return False

    def _count(self, key: str):
        def around(fn, *args, **kwargs):
            self.add(key)
            return fn(*args, **kwargs)

        return around

    def _deposit(self, fn, *args, **kwargs):
        # signature: (spark, root, key, version, dep_ids, builder, computes, name)
        computes = kwargs.get("computes", args[6] if len(args) > 6 else {})
        name = kwargs.get("name", args[7] if len(args) > 7 else None)
        before = computes.get(name, 0)
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        built = computes.get(name, 0) > before
        self.add("artifact_store.calls")
        self.add("artifact_store.misses" if built else "artifact_store.hits")
        if built and not self._nested("artifact_store.deposit"):
            # a builder may call another deposit's accessor: count the
            # outermost build only, so nested builds are not summed twice
            self.add("artifact_store.build_s", time.perf_counter() - t0)
        return out

    def _imp_write(self, fn, store, imp_id, *args, **kwargs):
        path = fn(store, imp_id, *args, **kwargs)
        parts, size = 0, 0
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    parts += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        self.add("impressions.parts", parts)
        self.add("impressions.write_mb", size / 1e6)
        return path

    def _pipeline(self, fn, *args, **kwargs):
        out = fn(*args, **kwargs)
        for status in out.get("statuses", {}).values():
            if status == "reused":
                self.add("pipeline.tasks_reused")
            elif status in ("finished", "compiled"):
                self.add("pipeline.tasks_run")
        return out


def _call(fn, *args, **kwargs):
    return fn(*args, **kwargs)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        stack = getattr(self.tracer._local, "stack", None)
        if stack is None:
            stack = self.tracer._local.stack = []
        self.parent = stack[-1] if stack else None
        self.start = time.perf_counter()
        with self.tracer._lock:
            self.index = len(self.tracer.spans)
            self.tracer.spans.append(Span(self.name, self.start, self.start, self.parent, self.tracer.op))
        stack.append(self.index)
        return self

    def __exit__(self, *exc):
        self.tracer._local.stack.pop()
        self.tracer.spans[self.index].end = time.perf_counter()
        return False


# --- JVM status store --------------------------------------------------


class JobCursor:
    """Reads the jobs, stages and shuffle metrics of the jobs submitted
    since the previous call, straight from the JVM status store (job ids
    are sequential; read right after each operation, before retention
    can drop them)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.next_job = 0
        self.seen_stages: set[int] = set()
        self.advance()

    def _job(self, jid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self.store.job(jid)
        except Py4JJavaError:
            return None

    def advance(self) -> dict[str, float]:
        """Metrics of the jobs that completed since the last call."""
        self.sc.listenerBus().waitUntilEmpty()
        m = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_ms", "shuffle_read", "shuffle_write", "spill"), 0
        )
        while True:
            job = self._job(self.next_job)
            if job is None:
                return m
            self.next_job += 1
            m["jobs"] += 1
            sids = job.stageIds()
            for i in range(sids.length()):
                sid = int(sids.apply(i))
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                attempts = self.store.stageData(sid, False, None, False, None)
                for j in range(attempts.length()):
                    a = attempts.apply(j)
                    if a.status().toString() == "SKIPPED":
                        continue
                    m["stages"] += 1
                    m["tasks"] += a.numCompleteTasks() + a.numFailedTasks()
                    m["run_ms"] += a.executorRunTime()
                    m["shuffle_read"] += a.shuffleReadBytes()
                    m["shuffle_write"] += a.shuffleWriteBytes()
                    m["spill"] += a.memoryBytesSpilled() + a.diskBytesSpilled()
