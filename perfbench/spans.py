"""Bench-side tracing: spans around the calls the benchmark makes into
each engine layer, kept in memory and written out when the run ends.

Nothing in the engine is modified. ``Tracer.install`` wraps public
functions from the outside (for the lifetime of the traced run only) and
``Tracer.span`` brackets the bench's own call sites where a layer returns
a lazy DataFrame that the bench then materializes. Every span sets its
own Spark job group; in PySpark's pinned-thread mode local properties are
per thread, so the two index refreshes the catalog tick runs on a thread
pool are counted apart. Job, stage and failed-task counts come from the
status tracker when the span ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

_INHERITED = object()


class Span:
    __slots__ = (
        "id", "name", "parent", "thread", "start", "end", "self_jobs",
        "jobs", "stages", "tasks_failed", "counters", "child_wall", "lock",
    )

    def __init__(self, sid: int, name: str, parent: "Span | None"):
        self.id = sid
        self.name = name
        self.parent = parent
        self.thread = threading.current_thread().name
        self.start = time.perf_counter()
        self.end = None
        self.self_jobs = 0
        self.jobs = 0
        self.stages = 0
        self.tasks_failed = 0
        self.counters: dict[str, float] = {}
        self.child_wall = 0.0
        self.lock = threading.Lock()

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent.id if self.parent else None,
            "thread": self.thread,
            "start": round(self.start, 6),
            "wall_s": round(self.wall, 6),
            # concurrent children can overlap, so self time floors at 0
            "self_s": round(max(0.0, self.wall - self.child_wall), 6),
            "self_jobs": self.self_jobs,
            "jobs": self.jobs,
            "stages": self.stages,
            "tasks_failed": self.tasks_failed,
            **self.counters,
        }


class Tracer:
    """Records spans when enabled; every method is a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # -- span bookkeeping ---------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block as one call into layer ``name``. Yields the span
        (or None when tracing is off) so call sites can attach counters."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, parent)
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(f"bench-span-{sp.id}", name)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)
            self._harvest(sp)
            with self._lock:
                self.spans.append(sp)
            if parent is not None:
                with parent.lock:
                    parent.jobs += sp.jobs
                    parent.stages += sp.stages
                    parent.tasks_failed += sp.tasks_failed
                    parent.child_wall += sp.wall

    def _harvest(self, sp: Span) -> None:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(f"bench-span-{sp.id}")
        stages = tasks_failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                si = st.getStageInfo(s)
                if si is not None:
                    tasks_failed += si.numFailedTasks
        with sp.lock:
            sp.self_jobs = len(jobs)
            sp.jobs += len(jobs)
            sp.stages += stages
            sp.tasks_failed += tasks_failed

    # -- wrapping public functions -------------------------------------------

    def install(self, owner, attr: str, name: str, before=None,
                counters=None) -> None:
        """Wrap ``owner.attr`` (a class or module attribute, possibly
        inherited) in a span. ``before(args)`` runs just before the span
        opens and its value reaches ``counters(result, span, args, value)``,
        which runs just after it closes and may attach numbers to the span:
        neither is timed as part of the layer it annotates."""
        if not self.enabled:
            return
        orig = owner.__dict__.get(attr, _INHERITED)
        fn = getattr(owner, attr) if orig is _INHERITED else orig
        if isinstance(fn, (classmethod, staticmethod)):
            fn = fn.__func__

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            pre = before(args) if before is not None else None
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if counters is not None and sp is not None:
                counters(out, sp, args, pre)
            return out

        if isinstance(orig, classmethod):
            wrapped = classmethod(wrapped)
        elif isinstance(orig, staticmethod):
            wrapped = staticmethod(wrapped)
        setattr(owner, attr, wrapped)
        self._restore.append((owner, attr, orig))

    def propagate_to_pools(self) -> None:
        """Run work submitted to a ThreadPoolExecutor under the submitting
        thread's open span, as PySpark's InheritableThread does for local
        properties: jobs the engine starts on its own pools (the tick's
        concurrent index refreshes, a search index's twin merges) count
        toward the span that caused them."""
        if not self.enabled:
            return
        from concurrent.futures import ThreadPoolExecutor

        orig = ThreadPoolExecutor.__dict__["submit"]
        tracer = self

        @functools.wraps(orig)
        def submit(pool, fn, /, *args, **kwargs):
            st = tracer._stack()
            parent = st[-1] if st else None
            if parent is None:
                return orig(pool, fn, *args, **kwargs)

            def run():
                stack = tracer._stack()
                sc = tracer.spark.sparkContext
                prev = sc.getLocalProperty("spark.jobGroup.id")
                stack.append(parent)
                sc.setJobGroup(f"bench-span-{parent.id}", parent.name)
                try:
                    return fn(*args, **kwargs)
                finally:
                    stack.pop()
                    sc.setLocalProperty("spark.jobGroup.id", prev)

            return orig(pool, run)

        ThreadPoolExecutor.submit = submit
        self._restore.append((ThreadPoolExecutor, "submit", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            if orig is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._restore.clear()

    # -- results ----------------------------------------------------------

    def summary(self, names, n_ops: int) -> dict:
        """Per-op means of every span name: calls, wall seconds, jobs,
        stages and any attached counters (a name never called reads 0)."""
        out = {}
        for name in names:
            mine = [s for s in self.spans if s.name == name]
            agg = {
                "calls": len(mine),
                "s": sum(s.wall for s in mine),
                "self_s": sum(max(0.0, s.wall - s.child_wall) for s in mine),
                "jobs": sum(s.jobs for s in mine),
                "stages": sum(s.stages for s in mine),
            }
            for s in mine:
                for k, v in s.counters.items():
                    agg[k] = agg.get(k, 0) + v
            out[name] = {k: v / max(1, n_ops) for k, v in agg.items()}
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {**extra, "spans": [s.as_dict() for s in self.spans]}, fh
            )
