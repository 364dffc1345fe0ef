"""Spans around the engine's public entry points, for the traced run only.

The wrappers are installed from the benchmark, never inside
``data_sync_spark``: a module attribute or class attribute is swapped for a
wrapper for the length of the traced run and restored afterwards. Each span
records name, start, end, parent and batch id; spans stay in memory and are
written once, at the end. The wrappers time their own bookkeeping, so the
cost tracing adds to the run is measured, not guessed."""

from __future__ import annotations

import functools
import json
import threading
import time


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # job/task counts per batch come from the status tracker; a
        # streaming query runs its jobs under its own job group
        self._tracker = spark.sparkContext.statusTracker() if spark is not None else None
        self.job_groups: list[str | None] = [None]

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, batch=None, jobs: bool = False):
        """Context manager recording one span (used for harness phases and
        by the wrappers)."""
        return _Span(self, name, batch, jobs)

    def _job_ids(self) -> set[int]:
        ids: set[int] = set()
        for g in self.job_groups:
            ids.update(self._tracker.getJobIdsForGroup(g))
        return ids

    def _tasks(self, job_ids) -> int:
        n = 0
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self._tracker.getStageInfo(sid)
                n += st.numTasks if st else 0
        return n

    # ---------------------------------------------------------- patching
    def wrap(self, owner, attr: str, name: str, batch_arg: int | None = None,
             jobs: bool = False, result_tag=None):
        """Replace ``owner.attr`` with a spanned wrapper. ``batch_arg`` is
        the positional index of the batch id (also read from the
        ``batch_id`` keyword); ``result_tag`` maps the return value to extra
        span fields."""
        real = getattr(owner, attr)
        tracer = self

        @functools.wraps(real)
        def wrapper(*args, **kwargs):
            batch = kwargs.get("batch_id")
            if batch is None and batch_arg is not None and len(args) > batch_arg:
                batch = args[batch_arg]
            with tracer.span(name, batch, jobs) as sp:
                try:
                    out = real(*args, **kwargs)
                except Exception as e:
                    sp.fields["error"] = type(e).__name__
                    raise
                if result_tag is not None:
                    sp.fields.update(result_tag(out))
                return out

        self._patches.append((owner, attr, real))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, real = self._patches.pop()
            setattr(owner, attr, real)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, batch, jobs: bool):
        self.t, self.name, self.batch, self.jobs = tracer, name, batch, jobs
        self.fields: dict = {}

    def __enter__(self):
        t0 = time.perf_counter()
        stack = self.t._stack()
        parent = stack[-1] if stack else None
        if self.batch is None and parent is not None:
            self.batch = parent["batch"]
        with self.t._lock:
            sid = len(self.t.spans)
            self.rec = {
                "id": sid, "name": self.name, "parent": parent["id"] if parent else None,
                "batch": self.batch, "thread": threading.get_ident(),
            }
            self.t.spans.append(self.rec)
        stack.append(self.rec)
        self._jobs0 = self.t._job_ids() if self.jobs and self.t._tracker else None
        self.start = time.perf_counter()
        self._book = self.start - t0
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        if self._jobs0 is not None:
            new = self.t._job_ids() - self._jobs0
            self.fields["jobs"] = len(new)
            self.fields["tasks"] = self.t._tasks(new)
        self.t._stack().pop()
        self.rec.update(start=self.start, end=end, **self.fields)
        done = time.perf_counter()
        with self.t._lock:
            self.t.overhead_s += self._book + (done - end)
        return False
