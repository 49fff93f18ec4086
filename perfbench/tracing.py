"""In-memory span tracing around the engine's public calls.

A span is ``[name, start, end, parent]`` with times from
``time.perf_counter``; spans of one run share the tracer's ``run_id``.
Spans stay in memory and are written out once, when the run ends.

Layers are timed from outside: :func:`install` replaces public methods
and functions of the engine's modules with wrappers that open a span
around the original call (and restores them on :meth:`Tracer.close`).
The wrappers are pass-throughs while the tracer is inactive, so a run
can alternate traced and untraced operations and measure the tracing
overhead on identical work.

Spark jobs and stages are read back from the status store
(``sc._jsc.sc().statusStore()``, which works with the UI off) and
attributed to the innermost span whose interval contains their
submission time. That covers jobs submitted from the store's pool
threads too, which carry no job group.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import uuid

NAME, START, END, PARENT = range(4)


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[list] = []
        self.active = False
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        # perf_counter -> epoch seconds, to place Spark's epoch timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._stack()
        rec = [name, time.perf_counter(), None, stack[-1] if stack else None]
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[END] = time.perf_counter()
            stack.pop()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def count(self, key: str, n: float = 1) -> None:
        if self.active:
            self.counters[key] = self.counters.get(key, 0) + n

    # -- wrapping ------------------------------------------------------------

    def patch(self, owner: object, attr: str, name: str, hook=None) -> None:
        """Replace ``owner.attr`` with a span-opening wrapper. ``hook``
        sees ``(args, kwargs)`` inside the span, before the call."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                if hook is not None:
                    hook(args, kwargs)
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def close(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()
        self.active = False

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh)


def _files_under(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if not f.startswith((".", "_"))]
    return out


def install(tracer: Tracer) -> None:
    """Wrap the layers' public entry points (no program file changes)."""
    from automated_datastore_discovery_with_aws_glue_spark.catalog import engine
    from automated_datastore_discovery_with_aws_glue_spark.operators import classify
    from automated_datastore_discovery_with_aws_glue_spark.sources import readers
    from automated_datastore_discovery_with_aws_glue_spark.state import commit, store

    def on_read(args, kwargs):
        # (spark, path|paths, base_path=...): files scanned vs listed
        path = args[1] if len(args) > 1 else kwargs["path"]
        base = kwargs.get("base_path")
        scanned = list(path) if isinstance(path, list) else _files_under(path)
        listed = _files_under(base) if base else scanned
        tracer.count("sources.files_scanned", len(scanned))
        tracer.count("sources.files_listed", len(listed))
        tracer.count("sources.input_bytes", sum(os.path.getsize(p) for p in scanned))

    def on_commit(args, kwargs):
        # bytes/files the commit publishes that are new (not hard links)
        n = size = 0
        for p in _files_under(kwargs["staging"]):
            st = os.stat(p)
            if st.st_nlink == 1:
                n += 1
                size += st.st_size
        tracer.count("store.files_written", n)
        tracer.count("store.bytes_written", size)

    # the engine binds the reader by name at import: patch both bindings
    for mod in (readers, engine):
        tracer.patch(mod, "read_csv_source", "sources.read", on_read)
    S = store.ParquetStateStore
    for attr in ("read", "merge", "append", "append_many", "replace_partitions", "vacuum"):
        tracer.patch(S, attr, "store." + ("append" if attr == "append_many" else attr))
    _patch_commit(tracer, commit.PosixCommitBackend, on_commit, store.ConcurrentWriteError)
    # imported at call time by the incremental classify path
    tracer.patch(classify, "classify_columns_counts", "classify.count")
    tracer.patch(classify, "classification_from_counts", "classify.derive")


def _patch_commit(tracer: Tracer, backend, on_commit, conflict) -> None:
    fn = backend.commit

    @functools.wraps(fn)
    def commit(self, **kwargs):
        if not tracer.active:
            return fn(self, **kwargs)
        with tracer.span("store.commit"):
            on_commit((), kwargs)
            try:
                return fn(self, **kwargs)
            except conflict:
                tracer.count("store.commit_retries")
                raise

    tracer._patches.append((backend, "commit", fn))
    backend.commit = commit


# -- Spark status store -----------------------------------------------------


def harvest(spark, since_epoch: float) -> tuple[list[tuple], list[dict]]:
    """Jobs ``(start, end)`` and stage metric dicts submitted after
    ``since_epoch``, newest first (the store lists in reverse id order,
    so the walk stops at the first older entry)."""
    st = spark.sparkContext._jsc.sc().statusStore()
    jobs, stage_ids = [], []
    jl = st.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sub = j.submissionTime()
        if sub.isEmpty():
            continue
        t0 = sub.get().getTime() / 1000.0
        if t0 < since_epoch:
            break
        done = j.completionTime()
        jobs.append((t0, done.get().getTime() / 1000.0 if not done.isEmpty() else t0))
        ids = j.stageIds()
        stage_ids += [ids.apply(k) for k in range(ids.size())]
    stages = []
    for sid in sorted(set(stage_ids)):
        s = st.lastStageAttempt(sid)
        sub = s.submissionTime()
        if sub.isEmpty():
            continue  # skipped stage: never ran
        t0 = sub.get().getTime() / 1000.0
        stages.append(
            {
                "t": t0,
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        )
    return jobs, stages


# -- analysis -----------------------------------------------------------------


def self_times(spans: list[list]) -> list[float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[PARENT] is not None:
            kids.setdefault(s[PARENT], []).append((s[START], s[END]))
    return [
        (s[END] - s[START]) - _covered(kids.get(i, []))
        for i, s in enumerate(spans)
    ]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _clip(intervals, a: float, b: float):
    return [(max(x, a), min(y, b)) for x, y in intervals if y > a and x < b]


class Attribution:
    """Jobs and stages placed on spans (innermost containing span)."""

    def __init__(self, tracer: Tracer, jobs: list[tuple], stages: list[dict]):
        self.spans = tracer.spans
        off = tracer.epoch_offset
        self.jobs = [(a - off, b - off) for a, b in jobs]
        self.job_span = [self._innermost(a) for a, _ in self.jobs]
        self.stages = stages
        self.stage_span = [self._innermost(s["t"] - off) for s in stages]
        self._ancestors = [self._chain(i) for i in range(len(self.spans))]

    def _innermost(self, t: float) -> int | None:
        best = None
        for i, s in enumerate(self.spans):
            if s[START] <= t <= s[END] and (best is None or s[START] >= self.spans[best][START]):
                best = i
        return best

    def _chain(self, i: int) -> set[str]:
        names = set()
        while i is not None:
            names.add(self.spans[i][NAME])
            i = self.spans[i][PARENT]
        return names

    def under(self, span: int | None, names: set[str], *, innermost_only: bool = False) -> bool:
        if span is None:
            return False
        if innermost_only:
            return self.spans[span][NAME] in names
        return bool(self._ancestors[span] & names)

    def jobs_in(self, names: set[str], **kw) -> int:
        return sum(1 for s in self.job_span if self.under(s, names, **kw))

    def stage_sum(self, key: str, names: set[str], **kw) -> float:
        return sum(
            st[key] for st, s in zip(self.stages, self.stage_span) if self.under(s, names, **kw)
        )

    def idle(self, span_ids: list[int]) -> float:
        """Time inside the given spans with no Spark job running."""
        total = 0.0
        for i in span_ids:
            a, b = self.spans[i][START], self.spans[i][END]
            total += (b - a) - _covered(_clip(self.jobs, a, b))
        return total
