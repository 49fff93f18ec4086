"""Deterministic lifecycle for operator-internal persisted frames.

Several operators persist a shared intermediate frame (the hashed-shingle
index, the LSH bucket frame, the normed-vector frame) because it feeds
two or three branches of one plan. The persist must stay alive until the
*caller* runs its action on the returned DataFrame — an event the
operator never observes — so in a long-lived session the caches used to
accumulate until they evicted each other (bench.py worked around it with
``spark.catalog.clearCache()`` between queries).

Ownership is now attached to the returned frame itself:

- ``adopt(result, *cached)`` ties each cached frame's lifetime to
  ``result``: :func:`release` unpersists them deterministically, and a
  ``weakref.finalize`` backstop unpersists when the result is
  garbage-collected — so even a caller that never heard of this module
  leaks nothing beyond the result's own lifetime.
- ``release(df)`` — call after the last action on ``df``; idempotent,
  no-op on frames with nothing adopted. Results whose plan was
  lineage-truncated (``dedup_clusters``'s checkpoints) are NOT
  re-computable after release — release means "done with this frame".
- ``cache_scope()`` — context manager that takes ownership instead:
  every cache adopted inside the ``with`` block is unpersisted on exit
  (run your actions inside the block).

Everything funnels through ``try/except`` on the JVM call: at
interpreter shutdown or after ``spark.stop()`` the gateway may already
be gone, and a cleanup path must never raise.
"""

from __future__ import annotations

import threading
import weakref
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame

_ATTR = "_graft_cache_handle"


class _ScopeStack(threading.local):
    """Per-THREAD stack of active cache_scope frames (innermost last;
    each is a list of release callables). Thread-local so a scope opened
    in one query thread can never adopt — and later unpersist — caches
    an operator is building concurrently in another thread."""

    def __init__(self):
        self.frames: list[list[Callable[[], None]]] = []


_scope_stack = _ScopeStack()


def _unpersister(df: DataFrame) -> Callable[[], None]:
    jdf = df  # the closure keeps the py4j handle alive until released
    done = [False]

    def _do() -> None:
        if done[0]:
            return
        done[0] = True
        try:
            jdf.unpersist()
        except Exception:  # gateway already down — nothing left to free
            pass

    return _do


def adopt(result: DataFrame, *cached) -> DataFrame:
    """Tie the lifetime of ``cached`` (DataFrames previously
    ``.persist()``-ed, or zero-arg release callables) to ``result``.

    Inside an active :func:`cache_scope` the scope takes ownership (the
    caches die at scope exit). Otherwise the caches are released by
    :func:`release`, or — the backstop — when ``result`` is
    garbage-collected."""
    releasers = [
        c if callable(c) else _unpersister(c)  # type: ignore[arg-type]
        for c in cached
    ]
    if not releasers:
        return result
    if _scope_stack.frames:
        _scope_stack.frames[-1].extend(releasers)
        return result
    existing = getattr(result, _ATTR, None)
    if existing is not None:
        # stacked adopts on one frame (composed operators) merge
        existing.releasers.extend(releasers)
        return result
    handle = _Handle(releasers)
    setattr(result, _ATTR, handle)
    # the finalizer must not reference `result` (it would never die);
    # it references only the handle, which holds the cached frames.
    handle.finalizer = weakref.finalize(result, _Handle.release, handle)
    return result


class _Handle:
    __slots__ = ("releasers", "finalizer", "__weakref__")

    def __init__(self, releasers: list[Callable[[], None]]):
        self.releasers = releasers
        self.finalizer = None

    def release(self) -> None:
        rs, self.releasers = self.releasers, []
        for r in rs:
            try:
                r()
            except Exception:
                pass
        if self.finalizer is not None:
            self.finalizer.detach()
            self.finalizer = None


def release(df: DataFrame) -> None:
    """Deterministically free every cache adopted onto ``df``. Call after
    the last action; idempotent; no-op for frames with nothing adopted."""
    handle = getattr(df, _ATTR, None)
    if handle is not None:
        handle.release()


def carry(result: DataFrame, *parents: DataFrame) -> DataFrame:
    """Transfer cache ownership across a composition boundary: when an
    operator derives ``result`` from another operator's ``parent`` frame
    (``parent.filter(...)``, a join, ...), the parent's adopted caches —
    possibly lineage-truncated checkpoint blocks the derived plan still
    reads — must live exactly as long as ``result``. ``carry`` keeps each
    parent alive and releases it when ``result`` is released/collected by
    the GC backstop. Without this, the parent's finalizer would free
    blocks the derived frame still needs."""
    return adopt(result, *[(lambda p=p: release(p)) for p in parents])


def persistent_rdd_ids(sc) -> set[int]:
    """Ids of every currently persisted RDD (includes localCheckpoint
    blocks, which ``spark.catalog.clearCache`` does NOT touch)."""
    try:
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    except Exception:
        return set()


def checkpoint_rdd_id(df: DataFrame) -> int:
    """Id of the RDD holding a ``localCheckpoint``-ed frame's blocks:
    the checkpointed plan is a single LogicalRDD leaf over it, and it is
    exactly the id the checkpoint adds to the persistent-RDD set."""
    return int(df._jdf.queryExecution().logical().rdd().id())


def rdd_id_releaser(sc, ids: set[int]) -> Callable[[], None]:
    """Release callable that unpersists the given RDD ids — the cleanup
    handle for ``localCheckpoint`` blocks, which ``DataFrame.unpersist``
    does not touch. Take each id from the checkpointed frame
    (:func:`checkpoint_rdd_id`); a :func:`persistent_rdd_ids` diff
    around the checkpoint call also catches whatever another pipeline
    on the same session persisted meanwhile."""

    def _do() -> None:
        try:
            m = sc._jsc.getPersistentRDDs()
            for i in ids:
                r = m.get(i)
                if r is not None:
                    r.unpersist(False)
        except Exception:
            pass

    return _do


@contextmanager
def cache_scope() -> Iterator[None]:
    """Own every operator-internal cache created inside the block and
    unpersist them all on exit. Run the actions that consume the
    operators' results INSIDE the block — after exit, plans recompute
    (or, for lineage-truncated cluster results, fail)."""
    frame: list[Callable[[], None]] = []
    _scope_stack.frames.append(frame)
    try:
        yield
    finally:
        _scope_stack.frames.pop()
        for r in frame:
            try:
                r()
            except Exception:
                pass
