"""Materializations with an owned lifetime.

Every materialization in the package goes through four names:

- ``materialize(df, name)``: an eager ``localCheckpoint``, run as a
  job described ``name``. The plan is truncated at the checkpoint.
- ``cache(df, level=MEMORY_AND_DISK)``: a lazy ``persist`` that the
  next job reading ``df`` fills. A site that used ``DataFrame.cache()``
  passes ``MEMORY_AND_DISK_DESER``, that method's level.
- ``release(df)``: free one materialization now. A second call is a
  no-op.
- ``scope()``: a context manager. Each materialization belongs to the
  innermost scope open in the current context and is freed when that
  scope exits, normally or by an exception. With no scope open it
  belongs to the session and stays until someone releases it.

The caller that owns a run opens the scope: a bench or selfcheck
query, a streaming builder around its query's stop, a CDC micro-batch.
An operator that frees its own intermediates opens one too, and hands
the frame it returns to its caller with ``Scope.keep``, so the
returned frame lives exactly as long as the caller's scope. Iterative
loops hand generations off with ``release(prev)`` once the next one
exists; a failure mid-loop needs no code, the scope frees what is
left. Session state (a per-session artifact cache) is built in a
fresh ``contextvars.Context()``: no scope is open there, so what it
materializes belongs to the session even when the first caller sits
inside a scope.

The scope stack lives in a ``ContextVar``, so each thread has its
own: a ``foreachBatch`` body on the streaming callback thread never
frees into the scope of the thread that started the query.

Checkpoint blocks are NOT freed by ``DataFrame.unpersist()``: they
live in the checkpointed RDD's storage, outside the CacheManager. A
checkpoint is freed by unpersisting that RDD, read off the frame's
own ``LogicalRDD`` plan node. It is never found by diffing the
context-wide ``getPersistentRDDs`` set before and after: that set
also holds whatever another thread persisted in the same window, and
freed checkpoint blocks cannot be recomputed.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class Scope:
    """The materializations one ``scope()`` block owns."""

    def __init__(self, parent: Scope | None) -> None:
        self._parent = parent
        self._owned: dict[int, DataFrame] = {}  # id(frame) -> frame

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand ``df`` to the enclosing scope (to the session when this
        one is outermost) and return it: this scope's exit leaves it."""
        if self._owned.pop(id(df), None) is not None and self._parent:
            self._parent._owned[id(df)] = df
        return df


_SCOPES: ContextVar[tuple[Scope, ...]] = ContextVar("scopes", default=())


@contextmanager
def scope() -> Iterator[Scope]:
    """Own every materialization made inside the block; free them all
    when it exits, on success or on an exception."""
    stack = _SCOPES.get()
    s = Scope(stack[-1] if stack else None)
    token = _SCOPES.set(stack + (s,))
    try:
        yield s
    finally:
        _SCOPES.reset(token)
        while s._owned:
            _free(s._owned.popitem()[1])


def materialize(df: DataFrame, name: str) -> DataFrame:
    """``df`` checkpointed now, in a job described ``name``, owned by
    the innermost open scope."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        return _own(df.localCheckpoint())
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def cache(df: DataFrame, level=StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """``df`` persisted lazily at ``level``, owned by the innermost open
    scope."""
    return _own(df.persist(level))


def release(df: DataFrame) -> None:
    """Free ``df``'s materialization now; idempotent."""
    for s in _SCOPES.get():
        s._owned.pop(id(df), None)
    _free(df)


def checkpointed_rdd_id(df: DataFrame) -> int | None:
    """The persisted RDD backing a checkpointed frame: its analyzed
    plan is a LogicalRDD wrapping exactly the RDD that localCheckpoint
    persisted. None if the plan shape differs (Spark version drift):
    ``release`` then leaks the blocks rather than risk freeing someone
    else's RDD."""
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return None


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of every RDD persisted in ``spark``'s context right now: the
    before/after reading of a leak check, never a way to pick what to
    free (see the module docstring)."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in ids}


def _own(df: DataFrame) -> DataFrame:
    if stack := _SCOPES.get():
        stack[-1]._owned[id(df)] = df
    return df


def _free(df: DataFrame) -> None:
    if df.is_cached:
        df.unpersist(blocking=False)
        return
    rdd_id = checkpointed_rdd_id(df)
    if rdd_id is not None:
        jm = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
        if (rdd := jm.get(rdd_id)) is not None:  # None: freed already
            rdd.unpersist(False)
