"""The one pin/release contract for materialized intermediates.

Every operator that materializes a frame (several plan branches read
it, or an iterative plan would otherwise grow without bound) calls
:func:`pin`. The owner of the consuming action frees it with
:func:`release`, or runs inside a :func:`pin_scope`, whose exit frees
every pin made in it. Pins made outside any scope stay until released
(or until Spark's ContextCleaner collects the garbage frame).

The pin kind is derived from the session, not from a knob:
``truncate=True`` cuts lineage — ``localCheckpoint`` (executor-local
blocks, no recompute on executor loss), or reliable ``checkpoint()``
once the SparkContext has a checkpoint dir, which clusters with dynamic
allocation or executor churn should set. ``truncate=False`` is
``persist()`` at its default level: an evicted or lost block recomputes.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_scopes = threading.local()


def pin(df: DataFrame, *, truncate: bool, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once for every consumer of the returned frame;
    ``eager`` runs the materializing job now instead of at the first
    action."""
    if not truncate:
        out = df.persist()
        if eager:
            out.count()
    elif df.sparkSession.sparkContext.getCheckpointDir() is None:
        out = df.localCheckpoint(eager=eager)
    else:
        out = df.checkpoint(eager=eager)
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(out)
    return out


def release(df: DataFrame) -> None:
    """Free what :func:`pin` materialized for ``df``, without blocking.
    A checkpointed frame's analyzed plan is a scan of the materialized
    RDD, whose blocks are dropped (a reliable checkpoint's files stay
    under the checkpoint dir for Spark's cleaner)."""
    if df.is_cached:
        df.unpersist(blocking=False)
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Py4JError:  # not a checkpoint scan: nothing to free
        pass


@contextmanager
def pin_scope() -> Iterator[None]:
    """Release, on exit, every pin this thread made inside the block;
    scopes nest, and a pin belongs to the innermost one. Actions on
    pinned results must run before the block ends."""
    stack = getattr(_scopes, "stack", None)
    if stack is None:
        stack = _scopes.stack = []
    stack.append([])
    try:
        yield
    finally:
        for df in reversed(stack.pop()):
            release(df)
