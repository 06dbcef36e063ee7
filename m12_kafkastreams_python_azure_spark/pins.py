"""Scoped pins: the one lifecycle for persisted intermediates.

An operator ``pin()``s a DataFrame that several subtrees of its plan read
(Spark shares no subtrees across join branches, so unpinned each
consumer re-runs it). Operators never release a pin: the DataFrame they
return is still lazy and its action reads the pins. Release belongs to
the top-level caller that runs that action — a bench run, a test, a
streaming micro-batch — which opens a ``query_scope()``. Leaving the
scope unpersists exactly the pins made inside it; an enclosing scope's
pins are untouched.

Pins made with no scope open are held until the next driver front-door
call (``front_door``) starts: the driver runs its action on the lazy
result after the call returns, so that is the first moment the pins are
provably dead.

Each thread has its own scope stack, so a streaming micro-batch on a
callback thread never releases pins that the main thread holds.

Unpersisting is never a correctness change: a plan that still
references a released DataFrame recomputes it from lineage.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class _Scopes(threading.local):
    def __init__(self) -> None:
        #: one pin list per open scope, innermost last; entry 0 holds the
        #: pins made with no scope open
        self.stack: list[list[DataFrame]] = [[]]


_local = _Scopes()


def _release(held: list[DataFrame]) -> None:
    while held:
        df = held.pop()
        try:
            df.unpersist()
        except Exception:  # session already stopped: nothing to free
            pass


@contextmanager
def query_scope() -> Iterator[None]:
    """Open a pin scope; on exit, unpersist every pin made inside it."""
    held: list[DataFrame] = []
    _local.stack.append(held)
    try:
        yield
    finally:
        _local.stack.pop()
        _release(held)


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist ``df`` and register it in the innermost open scope.

    ``eager`` runs a ``count()`` so the cache is built exactly once,
    before its consumers launch: concurrently-launched stages that find
    it unbuilt race on the per-partition cache-write lock and re-run the
    pinned subtree. Pass ``eager=False`` where the caller's own next
    action (often a count it needs anyway) is the barrier, or where the
    consumers run one after another.

    An identical plan that is already cached stays its owner's: unpersist
    works by plan, so registering it again would let this scope release
    the enclosing scope's pin."""
    if df.storageLevel == StorageLevel.NONE:
        _local.stack[-1].append(df.persist())
    if eager:
        df.count()
    return df


def front_door(build: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Wrap a driver-facing builder: each call first releases the pins
    that earlier calls made with no scope open."""

    @functools.wraps(build)
    def run(*args, **kwargs) -> DataFrame:
        _release(_local.stack[0])
        return build(*args, **kwargs)

    return run
