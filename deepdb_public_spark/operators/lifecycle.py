"""One owner for the intermediate Spark state operators create, and for
submitting independent Spark jobs concurrently.

Every frame an operator persists or locally checkpoints is registered
in the current scope. Outside any ``scope()`` it lands in the
process-wide root and lives until ``release()`` runs; inside a scope it
lives until that scope exits, and a scope frees only what was
registered inside it, so concurrent scopes (one per streaming
micro-batch, one per thread) never free each other's state. The current
scope lives in a ContextVar: ``run_concurrently`` workers run under a
copy of the caller's context, so they register into the caller's scope,
and through ``inheritable_thread_target``, so their Spark jobs carry the
caller's local properties (job group, description, scheduler pool).

Release only after results are materialized: a released checkpoint
truncated lineage, so a result still built on it cannot recompute.
"""

from __future__ import annotations

import contextlib
from concurrent.futures import ThreadPoolExecutor
from contextvars import ContextVar, copy_context
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

# the root registry doubles as the ContextVar default: every context
# that never entered a scope shares it
_ROOT: list[tuple[DataFrame, bool]] = []
_scope: ContextVar[list[tuple[DataFrame, bool]]] = ContextVar(
    "deepdb_lifecycle_scope", default=_ROOT
)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered in the current scope."""
    df = df.persist()
    _scope.get().append((df, False))
    return df


def checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered in the current scope.
    Only checkpoints made here are ever released: one created by other
    code in the session keeps its blocks."""
    df = df.localCheckpoint(eager=eager)
    _scope.get().append((df, True))
    return df


def _free(frames: list[tuple[DataFrame, bool]]) -> int:
    released = 0
    while True:
        try:
            # pop is atomic: a concurrent release() never frees twice
            df, checkpointed = frames.pop()
        except IndexError:
            return released
        try:
            if not checkpointed:
                df.unpersist()
            else:
                # the analyzed plan of a checkpointed DataFrame is the
                # LogicalRDD wrapping the exact RDD localCheckpoint
                # persisted (verified against Spark 4.x); unpersisting
                # it frees the blocks without touching any other RDD
                jrdd = df._jdf.queryExecution().analyzed().rdd()
                if not jrdd.isLocallyCheckpointed():
                    continue
                jrdd.unpersist(False)
            released += 1
        except Exception:
            # py4j internals shifted (non-classic Spark runtime): fall
            # back to ContextCleaner GC rather than fail hygiene
            continue


def release() -> int:
    """Free every frame registered outside any scope; returns how many
    were freed. Call only after results are materialized."""
    return _free(_ROOT)


@contextlib.contextmanager
def scope():
    """Free, on exit, exactly the frames registered inside this block
    (including by ``run_concurrently`` workers it started)."""
    frames: list[tuple[DataFrame, bool]] = []
    token = _scope.set(frames)
    try:
        yield
    finally:
        _scope.reset(token)
        _free(frames)


def run_concurrently(fns: list[Callable]) -> list:
    """Run independent callables (typically Spark actions) on one
    thread each and return their results in order. Overlapping the
    calls overlaps their scheduler and planning latency; each worker
    inherits the caller's scope and Spark local properties."""
    session = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [
            pool.submit(inheritable_thread_target(session)(copy_context().run), fn)
            for fn in fns
        ]
        return [f.result() for f in futs]
