"""Scoped materialization: the one place the package persists, checkpoints
and releases DataFrames.

Operators whose build reuses an intermediate (a narrow count relation
consumed by several branches, an edge list iterated to a fixpoint) cache
it, materialize their bounded result with an eager ``localCheckpoint`` and
then drop every cache before returning, so the caller gets a relation that
no longer depends on executor cache memory::

    with materialize.scope("dsir_select") as m:
        db = m.cache(counts)
        ...
        return m.checkpoint(out)

:func:`scope` releases every ``m.cache`` relation in a ``finally`` whether
the build returned or raised, so a failing build never leaves an entry in
the session's cache manager. ``m.checkpoint`` runs under the scope name as
its Spark job description. :func:`checkpoint` is the bare lineage cut for
sites that cache nothing (eager or lazy).

Both call ``DataFrame.localCheckpoint`` and return its result unchanged,
so instruments that patch that method (``plans.audit``'s plan capture,
the plan hasher's identity checkpoints) see every materialization.

``localCheckpoint`` caveat: the checkpointed blocks live in executor
storage, not reliable storage. Lineage is truncated, so the blocks cannot
be recomputed after an executor is lost (preemption, dynamic-allocation
down-scale) and downstream jobs fail; they are freed only when the
returned DataFrame is garbage-collected.
"""

from __future__ import annotations

import contextlib
from typing import Iterator

from pyspark.sql import DataFrame

_DESCRIPTION = "spark.job.description"


class Scope:
    """Caches registered by one :func:`scope`, released when it exits."""

    def __init__(self, name: str):
        self.name = name
        self.cached: list[DataFrame] = []

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until the scope exits; returns the cached frame."""
        df = df.persist()
        self.cached.append(df)
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eagerly ``localCheckpoint`` ``df`` with the scope name as the job
        description, restoring the caller's description afterwards."""
        sc = df.sparkSession.sparkContext
        prev = sc.getLocalProperty(_DESCRIPTION)
        sc.setJobDescription(self.name)
        try:
            return df.localCheckpoint(eager=True)
        finally:
            sc.setLocalProperty(_DESCRIPTION, prev)


@contextlib.contextmanager
def scope(name: str) -> Iterator[Scope]:
    """Open a materialization scope; see the module docstring."""
    m = Scope(name)
    try:
        yield m
    finally:
        for df in m.cached:
            df.unpersist(blocking=True)


def checkpoint(df: DataFrame, *, eager: bool) -> DataFrame:
    """Cut ``df``'s lineage with ``localCheckpoint``; no cache involved."""
    return df.localCheckpoint(eager=eager)
