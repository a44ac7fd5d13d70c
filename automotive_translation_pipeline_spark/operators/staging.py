"""Materialized intermediates: the one place the package persists or
checkpoints a DataFrame, and the scope that releases what it staged.

:func:`stage` materializes a frame in one of three forms:

* ``"checkpoint"`` — eager ``localCheckpoint()``: one blocking job
  writes the frame's blocks and truncates its lineage. The form for a
  bounded table with several consumers that would otherwise race a lazy
  cache as concurrent stages.
* ``"lazy"`` — ``localCheckpoint(eager=False)``: the blocks are written
  by the first action that reads the frame (loop invariants and
  per-round truncation of an iterative plan).
* ``"cache"`` — lazy ``persist()``: the frame's plan stays, and Spark
  substitutes the cached relation wherever an equal subtree appears.

:func:`staged` opens a scope. Every frame staged inside it, on this
thread, is released when the scope exits, also on error: a cached frame
with ``unpersist()``, a checkpoint by unpersisting the RDD its plan
reads. A checkpoint read after its scope closed fails with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``; it is not silently recomputed.
So run every action on a scope's frames inside the ``with``. With no
scope open, :func:`stage` keeps no reference: the frame lives until it
is garbage-collected (or, cached, until ``clearCache()``). The scope is
a context variable, so a thread never releases another thread's frames.

localCheckpoint doctrine:

* ``localCheckpoint`` stores blocks on EXECUTORS ONLY. It truncates
  lineage, so it is NOT fault-tolerant: losing an executor (a bad
  node, or dynamic allocation shrinking the pool) makes every
  downstream action fail with missing checkpoint blocks. On the
  long-running cluster deployments the operator docstrings target,
  either pin executors for the job's lifetime
  (``spark.dynamicAllocation.enabled=false`` or cached-block timeouts
  high), or swap in a RELIABLE checkpoint for the few corpus-critical
  intermediates: ``spark.sparkContext.setCheckpointDir(...)`` +
  ``df.checkpoint()`` (same truncation semantics, HDFS/object-store
  durability, one extra write+read). Every call site here checkpoints
  BOUNDED intermediates (vocabulary-, group-, or candidate-sized
  tables — never the corpus), so the reliable form's extra I/O is
  cheap where it matters.
* Checkpoint blocks are released when the DataFrame is
  garbage-collected or its RDD unpersisted (:func:`release`, or the
  end of a :func:`staged` scope) — NOT by
  ``spark.catalog.clearCache()``, which clears only the SQL relation
  cache.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_scope: ContextVar[list[DataFrame] | None] = ContextVar("staged", default=None)

_FORMS = {
    "checkpoint": lambda df: df.localCheckpoint(),
    "lazy": lambda df: df.localCheckpoint(eager=False),
    "cache": lambda df: df.persist(),
}


def stage(df: DataFrame, form: str = "checkpoint") -> DataFrame:
    """Materialize ``df`` as ``form`` (``"checkpoint"``, ``"lazy"`` or
    ``"cache"``) and return the frame to read; the open :func:`staged`
    scope, if any, releases it on exit."""
    out = _FORMS[form](df)
    held = _scope.get()
    if held is not None:
        held.append(out)
    return out


def release(*dfs: DataFrame) -> None:
    """Release staged frames now, before their scope ends."""
    held = _scope.get()
    for df in dfs:
        if df.is_cached:
            df.unpersist()
        else:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        if held is not None:
            held[:] = [h for h in held if h is not df]


@contextmanager
def staged() -> Iterator[None]:
    """A scope that releases every frame staged inside it on exit."""
    held: list[DataFrame] = []
    token = _scope.set(held)
    try:
        yield
    finally:
        _scope.reset(token)
        for df in held:
            release(df)
