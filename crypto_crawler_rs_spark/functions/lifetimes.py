"""One owner for the lifetime of every intermediate an operator makes.

Operators persist tables that one plan reads more than once, cut
lineage with ``localCheckpoint`` and ship small lookup tables as
broadcasts.  Each of those pins executor storage until someone
releases it, and a long-lived session or a many-round crawl must not
accumulate them.  Operators therefore create them only through
:func:`persist`, :func:`checkpoint` and :func:`broadcast`, which
register each resource with the innermost open :func:`scope`.  When
that scope exits it releases what it holds in reverse order:
DataFrames are unpersisted, broadcasts destroyed, and each checkpoint's
own RDD unpersisted.

The rule: **whoever runs the action opens the scope.**  An operator
that returns a lazy DataFrame cannot release what that DataFrame
reads, so it registers and returns; the caller wraps building the
plan AND running its action in one ``with scope():`` (a query in
``tools/check_oracles.py``, a frontier round, a bench point).  An
operator that runs its own actions and returns nothing lazy opens its
own scope (``dedup.write_band_index``, the frontier's
``recrawl_stale``).  Scopes do not nest in any caller: one caller
opens one scope around its work.  They stack only at run time, when
an eager operator's own scope runs inside its caller's.

With no scope open, :func:`persist` and friends behave exactly like
the plain Spark calls, and the resources live until the session's
``clearCache`` or garbage collection.

``DataFrame.unpersist()`` cannot release a local checkpoint: the
cache manager does not know about checkpoint RDDs.  The RDD a
checkpointed DataFrame reads is its analyzed plan's ``LogicalRDD``,
so the checkpoint's own blocks are found from the DataFrame itself,
with no scan of the session's persistent-RDD registry (which also
lists caches the checkpoint's job happened to fill, and which the
checkpoint does not own).
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame

_held: ContextVar[list | None] = ContextVar("lifetimes_held", default=None)


@contextmanager
def scope():
    """Own every resource :func:`persist`, :func:`checkpoint` and
    :func:`broadcast` create until exit.  Yields the list of held
    resources: DataFrames, broadcasts and checkpoint RDDs (JVM
    handles), in creation order."""
    held: list = []
    token = _held.set(held)
    try:
        yield held
    finally:
        _held.reset(token)
        for res in reversed(held):
            _release(res)


def _own(res):
    held = _held.get()
    if held is not None:
        held.append(res)
    return res


def _release(res) -> None:
    if isinstance(res, DataFrame):
        res.unpersist()
    elif isinstance(res, Broadcast):
        res.destroy()
    else:  # a checkpoint's JVM RDD; releasing it twice is a no-op
        res.unpersist(False)


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD holding a checkpointed DataFrame's blocks."""
    return df._jdf.queryExecution().analyzed().rdd()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)``, owned by the open scope."""
    return _own(df.persist(StorageLevel.MEMORY_AND_DISK))


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``df.localCheckpoint()``, its blocks owned by the open
    scope."""
    out = df.localCheckpoint(eager=True)
    _own(_checkpoint_rdd(out))
    return out


def broadcast(sc, value) -> Broadcast:
    """``sc.broadcast(value)``, destroyed when the open scope exits."""
    return _own(sc.broadcast(value))


class LocalCheckpointChain:
    """Eager localCheckpoints with bounded block retention, for
    iterative operators (pagerank's power iteration, connected
    components' label propagation).

    The checkpoint is the right lineage cut there: it keeps analysis
    cost flat across iterations.  But a 30-iteration loop would pin
    30 iterates of executor storage.  ``keep=2`` holds the newest
    iterate and its predecessor (convergence checks read both); each
    ``step`` releases every older iterate as soon as a new one
    materializes.  ``close()`` releases all but the newest, which the
    operator returns; the open scope releases that one.  A released
    iterate is unrecoverable (its lineage was cut), which is why the
    chain never releases the two live generations."""

    def __init__(self, keep: int = 2):
        self._keep = max(1, keep)
        self._live: list = []

    def step(self, df: DataFrame) -> DataFrame:
        out = checkpoint(df)
        self._live.append(_checkpoint_rdd(out))
        while len(self._live) > self._keep:
            self._live.pop(0).unpersist(False)
        return out

    def close(self) -> None:
        """Release every retained iterate except the newest."""
        for rdd in self._live[:-1]:
            rdd.unpersist(False)
        self._live.clear()
