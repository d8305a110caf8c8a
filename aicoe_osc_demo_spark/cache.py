"""Every materialization decision of the engine.

The engine builds lazy Spark plans.  An intermediate is materialized only
where an operator names one of three intents, and only this module turns
an intent into a Spark call:

- ``shared(df)``: a BOUNDED intermediate that several branches of one plan
  read (a table bounded by a vocabulary, group count or document count,
  never the fact table).  A lazy ``localCheckpoint``: every branch reads
  its blocks instead of re-running the chain.  Lazy covers only its last
  stage, which runs inside the first job that reads it; under adaptive
  query execution the shuffle stages below it run while the plan is
  built.
- ``round_cut(df)``: the per-round lineage cut of a driver loop (BPE merge
  steps, ``dedup_clusters`` rounds).  An eager ``localCheckpoint``: it runs
  its job now, so the next round's plan starts from materialized blocks
  and stays O(1) deep.
- ``CacheScope.keep(df)``: an artifact an operator call owns (the IVF-PQ
  training artifacts, the PPJoin shingle base, the PageRank edge frame).
  A ``persist()`` registered with a scope, which releases it.

The ownership contract for operators that persist artifacts is one form::

    s = CacheScope.of(scope)
    x = s.keep(x)
    ...
    return s.result(res)

Without a caller's scope the call owns a private one: ``result`` pins the
(small) result with one eager local checkpoint and releases every
artifact before returning, so composed calls accumulate only
result-sized blocks, which the ContextCleaner reclaims.  With a caller's
scope (``with CacheScope() as s: op(..., scope=s)``) the artifacts
register there and the plan is returned LAZY, inspectable and reusable
across several actions until the caller's ``release()``.  A nested owner
passes its ``s`` down, so each call pins exactly once.  Nothing here uses
the global ``spark.catalog.clearCache()``, which would also drop
unrelated caches.

Recovery: a persisted frame that loses blocks with an executor is
recomputed from its lineage (RDD lineage, Zaharia et al., NSDI 2012).
Local-checkpoint blocks have no lineage: they die with their executor,
and Spark documents non-eager local checkpoints as unsafe under dynamic
allocation.  The engine takes that trade for ``shared``, ``round_cut``
and the result pin because they hold bounded tables within one caller
action.  A cluster deployment with dynamic allocation or strict
fault-tolerance needs changes those three calls, all in this module (to a
reliable ``checkpoint()`` after ``SparkContext.setCheckpointDir``); no
operator changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shared(df: DataFrame) -> DataFrame:
    """A bounded intermediate that several branches of one plan share."""
    return df.localCheckpoint(eager=False)


def round_cut(df: DataFrame) -> DataFrame:
    """The lineage cut of one round of a driver loop; runs its job now."""
    return df.localCheckpoint(eager=True)


def keep_in(scope: "CacheScope | None", *dfs: DataFrame) -> tuple[DataFrame, ...]:
    """For a function that returns LAZY frames and so has no release
    point: persist ``dfs`` into the caller's ``scope``, or leave them
    lazy when there is none."""
    if scope is None:
        return dfs
    return tuple(scope.keep(df) for df in dfs)


class CacheScope:
    """Collects the DataFrames operator calls persist so that their owner
    releases them deterministically (``release()`` / context-manager exit).
    A scope the caller constructs is the caller's: operators borrow it and
    return lazy plans."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []
        self._owned = False

    @classmethod
    def of(cls, scope: "CacheScope | None") -> "CacheScope":
        """The scope one operator call works in: the caller's ``scope``,
        borrowed (persists register there, ``result`` stays lazy), or,
        without one, a private scope that ``result`` pins and releases."""
        s = cls()
        if scope is None:
            s._owned = True
        else:
            s._frames = scope._frames
        return s

    def keep(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until this scope's owner releases it."""
        df = df.persist()
        self._frames.append(df)
        return df

    def result(self, res: DataFrame) -> DataFrame:
        """Return an operator's result.  A private scope that holds
        artifacts pins ``res`` with one eager local checkpoint and releases
        them; a borrowed scope (or one with nothing to release) returns
        ``res`` lazily."""
        if not (self._owned and self._frames):
            return res
        res = res.localCheckpoint(eager=True)
        self.release()
        return res

    def release(self) -> None:
        """Unpersist every registered frame (blocking, so storage is
        verifiably freed when this returns) and forget them."""
        for df in self._frames:
            df.unpersist(blocking=True)
        self._frames.clear()

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()
