"""Tracked DataFrame persistence for the query surface.

Query-builder functions persist intermediate frames that are referenced
more than once in the plan they return (signature tables fanned out to
banding + both verify probes, ANN prep tables probed per method). Spark's
cache holds strong references, so in a long-lived driver session that
builds many queries (the driver's correctness gate iterates all of them;
perfbench runs many jobs in one session) untracked persists accumulate
MEMORY_AND_DISK entries for the life of the session — executor memory
pressure and LRU churn that evicts the caches that matter.

``persist(df)`` is a drop-in replacement for ``df.persist()`` that records
the frame in a module registry; harness loops call ``release_persisted()``
between queries once the previous result is fully consumed. Inside one
query's execution the persist behaves exactly as before.

``stage(df)`` is the LINEAGE-CUTTING variant (lazy ``localCheckpoint``)
for deep multi-stage compositions (the curation cascades): a persisted
frame caches its *data* but keeps its full logical plan, and AQE
re-serializes the whole plan tree to an explain string on EVERY stage
materialization (AdaptiveSparkPlanExec.onUpdatePlan) — measured ~1 s per
job on the cascade's accumulated lineage, ~10 s for the final verdict
count alone at sf0.1. After localCheckpoint the frame is a LogicalRDD
leaf: plans downstream of each stage stay a few nodes deep and the same
count runs in ~0.4 s. Values are identical (the frame is computed once by
the same plan); the trade is classic localCheckpoint semantics — blocks
live on the executors that computed them, so an executor loss fails the
job instead of recomputing lineage. Local mode has a single process
(no such loss mode); cluster deployments at warehouse scale should point
the cascade at real stage tables instead, exactly as the docstrings
already direct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist(df: DataFrame) -> DataFrame:
    """df.persist(), tracked for later release_persisted()."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def stage(df: DataFrame) -> DataFrame:
    """Lazy localCheckpoint (lineage cut + block storage), tracked for
    release_persisted(). Use for stage frames inside deep compositions;
    see module docstring for why persist() is not enough there."""
    df = df.localCheckpoint(eager=False)
    _PERSISTED.append(df)
    return df


def _unpersist_checkpoint_rdd(df: DataFrame) -> None:
    """Free the block storage behind a localCheckpointed frame. The
    DataFrame's plan is a LogicalRDD over the checkpointed RDD;
    DataFrame.unpersist() only clears CacheManager entries, so the RDD
    blocks must be dropped through the plan node. Best-effort — a frame
    that was never materialized (or a non-LogicalRDD plan) is a no-op."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def release_persisted() -> int:
    """Unpersist every tracked frame (blocking=False); returns how many.
    Call between queries in harness loops — never mid-query, while a
    returned DataFrame that references a tracked frame is still to be
    consumed."""
    n = len(_PERSISTED)
    for df in _PERSISTED:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
        _unpersist_checkpoint_rdd(df)
    _PERSISTED.clear()
    return n
