"""The one pin primitive: where a batch transform stops being lazy."""

from __future__ import annotations

from pyspark.sql import DataFrame

_DESCRIPTION = "spark.job.description"


def pin(df: DataFrame, reason: str) -> DataFrame:
    """``df`` materialized now (an eager ``localCheckpoint``) and read back
    as one ``Scan ExistingRDD``, so a frame that several plan branches
    read under different operators (where ReuseExchange cannot dedupe
    them) runs its lineage once. The materialization runs with the job
    description ``pin: <reason>``; the caller's description is put back
    afterwards and the job group is left alone.

    Trade: the lineage is cut, and the blocks live only on the executors.
    The ContextCleaner releases them once the pinned frame is
    garbage-collected; they never enter the CacheManager, so repeated
    calls do not pile up session-lifetime caches. Losing an executor
    (preemption, dynamic-allocation decommission) fails the query that
    reads the pin instead of recomputing the lost blocks. Run pinning
    operators on reliable executors or with ``spark.decommission.enabled``
    block migration; on a preemptible fleet, swap in ``persist()`` with an
    explicit ``unpersist()`` here."""
    sc = df.sparkSession.sparkContext
    caller = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(_DESCRIPTION, f"pin: {reason}")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty(_DESCRIPTION, caller)
