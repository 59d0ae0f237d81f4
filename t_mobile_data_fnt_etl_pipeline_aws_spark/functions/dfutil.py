"""DataFrame materialization helpers (guide §2.4 / §5).

Two tiers for "compute a multi-referenced intermediate once":

* ``localCheckpoint()`` — right for SMALL decision tables (bounded
  row caps: collected centroids, ≤500-doc fingerprint slices, ≤625-row
  edge lists). It truncates lineage, so a lost executor block KILLS the
  query instead of recomputing — acceptable only when the table is
  trivially small and the recompute-from-scratch cost is a rounding
  error anyway.

* ``materialized()`` (below) — for CORPUS-SIZED intermediates
  (VERDICT r15 item 4): ``persist(MEMORY_AND_DISK)`` keeps lineage, so
  an executor loss recomputes just the lost partitions; the eager
  count populates the cache so every downstream reference reuses ONE
  compute (the cache substitution also acts as the same optimizer
  barrier a checkpoint provides — references resolve to the
  InMemoryRelation, never re-inline the upstream expressions).

tests/test_invariants.py pins the rule: every ``localCheckpoint()``
call site must carry a documented row cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialized(df: DataFrame) -> DataFrame:
    """Executor-loss-safe single materialization of a corpus-sized,
    multi-referenced intermediate: persist with lineage intact and
    populate eagerly. The persisted blocks stay in the session cache
    until ``spark.catalog.clearCache()`` (or an unpersist) releases
    them, so the caller bounds their lifetime: bench.py clears the cache
    before every run and the oracle test after each key. A caller that
    runs a query again without clearing reads the blocks the earlier run
    persisted instead of re-computing from parquet.
    """
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df
