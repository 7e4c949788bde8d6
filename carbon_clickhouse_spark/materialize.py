"""Reuse materialization for shared intermediates.

Several operators compute an expensive narrow table once and read it
from more than one consumer (LSH bucket tables, the DSIR ratio table,
the find-metrics index, CCNet scores, reference tokenization). Spark
plans each consumer independently, so without an explicit
materialization the producing pipeline runs once PER consumer.

The strategy follows from where the session runs, so there is nothing
to configure:

- on a ``local*`` master, lazy ``localCheckpoint``: the fastest form.
  It truncates lineage and keeps unreplicated blocks for the app
  lifetime, which costs nothing when driver and executors are one JVM
  that cannot lose an executor on its own.
- on any other master, lazy ``persist(MEMORY_AND_DISK)``: it KEEPS
  lineage (an executor loss recomputes the lost partitions), spills to
  disk under memory pressure, and can be released with ``unpersist()``.

Both strategies return the SAME rows; only reuse mechanics and failure
semantics differ (pinned by tests/test_materialize.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Mark ``df`` for one-time computation and multi-consumer reuse:
    ``localCheckpoint`` in local mode, ``persist(MEMORY_AND_DISK)``
    otherwise (see the module docstring)."""
    if df.sparkSession.sparkContext.master.startswith("local"):
        return df.localCheckpoint(eager=False)
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)
