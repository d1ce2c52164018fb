"""The one materialization policy: builders leave nothing in the
session cache.

A lazy ``persist()``/``cache()`` inside a builder registers a
CacheManager entry that outlives the query: a later build with the
same logical plan re-matches it, so a query's cost would depend on what
ran before it in the session, and a loop or stream that rebuilds the
plan grows the cache without bound. Builders therefore make no lazy
persist at all. An intermediate referenced twice is left to the
engine: AQE reuses identical exchange subtrees within one execution
(``OPTIMIZATION_r14.md``, "Mechanism re-probes" #1), so the "no subtree
reuse" premise behind the old persists no longer holds. Where a
cache-cleared measurement shows the engine re-executing an expensive
subtree anyway, or an iterative operator must cut its lineage or count
a relation before it can plan the next step, the builder calls
:func:`materialize`. Being eager, it runs Spark jobs at build time, so
a registered query that reaches it belongs in
``workload.REBUILD_PURE_QUERIES``.

Per-site decisions and their measurements are in SCALE.md ("Builders
leave nothing in the session cache"); ``tests/test_oracle_parity.py``
fences every registered query's build against leaving a CacheManager
entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize *df* and return a frame rooted at the
    result. With a checkpoint directory configured
    (``spark.checkpoint.dir`` or ``SparkContext.setCheckpointDir``) it
    is a reliable ``checkpoint``, which survives executor loss;
    otherwise an eager ``localCheckpoint``, whose executor-local blocks
    are faster to write but lost with their executor. Either way the
    blocks belong to the returned frame (freed when it is
    garbage-collected) and no CacheManager entry is created, so
    rebuilding callers never leak."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
