"""Bounded cache lifecycle for persist-building operators (round-12
verdict #4).

Several operators ``persist()`` an intermediate internally. The
original premise — that this runtime performs no exchange/subtree
reuse, so a relation referenced twice executes its subtree twice
(SCALE.md r9/r10) — is stale: AQE does deduplicate identical exchange
subtrees within one execution (``OPTIMIZATION_r14.md``, "Mechanism
re-probes" #1), but only while the consumer subtrees stay canonically
equal, so each surviving persist must be justified by a measurement.
Those persists are correct per-call but CALLER-OWNED — a
caller that rebuilds such a plan in a loop (stress sweeps, retraining
loops) accumulates cached blocks until the session evicts them, and
``spark.catalog.clearCache()`` is the only blunt recourse.

:func:`owned_caches` makes the ownership explicit and bounded: the
persist-building operators accept ``cache_registry: list | None`` and
record every DataFrame they persist via :func:`register_persist`; the
context manager unpersists all of them on exit. Unpersisting the
DataFrame handle (not its raw RDD) removes BOTH the storage blocks and
the CacheManager's logical-plan entry — an RDD-level unpersist would
leave the plan entry behind and silently re-cache on the next
plan-equality match (the r12 warm-cache measurement artifact).
"""

from __future__ import annotations

import contextlib
from typing import Iterator

from pyspark.sql import DataFrame


@contextlib.contextmanager
def owned_caches() -> Iterator[list]:
    """Collect the DataFrames an operator persists internally (via its
    ``cache_registry`` parameter) and unpersist every one on exit —
    success or failure. Usage::

        with owned_caches() as reg:
            out = bitext_margin_mine(src, tgt, cache_registry=reg)
            out.write.format("noop").mode("overwrite").save()
        # every internal persist freed here; loop callers stay bounded

    Leak-pinned in tests/test_cache_lifecycle.py via the
    CacheManager's entry count before/after.
    """
    reg: list[DataFrame] = []
    try:
        yield reg
    finally:
        for df in reg:
            with contextlib.suppress(Exception):
                df.unpersist()


def register_persist(
    df: DataFrame, cache_registry: list | None
) -> DataFrame:
    """``persist()`` *df* and record the handle in *cache_registry*
    (when the caller supplied one) — the one-line idiom for
    persist-building operators. With ``cache_registry=None`` the
    behavior is exactly the historical caller-owned persist."""
    out = df.persist()
    if cache_registry is not None:
        cache_registry.append(out)
    return out


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize *df* and return a frame rooted at the
    result — the one materialization policy for operators that must
    cut a lineage or count a relation before deciding a plan. With a
    checkpoint directory configured (``spark.checkpoint.dir`` or
    ``SparkContext.setCheckpointDir``) it is a reliable ``checkpoint``,
    which survives executor loss; otherwise an eager
    ``localCheckpoint``, whose executor-local blocks are faster to
    write but lost with their executor. Either way the blocks belong
    to the returned frame (freed when it is garbage-collected) and no
    CacheManager entry is created, so rebuilding callers never leak."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
