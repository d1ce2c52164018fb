"""Bounded cache lifecycle (round-12 verdict #4): persist-building
operators must be loop-safe when the caller passes ``cache_registry``
— no cached blocks may survive an ``owned_caches()`` block.

The tests count CacheManager entries, which is what ``persist()`` adds
and ``owned_caches`` must remove, and check each handle the registry
collected. They do not count the SparkContext's persistent RDDs: those
include the ``localCheckpoint`` blocks of earlier tests, which the
ContextCleaner frees asynchronously, so such a count drifts with the
test order."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.operators.cache import (
    owned_caches,
    register_persist,
)


def _n_cached(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _assert_freed(spark, base: int, reg: list) -> None:
    """Every handle *reg* collected is unpersisted and the CacheManager
    is back to *base* entries."""
    assert reg, "the operator registered no persisted handle"
    assert [df for df in reg if df.storageLevel != StorageLevel.NONE] == []
    assert _n_cached(spark) == base


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_owned_caches_unpersists_on_exit(spark):
    spark.catalog.clearCache()
    base = _n_cached(spark)
    with owned_caches() as reg:
        df = register_persist(spark.range(10), reg)
        df.count()  # materialize so blocks actually exist
        assert _n_cached(spark) == base + 1
    _assert_freed(spark, base, reg)


def test_owned_caches_unpersists_on_error(spark):
    spark.catalog.clearCache()
    base = _n_cached(spark)
    try:
        with owned_caches() as reg:
            register_persist(spark.range(10), reg).count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    _assert_freed(spark, base, reg)


def test_bitext_loop_leaks_nothing_with_registry(spark):
    """The named r12 loop-caller scenario: repeated bitext mining in
    one session stays cache-bounded when each build runs under
    owned_caches()."""
    from air_quality_etl_pipeline_spark.operators.similarity import (
        bitext_doc_align,
        bitext_margin_mine,
    )

    spark.catalog.clearCache()
    base = _n_cached(spark)
    src = _vecs(spark, [(0, [1.0, 0.0]), (2, [0.6, 0.8])])
    tgt = _vecs(spark, [(1, [1.0, 0.0]), (3, [0.0, 1.0])])
    docs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [0.8, 0.6]), (1, [0.0, 1.0])],
        "d long, embedding array<double>",
    )
    for _ in range(2):
        with owned_caches() as reg:
            bitext_margin_mine(src, tgt, k=1, cache_registry=reg).count()
            assert _n_cached(spark) > base
        _assert_freed(spark, base, reg)
        with owned_caches() as reg:
            bitext_doc_align(
                docs, docs, doc_col="d", k=1, cache_registry=reg
            ).count()
            assert _n_cached(spark) > base
        _assert_freed(spark, base, reg)


def test_classifier_retrain_loop_leaks_nothing_with_registry(spark):
    from air_quality_etl_pipeline_spark.operators.text import (
        quality_classifier_weights,
    )

    spark.catalog.clearCache()
    base = _n_cached(spark)
    labeled = spark.createDataFrame(
        [(1, "good clean prose here", 1), (2, "spam spam spam", 0),
         (3, "more quality writing", 1), (4, "buy now click here", 0)],
        "doc_id long, text string, y int",
    )
    for _ in range(2):
        with owned_caches() as reg:
            quality_classifier_weights(
                labeled, n_buckets=64, cache_registry=reg
            ).count()
            assert _n_cached(spark) > base
        _assert_freed(spark, base, reg)


def test_materialize_local_checkpoint_without_checkpoint_dir(spark):
    from air_quality_etl_pipeline_spark.operators.cache import materialize

    assert spark.sparkContext.getCheckpointDir() is None
    spark.catalog.clearCache()
    out = materialize(spark.range(20).withColumn("sq", F.col("id") * F.col("id")))
    # lineage cut at a LogicalRDD leaf, and no CacheManager entry
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan and "Range" not in plan
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert sorted(r.sq for r in out.collect()) == [i * i for i in range(20)]


def test_materialize_reliable_checkpoint_with_checkpoint_dir(spark, tmp_path):
    from air_quality_etl_pipeline_spark.operators.cache import materialize

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path))
    try:
        out = materialize(spark.range(20).withColumn("x", F.col("id") + 1))
        # the reliable branch writes the rows under the checkpoint dir
        written = [p for p in tmp_path.rglob("part-*") if p.is_file()]
        assert written
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" in plan and "Range" not in plan
        assert sorted(r.x for r in out.collect()) == list(range(1, 21))
    finally:
        # SparkContext has no public unset: clear the JVM-side field so
        # later tests keep the default localCheckpoint branch
        setter = getattr(sc._jsc.sc(), "checkpointDir_$eq")
        setter(spark._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None
