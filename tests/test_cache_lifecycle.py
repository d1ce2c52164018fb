"""Builders leave nothing in the session cache: operators that used to
persist an intermediate internally must be loop-safe with plain calls,
and :func:`~air_quality_etl_pipeline_spark.operators.cache.materialize`
(the one materialization policy) must create no CacheManager entry.

The tests count CacheManager entries, which is what ``persist()`` adds.
They do not count the SparkContext's persistent RDDs: those include the
``localCheckpoint`` blocks of earlier tests, which the ContextCleaner
frees asynchronously, so such a count drifts with the test order."""

from __future__ import annotations

from pyspark.sql import functions as F


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_bitext_loop_leaks_nothing_with_registry(spark):
    """The r12 loop-caller scenario: repeated bitext mining in one
    session leaves no cache entry, with no registry to pass."""
    from air_quality_etl_pipeline_spark.operators.similarity import (
        bitext_doc_align,
        bitext_margin_mine,
    )

    spark.catalog.clearCache()
    src = _vecs(spark, [(0, [1.0, 0.0]), (2, [0.6, 0.8])])
    tgt = _vecs(spark, [(1, [1.0, 0.0]), (3, [0.0, 1.0])])
    docs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [0.8, 0.6]), (1, [0.0, 1.0])],
        "d long, embedding array<double>",
    )
    for _ in range(2):
        bitext_margin_mine(src, tgt, k=1).count()
        bitext_doc_align(docs, docs, doc_col="d", k=1).count()
    assert _cache_empty(spark)


def test_classifier_retrain_loop_leaks_nothing_with_registry(spark):
    """A retraining loop of plain calls leaves no cache entry."""
    from air_quality_etl_pipeline_spark.operators.text import (
        quality_classifier_weights,
    )

    spark.catalog.clearCache()
    labeled = spark.createDataFrame(
        [(1, "good clean prose here", 1), (2, "spam spam spam", 0),
         (3, "more quality writing", 1), (4, "buy now click here", 0)],
        "doc_id long, text string, y int",
    )
    for _ in range(2):
        quality_classifier_weights(labeled, n_buckets=64).count()
    assert _cache_empty(spark)


def test_materialize_local_checkpoint_without_checkpoint_dir(spark):
    from air_quality_etl_pipeline_spark.operators.cache import materialize

    assert spark.sparkContext.getCheckpointDir() is None
    spark.catalog.clearCache()
    out = materialize(spark.range(20).withColumn("sq", F.col("id") * F.col("id")))
    # lineage cut at a LogicalRDD leaf, and no CacheManager entry
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan and "Range" not in plan
    assert _cache_empty(spark)
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
