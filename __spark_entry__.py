"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``air_quality_etl_pipeline_spark`` — this module
only adapts the registry in ``air_quality_etl_pipeline_spark.workload``
to the driver's interface.

``queries()`` and ``oracle_sql()`` follow the registry's registration
order and hold the same names; ``scripts/verify_subset.py`` runs them
through the compare in ``air_quality_etl_pipeline_spark.oracle``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from air_quality_etl_pipeline_spark.session import tune_session
from air_quality_etl_pipeline_spark.workload import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the end-to-end medallion
    slice (scan → filter/dedup → star join → bucketing → aggregate)."""
    tune_session(spark)
    fn, _ = QUERIES["gold_star_fact"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin for every query in :func:`queries`."""
    return {name: oracle for name, (_, oracle) in QUERIES.items()}
