"""Readers (SURVEY §2.1 S5-S7).

Parquet scans and managed-table scans (S6, ``spark.table(name)``) are
stock Spark (the reference uses them verbatim); the CSV reader reproduces the Power Query shape —
``Csv.Document`` → ``PromoteHeaders`` → ``TransformColumnTypes``
(reference: ``Population Dataflow.Dataflow/mashup.pq:12-14``) — as
header-aware reads plus explicit typed casts.

Scan hygiene at 100 TB: always pass a declared schema (no inference
pass) and keep filters/projections directly on the scan DataFrame so
Catalyst pushes predicates into the parquet reader (``PushedFilters``)
and prunes partition directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from air_quality_etl_pipeline_spark.operators.cache import materialize


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S5: hive-partitioned parquet scan; partition columns come from
    the directory layout and prune on partition-column predicates."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """S7: CSV with header promotion. Prefer a declared *schema*;
    without one, columns arrive as strings for :func:`cast_columns`
    (the PromoteHeaders → TransformColumnTypes sequence)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.csv(path)


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """CSV ingest that QUARANTINES malformed rows instead of dropping
    or dying on them: returns ``(clean_rows, corrupt_rows)``.

    PERMISSIVE mode parses what it can and lands the raw text of any
    row that doesn't fit the declared schema in ``_corrupt_record`` —
    the generalization of the reference's try/except-and-skip schema
    guard (``automated_ingestion...py:202-206`` in the reference repo),
    except nothing is silently lost: the quarantine side is a real
    DataFrame a pipeline can count (gate), persist (triage), or replay
    after a schema fix. One scan serves both sides: the parsed relation
    is materialized (``cache.materialize``) at the call, which leaves no
    session cache entry behind and also lifts Spark's ban on raw-CSV
    queries that reference only the corrupt-record column.
    """

    full = f"{schema_ddl}, _corrupt_record STRING"
    df = materialize(
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(full)
        .csv(path)
    )
    clean = df.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    corrupt = df.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, corrupt


def avro_available(spark: SparkSession) -> bool:
    """Whether the ``spark-avro`` module is on the session's JVM
    classpath. Avro is an EXTERNAL module of the Spark distribution
    (``org.apache.spark:spark-avro_2.13``) — clusters routinely ship
    it, this container's distribution does not (verified, SCALE.md
    "Environment blockers"), so the reader/writer pair below is
    availability-gated the same way transformWithStateInPandas is:
    real code, a registry probe, a skipping test.

    The probe goes through Spark's own ``DataSource.lookupDataSource``
    — a bare ``Class.forName`` on an avro class is WRONG here, because
    the core jar ships stub classes whose only job is raising the
    'deploy spark-avro' message (measured in this container: the class
    resolves, the write still fails)."""
    try:
        jvm = spark._jvm
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", jvm.org.apache.spark.sql.internal.SQLConf()
        )
        return True
    except Exception as exc:  # noqa: BLE001 — discriminated below
        # Only a FAILED LOOKUP means "jar absent" — Spark raises
        # AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE / 'Failed to find
        # data source' with the '--packages' remediation. Any other
        # exception (transient JVM/py4j failure) must propagate, not
        # masquerade as a missing jar (round-8 advisor fix).
        msg = str(exc)
        if (
            "Failed to find data source" in msg
            or "FAILED_TO_LOAD_DATA_SOURCE" in msg
            or "AVRO_NOT_LOADED" in msg
        ):
            return False
        raise


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan (row-major format common at ingest boundaries —
    Kafka dumps, sqoop exports). Raises a clear error naming the
    missing module when the jar isn't shipped, instead of Spark's
    generic 'Failed to find data source: avro'."""
    if not avro_available(spark):
        raise RuntimeError(
            "spark-avro is not on the classpath; launch with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    return spark.read.format("avro").load(path)


def cast_columns(df: DataFrame, types: dict[str, str]) -> DataFrame:
    """TransformColumnTypes: explicit per-column casts, everything else
    untouched."""
    return df.select(
        *[
            F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
            for c in df.columns
        ]
    )
