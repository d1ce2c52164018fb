"""The ``medallion_etl`` workload: one weekly batch of the bronze AQS
feed through ``plans.pipeline.run_pipeline`` as four Activities, and the
DuckDB twin that checks the warehouse fact it leaves behind.

Every batch builds fresh plans, as a weekly scheduled job does. Tables
that are rewritten in full (dimensions, warehouse fact) are
truncate-and-load: each batch writes a new version directory and drops
the previous one only after the write succeeded.
"""

from __future__ import annotations

import os
import shutil

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.operators.buckets import aqi_category
from air_quality_etl_pipeline_spark.plans.gold import star_join
from air_quality_etl_pipeline_spark.plans.merge import merge_insert_if_absent
from air_quality_etl_pipeline_spark.plans.pipeline import Activity
from air_quality_etl_pipeline_spark.plans.silver import (
    MEASUREMENT_PK,
    POLLUTANT_STANDARDS,
    SITE_PK,
    silver_admin_area,
    silver_cbsa,
    silver_measurement,
    silver_method,
    silver_parameter,
    silver_site,
)
from air_quality_etl_pipeline_spark.sources.writers import (
    write_partitioned_dynamic_overwrite,
    write_with_metrics,
)

SILVER = {
    "measurement": silver_measurement,
    "site": silver_site,
    "admin_area": silver_admin_area,
    "cbsa": silver_cbsa,
    "parameter": silver_parameter,
    "method": silver_method,
}

#: warehouse dimension -> (silver table, natural key, surrogate key)
DIMS = {
    "dim_parameter": ("parameter", ["parameter_code"], "parameter_key"),
    "dim_site": ("site", SITE_PK, "location_key"),
    "dim_method": ("method", ["method_code"], "method_key"),
}


class Lake:
    """The on-disk state of one run of the DAG under *root*: which
    version directory holds each truncate-and-load table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.current: dict[str, str] = {}
        shutil.rmtree(root, ignore_errors=True)

    def read(self, name: str, like: DataFrame, key: str) -> DataFrame:
        """Current version of *name*, or an empty table shaped like
        *like* plus the surrogate *key* before the first load."""
        if name in self.current:
            return self.spark.read.parquet(self.current[name])
        return like.limit(0).withColumn(key, F.lit(None).cast("long"))

    def load(self, name: str, df: DataFrame, week: int) -> dict:
        """Truncate-and-load: write *df* as the new version of *name*."""
        path = f"{self.root}/warehouse/{name}/v{week:03d}"
        out = write_with_metrics(df, path)
        old = self.current.get(name)
        self.current[name] = path
        if old is not None:
            shutil.rmtree(old)
        return out


def activities(lake: Lake, week: int, bronze_file: str) -> list[Activity]:
    """The weekly DAG: bronze → silver → gold → warehouse."""
    spark = lake.spark
    silver_dir = f"{lake.root}/silver"

    def bronze(ctx):
        df = spark.read.parquet(bronze_file).withColumn("load_week", F.lit(week))
        write_partitioned_dynamic_overwrite(df, f"{lake.root}/bronze", ["load_week"])

    def silver(ctx):
        b = spark.read.parquet(f"{lake.root}/bronze").where(F.col("load_week") == week)
        return {
            name: write_with_metrics(fn(b), f"{silver_dir}/{name}/load_week={week}")["n_rows"]
            for name, fn in SILVER.items()
        }

    def gold(ctx):
        def silver_table(name):
            return spark.read.parquet(f"{silver_dir}/{name}/load_week={week}")

        dims = {}
        for dim, (src, keys, key) in DIMS.items():
            s = silver_table(src)
            merged = merge_insert_if_absent(
                lake.read(dim, s, key), s, keys, surrogate=key, order_by=keys
            )
            lake.load(dim, merged, week)
            dims[dim] = spark.read.parquet(lake.current[dim]).select(*keys, key)
        fact = star_join(
            silver_table("measurement"),
            [
                (dims["dim_parameter"], ["parameter_code"], "left"),
                (dims["dim_site"], SITE_PK, "left"),
                (dims["dim_method"], ["method_code"], "left"),
            ],
        ).withColumn("aqi_category", aqi_category(F.col("aqi")))
        return write_with_metrics(fact, f"{lake.root}/gold/fact/load_week={week}")["n_rows"]

    def warehouse(ctx):
        source = spark.read.parquet(f"{lake.root}/gold/fact/load_week={week}")
        before = ctx.get("_fact_rows", 0)
        merged = merge_insert_if_absent(
            lake.read("fact", source, "fact_key"),
            source,
            MEASUREMENT_PK,
            surrogate="fact_key",
            order_by=MEASUREMENT_PK,
        )
        after = lake.load("fact", merged, week)["n_rows"]
        ctx["_fact_rows"] = after
        return {"inserted": after - before, "offered": ctx["gold"]}

    return [
        Activity("bronze", bronze),
        Activity("silver", silver, depends_on=["bronze"]),
        Activity("gold", gold, depends_on=["silver"]),
        Activity("warehouse", warehouse, depends_on=["gold"]),
    ]


def _glob(files: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in files) + "]"


def twin_check(bronze_files: list[str], fact_dir: str) -> list[str]:
    """Compare the warehouse fact under *fact_dir* with a DuckDB SQL
    twin of the DAG computed straight from the bronze files: row count,
    distinct natural keys, decimal ``sum(aqi)``, and a dense
    ``fact_key`` 1..N. Returns the failed checks."""
    keys = ", ".join(MEASUREMENT_PK)
    standards = ", ".join(f"'{s}'" for s in POLLUTANT_STANDARDS)
    con = duckdb.connect()
    try:
        want = con.execute(
            f"""
            WITH valid AS (
              SELECT * REPLACE (trim(pollutant_standard) AS pollutant_standard)
              FROM read_parquet({_glob(bronze_files)})
              WHERE trim(pollutant_standard) IN ({standards})
                AND validity_indicator = 'Y'
                AND arithmetic_mean IS NOT NULL AND aqi IS NOT NULL
            ), one AS (SELECT DISTINCT {keys}, aqi FROM valid)
            SELECT count(*), count(DISTINCT ({keys})),
                   CAST(sum(CAST(aqi AS DECIMAL(18, 0))) AS BIGINT)
            FROM one
            """
        ).fetchone()
        got = con.execute(
            f"""
            SELECT count(*), count(DISTINCT ({keys})),
                   CAST(sum(CAST(aqi AS DECIMAL(18, 0))) AS BIGINT),
                   min(fact_key), max(fact_key), count(DISTINCT fact_key)
            FROM read_parquet('{fact_dir}/*.parquet')
            """
        ).fetchone()
    finally:
        con.close()
    failed = []
    for label, w, g in zip(("rows", "distinct keys", "sum(aqi)"), want, got):
        if w != g:
            failed.append(f"{label}: twin {w} != warehouse {g}")
    n = got[0]
    if (got[3], got[4], got[5]) != (1, n, n):
        failed.append(f"fact_key not dense 1..{n}: min/max/distinct {got[3:]}")
    return failed


#: bronze edge cases the medallion tests pin, as DuckDB predicates over
#: the generated files; each must match at least one row
EDGE_CASES = {
    "trailing whitespace": "pollutant_standard LIKE '% '",
    "validity N": "validity_indicator = 'N'",
    "null aqi": "aqi IS NULL",
    "null cbsa_code": "cbsa_code IS NULL",
    "null method_code": "method_code IS NULL",
    "unknown standard": f"trim(pollutant_standard) NOT IN ({', '.join(repr(s) for s in POLLUTANT_STANDARDS)})",
}


def bronze_check(bronze_files: list[str]) -> list[str]:
    """Every pinned edge case, plus duplicate natural keys, occurs in
    the generated feed. Returns the missing ones."""
    src = f"read_parquet({_glob(bronze_files)})"
    con = duckdb.connect()
    try:
        missing = [
            name
            for name, pred in EDGE_CASES.items()
            if con.execute(f"SELECT count(*) FROM {src} WHERE {pred}").fetchone()[0] == 0
        ]
        keys = ", ".join(MEASUREMENT_PK)
        dups = con.execute(
            f"SELECT count(*) - count(DISTINCT ({keys})) FROM {src}"
        ).fetchone()[0]
    finally:
        con.close()
    if dups == 0:
        missing.append("duplicate natural keys")
    return missing


def parquet_bytes(root: str) -> tuple[int, dict[str, int]]:
    """Total bytes of the parquet files under *root*, and each file's
    size by path."""
    sizes = {
        os.path.join(dp, f): os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }
    return sum(sizes.values()), sizes
