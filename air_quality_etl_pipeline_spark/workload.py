"""The query workload: every SURVEY §2 operator expressed as a named
query over the driver's testdata tables, each with a DuckDB oracle twin.

Layout: ``QUERIES[name] = (spark_fn, oracle_sql)`` where
``spark_fn(spark, sf_dir) -> DataFrame``. ``__spark_entry__.py`` exposes
these to the driver harness.

The order is the registration order: this module's queries, then each
``workload_*`` module's in import order. ``oracle.compare`` checks one
query against its oracle.

Import rule: a ``workload_*`` module imports this module's helpers (all
defined above the tail block that loads the ``workload_*`` modules),
``oracle_fragments`` and the layers below, never another ``workload_*``
module.

Engine-portability rules used throughout (so order-insensitive value
hashes match across Spark and DuckDB):

* Monetary/metric sums go through ``DECIMAL(18,2)`` — exact, associative,
  order-independent — and are cast to double only at the very end.
* Averages are ``exact_decimal_sum / count`` (single double division),
  never engine-native ``avg`` over doubles (accumulation-order hazard).
* Dates are emitted as ``yyyy-MM-dd`` strings, booleans as 0/1 ints,
  int-typed outputs as BIGINT on both engines.
* Every computed column is aliased identically in both formulations.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import round_portable
from air_quality_etl_pipeline_spark.operators.buckets import (
    binary_category,
    bucketize,
    flag_threshold,
    map_by_lists,
)
from air_quality_etl_pipeline_spark.operators.cleaning import dedup_first, keep_in, valid_rows
from air_quality_etl_pipeline_spark.operators.dates import with_date_parts
from air_quality_etl_pipeline_spark.plans import metrics
from air_quality_etl_pipeline_spark.plans.gold import (
    star_join,
    surrogate_key,
    surrogate_key_ranked,
)
from air_quality_etl_pipeline_spark.plans.merge import merge_insert_if_absent

SparkQuery = Callable[[SparkSession, str], DataFrame]
T = TypeVar("T")

#: registry filled at import time: name -> (spark_fn, oracle_sql)
QUERIES: dict[str, tuple[SparkQuery, str]] = {}


def register(name: str, oracle: str):
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            # a silent overwrite drops the old query's coverage on the
            # floor (round 8 nearly shipped exactly that: a new
            # 'cdc_apply_latest' shadowing the round-5 one)
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = (fn, oracle)
        return fn

    return deco


#: scan-plan cache: (session, sf_dir, table) -> resolved DataFrame.
#: spark.read.parquet re-lists the directory and re-reads footers for
#: schema on EVERY call (~0.1 s/table on the driver) — a catalog-backed
#: engine resolves a table once; this dict is that catalog. DataFrame
#: plans are immutable, so reuse is safe. Keying on the session object
#: itself (kept alive by the dict) scopes entries to a live session.
#:
#: LIFECYCLE: entries are never evicted, and the session key keeps each
#: SparkSession (and its JVM handle) reachable for the life of the
#: process. That is the right trade for this registry's lifecycles —
#: one session per pytest run / bench run / driver gate, O(10 tables ×
#: 3 sf dirs) entries of lightweight plan objects. If this registry
#: ever backs a long-lived multi-tenant service that cycles sessions,
#: switch the session key to a weakref (``weakref.WeakValueDictionary``
#: keyed per-session, or evict on ``SparkSession.stop``) so stopped
#: sessions and their cached plans can be collected.
_SCAN_CACHE: dict[tuple, DataFrame] = {}


#: don't bother spreading scans of inputs below this size — the
#: round-robin exchange would cost a stage for dimension tables whose
#: downstream use is a broadcast anyway
_SPREAD_MIN_BYTES = 100_000

#: spread only PAYLOAD-HEAVY tables (stored bytes/row): wide text
#: payloads mean heavy per-row scan compute (tokenize, regex, md5)
#: where serial scanning starves 31 cores — documents ≈119 B/row vs
#: narrow relational rows (lineitem 18 B, orders 18 B, events 20 B)
#: whose trivial per-row work makes the added round-robin exchange
#: cost MORE than the serial scan (measured: +0.1–0.3 s per query
#: across the relational headline when spread unconditionally)
_SPREAD_MIN_BYTES_PER_ROW = 64


def _spread_small_scan(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Normalize scan parallelism for SMALL inputs: every driver
    parquet table is a single file with ONE row group, so Spark scans
    it as one task and every scan-stage expression (tokenize, explode,
    regex, md5, decode) runs on one core of 32 — a plan no real
    cluster would produce, since at 100 TB a table spans thousands of
    row groups and the scan parallelizes naturally. When the scan has
    fewer partitions than cores AND the input is small enough that
    redistributing it is free (≤ a few MB here), insert one
    round-robin repartition so downstream per-row work uses the
    machine; at scale the condition is false and this is a no-op.
    Filters/pruning still reach the scan (Catalyst pushes both
    through Repartition). Gated on stored bytes/row
    (``_SPREAD_MIN_BYTES_PER_ROW``): only payload-heavy tables
    (text/vectors) benefit; for narrow relational rows the exchange
    costs more than the serial scan saves (both directions measured —
    SCALE.md round 10). decontaminate_eval 2.77→0.56 s at sf0.1."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    if size < _SPREAD_MIN_BYTES:
        return df
    try:
        import pyarrow.parquet as pq

        rows = pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return df
    if rows <= 0 or size / rows < _SPREAD_MIN_BYTES_PER_ROW:
        return df
    # string payload required: the serial-scan bottleneck class is
    # per-row STRING compute. Fixed-width numeric/array tables (e.g.
    # the 2000-row embeddings table, 400 B/row) measured a NET LOSS
    # when spread — their vector math streams fine from one scan task
    # and the pq/ivf builders pay an extra stage per rebuilt job
    # (family total 4.03→4.83 s with embeddings spread; SCALE.md r10)
    from pyspark.sql.types import StringType

    if not any(
        isinstance(f.dataType, StringType) for f in df.schema.fields
    ):
        return df
    dp = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < dp:
        df = df.repartition(dp)
    return df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark, sf_dir, name)
    df = _SCAN_CACHE.get(key)
    if df is None:
        path = f"{sf_dir}/{name}.parquet"
        df = _spread_small_scan(spark, spark.read.parquet(path), path)
        _SCAN_CACHE[key] = df
    return df


def _sql_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        _t(spark, sf_dir, t).createOrReplaceTempView(f"{t}_v")


#: prepared-statement cache: (session, sf_dir, query name) -> the fully
#: built DataFrame. Building a plan costs 0.4-1.6 s of py4j round-trips
#: on this rig while executing it costs 40-200 ms at sf0.1 — a real
#: engine parses/plans a repeated query once (prepared statements, plan
#: caches in Presto/Trino and Spark's own IR caching for SQL strings).
#: A cached object re-executes the plan on every action but never
#: re-runs its builder, so only builds that ran no Spark job land here.
_PLAN_CACHE: dict[tuple, DataFrame] = {}

#: Queries whose builder writes files or drives a stream (sink
#: round-trips, REST ingest, index writes, streaming run-to-completion),
#: so a registry plan sweep must not build them. Extended by the
#: workload_* modules at import.
SIDE_EFFECT_QUERIES: set[str] = set()

def count_jobs(spark: SparkSession, build: Callable[[], T]) -> tuple[T, int]:
    """``build()``'s result and the number of Spark jobs it launched.

    The jobs are counted through a job tag unique to this call. A tag
    adds to a job and leaves the caller's job group alone, so a tracer
    that attributes jobs through ``setJobGroup`` still sees them. The
    status tracker is fed by an asynchronous listener; a job's start
    event reaches it before the action that ran the job returns
    (``tests/test_plan_quality.py::test_build_job_audit_still_detects``
    fences that)."""
    sc = spark.sparkContext
    tag = f"aq-build-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = build()
    finally:
        sc.removeJobTag(tag)
    return out, len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


def prepared(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The built DataFrame for a registered query, kept per (session,
    sf_dir) once a build of it ran no Spark job — re-running an action
    on it re-executes the plan against current data, exactly like a
    prepared statement. A build that ran jobs (a write, a stream, an
    iteration, a summary collect, a materialize, or the first read of
    a table's schema) is not kept, so every call repeats that work."""
    key = (spark, sf_dir, name)
    df = _PLAN_CACHE.get(key)
    if df is None:
        df, jobs = count_jobs(spark, lambda: QUERIES[name][0](spark, sf_dir))
        if jobs == 0:
            _PLAN_CACHE[key] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table loader, robust to the physical ``ts`` encoding.

    Driver-generated events.parquet has stored ``ts`` two ways across
    rounds: TIMESTAMP(NANOS) (which old Spark reads as INT64 nanos under
    the legacy conf) and plain TIMESTAMP(MICROS). Resolve the schema,
    then convert only if needed — INT64 nanos via integer DIV (not float
    division: nanos ≈ 1.7e18 exceeds double's 2^53 integer range), which
    matches DuckDB's own nanos→micros truncation. A micros timestamp
    (TIMESTAMP/TIMESTAMP_NTZ) passes through untouched."""
    key = (spark, sf_dir, "events:converted")
    df = _SCAN_CACHE.get(key)
    if df is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # value-preserving under the UTC session tz; keeps every
            # downstream consumer (unix_micros, watermarks, collect
            # semantics) on the same TIMESTAMP type as before
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df = _spread_small_scan(spark, df, f"{sf_dir}/events.parquet")
        _SCAN_CACHE[key] = df
    return df


def _dec_sum(col, alias: str):
    """Order-independent sum: decimal accumulate, double at the end.

    Cross-engine exactness bound: DuckDB double-rounds decimal→double
    once the SCALED integer exceeds 2^53 (portable_math.py), i.e. sums
    beyond ~9e13 currency units — four orders above anything the gate's
    sf0.01/sf0.1/sf1 runs produce. Were the gate ever run at a scale
    crossing it, route through
    ``portable_math.dec38_to_double_portable`` / ``sql_dec38_to_double``
    (the welch_t_test moments already do)."""
    return (
        F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)
    )


def _dec_avg(col, alias: str, decimals: int = 6):
    """Deterministic average: exact decimal sum / count, one division."""
    return round_portable(
        F.sum(F.col(col).cast("decimal(18,2)")).cast("double") / F.count("*"),
        decimals,
    ).alias(alias)


# ---------------------------------------------------------------------------
# Silver-layer relational core (SURVEY §2.2/2.3: F1, F2, X1, X2, D1)
# ---------------------------------------------------------------------------

@register(
    "silver_filter_dedup",
    """
    WITH filtered AS (
      SELECT * FROM lineitem
      WHERE l_returnflag IN ('A', 'N')
        AND l_quantity IS NOT NULL
        AND l_discount BETWEEN 0.02 AND 0.08
    ), dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY l_orderkey, l_partkey
          ORDER BY l_linenumber, l_quantity, l_extendedprice, l_suppkey) AS rn
        FROM filtered) WHERE rn = 1
    )
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM dedup GROUP BY l_returnflag
    """,
)
def q_silver_filter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 IN-list + F2 conjunctive validity + D1 deterministic keyed dedup
    (reference Bronze→Silver measurement build), aggregated for compare."""
    li = _t(spark, sf_dir, "lineitem")
    df = keep_in(li, "l_returnflag", ["A", "N"])
    df = valid_rows(
        df,
        F.col("l_quantity").isNotNull(),
        F.col("l_discount").between(0.02, 0.08),
    )
    df = dedup_first(df, ["l_orderkey", "l_partkey"], order_by=["l_linenumber", "l_quantity", "l_extendedprice", "l_suppkey"])
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"), _dec_sum("l_quantity", "sum_qty")
    )


# ---------------------------------------------------------------------------
# dim_date build (SURVEY X3-X6, W1)
# ---------------------------------------------------------------------------

@register(
    "dim_date",
    """
    WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date FROM orders)
    SELECT row_number() OVER (ORDER BY date) AS date_key,
           strftime(date, '%Y-%m-%d') AS date_str,
           year(date) AS year,
           month(date) AS month,
           monthname(date) AS month_name,
           day(date) AS day,
           dayofweek(date) + 1 AS day_of_week,
           dayname(date) AS day_name,
           quarter(date) AS quarter,
           CAST(CASE WHEN dayofweek(date) IN (0, 6) THEN 1 ELSE 0 END
                AS BIGINT) AS is_weekend
    FROM d
    """,
)
def q_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dim_date: distinct dates → date parts, display
    names, weekend flag (correct Sun/Sat semantics), surrogate key W1."""
    o = _t(spark, sf_dir, "orders")
    d = o.select(F.to_date("o_orderdate").alias("date")).distinct()
    d = with_date_parts(d, "date")
    d = surrogate_key(d, ["date"], "date_key")
    return d.select(
        F.col("date_key"),
        F.date_format("date", "yyyy-MM-dd").alias("date_str"),
        F.col("year").cast("long").alias("year"),
        F.col("month").cast("long").alias("month"),
        F.col("month_name"),
        F.col("day").cast("long").alias("day"),
        F.col("day_of_week").cast("long").alias("day_of_week"),
        F.col("day_name"),
        F.col("quarter").cast("long").alias("quarter"),
        F.col("is_weekend").cast("long").alias("is_weekend"),
    )


# ---------------------------------------------------------------------------
# Dimension with surrogate key + categorical mapping (W1, X9)
# ---------------------------------------------------------------------------

@register(
    "dim_part_category",
    """
    SELECT row_number() OVER (ORDER BY p_partkey) AS part_key,
           p_partkey, p_type,
           CASE WHEN p_type IN ('PROMO', 'ECONOMY')
                THEN 'Value' ELSE 'Regular' END AS category
    FROM part
    """,
)
def q_dim_part_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 surrogate key + X9 two-way categorical split (the reference's
    parameter_code → Particulate Matter / Gas mapping). The part
    catalog SCALES WITH THE DATA (unlike the calendar dimension), so
    the key comes from the bucketed two-phase
    :func:`~.plans.gold.surrogate_key_ranked`, not the
    single-partition `surrogate_key` window."""

    p = _t(spark, sf_dir, "part")
    p = surrogate_key_ranked(
        p, F.col("p_partkey"), [F.col("p_partkey")], "part_key"
    )
    return p.select(
        "part_key",
        "p_partkey",
        "p_type",
        binary_category(F.col("p_type"), ["PROMO", "ECONOMY"], "Value", "Regular")
        .alias("category"),
    )


# ---------------------------------------------------------------------------
# Star-join fact build (J1-J3, X7, X10), aggregated (A2)
# ---------------------------------------------------------------------------

@register(
    "gold_star_fact",
    """
    SELECT year(o.o_orderdate) AS year,
           CASE WHEN l.l_extendedprice IS NULL THEN NULL
                WHEN l.l_extendedprice <= 1000 THEN 'Low'
                WHEN l.l_extendedprice <= 3000 THEN 'Mid'
                WHEN l.l_extendedprice <= 5000 THEN 'High'
                ELSE 'VeryHigh' END AS price_bucket,
           count(*) AS n_rows,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(sum(CASE WHEN l.l_extendedprice > 3000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exceeds
    FROM lineitem l
    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
    """,
)
def q_gold_star_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gold fact build: broadcast star join of the big fact to three
    dims (J1-J3), ordered bucketing X7 and exceedance flag X10, then an
    aggregate A2 so the compare payload stays small."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_orderpriority"
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_type"
    )
    supplier = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    fact = star_join(
        li,
        [
            (orders, ["l_orderkey"], "left"),
            (part, ["l_partkey"], "left"),
            (supplier, ["l_suppkey"], "left"),
        ],
    )
    fact = fact.withColumns(
        {
            "price_bucket": bucketize(
                F.col("l_extendedprice"),
                [(1000, "Low"), (3000, "Mid"), (5000, "High")],
                "VeryHigh",
            ),
            "exceeds": flag_threshold(F.col("l_extendedprice"), 3000),
        }
    )
    return fact.groupBy(
        F.year("o_orderdate").cast("long").alias("year"), "price_bucket"
    ).agg(
        F.count("*").alias("n_rows"),
        _dec_sum("l_extendedprice", "sum_price"),
        F.sum(F.col("exceeds").cast("long")).alias("n_exceeds"),
    )


# ---------------------------------------------------------------------------
# Metrics layer — the DAX measures (A4-A12, W3-W6)
# ---------------------------------------------------------------------------

@register(
    "avg_by_month",
    """
    SELECT year(o.o_orderdate) AS year, month(o.o_orderdate) AS month,
           count(*) AS n_rows,
           floor((CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def q_avg_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — AVERAGE at the year×month grain (the reference's core
    Avg-AQI measure), deterministic decimal-sum formulation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    df = li.join(F.broadcast(o), on="l_orderkey")
    return df.groupBy(
        F.year("o_orderdate").cast("long").alias("year"),
        F.month("o_orderdate").cast("long").alias("month"),
    ).agg(F.count("*").alias("n_rows"), _dec_avg("l_extendedprice", "avg_price"))


@register(
    "filtered_count",
    """
    SELECT o_orderpriority,
           count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_big
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_filtered_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — COUNTROWS(FILTER(...)) — the Unhealthy-Day-Count measure."""
    o = _t(spark, sf_dir, "orders")
    return metrics.filtered_count(
        o, F.col("o_totalprice") > 200000, ["o_orderpriority"], alias="n_big"
    )


@register(
    "filtered_distinct_count",
    """
    SELECT year(o_orderdate) AS year,
           count(DISTINCT CASE WHEN o_totalprice > 200000
                 THEN strftime(o_orderdate, '%Y-%m-%d') END) AS n_days
    FROM orders GROUP BY 1
    """,
)
def q_filtered_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — DISTINCTCOUNT under a predicate (Total Unhealthy Days)."""
    o = _t(spark, sf_dir, "orders").withColumns(
        {
            "year": F.year("o_orderdate").cast("long"),
            "day_str": F.date_format("o_orderdate", "yyyy-MM-dd"),
        }
    )
    return metrics.filtered_distinct_count(
        o, "day_str", F.col("o_totalprice") > 200000, ["year"], alias="n_days"
    )


@register(
    "leading_group_top1",
    """
    WITH agg AS (
      SELECT p.p_type,
             floor((CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_price
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_type)
    SELECT p_type, avg_price FROM (
      SELECT *, row_number() OVER (ORDER BY avg_price DESC, p_type ASC) AS rn
      FROM agg) WHERE rn = 1
    """,
)
def q_leading_group_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/W4 — TOPN(1) by per-group average with tiebreak (the
    Leading-Pollutant measure)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_type"
    )
    df = li.join(F.broadcast(p), on="l_partkey")
    return metrics.top_n_by_agg(
        df,
        group_cols=["p_type"],
        agg_expr=round_portable(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.count("*"),
            6,
        ),
        agg_alias="avg_price",
        n=1,
        tiebreak=["p_type"],
    )


@register(
    "argmax_with_ties",
    """
    WITH agg AS (
      SELECT c.c_mktsegment, count(CASE WHEN o.o_totalprice > 150000 THEN 1 END) AS n_big
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment),
    best AS (
      SELECT * FROM (SELECT *, dense_rank() OVER (ORDER BY n_big DESC) AS rk FROM agg)
      WHERE rk = 1)
    SELECT n_big, string_agg(c_mktsegment, ', ' ORDER BY c_mktsegment) AS tied_groups
    FROM best GROUP BY n_big
    """,
)
def q_argmax_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — the Worst-State measure: argmax by filtered count, ties
    rendered as a sorted comma list (CONCATENATEX)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    df = o.join(F.broadcast(c), on="o_custkey")
    return metrics.argmax_with_ties(
        df,
        "c_mktsegment",
        F.count(F.when(F.col("o_totalprice") > 150000, F.lit(1))),
        "n_big",
        list_alias="tied_groups",
    )


@register(
    "mom_change",
    """
    WITH monthly AS (
      SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
             floor((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_price
      FROM orders GROUP BY 1, 2)
    SELECT year, month, avg_price,
           lag(avg_price, 1) OVER (ORDER BY year, month) AS prev_avg_price,
           floor(((avg_price - lag(avg_price, 1) OVER (ORDER BY year, month))
                 / nullif(lag(avg_price, 1) OVER (ORDER BY year, month), 0)) * 1000000.0 + 0.5) / 1000000.0 AS change_pct
    FROM monthly
    """,
)
def q_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/A10 — MoM % change: monthly aggregate, lag(1), safe divide
    (NULL for the first month, like DAX DIVIDE/BLANK)."""
    o = _t(spark, sf_dir, "orders").withColumns(
        {
            "year": F.year("o_orderdate").cast("long"),
            "month": F.month("o_orderdate").cast("long"),
        }
    )
    out = metrics.period_over_period(
        o,
        time_cols=["year", "month"],
        value_expr=round_portable(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count("*"),
            6,
        ),
        value_alias="avg_price",
        lag_periods=1,
        pct_alias="change_pct",
    )
    return out.withColumn("change_pct", round_portable(F.col("change_pct"), 6))


@register(
    "yoy_change",
    """
    WITH yearly AS (
      SELECT year(o_orderdate) AS year,
             floor((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_price
      FROM orders GROUP BY 1)
    SELECT year, avg_price,
           lag(avg_price, 1) OVER (ORDER BY year) AS prev_avg_price,
           floor(((avg_price - lag(avg_price, 1) OVER (ORDER BY year))
                 / nullif(lag(avg_price, 1) OVER (ORDER BY year), 0)) * 1000000.0 + 0.5) / 1000000.0 AS change_pct
    FROM yearly
    """,
)
def q_yoy_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — YoY % change (SAMEPERIODLASTYEAR on a yearly frame)."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate").cast("long")
    )
    out = metrics.period_over_period(
        o,
        time_cols=["year"],
        value_expr=round_portable(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count("*"),
            6,
        ),
        value_alias="avg_price",
        lag_periods=1,
        pct_alias="change_pct",
    )
    return out.withColumn("change_pct", round_portable(F.col("change_pct"), 6))


@register(
    "ytd_cumulative",
    """
    WITH monthly AS (
      SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
             count(*) AS n_orders
      FROM orders GROUP BY 1, 2)
    SELECT year, month, n_orders,
           CAST(sum(n_orders) OVER (PARTITION BY year ORDER BY month
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ytd
    FROM monthly
    """,
)
def q_ytd_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — DATESYTD: running count within each year."""
    o = _t(spark, sf_dir, "orders").withColumns(
        {
            "year": F.year("o_orderdate").cast("long"),
            "month": F.month("o_orderdate").cast("long"),
        }
    )
    return metrics.cumulative_to_date(
        o,
        time_cols=["month"],
        value_expr=F.count("*"),
        value_alias="n_orders",
        partition_cols=["year"],
        cum_alias="ytd",
    )


@register(
    "group_rank",
    """
    WITH agg AS (
      SELECT n.n_name, count(*) AS n_customers
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name)
    SELECT n_name, n_customers,
           dense_rank() OVER (ORDER BY n_customers ASC) AS rank
    FROM agg
    """,
)
def q_group_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — RANKX(ALL(dim), measure,, ASC, DENSE) — the State-Rank measure."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    df = c.join(F.broadcast(n), on="c_nationkey")
    return metrics.rank_groups(
        df, "n_name", F.count("*"), "n_customers", ascending=True, rank_alias="rank"
    ).withColumn("rank", F.col("rank").cast("long"))


@register(
    "per_100k",
    """
    WITH pop AS (
      SELECT n.n_name, count(*) AS population
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name),
    cnt AS (
      SELECT n.n_name, count(*) AS n_orders
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name)
    SELECT cnt.n_name, cnt.n_orders, pop.population,
           floor((cnt.n_orders * 100000.0 / pop.population) * 10000.0 + 0.5) / 10000.0 AS per_100k
    FROM cnt LEFT JOIN pop ON cnt.n_name = pop.n_name
    """,
)
def q_per_100k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — per-capita normalization (Unhealthy Days per 100k):
    count joined to a population dim, scaled per 100 000."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    pop = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), on="c_nationkey")
        .groupBy("n_name")
        .agg(F.count("*").alias("population"))
    )
    cnt = (
        o.join(F.broadcast(c), on="o_custkey")
        .join(F.broadcast(n), on="c_nationkey")
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"))
    )
    out = metrics.per_100k(
        cnt, pop, on=["n_name"], count_col="n_orders", pop_col="population"
    )
    return out.select(
        "n_name", "n_orders", "population", round_portable(F.col("per_100k"), 4).alias("per_100k")
    )


@register(
    "share_of_total",
    """
    WITH agg AS (
      SELECT n.n_name, sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_dec
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name)
    SELECT n_name,
           CAST(rev_dec AS DOUBLE) AS revenue,
           floor((CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER () AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
             AS share
    FROM agg
    """,
)
def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — score + share-of-total: the REMOVEFILTERS total as a window
    sum over the exact-decimal per-group aggregates."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    aggd = (
        o.join(F.broadcast(c), on="o_custkey")
        .join(F.broadcast(n), on="c_nationkey")
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec"))
    )
    total = F.sum("rev_dec").over(Window.partitionBy())
    return aggd.select(
        "n_name",
        F.col("rev_dec").cast("double").alias("revenue"),
        round_portable(
            F.col("rev_dec").cast("double") / total.cast("double"), 6
        ).alias("share"),
    )


@register(
    "segment_region_map",
    """
    SELECT CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD') THEN 'Consumer'
                WHEN c_mktsegment IN ('MACHINERY', 'BUILDING') THEN 'Industrial'
                WHEN c_mktsegment IN ('FURNITURE') THEN 'Trade'
                ELSE 'Unknown' END AS segment_group,
           count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer GROUP BY 1
    """,
)
def q_segment_region_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 — IN-list label mapping (the census-region chain), aggregated."""
    c = _t(spark, sf_dir, "customer")
    mapped = c.withColumn(
        "segment_group",
        map_by_lists(
            F.col("c_mktsegment"),
            {
                "Consumer": ["AUTOMOBILE", "HOUSEHOLD"],
                "Industrial": ["MACHINERY", "BUILDING"],
                "Trade": ["FURNITURE"],
            },
            default="Unknown",
        ),
    )
    return mapped.groupBy("segment_group").agg(
        F.count("*").alias("n_customers"), _dec_sum("c_acctbal", "sum_bal")
    )


# ---------------------------------------------------------------------------
# Incremental path (D3/J8 anti-join, K4 merge, A3 high-water mark)
# ---------------------------------------------------------------------------

@register(
    "anti_join_new_keys",
    """
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01')
    """,
)
def q_anti_join_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/J8 — left_anti incremental dedup: keys present after the
    cutoff that never appeared before it."""
    o = _t(spark, sf_dir, "orders")
    after = o.filter(F.col("o_orderdate") >= "1998-01-01").select("o_custkey").distinct()
    before = o.filter(F.col("o_orderdate") < "1998-01-01").select("o_custkey")
    return after.join(before, on="o_custkey", how="left_anti")


@register(
    "merge_upsert",
    """
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'),
    source AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
    merged AS (
      SELECT * FROM target
      UNION ALL
      SELECT s.* FROM source s
      WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey))
    SELECT o_orderstatus, count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 — insert-if-absent MERGE via anti-join + union (the pure-Spark
    formulation of Delta whenNotMatchedInsertAll), on overlapping
    target/source windows."""
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    target = o.filter(F.col("o_orderdate") < "1998-01-01").select(*cols)
    source = o.filter(F.col("o_orderdate") >= "1997-01-01").select(*cols)
    merged = merge_insert_if_absent(target, source, keys=["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"), _dec_sum("o_totalprice", "sum_price")
    )


# ---------------------------------------------------------------------------
# Grouping sets / top-k / set ops (SURVEY §2.5 tail, §2.7)
# ---------------------------------------------------------------------------

@register(
    "cube_measures",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures at every grain — the BI layer's arbitrary-slicer
    re-aggregation, expressed as CUBE (SURVEY §2.5 note).

    r13 plan rework (guide §2.3, aggregate before you expand): a
    direct ``li.cube(...)`` plans ``Expand`` UNDER the aggregate, so
    every fact row is replicated ×4 (one copy per grouping set)
    before the partial aggregation — at 100 TB that quadruples the
    aggregate's input for a 4-grain rollup of a 2-value × 3-value
    key space. Instead aggregate once at the finest grain (count +
    exact decimal sum — both reassociate losslessly), then CUBE the
    ~|flag|×|status| partial relation: the Expand now replicates a
    handful of rows, and the fact table is scanned and aggregated
    exactly once at its own grain. Results are bit-identical (decimal
    sums are exact, counts sum), verified against the unchanged
    oracle."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("_n"),
        # partial sums stay DECIMAL (exact) — double only at the edge
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_s"),
    )
    return (
        base.cube("l_returnflag", "l_linestatus")
        .agg(
            # coalesce: schema/nullability hygiene only — sum() is
            # nullable where count(*) was not, and on any emitted row
            # sum(_n) is non-NULL (CUBE/ROLLUP over an empty input
            # emits zero rows, r13 advisor correction), so this keeps
            # the column non-null-typed without changing any value
            F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_rows"),
            F.sum("_s").cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3 — deterministic top-k by sort + limit (TOPN measures).
    Physically a TakeOrderedAndProject: no global sort materialization."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Events: tumbling-window aggregation (streaming twin, batch form)
# ---------------------------------------------------------------------------

@register(
    "events_daily_window",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_daily_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window aggregate over the event stream — the batch
    twin of the Structured Streaming pipeline (same F.window operator
    works under readStream + watermark; see streaming module)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _dec_sum("value", "sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Exact percentiles (distribution measures beyond the reference's DAX set)
# ---------------------------------------------------------------------------

@register(
    "quantiles",
    """
    SELECT l_returnflag,
           floor((quantile_cont(l_quantity, 0.5)) * 1000000.0 + 0.5)
             / 1000000.0 AS median_qty,
           floor((quantile_cont(l_quantity, 0.9)) * 1000000.0 + 0.5)
             / 1000000.0 AS p90_qty,
           floor((quantile_cont(l_extendedprice, 0.99)) * 1000000.0 + 0.5)
             / 1000000.0 AS p99_price
    FROM lineitem GROUP BY 1
    """,
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SQL percentile_cont semantics on
    both engines — linear interpolation between order statistics).
    Exact percentile needs a per-group sort; at 100 TB swap in
    ``approx_percentile`` (t-digest, one pass, no sort) and accept the
    documented error bound."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round_portable(F.expr("percentile(l_quantity, 0.5)"), 6).alias(
            "median_qty"
        ),
        round_portable(F.expr("percentile(l_quantity, 0.9)"), 6).alias(
            "p90_qty"
        ),
        round_portable(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias(
            "p99_price"
        ),
    )


# ---------------------------------------------------------------------------
# Rollup — the hierarchical-grain companion of cube_measures
# ---------------------------------------------------------------------------

@register(
    "rollup_measures",
    """
    SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS year,
           coalesce(CAST(month(o_orderdate) AS VARCHAR), 'ALL') AS month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
    """,
)
def q_rollup_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical grain totals (year → year+month → grand total) via
    ``rollup`` — the "measure valid at any grain of a hierarchy"
    companion to the cube query. Null grouping slots are labeled 'ALL'
    so the subtotal rows hash identically across engines."""
    o = _t(spark, sf_dir, "orders")
    # r13: aggregate at the finest (y, m) grain BEFORE the rollup so
    # Expand replicates ~84 partial rows ×3 instead of every order row
    # (guide §2.3; same rework and equivalence argument as
    # q_cube_measures — counts and decimal sums reassociate exactly)
    base = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(
        F.count("*").alias("_n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_s"),
    )
    return (
        base.rollup("y", "m")
        .agg(
            # coalesce: schema/nullability hygiene only — sum() is
            # nullable where count(*) was not, and on any emitted row
            # sum(_n) is non-NULL (CUBE/ROLLUP over an empty input
            # emits zero rows, r13 advisor correction), so this keeps
            # the column non-null-typed without changing any value
            F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_orders"),
            F.sum("_s").cast("double").alias("sum_price"),
        )
        .select(
            F.coalesce(F.col("y").cast("string"), F.lit("ALL")).alias("year"),
            F.coalesce(F.col("m").cast("string"), F.lit("ALL")).alias("month"),
            "n_orders",
            "sum_price",
        )
    )


# ---------------------------------------------------------------------------
# Wide star join (J10 semantic relationships / analysis view)
# ---------------------------------------------------------------------------

@register(
    "star_join_wide",
    """
    SELECT r.r_name, count(*) AS n_rows,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(5,2))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def q_star_join_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — the full analysis view: fact chained through orders →
    customer → nation → region. Big-big joins (orders, customer) shuffle
    on their keys; the truly small dims (nation, region) broadcast so
    they never force an exchange. Revenue is exact decimal arithmetic
    end to end (product of decimals, summed), double only at the edge."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = star_join(
        li,
        [
            (o, [li["l_orderkey"] == o["o_orderkey"]], "inner"),
            (c, [o["o_custkey"] == c["c_custkey"]], "inner"),
        ],
        broadcast_dims=False,  # orders/customer scale with the fact
    )
    joined = star_join(
        joined,
        [
            (n, [c["c_nationkey"] == n["n_nationkey"]], "inner"),
            (r, [n["n_regionkey"] == r["r_regionkey"]], "inner"),
        ],
        broadcast_dims=True,  # nation/region are fixed-size smalls
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(5,2)")
    return joined.groupBy("r_name").agg(
        F.count("*").alias("n_rows"),
        F.sum(rev).cast("double").alias("revenue"),
    )


@register(
    "star_join_wide_preagg",
    """
    SELECT r.r_name, count(*) AS n_rows,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(5,2))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def q_star_join_wide_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``star_join_wide`` (r14, VERDICT r13 item 7;
    guide §2.3 "aggregate before you shuffle" / §3): lineitem revenue
    pre-aggregates to ORDERKEY grain *below* the orders join, so the
    join's fact side carries one row per order (3 ints + a decimal)
    instead of every line item. Result is bit-identical — per-order
    line counts sum to count(*), and the decimal revenue reassociates
    exactly — and the oracle is the same SQL as star_join_wide's.

    Why a twin instead of rewriting star_join_wide: at bench scale
    orders/customer sit under the broadcast threshold, so the original
    plan never shuffles the fact and the pre-aggregate would only add
    an exchange it cannot pay for (r13 audit: all four joins
    BroadcastHashJoin). The twin carries the strategy that wins once
    orders/customer no longer broadcast — at sf1-cold the join inputs
    drop from 6 M line rows to 1.5 M order rows ahead of the
    sort-merge join (receipts in OPTIMIZATION_r14.md); at 100 TB the
    saved shuffle is (lines − orders) × row width."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(5,2)")
    lrev = li.groupBy("l_orderkey").agg(
        F.count("*").alias("_n_li"), F.sum(rev).alias("_rev")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        lrev.join(o, lrev["l_orderkey"] == o["o_orderkey"], "inner")
        .join(c, o["o_custkey"] == c["c_custkey"], "inner")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "inner")
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"], "inner")
    )
    return joined.groupBy("r_name").agg(
        F.sum("_n_li").cast("long").alias("n_rows"),
        F.sum("_rev").cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Display mapping + conditional color (X13, X14) over ranked aggregates
# ---------------------------------------------------------------------------

@register(
    "display_labels",
    """
    WITH agg AS (
      SELECT r.r_name, n.n_name,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT *, dense_rank() OVER (ORDER BY revenue DESC) AS rnk FROM agg)
    SELECT concat(r_name, ' - ', n_name) AS label, revenue,
           CAST(rnk AS BIGINT) AS rnk,
           CASE WHEN rnk <= 2 THEN 'green'
                WHEN rnk <= 4 THEN 'yellow'
                ELSE 'red' END AS color
    FROM ranked
    """,
)
def q_display_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 concat display label ("STATE - POLLUTANT" in the reference)
    + X14 SWITCH(TRUE) rank→color flag, over a ranked aggregate (W3)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    aggd = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(_dec_sum("o_totalprice", "revenue"))
    )
    ranked = aggd.withColumn(
        "rnk", F.dense_rank().over(Window.orderBy(F.col("revenue").desc()))
    )
    return ranked.select(
        F.concat_ws(" - ", "r_name", "n_name").alias("label"),
        "revenue",
        F.col("rnk").cast("long").alias("rnk"),
        bucketize(F.col("rnk"), [(2, "green"), (4, "yellow")], "red").alias(
            "color"
        ),
    )


# ---------------------------------------------------------------------------
# Month truncation + union + distinct coverage (X12, O4, A13/D2)
# ---------------------------------------------------------------------------

@register(
    "month_rollup",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
             AS month_start,
           monthname(o_orderdate) AS month_name,
           count(*) AS n_orders
    FROM orders GROUP BY 1, 2
    """,
)
def q_month_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 — Power Query's Date.StartOfMonth + Date.MonthName as
    ``trunc(date, 'month')`` + month-name formatting."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM-dd").alias(
                "month_start"
            ),
            F.date_format("o_orderdate", "MMMM").alias("month_name"),
        )
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "union_append",
    """
    WITH u AS (
      SELECT * FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 2 = 1)
    SELECT o_orderstatus, count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM u GROUP BY 1
    """,
)
def q_union_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — ``unionByName`` (by-name, not positional: column order must
    not silently misalign) of two disjoint splits, re-aggregated."""
    o = _t(spark, sf_dir, "orders")
    evens = o.filter(F.col("o_orderkey") % 2 == 0)
    odds = o.filter(F.col("o_orderkey") % 2 == 1)
    u = evens.unionByName(odds)
    return u.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"), _dec_sum("o_totalprice", "sum_price")
    )


@register(
    "distinct_coverage",
    """
    SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           array_to_string(list_sort(list(DISTINCT event_type)), ',')
             AS types
    FROM events
    """,
)
def q_distinct_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/D2 — coverage summary: distinct count + deterministic sorted
    roster (the reference's states-covered QA set, made distributed)."""
    e = _events(spark, sf_dir)
    return e.agg(
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
            "types"
        ),
    )


# These register themselves into QUERIES on import.
from air_quality_etl_pipeline_spark import workload_llm  # noqa: E402,F401
from air_quality_etl_pipeline_spark import workload_sources  # noqa: E402,F401
from air_quality_etl_pipeline_spark import workload_corpus  # noqa: E402,F401
from air_quality_etl_pipeline_spark import workload_curation  # noqa: E402,F401
from air_quality_etl_pipeline_spark import workload_temporal  # noqa: E402,F401
from air_quality_etl_pipeline_spark import workload_analytics  # noqa: E402,F401
from air_quality_etl_pipeline_spark import workload_sketches  # noqa: E402,F401
from air_quality_etl_pipeline_spark import workload_sql  # noqa: E402,F401
from air_quality_etl_pipeline_spark import workload_training  # noqa: E402,F401
from air_quality_etl_pipeline_spark import workload_graph  # noqa: E402,F401
from air_quality_etl_pipeline_spark import workload_lakehouse  # noqa: E402,F401

#: Queries whose physical plan carries a Window ON a single-partition
#: exchange over a relation that is provably BOUNDED (a fixed dimension
#: or an aggregate at a grain that does NOT scale with the data). Add a
#: name ONLY with the boundedness argument; "it's an aggregate" is not
#: enough — customer/part/document grains scale with data and belong in
#: operators/order_stats.py instead. Enforced registry-wide by
#: tests/test_plan_quality.py; bench.py silences exactly these queries'
#: (known, justified) WindowExec single-partition warnings so a NEW
#: offender's warning stays visible in the bench tail.
GLOBAL_WINDOW_ALLOWLIST: dict[str, str] = {
    "argmax_with_ties": "market-segment aggregate (5 rows; WindowGroupLimit also pre-bounds per partition)",
    "compaction_bin_packing": "file-manifest grain (month x priority, calendar-bounded ~420 rows/era)",
    "auc_rank_sum": "distinct rounded-score relation (bounded score domain, documented in its docstring)",
    "dim_date": "calendar-day dimension (~2.5k rows/decade, independent of fact volume)",
    "display_labels": "region x nation aggregate (25 rows)",
    "distinct_to_date": "month-grain aggregate (~84 rows/TPC-H era)",
    "group_rank": "nation-grain aggregate (25 rows)",
    "largest_remainder_alloc": "event-type aggregate (~5 rows)",
    "mom_change": "month-grain aggregate",
    "moving_avg_7d": "day-grain aggregate (calendar-bounded)",
    "order_backlog_daily": "day-grain running backlog (calendar-bounded)",
    "share_of_total": "nation-grain aggregate (25 rows)",
    "sql_keyset_pagination": "rn reconstruction window over the LIMIT-20 page",
    "skyline_pareto_parts": "distinct-price max-size relation (generator-bounded currency domain, 1000 values at sf0.01 and sf0.1 alike)",
    "cusum_changepoint": "day-grain aggregate (calendar-bounded)",
    "rolling_hll_distinct_7d": "day-grain HLL sketch relation (calendar-bounded; one 2.5kB register set per day)",
    "yoy_change": "month-grain aggregate",
    # top-k rank windows that Spark bounds with WindowGroupLimit /
    # TakeOrderedAndProject before the final single-partition pass
    # (verified in the round-6 verdict's plan audit): the WindowExec
    # warning fires but the window input is <= k rows per upstream
    # partition, never the data
    "hybrid_rrf_search": "rank<=20 / fused<=10 top-k windows, WindowGroupLimit-bounded",
    "boilerplate_gram_coverage": "vocabulary top-20 window, TakeOrderedAndProject-bounded",
    "sketch_cm_heavy_hitters": "top-k candidate rank window, WindowGroupLimit-bounded",
}
