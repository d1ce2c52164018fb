"""Source/sink/orchestration/streaming workload: SURVEY §2.1 (S1-S7,
K1-K2, K6), §2.8 streaming, §2.10 (C1-C6) as registered queries with
DuckDB oracle twins.

Sinks are validated as ROUND TRIPS: write through the sink under test
into a scratch dir, read back, aggregate — the oracle computes the same
aggregate straight from the source view, so a partitioning/typing bug
in the sink shows up as a hash mismatch. Ingest uses a deterministic
fake transport whose payload the oracle regenerates in SQL.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.plans.pipeline import Activity
from air_quality_etl_pipeline_spark.sources.ingest import (
    coverage_gate,
    ingest_distributed,
)
from air_quality_etl_pipeline_spark.sources.readers import cast_columns, read_csv
from air_quality_etl_pipeline_spark.sources.writers import (
    write_partitioned_append,
    write_partitioned_dynamic_overwrite,
    write_range_sorted,
)
from air_quality_etl_pipeline_spark.operators.cleaning import dedup_first
from air_quality_etl_pipeline_spark.operators.skew import salted_join, two_phase_agg
from air_quality_etl_pipeline_spark.streaming.jobs import (
    daily_counts,
    read_events_stream,
    run_available_now,
    sessionize,
    sliding_counts,
    stateful_user_counts,
    stream_table_path,
)
from air_quality_etl_pipeline_spark.workload import _t, register

import os as _os

#: per-process scratch root: two concurrent runs (a pytest session and
#: the driver's verify, say) must never race on the same rmtree/write/
#: read cycle of a sink round-trip query.
SCRATCH = f"/tmp/air_quality_etl_pipeline_spark_scratch_{_os.getpid()}"


# ---------------------------------------------------------------------------
# S1/S2/C6 — REST-shaped ingest through the distributed fan-out path
# ---------------------------------------------------------------------------

_INGEST_STATES = 5
_INGEST_YEARS = (2023, 2024)
_INGEST_ROWS_PER_CALL = 10


@register(
    "ingest_rest_bronze",
    f"""
    WITH grid AS (
      SELECT s.state, y.year
      FROM (SELECT unnest(range(0, {_INGEST_STATES})) AS state) s,
           (SELECT unnest([{", ".join(str(y) for y in _INGEST_YEARS)}]) AS year) y),
    payload AS (
      SELECT CAST(state AS VARCHAR) AS state_code, year,
             (state * 31 + year) % 100 + i.i AS aqi
      FROM grid, (SELECT unnest(range(0, {_INGEST_ROWS_PER_CALL})) AS i) i)
    SELECT state_code, count(*) AS n_rows,
           CAST(sum(aqi) AS BIGINT) AS sum_aqi
    FROM payload GROUP BY state_code
    """,
)
def q_ingest_rest_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 distributed ingest + C6 coverage gate: the parameter grid fans
    out via mapInPandas, the fake transport generates rows the oracle
    regenerates in SQL. (sf_dir unused — the source is the grid.)

    The fake fetch is nested (pickled BY VALUE) so executors unpickle
    it without this package on sys.path."""

    def fake_fetch(params: dict) -> list[dict]:
        state = params["state"]
        year = params["year"]
        return [
            {
                "state_code": str(state),
                "year": year,
                "aqi": (state * 31 + year) % 100 + i,
            }
            for i in range(10)
        ]

    grid = [
        {"state": s, "year": y}
        for s in range(_INGEST_STATES)
        for y in _INGEST_YEARS
    ]
    df = ingest_distributed(
        spark,
        fake_fetch,
        grid,
        schema="state_code string, year int, aqi int",
        partitions=4,
    )
    df = coverage_gate(df, "state_code", _INGEST_STATES)
    return df.groupBy("state_code").agg(
        F.count("*").alias("n_rows"),
        F.sum("aqi").cast("long").alias("sum_aqi"),
    )


# ---------------------------------------------------------------------------
# K1/K2 — partitioned parquet sinks, validated as round trips
# ---------------------------------------------------------------------------

@register(
    "sink_partitioned_roundtrip",
    """
    SELECT year(o_orderdate) AS year, o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY 1, 2
    """,
)
def q_sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 append + K2 dynamic-partition overwrite: land orders
    partitioned by (year, status), then overwrite every partition via
    the dynamic path (append-then-overwrite makes the overwrite
    observable: stale duplicate rows would survive a plain append and
    break the hash), read back, aggregate."""
    path = f"{SCRATCH}/orders_partitioned"
    shutil.rmtree(path, ignore_errors=True)
    o = _t(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    write_partitioned_append(o, path, ["year", "o_orderstatus"])
    write_partitioned_dynamic_overwrite(o, path, ["year", "o_orderstatus"])
    back = spark.read.parquet(path)
    return back.groupBy(F.col("year").cast("long").alias("year"), "o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# S7/K6 — CSV with header promotion + typed casts, round trip
# ---------------------------------------------------------------------------

@register(
    "csv_header_cast_roundtrip",
    """
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY 1
    """,
)
def q_csv_header_cast_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: write nation as headered CSV (all strings on re-read), then
    PromoteHeaders → TransformColumnTypes via cast_columns, aggregate."""
    path = f"{SCRATCH}/nation_csv"
    shutil.rmtree(path, ignore_errors=True)
    n = _t(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("header", "true").csv(path)
    back = read_csv(spark, path)  # header promoted, all strings
    back = cast_columns(
        back, {"n_nationkey": "bigint", "n_regionkey": "bigint"}
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# C1-C3 — pipeline DAG run (ingest → silver → gold as activities)
# ---------------------------------------------------------------------------

@register(
    "pipeline_dag_run",
    """
    WITH silver AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY l_orderkey, l_partkey
          ORDER BY l_linenumber, l_quantity, l_extendedprice, l_suppkey) AS rn
        FROM lineitem WHERE l_quantity IS NOT NULL) WHERE rn = 1),
    gold AS (
      SELECT o.o_orderpriority, s.l_quantity
      FROM silver s JOIN orders o ON s.l_orderkey = o.o_orderkey)
    SELECT o_orderpriority, count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM gold GROUP BY 1
    """,
)
def q_pipeline_dag_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 sequential DAG with dependsOn-Succeeded: scan → silver
    (dedup) → gold (star join) → aggregate, each an Activity passing
    its DataFrame downstream through the run context. The DAG runs
    through its C4 schedule (the reference's weekly Thursday 06:00
    trigger, ``Automated Pipeline.DataPipeline/.schedules:4-17``) via
    ``ScheduledPipeline.run_if_due`` at a fixed due instant, so the
    trigger path is exercised deterministically."""
    from datetime import datetime

    from air_quality_etl_pipeline_spark.operators.cleaning import dedup_first
    from air_quality_etl_pipeline_spark.plans.pipeline import (
        Schedule,
        ScheduledPipeline,
    )

    def scan(ctx):
        return _t(spark, sf_dir, "lineitem").filter(
            F.col("l_quantity").isNotNull()
        )

    def silver(ctx):
        return dedup_first(
            ctx["scan"], ["l_orderkey", "l_partkey"], order_by=["l_linenumber", "l_quantity", "l_extendedprice", "l_suppkey"]
        )

    def gold(ctx):
        orders = _t(spark, sf_dir, "orders")
        return ctx["silver"].join(
            orders, ctx["silver"]["l_orderkey"] == orders["o_orderkey"]
        )

    def aggregate(ctx):
        return ctx["gold"].groupBy("o_orderpriority").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )

    pipe = ScheduledPipeline(
        [
            Activity("scan", scan),
            Activity("silver", silver, depends_on=["scan"]),
            Activity("gold", gold, depends_on=["silver"]),
            Activity("aggregate", aggregate, depends_on=["gold"]),
        ],
        schedule=Schedule.weekly("thursday", 6),
    )
    # 2026-01-01 is a Thursday; 06:00 is exactly the weekly fire time
    run = pipe.run_if_due(now=datetime(2026, 1, 1, 6, 0), last_run=None)
    if run is None or not run.succeeded:
        raise RuntimeError(f"pipeline failed: {run and run.results}")
    return run.results["aggregate"].output


# ---------------------------------------------------------------------------
# Skew mitigation: the salted rewrites must be result-identical
# ---------------------------------------------------------------------------

@register(
    "skew_salted_join",
    """
    WITH j AS (
      SELECT o.o_orderpriority, l.l_quantity
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    agg AS (
      SELECT o_orderpriority, count(*) AS n_rows,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
      FROM j GROUP BY 1)
    SELECT * FROM agg
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join + two-phase aggregation: the hot-key-proof rewrites
    must produce exactly the plain join/groupBy result (the oracle is
    the naive formulation)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        on=["k"],
        buckets=8,
    )
    return two_phase_agg(
        joined,
        ["o_orderpriority"],
        [
            (F.count("*"), "n_rows", F.sum("n_rows").cast("long")),
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")),
                "sum_qty",
                F.sum("sum_qty").cast("double"),
            ),
        ],
        buckets=8,
    )


# ---------------------------------------------------------------------------
# §2.8 — Structured Streaming twin of the daily-window aggregate
# ---------------------------------------------------------------------------

@register(
    "streaming_daily_window",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_daily_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream file source + watermark + tumbling 1-day window,
    availableNow trigger — the streaming result must equal the batch
    oracle over the same files (exactly-once file-source semantics)."""
    stream = read_events_stream(spark, sf_dir)
    return run_available_now(daily_counts(stream), spark)


@register(
    "streaming_sliding_window",
    """
    WITH e AS (SELECT date_trunc('day', ts) AS d, event_type, value
               FROM events),
    w AS (SELECT d - to_days(CAST(o.off AS INTEGER)) AS w_start,
                 event_type, value
          FROM e CROSS JOIN (SELECT unnest([0, 1, 2]) AS off) o)
    SELECT strftime(w_start, '%Y-%m-%d') AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def q_streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream + watermark + SLIDING 3-day/1-day window: each event
    contributes to 3 overlapping windows, assigned in one pass (no
    self-join). The batch oracle explodes each event into its 3 window
    starts explicitly — the streaming result over availableNow must
    equal it exactly."""
    stream = read_events_stream(spark, sf_dir)
    return run_available_now(sliding_counts(stream), spark)


@register(
    "session_windows",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       < INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS new_sess
      FROM events),
    sess AS (
      SELECT *, sum(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts RANGE UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native ``session_window`` (30-minute gap) per user — the
    oracle is the classic gaps-and-islands formulation. The same
    operator runs under streaming with a watermark; batch here so the
    result is deterministic."""
    from air_quality_etl_pipeline_spark.workload import _events

    return sessionize(_events(spark, sf_dir), gap="30 minutes")


@register(
    "streaming_session_windows",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       < INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS new_sess
      FROM events),
    sess AS (
      SELECT *, sum(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts RANGE UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of ``session_windows``: readStream file source
    + watermark + native ``session_window`` state merging, availableNow
    trigger, complete output — sessions that grow (or merge) across
    micro-batches are maintained in the session-window state store, and
    the final table must equal the batch gaps-and-islands oracle
    exactly. This completes the streaming window family (tumbling /
    sliding / session).

    Scale: session state is per (user, open session) and evicted once
    the watermark passes the session end — bounded by active users, not
    history; the groupBy shards state by user hash across executors."""
    stream = read_events_stream(spark, sf_dir)
    return run_available_now(
        sessionize(stream.withWatermark("ts", "1 day")), spark
    )


@register(
    "streaming_dedup",
    """
    WITH d AS (SELECT DISTINCT ON (event_id) event_id, event_type
               FROM events ORDER BY event_id)
    SELECT event_type, count(*) AS n_events
    FROM d GROUP BY event_type
    """,
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: ``dropDuplicates`` on event_id
    under a watermark (state holds only ids younger than the watermark
    — bounded, unlike batch global dedup), availableNow trigger, then a
    batch count by type over the deduped sink. The oracle is batch
    DISTINCT ON the same key."""
    stream = read_events_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "1 day").dropDuplicates(
        ["event_id"]
    )
    rows = run_available_now(
        deduped.select("event_id", "event_type"), spark, output_mode="append"
    )
    return rows.groupBy("event_type").agg(F.count("*").alias("n_events"))


@register(
    "streaming_stateful_counts",
    """
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q_streaming_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user
    GroupState accumulates (count, cents) across micro-batches in
    update mode; the final emitted row per user must equal the batch
    groupBy oracle. Counts are monotonic, so "final" = max n_events."""
    stream = read_events_stream(spark, sf_dir)
    updates = run_available_now(
        stateful_user_counts(stream), spark, output_mode="update"
    )
    return dedup_first(
        updates, ["user_id"], order_by=[F.col("n_events").desc()]
    )


# ---------------------------------------------------------------------------
# Range-sorted data-skipping layout (z-order lite)
# ---------------------------------------------------------------------------

@register(
    "sort_layout_roundtrip",
    """
    SELECT year(l_shipdate) AS ship_year, count(*) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
    GROUP BY 1
    """,
)
def q_sort_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned + within-partition-sorted layout: land lineitem
    ordered by l_shipdate, then run a selective date-range scan over the
    files. Because ranges are contiguous and sorted, parquet footer
    min/max stats eliminate non-matching files/row groups before any IO
    — the aggregate is correct (oracle scans the raw table) AND the
    physical scan touches only the ~8%% of data in range. The pytest
    twin asserts the per-file min/max intervals truly don't overlap."""
    path = f"{SCRATCH}/lineitem_range_sorted"
    shutil.rmtree(path, ignore_errors=True)
    li = _t(spark, sf_dir, "lineitem")
    write_range_sorted(li, path, ["l_shipdate"], num_partitions=16)
    back = spark.read.parquet(path)
    return (
        back.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
        )
        .groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (view -> purchase attribution)
# ---------------------------------------------------------------------------

@register(
    "streaming_stream_join",
    """
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under availableNow: every purchase
    attributed to same-user views in the preceding hour. The watermark
    + interval bound is what keeps both join-state buffers finite on an
    unbounded stream; the batch oracle is the equivalent self-join."""
    from air_quality_etl_pipeline_spark.streaming.jobs import (
        stream_stream_attrib_join,
    )

    e = read_events_stream(spark, sf_dir)
    joined = stream_stream_attrib_join(e, "1 hour", "1 day")
    return run_available_now(joined, spark, output_mode="append")


@register(
    "streaming_outer_join",
    """
    WITH v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase'),
    w AS (SELECT date_trunc('milliseconds', least(
            (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
              WHERE event_type = 'view'),
            (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
              WHERE event_type = 'purchase')))
          - INTERVAL 1 DAY AS wm),
    matched AS (
      SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR),
    unmatched AS (
      SELECT v.user_id, v.event_id AS view_id,
             CAST(NULL AS BIGINT) AS purchase_id
      FROM v, w
      WHERE v.event_id NOT IN (SELECT view_id FROM matched)
        AND v.ts + INTERVAL 1 HOUR < w.wm)
    SELECT user_id, view_id, purchase_id FROM matched
    UNION ALL
    SELECT user_id, view_id, purchase_id FROM unmatched
    """,
)
def q_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: views with no purchase
    inside the attribution hour are emitted null-padded ONCE THE
    WATERMARK PASSES their join window — the semantics inner joins
    can't give ("which views converted, and which provably didn't").
    The batch oracle models the flush rule exactly: a view is declared
    unmatched iff ``view_ts + 1 h < final watermark``; views still
    inside the horizon when the stream drains stay in state and are
    NOT emitted — that unemitted tail is correct streaming semantics,
    pinned by this oracle, not a bug.

    The watermark model matters at scale: each ``withWatermark`` node
    tracks the max event time of the rows flowing through IT (post
    type-filter), and the query's global watermark is the MIN over the
    two streams under the default ``multipleWatermarkPolicy`` —
    ``least(max view ts, max purchase ts) − 1 day``, NOT the overall
    event max, and Spark tracks event-time stats in milliseconds, so
    the max truncates to ms before the delay subtracts. The sf0.1
    sweep caught the difference: the corpus tail put the last purchase
    32 s before the last event overall, and one view landed inside
    that window — flushed under a max-over-all model, held in state by
    Spark. sf0.01 never straddles the gap; a production stream
    straddles it constantly."""
    from pyspark.sql import functions as SF

    e = read_events_stream(spark, sf_dir)
    views = (
        e.filter(SF.col("event_type") == "view")
        .select(
            SF.col("user_id").alias("v_user"),
            SF.col("event_id").alias("view_id"),
            SF.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 day")
    )
    purch = (
        e.filter(SF.col("event_type") == "purchase")
        .select(
            SF.col("user_id").alias("p_user"),
            SF.col("event_id").alias("purchase_id"),
            SF.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    joined = views.join(
        purch,
        (SF.col("v_user") == SF.col("p_user"))
        & (SF.col("p_ts") >= SF.col("view_ts"))
        & (
            SF.col("p_ts")
            <= SF.col("view_ts") + SF.expr("INTERVAL 1 HOUR")
        ),
        "left_outer",
    )
    out = run_available_now(joined, spark, output_mode="append")
    return out.select(
        SF.col("v_user").alias("user_id"),
        "view_id",
        SF.col("purchase_id").cast("long").alias("purchase_id"),
    )


@register(
    "streaming_static_enrich",
    """
    SELECT c.c_mktsegment, e.event_type, count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment under availableNow: the
    events stream joins a bounded customer dimension (market segment)
    with no state store — the static side broadcasts into every
    micro-batch — then aggregates per (segment, event_type). The oracle
    is the equivalent batch join."""
    from air_quality_etl_pipeline_spark.streaming.jobs import (
        stream_static_enrich,
    )

    stream = read_events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_static_enrich(stream, dim, on="user_id")
    counts = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )
    return run_available_now(counts, spark, output_mode="complete")


# ---------------------------------------------------------------------------
# Format coverage: ORC and JSON-lines round trips (round 3)
# ---------------------------------------------------------------------------

@register(
    "orc_roundtrip",
    """
    SELECT r_name, count(*) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format coverage beyond parquet: land nation as ORC
    (Spark's other first-class columnar sink — same predicate-pushdown
    and column-pruning surface), read it back, broadcast-join region,
    aggregate. A type mismatch or value corruption in the ORC
    writer/reader pair breaks the hash against the parquet-sourced
    oracle."""
    path = f"{SCRATCH}/nation_orc"
    shutil.rmtree(path, ignore_errors=True)
    n = _t(spark, sf_dir, "nation")
    n.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    r = _t(spark, sf_dir, "region")
    return (
        back.join(F.broadcast(r), back["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
    )


@register(
    "jsonl_roundtrip",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts
    FROM events GROUP BY 1
    """,
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round trip — the interchange format half of S-series
    coverage: write events as JSONL, read back with an EXPLICIT schema
    (schema-on-read; inference is a second full scan and can demote
    types), aggregate. Exercises the two classic JSONL hazards:
    timestamp serialization (ISO-8601 under the UTC session zone) and
    double round-tripping (Jackson emits shortest-round-trip literals,
    so the decimal-quantized sum is exact)."""
    path = f"{SCRATCH}/events_jsonl"
    shutil.rmtree(path, ignore_errors=True)
    from air_quality_etl_pipeline_spark.workload import _events

    e = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    e.write.mode("overwrite").json(path)
    back = spark.read.schema(e.schema).json(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
    )


@register(
    "streaming_topk_daily",
    """
    WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      event_type, count(*) AS n_events
               FROM events GROUP BY 1, 2)
    SELECT day, event_type, n_events, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY day
            ORDER BY n_events DESC, event_type ASC) AS rk FROM d)
    WHERE rk <= 3
    """,
)
def q_streaming_topk_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k serving pattern: the watermarked tumbling-window
    aggregate runs as a stream (availableNow), and the rank-within-day
    top-3 runs as a batch query over the stream's result table — the
    standard split, since multi-level aggregation (rank over an
    aggregate) is not expressible in one incremental streaming query.
    The stream half is exactly streaming_daily_window's operator tree;
    the oracle computes the fused batch equivalent."""
    stream = read_events_stream(spark, sf_dir)
    daily = run_available_now(daily_counts(stream), spark)
    from pyspark.sql import Window

    w = Window.partitionBy("day").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        daily.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("day", "event_type", "n_events", "rank")
    )


@register(
    "streaming_rest_ingest",
    """
    WITH g AS (SELECT s.s, y.y
               FROM (SELECT unnest(range(0, 5)) AS s) s,
                    (SELECT unnest([2023, 2024]) AS y) y),
    payload AS (SELECT CAST(g.s AS VARCHAR) AS state_code,
                       (g.s * 31 + g.y) % 100 + i.i AS aqi
                FROM g, (SELECT unnest(range(0, 10)) AS i) i)
    SELECT state_code, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(aqi) AS BIGINT) AS sum_aqi
    FROM payload GROUP BY 1
    """,
)
def q_streaming_rest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 as a STREAMING Python Data Source (Spark 4 Simple API): the
    param grid is consumed incrementally, ``page_size`` API calls per
    micro-batch, with the grid index as a checkpointable offset —
    the cursor-forward REST polling loop expressed as a first-class
    streaming relation. The Simple API evaluates the reader on the
    driver (correct for rate-limited pagination) and replays committed
    ranges deterministically via readBetweenOffsets. Drained with
    processAllAvailable — Python streaming sources don't support
    Trigger.AvailableNow. The oracle regenerates the deterministic
    fake payload in SQL."""
    import json as _json

    from air_quality_etl_pipeline_spark.sources import rest_datasource
    from air_quality_etl_pipeline_spark.streaming.jobs import (
        run_process_all,
    )

    # the DataSource class is unpickled inside Spark's streaming-source
    # runner process, which inherits the JVM's PYTHONPATH — not the
    # driver's sys.path. Registering the module for by-VALUE pickling
    # ships the class (and its module globals) in the pickle itself,
    # so the runner never needs to import this package.
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(rest_datasource)
    spark.dataSource.register(rest_datasource.RestParamGridDataSource)
    grid = [
        {"state": s, "year": y} for s in range(5) for y in (2023, 2024)
    ]
    stream = (
        spark.readStream.format("rest_param_grid")
        .schema("state_code string, year int, aqi int")
        .option("param_grid_json", _json.dumps(grid))
        .option("page_size", "3")
        .load()
    )
    agg = stream.groupBy("state_code").agg(
        F.count("*").alias("n_rows"),
        F.sum("aqi").cast("long").alias("sum_aqi"),
    )
    return run_process_all(agg, spark, output_mode="complete")


@register(
    "csv_quarantine_split",
    """
    WITH flag AS (SELECT CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END
                    AS bad, o_totalprice
                  FROM orders)
    SELECT CAST(sum(1 - bad) AS BIGINT) AS n_clean,
           CAST(sum(bad) AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN bad = 0
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS clean_price_sum
    FROM flag
    """,
)
def q_csv_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+ quarantine path as a driver-checked round trip: write orders
    as CSV with a deterministic corruption (every 97th order key gets a
    non-numeric prefix), read back through the PERMISSIVE
    quarantine reader, and report clean/corrupt counts plus the clean
    aggregate. The oracle recomputes the same split rule from the
    source table — a quarantine reader that silently drops or
    mis-routes rows breaks either count."""
    from air_quality_etl_pipeline_spark.sources.readers import (
        read_csv_with_quarantine,
    )

    path = f"{SCRATCH}/orders_quarantine_csv"
    shutil.rmtree(path, ignore_errors=True)
    o = _t(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderkey") % 97 == 0,
            F.concat(F.lit("X"), F.col("o_orderkey").cast("string")),
        )
        .otherwise(F.col("o_orderkey").cast("string"))
        .alias("o_orderkey"),
        F.col("o_totalprice"),
    )
    o.write.mode("overwrite").option("header", "true").csv(path)
    clean, corrupt = read_csv_with_quarantine(
        spark, path, "o_orderkey BIGINT, o_totalprice DOUBLE"
    )
    nc = clean.agg(
        F.count("*").alias("n_clean"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("clean_price_sum"),
    )
    nq = corrupt.agg(F.count("*").alias("n_corrupt"))
    return nc.crossJoin(nq).select(
        "n_clean", "n_corrupt", "clean_price_sum"
    )


# NOTE: `streaming.jobs.tws_user_stats` (the transformWithStateInPandas
# twin of q_streaming_stateful_counts) is implemented and unit-tested
# behind an availability gate, but NOT registered as a driver query:
# Spark's TWS state-server protocol needs `google.protobuf`, which this
# container lacks (see SCALE.md "Environment blockers"). On a cluster
# with protobuf installed, register it exactly like
# streaming_stateful_counts with the same batch oracle.


def _register_streaming_dedup_incremental() -> None:
    """Registered via a function so the oracle builder import from
    workload_llm stays local (workload_llm itself imports nothing from
    this module, so the direction is acyclic but kept lazy anyway)."""
    from air_quality_etl_pipeline_spark.workload_llm import (
        _incremental_dedup_oracle,
    )

    @register("streaming_dedup_incremental", _incremental_dedup_oracle())
    def q_streaming_dedup_incremental(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The continuous-ingestion form of ``dedup_incremental_batch``:
        incoming documents arrive as a STREAM (availableNow over the
        documents parquet, filtered to the incoming ~20 % bucket) and
        each micro-batch is screened against the STATIC existing corpus
        inside ``foreachBatch`` — the hook where a production pipeline
        appends verdicts (or drops dups) transactionally. Per-document
        verdicts depend only on (document, static corpus), not on batch
        boundaries, so the result equals the batch twin row-for-row and
        the same DuckDB oracle applies — that equality IS the
        exactly-once test. No stream-side state store: the LSH band
        join runs batch-side per micro-batch."""
        from air_quality_etl_pipeline_spark.functions.core import (
            round_portable,
        )
        from air_quality_etl_pipeline_spark.operators.dedup import (
            minhash_lsh_pairs_between,
        )
        from air_quality_etl_pipeline_spark.operators.sampling import (
            sample_bucket,
        )

        out_dir = f"{SCRATCH}/streaming_incremental_dedup"
        ckpt = out_dir + "_ckpt"
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

        docs = _t(spark, sf_dir, "documents")
        corpus = docs.filter(sample_bucket(F.col("doc_id")) < 80)

        def screen(batch_df: DataFrame, batch_id: int) -> None:
            pairs = minhash_lsh_pairs_between(
                batch_df, corpus, "doc_id", "text",
                n=5, num_hashes=8, bands=4, threshold=0.7,
            )
            hits = pairs.groupBy("new_id").agg(
                F.count("*").cast("long").alias("n_matches"),
                round_portable(F.max("jaccard"), 4).alias("best_jaccard"),
            )
            (
                batch_df.select(F.col("doc_id").alias("new_id"))
                .join(hits, "new_id", "left")
                .select(
                    "new_id",
                    F.col("n_matches").isNotNull().alias("is_dup"),
                    F.coalesce(F.col("n_matches"), F.lit(0))
                    .cast("long")
                    .alias("n_matches"),
                    "best_jaccard",
                )
                .write.mode("append")
                .parquet(out_dir)
            )

        # file streams take a DIRECTORY; stream_table_path resolves
        # the file-vs-directory shape of documents.parquet (shared
        # with streaming.jobs.read_events_stream — a dir-shaped table
        # behind the old bare glob silently streamed ZERO rows)
        base, glob = stream_table_path(spark, sf_dir, "documents")
        reader = spark.readStream.schema(docs.schema)
        if glob is not None:
            reader = reader.option("pathGlobFilter", glob)
        stream = reader.parquet(base).filter(
            sample_bucket(F.col("doc_id")) >= 80
        )
        q = (
            stream.writeStream.foreachBatch(screen)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)


_register_streaming_dedup_incremental()


def _register_streaming_span_removal() -> None:
    """Lazy import of the shared oracle, same pattern as the LSH
    streaming twin above."""
    from air_quality_etl_pipeline_spark.workload_corpus import (
        SPAN_BETWEEN_ORACLE,
    )

    @register("streaming_span_removal", SPAN_BETWEEN_ORACLE)
    def q_streaming_span_removal(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The continuous-ingestion form of ``span_removal_between``
        (completing the streaming symmetry the LSH family already has):
        the incoming quarter of documents arrives as a STREAM
        (availableNow, ``doc_id % 4 = 0``) and each micro-batch is
        span-cut against the STATIC corpus inside ``foreachBatch``.
        The corpus's distinct gram-hash table is built ONCE
        (:func:`operators.dedup.corpus_gram_hashes`, persisted) and
        reused by every micro-batch — the production amortization the
        operator's ``corpus_grams=`` hook exists for. Per-document cuts
        depend only on (document, corpus), never on batch slicing
        (pinned by the batch twin's boundary-independence test), so the
        drained output equals the batch twin row-for-row and the SAME
        DuckDB oracle applies — that equality IS the exactly-once
        test. No stream-side state store."""
        from air_quality_etl_pipeline_spark.operators.dedup import (
            corpus_gram_hashes,
            span_removal_between,
        )

        out_dir = f"{SCRATCH}/streaming_span_removal"
        ckpt = out_dir + "_ckpt"
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

        docs = _t(spark, sf_dir, "documents")
        cg = corpus_gram_hashes(
            docs.filter(F.col("doc_id") % 4 != 0)
        ).persist()

        def cut(batch_df: DataFrame, batch_id: int) -> None:
            (
                span_removal_between(
                    batch_df, None, "text", "doc_id",
                    n=5, min_run=8, corpus_grams=cg,
                )
                .write.mode("append")
                .parquet(out_dir)
            )

        base, glob = stream_table_path(spark, sf_dir, "documents")
        reader = spark.readStream.schema(docs.schema)
        if glob is not None:
            reader = reader.option("pathGlobFilter", glob)
        stream = reader.parquet(base).filter(F.col("doc_id") % 4 == 0)
        q = (
            stream.writeStream.foreachBatch(cut)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        cg.unpersist()
        return spark.read.parquet(out_dir)


_register_streaming_span_removal()


def _register_streaming_quality_score() -> None:
    """Shared oracle from the LEAF fragments module (r13) — importing
    it from workload_training here was a circular-import landmine
    (this module loads before workload_training under workload.py's
    import order)."""
    from air_quality_etl_pipeline_spark.oracle_fragments import (
        QC_SCORE_ORACLE,
    )
    from air_quality_etl_pipeline_spark.oracle_fragments import (
        QC_B as _QC_B,
    )

    @register("streaming_quality_score", QC_SCORE_ORACLE)
    def q_streaming_quality_score(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The continuous-ingestion form of ``quality_classifier_score``
        (round-11 verdict #5): the corpus arrives as a STREAM
        (availableNow) and each micro-batch is scored inside
        ``foreachBatch`` with FROZEN weights — the ≤1025-row Naive
        Bayes weight table is trained ONCE on the static labeled split
        (``doc_id % 5 != 0``, class 1 = ``lang = 'en'``), which the
        operator returns MATERIALIZED before the stream starts (the
        production amortization: one training pass for the whole
        drain, scoring is map-side per batch — mirror of the span
        twin's once-built corpus gram table). Per-document scores depend only on
        (document, weights), never on batch slicing, so the drained
        output equals the batch twin row-for-row and the SAME DuckDB
        oracle applies — that equality IS the exactly-once test. No
        stream-side state store."""
        from air_quality_etl_pipeline_spark.operators.text import (
            quality_classifier_score,
            quality_classifier_weights,
        )

        out_dir = f"{SCRATCH}/streaming_quality_score"
        ckpt = out_dir + "_ckpt"
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

        docs = _t(spark, sf_dir, "documents")
        labeled = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
            "y", (F.col("lang") == "en").cast("int")
        )
        # trains once, BEFORE the drain
        w = quality_classifier_weights(labeled, label_col="y", n_buckets=_QC_B)

        def score(batch_df: DataFrame, batch_id: int) -> None:
            (
                quality_classifier_score(batch_df, w, n_buckets=_QC_B)
                .write.mode("append")
                .parquet(out_dir)
            )

        base, glob = stream_table_path(spark, sf_dir, "documents")
        reader = spark.readStream.schema(docs.schema)
        if glob is not None:
            reader = reader.option("pathGlobFilter", glob)
        stream = reader.parquet(base)
        q = (
            stream.writeStream.foreachBatch(score)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)


_register_streaming_quality_score()


# Builders above that DO the work at construction time (write a sink,
# run an ingest/DAG, or drive a stream to completion) — their returned
# DataFrame is a read-back, so bench/prepared must rebuild per sample
# rather than re-time the read-back (see workload.SIDE_EFFECT_QUERIES).
from air_quality_etl_pipeline_spark.workload import SIDE_EFFECT_QUERIES  # noqa: E402

SIDE_EFFECT_QUERIES.update(
    {
        "ingest_rest_bronze",
        "sink_partitioned_roundtrip",
        "csv_header_cast_roundtrip",
        "pipeline_dag_run",
        "sort_layout_roundtrip",
        "streaming_daily_window",
        "streaming_sliding_window",
        "streaming_dedup",
        "streaming_stateful_counts",
        "streaming_stream_join",
        "streaming_static_enrich",
        "streaming_outer_join",
        "orc_roundtrip",
        "jsonl_roundtrip",
        "streaming_topk_daily",
        "csv_quarantine_split",
        "streaming_rest_ingest",
        "streaming_dedup_incremental",
        "streaming_session_windows",
        "streaming_span_removal",
        "streaming_quality_score",
    }
)
