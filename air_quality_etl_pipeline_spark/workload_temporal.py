"""Temporal/event workload: as-of join, interval (band) join, JSON
property extraction, and event-type pivot over the events table — each
with a DuckDB oracle twin.

Timestamps are compared as epoch MICROSECONDS (BIGINT) on both engines:
Spark reads the TIMESTAMP(NANOS) parquet via the nanos→micros loader
(``workload._events``), DuckDB casts its TIMESTAMP_NS to TIMESTAMP —
both truncate the same way, so the integers agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import round_portable
from air_quality_etl_pipeline_spark.operators.joins import (
    asof_join,
    count_in_window,
    interval_join,
)
from air_quality_etl_pipeline_spark.operators.order_stats import with_global_rank
from air_quality_etl_pipeline_spark.workload import _events, register


@register(
    "asof_join_signup",
    """
    WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
    s AS (SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'signup')
    SELECT p.event_id, p.user_id,
           epoch_us(p.ts) AS purchase_us,
           m.event_id AS signup_event_id,
           m.value AS signup_value,
           epoch_us(p.ts) - epoch_us(m.ts) AS lag_us
    FROM p LEFT JOIN LATERAL (
      SELECT s.event_id, s.value, s.ts FROM s
      WHERE s.user_id = p.user_id AND s.ts <= p.ts
      ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) m ON true
    """,
)
def q_asof_join_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase picks up the user's latest
    prior signup (id, value, lag). Spark side is the union+window
    formulation — one shuffle on user_id; the oracle is the LATERAL
    top-1 definition of the same semantics."""
    e = _events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("purchase_us")
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_event_id"),
        "user_id",
        F.col("value").alias("s_value"),
        F.unix_micros("ts").alias("s_us"),
    )
    out = asof_join(
        purchases,
        signups,
        on=["user_id"],
        left_ts="purchase_us",
        right_ts="s_us",
        payload_cols=["s_event_id", "s_value"],
        tiebreak="s_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_us",
        F.col("asof_s_event_id").alias("signup_event_id"),
        F.col("asof_s_value").alias("signup_value"),
        (F.col("purchase_us") - F.col("asof_s_us")).alias("lag_us"),
    )


@register(
    "interval_join_follow",
    """
    WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t0
               FROM events WHERE event_type = 'error'),
    o AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t1, value
          FROM events)
    SELECT e.event_id, e.user_id,
           count(o.user_id) AS n_follow,
           CAST(coalesce(sum(CAST(o.value AS DECIMAL(18,2))), 0)
                AS DOUBLE) AS sum_follow
    FROM e LEFT JOIN o
      ON o.user_id = e.user_id AND o.t1 > e.t0
     AND o.t1 <= e.t0 + 600000000
    GROUP BY 1, 2
    """,
)
def q_interval_join_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: activity in the 10 minutes after each error by
    the same user. Spark side is the banded equi-join (window-width
    time bands, ≤2 bands per probe) — a hash join, not the nested-loop
    plan a raw range predicate would get."""
    e = _events(spark, sf_dir)
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t0")
    )
    others = e.select(
        "user_id", F.unix_micros("ts").alias("t1"), "value"
    )
    out = count_in_window(
        errors,
        others,
        on=["user_id"],
        probe_ts="t0",
        event_ts="t1",
        value_col=F.col("value"),
        window_us=600_000_000,
        probe_id=["event_id", "user_id"],
    )
    return out.select("event_id", "user_id", "n_follow", "sum_follow")


@register(
    "json_props_extract",
    """
    WITH k AS (SELECT event_type,
                      CAST(json_extract(props, '$.k') AS BIGINT) AS k
               FROM events)
    SELECT event_type, count(*) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM k GROUP BY 1
    """,
)
def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``$.k`` out of the JSON props
    string (JVM-side ``get_json_object``, no UDF) and aggregate —
    integer-exact, so no rounding portability concerns."""
    e = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_event_type",
    """
    SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
           """
    + ",\n           ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' "
        f"THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS {t}"
        for t in _EVENT_TYPES
    )
    + """
    FROM events GROUP BY 1
    """,
)
def q_pivot_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: monthly value totals as one wide column per event type.
    The pivot values are pinned (no extra distinct-scan job) and sums
    go through DECIMAL for order-independence."""
    e = _events(spark, sf_dir)
    return (
        e.withColumn("month", F.date_format("ts", "yyyy-MM"))
        .groupBy("month")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"))
    )


@register(
    "asof_nearest_join",
    """
    WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
               FROM events WHERE event_type = 'purchase'),
    v AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS v_us
          FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, m.view_event_id, m.diff_us
    FROM p JOIN LATERAL (
      SELECT v.event_id AS view_event_id, v.v_us - p.p_us AS diff_us
      FROM v
      WHERE v.user_id = p.user_id
        AND v.v_us >= p.p_us - 600000000
        AND v.v_us <= p.p_us + 600000000
      ORDER BY abs(v.v_us - p.p_us) ASC, (v.v_us - p.p_us) ASC,
               v.event_id ASC
      LIMIT 1) m ON true
    """,
)
def q_asof_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event join (the two-sided companion to the backward
    as-of): each purchase pairs with the temporally closest view by the
    same user within ±10 minutes — ties prefer the earlier (backward)
    event, then the lower event id. Candidates come from the banded
    interval join (bounded fanout, one hash shuffle — never a
    nested-loop range join), then one window keeps rank 1 per
    purchase. Integer-microsecond arithmetic end to end."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("p_us")
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        "user_id",
        F.unix_micros("ts").alias("v_us"),
    )
    # (p_us - 600s - 1, p_us + 600s]  ⇒  v_us ∈ [p_us-600s, p_us+600s]
    pairs = interval_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="p_us",
        right_ts="v_us",
        lower=-600_000_001,
        upper=600_000_000,
    )
    diff = F.col("v_us") - F.col("p_us")
    w = Window.partitionBy("event_id").orderBy(
        F.abs(diff).asc(), diff.asc(), F.col("view_event_id").asc()
    )
    return (
        pairs.withColumn("diff_us", diff)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("event_id", "user_id", "view_event_id", "diff_us")
    )


@register(
    "cdc_apply_latest",
    """
    WITH ops AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op
      FROM events),
    latest AS (
      SELECT user_id, op, value, ts FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rk
        FROM ops) WHERE rk = 1)
    SELECT user_id, op AS last_op,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value
    FROM latest WHERE op <> 'D'
    """,
)
def q_cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: replay an insert/update/delete op log
    into final table state — latest op per key wins (deterministic
    order: timestamp, then the log's own sequence id), keys whose last
    op is a delete disappear. This is the consumer half of every CDC
    pipeline (Debezium → lake table); the reference's MERGE covers the
    two-way upsert, this covers the log-driven three-way replay. One
    window shuffle on the key; nothing else touches the log twice."""
    e = _events(spark, sf_dir)
    from pyspark.sql import Window

    ops = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = ops.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    return latest.filter(F.col("op") != "D").select(
        "user_id",
        F.col("op").alias("last_op"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("value").cast("decimal(18,2)").cast("double").alias(
            "last_value"
        ),
    )


@register(
    "right_to_forget_scrub",
    """
    WITH dl AS (SELECT DISTINCT user_id FROM events WHERE user_id % 50 = 0),
    kept AS (SELECT e.* FROM events e
             WHERE NOT EXISTS (SELECT 1 FROM dl WHERE dl.user_id = e.user_id))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM dl) AS n_requests,
           (SELECT CAST(count(*) AS BIGINT) FROM events)
             - (SELECT CAST(count(*) AS BIGINT) FROM kept)
             AS n_events_dropped,
           (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_events_kept,
           (SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM kept) AS kept_value_sum
    """,
)
def q_right_to_forget_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-request propagation (GDPR right-to-forget): a deletion
    list arrives as a TABLE (here: the deterministic user_id % 50
    cohort), and every fact row for a listed user is dropped via a
    broadcast left-anti join — the list is structurally small, so the
    fact side never shuffles. The report row (requests, dropped, kept,
    kept-sum) is what the compliance job logs; at scale the same
    anti-join feeds a partition rewrite instead of a count."""
    e = _events(spark, sf_dir)
    dl = (
        e.select("user_id")
        .filter(F.col("user_id") % 50 == 0)
        .distinct()
    )
    kept = e.join(F.broadcast(dl), on="user_id", how="left_anti")
    totals = e.agg(F.count("*").alias("n_total"))
    kept_agg = kept.agg(
        F.count("*").alias("n_events_kept"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("kept_value_sum"),
    )
    nreq = dl.agg(F.count("*").alias("n_requests"))
    return (
        nreq.crossJoin(totals)
        .crossJoin(kept_agg)
        .select(
            F.col("n_requests").cast("long").alias("n_requests"),
            (F.col("n_total") - F.col("n_events_kept"))
            .cast("long")
            .alias("n_events_dropped"),
            F.col("n_events_kept").cast("long").alias("n_events_kept"),
            "kept_value_sum",
        )
    )


@register(
    "variant_props_extract",
    """
    WITH k AS (SELECT event_type,
                      CAST(json_extract(props, '$.k') AS BIGINT) AS k
               FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(sum(k * k) AS BIGINT) AS sum_k2,
           CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_even
    FROM k GROUP BY 1
    """,
)
def q_variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through the VARIANT type (Spark 4):
    ``parse_json`` materializes the props column as a binary variant
    ONCE, and ``variant_get`` pulls typed fields without re-parsing
    per path — the open-schema ingestion pattern (one parse, many
    typed reads) that replaces repeated ``get_json_object`` string
    walks. The oracle reads the same fields with plain JSON
    extraction; results are integer-exact."""
    e = _events(spark, sf_dir)
    v = e.select(
        "event_type", F.parse_json(F.col("props")).alias("vp")
    )
    k = F.expr("variant_get(vp, '$.k', 'bigint')")
    return (
        v.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.sum(F.col("k") * F.col("k")).cast("long").alias("sum_k2"),
            F.sum((F.col("k") % 2 == 0).cast("int"))
            .cast("long")
            .alias("n_even"),
        )
    )


@register(
    "tz_daily_counts",
    """
    WITH l AS (SELECT timezone('America/New_York',
                               timezone('UTC', CAST(ts AS TIMESTAMP)))
                 AS local_ts,
                      CAST(ts AS TIMESTAMP) AS utc_ts
               FROM events)
    SELECT strftime(date_trunc('day', local_ts), '%Y-%m-%d') AS ny_day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN date_trunc('day', local_ts)
                         <> date_trunc('day', utc_ts)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_shifted
    FROM l GROUP BY 1
    """,
)
def q_tz_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-correct daily rollup: UTC event times converted to
    America/New_York before the day boundary is drawn — the bug class
    behind every "why is Monday's revenue wrong" ticket (a UTC
    day-grain rollup splits local days at 19:00). ``n_shifted`` counts
    rows whose local day differs from their UTC day. Both engines
    resolve the IANA zone (DuckDB via the session-independent
    ``timezone('UTC', ·)`` → ``timezone(zone, ·)`` chain, Spark via
    ``from_utc_timestamp``); conversion is scan-local."""
    e = _events(spark, sf_dir)
    local = F.from_utc_timestamp(F.col("ts"), "America/New_York")
    return (
        e.select(
            F.date_format(local, "yyyy-MM-dd").alias("ny_day"),
            (
                F.to_date(local) != F.to_date(F.col("ts"))
            ).cast("int").alias("shifted"),
        )
        .groupBy("ny_day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("shifted").cast("long").alias("n_shifted"),
        )
    )


@register(
    "largest_remainder_alloc",
    """
    WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
    q AS (SELECT c.event_type, c.n,
                 (c.n * 1000) // t.total AS floor_alloc,
                 (c.n * 1000) % t.total AS remainder
          FROM c, t),
    s AS (SELECT CAST(sum(floor_alloc) AS BIGINT) AS allocated FROM q),
    r AS (SELECT q.*, row_number() OVER (
            ORDER BY remainder DESC, event_type ASC) AS rk
          FROM q)
    SELECT r.event_type, r.n,
           CAST(r.floor_alloc + CASE WHEN r.rk <= 1000 - s.allocated
                                     THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM r, s
    """,
)
def q_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) allocation: split an integer budget
    of 1000 units across event types exactly proportionally — floor
    every quota, then hand the leftover units to the largest
    fractional remainders (ties by name). The allocations sum to
    EXACTLY 1000 by construction, which naive per-row rounding does
    not guarantee — the reporting/budgeting primitive behind seat
    apportionment, traffic splits, and sampling quotas. All integer
    arithmetic (``n·1000 div total`` and the modulo remainder), so
    both engines agree bit-for-bit."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    c = e.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    q = c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n",
        F.expr("(n * 1000) div total").alias("floor_alloc"),
        F.expr("(n * 1000) % total").alias("remainder"),
    )
    s = q.agg(F.sum("floor_alloc").cast("long").alias("allocated"))
    w = Window.orderBy(F.col("remainder").desc(), F.col("event_type").asc())
    r = q.withColumn("rk", F.row_number().over(w))
    return r.crossJoin(F.broadcast(s)).select(
        "event_type",
        "n",
        (
            F.col("floor_alloc")
            + F.when(
                F.col("rk") <= F.lit(1000) - F.col("allocated"), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("alloc"),
    )


@register(
    "event_transition_matrix",
    """
    WITH o AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id)
                        AS prev_type
               FROM events),
    t AS (SELECT prev_type, event_type AS next_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    r AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total
          FROM t GROUP BY 1)
    SELECT t.prev_type, t.next_type, t.n,
           floor(CAST(t.n AS DOUBLE) / r.row_total * 1000000.0 + 0.5)
             / 1000000.0 AS p_next
    FROM t JOIN r ON t.prev_type = r.prev_type
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    stream: counts and row-normalized probabilities for each
    (previous → next) pair — the model behind next-action prediction
    features and journey anomaly detection. One lag window over the
    (user, time) order, a k²-sized aggregate, and a row-total join
    that broadcasts (k event types)."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    t = o.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").cast("long").alias("n")
    )
    r = t.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("row_total")
    )
    return t.join(F.broadcast(r), on="prev_type").select(
        "prev_type",
        "next_type",
        "n",
        round_portable(
            F.col("n").cast("double") / F.col("row_total"), 6
        ).alias("p_next"),
    )


@register(
    "dwell_time_stats",
    """
    WITH o AS (SELECT user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                      lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                        PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id)
                        AS next_us
               FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_dwells,
           CAST(sum(next_us - ts_us) AS BIGINT) AS total_dwell_us,
           CAST(max(next_us - ts_us) AS BIGINT) AS max_dwell_us,
           (CAST(sum(next_us - ts_us) AS BIGINT) // count(*))
             AS mean_dwell_us
    FROM o WHERE next_us IS NOT NULL
    GROUP BY 1
    """,
)
def q_dwell_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time per event type: microseconds until the same user's
    NEXT event (lead over the user timeline) — the engagement metric
    behind "time on page". All arithmetic is integer microseconds
    (epoch_us both engines), so sums, max and the floor-divided mean
    are exact; the last event of each user has no dwell and is
    excluded on both sides."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    us = (F.unix_micros(F.col("ts"))).alias("ts_us")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "event_type",
        us,
        F.lead(F.unix_micros(F.col("ts"))).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    dwell = F.col("next_us") - F.col("ts_us")
    return o.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_dwells"),
        F.sum(dwell).cast("long").alias("total_dwell_us"),
        F.max(dwell).cast("long").alias("max_dwell_us"),
        F.expr(
            "CAST(sum(next_us - ts_us) AS BIGINT) div count(*)"
        ).alias("mean_dwell_us"),
    )


@register(
    "multitouch_attribution",
    """
    WITH v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                 CAST(value AS DECIMAL(18,2)) AS value
          FROM events WHERE event_type = 'purchase'),
    pairs AS (SELECT p.event_id AS purchase_id, p.value,
                     v.event_id AS view_id
              FROM p JOIN v ON p.user_id = v.user_id
               AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR),
    nper AS (SELECT purchase_id, CAST(count(*) AS BIGINT) AS n_touches
             FROM pairs GROUP BY 1),
    credit AS (
      SELECT pr.view_id,
             CAST(floor(CAST(pr.value AS DOUBLE) / np.n_touches
                        * 1000000.0 + 0.5) AS BIGINT) AS credit_micro
      FROM pairs pr JOIN nper np ON pr.purchase_id = np.purchase_id)
    SELECT view_id, CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(credit_micro) AS BIGINT) AS credit_micro
    FROM credit GROUP BY 1
    """,
)
def q_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits
    equally across the same user's views in the preceding hour, and
    every view accumulates its credit — the revenue-allocation model
    one step past last-touch. Per-touch credits quantize to integer
    micro-units BEFORE the per-view sum, so accumulation is exact and
    partition-order independent. The pair generation is the same
    bounded interval join as the streaming attribution queries."""
    e = _events(spark, sf_dir)
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").cast("decimal(18,2)").alias("value"),
    )
    pairs = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "value", "view_id")
    nper = pairs.groupBy("purchase_id").agg(
        F.count("*").cast("long").alias("n_touches")
    )
    credit = pairs.join(nper, on="purchase_id").select(
        "view_id",
        F.floor(
            F.col("value").cast("double")
            / F.col("n_touches")
            * 1000000.0
            + F.lit(0.5)
        )
        .cast("long")
        .alias("credit_micro"),
    )
    return credit.groupBy("view_id").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.sum("credit_micro").cast("long").alias("credit_micro"),
    )


@register(
    "repeat_purchase_interval",
    """
    WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
    gaps AS (SELECT user_id,
                    epoch_us(ts) - epoch_us(lag(ts) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
             FROM p),
    g AS (SELECT user_id, gap_us FROM gaps WHERE gap_us IS NOT NULL),
    r AS (SELECT gap_us,
                 row_number() OVER (ORDER BY gap_us ASC) AS rn,
                 count(*) OVER () AS n
          FROM g)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_repeat_gaps,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM g)
             AS n_repeat_buyers,
           (SELECT CAST(gap_us AS BIGINT) FROM r
            WHERE rn = (n + 1) // 2) AS median_gap_us,
           (SELECT CAST(max(gap_us) AS BIGINT) FROM g) AS max_gap_us
    """,
)
def q_repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the lower-median and max of
    inter-purchase gaps across all repeat buyers — the number that
    sets replenishment-campaign timing and the denominator of
    "churned buyer" definitions. Gaps are exact integer microseconds
    from one lag window; the median is position-based (a real data
    value, no interpolation) over the gap relation — which is
    DATA-SIZED, so the rank is the bucketed two-phase
    :func:`~.operators.order_stats.with_global_rank`, the count rides
    the operator's bucket-counts collect (``total_col``), and the gap
    relation is checkpointed ONCE here so the stats aggregate and the
    rank passes share one materialization of the lag window instead of
    re-running it per consumer. Never an unpartitioned window;
    value-only tie order leaves the rank→value mapping exact."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        p.select(
            "user_id",
            (
                F.unix_micros("ts")
                - F.unix_micros(F.lag("ts").over(w))
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
        .localCheckpoint(eager=False)
    )
    stats = g.agg(
        F.count("*").cast("long").alias("n_repeat_gaps"),
        F.countDistinct("user_id").cast("long").alias("n_repeat_buyers"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )
    r = with_global_rank(
        g,
        F.col("gap_us"),
        [F.col("gap_us").asc()],
        "rn",
        materialize=False,
        total_col="n",
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        F.col("gap_us").cast("long").alias("median_gap_us")
    )
    return stats.crossJoin(F.broadcast(med)).select(
        "n_repeat_gaps", "n_repeat_buyers", "median_gap_us", "max_gap_us"
    )
