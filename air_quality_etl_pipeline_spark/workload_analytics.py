"""Advanced-analytics workload: the window-frame / multi-grain / data-
quality operators a metrics layer needs beyond the reference's own
measures (SURVEY §2.5-2.7 "our metrics layer will use them" note), each
with a DuckDB oracle twin.

New operators here:

* GROUPING SETS at explicit grains (the third member of the
  cube/rollup family — SURVEY §2.5 exposes "measure valid at any
  grain"; this is the enumerated-grain variant a BI layer compiles to).
* RANGE-frame moving aggregates (7-day revenue window — the frame-spec
  capability called out in SURVEY §2.6 "our metrics layer will use
  them").
* ntile / cume_dist distribution buckets (decile tables for score
  cutoffs — the curation primitive behind "keep the top X% by quality").
* SCD2 validity intervals from a change log (the accumulating-dimension
  twin of the reference's MERGE upsert, K4/J9 — as intervals instead of
  insert-only rows).
* EXISTS semi-join and correlated above-average filter (the semi-join
  family the reference only uses as ``left_anti``, D3/J8).
* Histogram binning + single-pass null/distinct profiling (the QA row
  counts of ``Automated_Bronze_to_Silver...py:211-213`` generalized into
  a data-quality operator).
* Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
  2003) — the guarantee-bearing variant of the rolling-hash
  fingerprint in ``operators/text.py``.

Scale notes: every query is one shuffle (a single groupBy or a single
window partition key) except where noted; window partitions are
per-user / per-doc (small, many) — never a global single-partition
sort. All expressions are Catalyst built-ins (no UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import (
    md5_hex15,
    round_portable,
    token_array,
)
from air_quality_etl_pipeline_spark.functions.portable_math import (
    dec38_to_double_portable,
    sql_dec38_to_double,
)
from air_quality_etl_pipeline_spark.operators.buckets import aqi_category
from air_quality_etl_pipeline_spark.operators.cleaning import quality_report
from air_quality_etl_pipeline_spark.operators.order_stats import (
    sequence_gaps,
    with_global_rank,
    with_running_max,
    with_running_sum,
)
from air_quality_etl_pipeline_spark.oracle_fragments import TOKS, _REV
from air_quality_etl_pipeline_spark.plans.merge import (
    apply_cdc,
    apply_cdc_scd2,
    merge_apply,
    table_diff,
    upsert_replace,
)
from air_quality_etl_pipeline_spark.workload import (
    _dec_sum,
    _events,
    _sql_views,
    _t,
    register,
)

# ---------------------------------------------------------------------------
# Multi-grain: GROUPING SETS (complements cube_measures / rollup_measures)
# ---------------------------------------------------------------------------


@register(
    "grouping_sets_measures",
    """
    SELECT coalesce(o_orderstatus, '(all)') AS status,
           coalesce(o_orderpriority, '(all)') AS priority,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def q_grouping_sets_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-grain aggregation: the BI layer's enumerated slicer
    combinations compiled to ONE pass (Spark expands grouping sets in a
    single Expand+Aggregate — one shuffle, not one job per grain).

    Null grain markers are label-coalesced so the output is
    self-describing (both grouping columns are non-null in the data,
    so '(all)' is unambiguous)."""
    o = _t(spark, sf_dir, "orders")
    # r13 (guide §2.3, same rework as q_cube_measures): aggregate once
    # at the finest (status, priority) grain, then expand the ~15
    # partial rows over the three grouping sets — Expand no longer
    # replicates every order row ×3. Counts and decimal sums
    # reassociate exactly; the () set's empty-input row is restored by
    # the coalesce.
    base = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_s"),
    )
    g = base.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_rows"),
        F.sum("_s").cast("double").alias("sum_price"),
    )
    return g.select(
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
        "n_rows",
        "sum_price",
    )


# ---------------------------------------------------------------------------
# RANGE-frame moving aggregates
# ---------------------------------------------------------------------------


@register(
    "moving_avg_7d",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(sum(rev) OVER w AS DOUBLE) AS rev_7d,
           CAST(sum(rev) OVER w AS DOUBLE) / count(*) OVER w AS avg_7d
    FROM daily
    WINDOW w AS (ORDER BY datediff('day', DATE '1970-01-01', d)
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue window over daily totals: a RANGE frame on
    epoch-day (gaps in the calendar shrink the window — the correct
    time-series semantics, unlike ROWS 6 PRECEDING which would span
    gaps). Daily pre-aggregation first, so the window runs over ~2.4 k
    rows, not 15 k orders; decimal sums keep the frame total exact.

    Scale: the daily aggregate is one shuffle; the global-ordered window
    over *days* stays small at any fact scale (days grow with time, not
    data volume) — at 100 TB the pattern is identical because the window
    input is the calendar, not the fact table."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = (
        Window.orderBy(F.unix_date(F.col("d")))
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(w).cast("double").alias("rev_7d"),
        (F.sum("rev").over(w).cast("double") / F.count("*").over(w)).alias(
            "avg_7d"
        ),
    )


# ---------------------------------------------------------------------------
# Distribution buckets: ntile deciles + cume_dist
# ---------------------------------------------------------------------------


@register(
    "ntile_deciles",
    """
    WITH spend AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders GROUP BY 1),
    r AS (
      SELECT o_custkey, s,
             ntile(10) OVER (ORDER BY s DESC, o_custkey) AS decile,
             cume_dist() OVER (ORDER BY s DESC, o_custkey) AS cd
      FROM spend)
    SELECT CAST(decile AS BIGINT) AS decile,
           count(*) AS n_customers,
           CAST(min(s) AS DOUBLE) AS min_spend,
           CAST(max(s) AS DOUBLE) AS max_spend,
           max(cd) AS max_cume_dist
    FROM r GROUP BY decile
    """,
)
def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend deciles: ntile(10) + cume_dist with a deterministic
    tiebreak (spend DESC, custkey ASC — exact decimal comparison, so the
    bucket assignment is reproducible across engines). This is the
    curation primitive behind quality-score percentile cutoffs.

    Scale: the ranked relation is the CUSTOMER aggregate, which scales
    with the data — so the rank is the bucketed two-phase
    :func:`~.operators.order_stats.with_global_rank` and ntile /
    cume_dist are their closed forms over (rn, n): SQL ntile(k) gives
    the first ``n mod k`` buckets ``⌈n/k⌉`` rows and the rest ``⌊n/k⌋``;
    with the total tie order, cume_dist is exactly ``rn / n``. Both are
    EXACT — no approx-quantile tradeoff needed."""

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")
    )
    ranked = with_global_rank(
        spend,
        -F.col("s"),
        [F.desc("s"), F.asc("o_custkey")],
        "rn",
        total_col="n",
    )
    k = 10
    q = F.expr(f"n div {k}")
    rem = F.expr(f"n % {k}")
    big = (q + 1) * rem  # rows living in the ⌈n/k⌉-sized buckets
    decile = F.when(
        F.col("rn") <= big, F.expr(f"(rn - 1) div ((n div {k}) + 1) + 1")
    ).otherwise(
        rem + F.expr(f"(rn - 1 - ((n div {k}) + 1) * (n % {k})) div (n div {k})") + 1
    )
    r = ranked.select(
        "s",
        decile.cast("long").alias("decile"),
        (F.col("rn").cast("double") / F.col("n")).alias("cd"),
    )
    return r.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.min("s").cast("double").alias("min_spend"),
        F.max("s").cast("double").alias("max_spend"),
        F.max("cd").alias("max_cume_dist"),
    )


# ---------------------------------------------------------------------------
# SCD2 validity intervals from a change log
# ---------------------------------------------------------------------------


@register(
    "scd2_intervals",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events),
    marked AS (
      SELECT *, lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
      FROM e),
    changes AS (SELECT * FROM marked
                WHERE prev_type IS NULL OR event_type <> prev_type)
    SELECT user_id, event_type AS state, ts_us AS valid_from_us,
           lead(ts_us) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us,
           CAST(CASE WHEN lead(ts_us) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
             THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM changes
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from a change log: collapse consecutive
    duplicate states per user (lag), then derive [valid_from, valid_to)
    intervals (lead) with an is_current flag. This is the
    interval-tracked twin of the reference's insert-only Delta MERGE
    accumulation (``Automated_Silver_to_Gold...py:276-292``) — the
    standard Kimball SCD2 shape.

    One shuffle: both windows share the (user_id → ts, event_id)
    partitioning, so Catalyst plans a single Exchange + two Window
    nodes over the same sort."""
    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    marked = e.withColumn("prev_type", F.lag("event_type").over(w))
    changes = marked.filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    out = changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w).alias("valid_to_us"),
    )
    return out.withColumn(
        "is_current",
        F.when(F.col("valid_to_us").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long"),
    )


# ---------------------------------------------------------------------------
# Semi-join family: EXISTS + correlated above-average filter
# ---------------------------------------------------------------------------


@register(
    "semi_join_exists",
    """
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def q_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join: customers with at least one urgent
    order, profiled by segment. Completes the semi-join family the
    reference only exercises as ``left_anti`` (D3/J8). The filtered
    orders side streams through the join without deduplication —
    left_semi short-circuits on first match."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    hit = c.join(urgent, on="c_custkey", how="left_semi")
    return hit.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"), _dec_sum("c_acctbal", "sum_bal")
    )


@register(
    "above_avg_orders",
    """
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey) AS DOUBLE)
               / count(*) OVER (PARTITION BY o_custkey) AS cust_avg
      FROM orders)
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM r WHERE o_totalprice > cust_avg
    GROUP BY o_orderpriority
    """,
)
def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery pattern (orders above their customer's own
    average) decorrelated to a window aggregate — one shuffle on
    o_custkey instead of a per-row subquery. The average is the
    deterministic decimal-sum/count division, so the > comparison is
    bit-identical across engines."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    r = o.withColumn(
        "cust_avg",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast(
            "double"
        )
        / F.count("*").over(w),
    )
    return (
        r.filter(F.col("o_totalprice") > F.col("cust_avg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _dec_sum("o_totalprice", "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# First/last per key in one pass (struct min/max)
# ---------------------------------------------------------------------------


@register(
    "first_last_per_user",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_us DESC, event_id DESC) AS rn_d
      FROM e)
    SELECT user_id,
           max(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
           max(CASE WHEN rn_a = 1 THEN ts_us END) AS first_us,
           max(CASE WHEN rn_d = 1 THEN value END) AS last_value,
           max(CASE WHEN rn_d = 1 THEN ts_us END) AS last_us,
           count(*) AS n_events
    FROM r GROUP BY user_id
    """,
)
def q_first_last_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event per user in ONE aggregation pass: min/max over a
    (ts, event_id, payload) struct — lexicographic struct comparison
    with a unique (ts_us, event_id) prefix makes the pick deterministic
    without a window sort. Partial aggregation (map-side combine) means
    no per-user sort at all — strictly cheaper than the row_number
    formulation the oracle uses, and the 100 TB-friendly way to express
    "latest record per key"."""
    e = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    agg = e.groupBy("user_id").agg(
        F.min(F.struct("ts_us", "event_id", "event_type")).alias("fst"),
        F.max(F.struct("ts_us", "event_id", "value")).alias("lst"),
        F.count("*").alias("n_events"),
    )
    return agg.select(
        "user_id",
        F.col("fst.event_type").alias("first_type"),
        F.col("fst.ts_us").alias("first_us"),
        F.col("lst.value").alias("last_value"),
        F.col("lst.ts_us").alias("last_us"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Full MERGE (update + insert) and set operators
# ---------------------------------------------------------------------------


@register(
    "merge_upsert_update",
    """
    WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey % 7 <> 0),
    src AS (SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
            FROM orders WHERE o_orderkey % 3 = 0),
    merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT t.* FROM tgt t
      WHERE NOT EXISTS (SELECT 1 FROM src s
                        WHERE s.o_orderkey = t.o_orderkey))
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def q_merge_upsert_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT (full MERGE, the
    update case the reference's insert-only Delta MERGE never
    exercises): a corrections feed (doubled totals for every 3rd order)
    upserts into a target missing every 7th order — source rows replace
    on key match, unmatched target rows survive, new keys insert.
    plans/merge.upsert_replace = one anti-join shuffle + union."""
    o = _t(spark, sf_dir, "orders")
    tgt = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    merged = upsert_replace(tgt, src, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"), _dec_sum("o_totalprice", "sum_price")
    )


@register(
    "merge_full_sync",
    """
    WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey % 7 <> 0),
    src AS (SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
            FROM orders WHERE o_orderkey % 3 = 0),
    merged AS (
      SELECT s.* FROM src s JOIN tgt t ON s.o_orderkey = t.o_orderkey
      WHERE s.o_orderstatus = 'O'
      UNION ALL
      SELECT t.* FROM tgt t JOIN src s ON s.o_orderkey = t.o_orderkey
      WHERE s.o_orderstatus <> 'O'
      UNION ALL
      SELECT t.* FROM tgt t
      WHERE NOT EXISTS (SELECT 1 FROM src s
                        WHERE s.o_orderkey = t.o_orderkey)
        AND t.o_orderstatus <> 'F'
      UNION ALL
      SELECT s.* FROM src s
      WHERE NOT EXISTS (SELECT 1 FROM tgt t
                        WHERE t.o_orderkey = s.o_orderkey))
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def q_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's full MERGE clause matrix in one statement — conditional
    WHEN MATCHED UPDATE (only open orders take the correction), WHEN
    NOT MATCHED INSERT, and conditional WHEN NOT MATCHED BY SOURCE
    DELETE (finished orders absent from the feed are retired) — via
    ``plans/merge.merge_apply``, the pure-Spark formulation pinned
    test-by-test against Delta's documented semantics in
    tests/test_merge_matrix.py.  The oracle spells the same matrix as
    four UNION ALL branches. ``merge_apply`` folds the Delta
    multiple-match error into the plan (raise_error branch), so the
    merge runs as ONE action with no probe."""
    o = _t(spark, sf_dir, "orders")
    tgt = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    merged = merge_apply(
        tgt,
        src,
        ["o_orderkey"],
        matched_clauses=[
            {
                "action": "update",
                "condition": lambda t, s: s["o_orderstatus"] == "O",
            }
        ],
        not_matched_by_source_clauses=[
            {
                "action": "delete",
                "condition": lambda t: t["o_orderstatus"] == "F",
            }
        ],
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"), _dec_sum("o_totalprice", "sum_price")
    )


@register(
    "merge_multi_clause",
    """
    WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey % 7 <> 0),
    s0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
           FROM orders WHERE o_orderkey % 3 = 0),
    src AS (SELECT * FROM s0
            UNION ALL
            SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice FROM s0),
    merged AS (
      SELECT s.* FROM s0 s JOIN tgt t ON s.o_orderkey = t.o_orderkey
      WHERE s.o_orderstatus = 'O'
      UNION ALL
      SELECT t.* FROM tgt t JOIN s0 s ON s.o_orderkey = t.o_orderkey
      WHERE s.o_orderstatus NOT IN ('O', 'F')
      UNION ALL
      SELECT t.* FROM tgt t
      WHERE NOT EXISTS (SELECT 1 FROM s0 s
                        WHERE s.o_orderkey = t.o_orderkey)
      UNION ALL
      SELECT s.* FROM src s
      WHERE NOT EXISTS (SELECT 1 FROM tgt t
                        WHERE t.o_orderkey = s.o_orderkey))
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def q_merge_multi_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's ORDERED multi-clause WHEN MATCHED form, driven through
    the fan-out plan of ``plans/merge.merge_apply``: the
    source deliberately carries TWO rows per key (the real correction
    plus a disqualified 'X' shadow copy), so duplicate matched keys
    coexist with clause conditions — the exact shape where the
    round-8 Delta-exact check must count QUALIFYING rows per target
    row (the shadow never qualifies, so no error) and first-match-wins
    must pick the right clause per source row. Clause 1 updates open
    orders ('O'), clause 2 deletes finished ones ('F'), anything else
    matched falls through to keep; unmatched source rows — BOTH copies
    — insert, per Delta. The oracle spells the same matrix as UNION
    ALL branches over the qualifying relation.

    Scale: one key shuffle for the fan-out join + one for the
    per-target-row reduction; ``merge_apply`` compiles the Delta
    multiple-match error into the plan as a raise_error branch, so the
    whole merge is ONE action — no routing probe and no second
    execution of the fan-out join."""
    o = _t(spark, sf_dir, "orders")
    tgt = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    s0 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    # both copies from ONE scan (explode, not union — a union would
    # double every downstream source scan and trip the repeated-scan
    # fence: merge_apply legitimately reads the source twice, fan-out
    # join + insert anti-join, so the input must stay single-scan)
    src = s0.select(
        F.explode(
            F.array(
                F.struct("o_orderkey", "o_orderstatus", "o_totalprice"),
                F.struct(
                    F.col("o_orderkey"),
                    F.lit("X").alias("o_orderstatus"),
                    F.col("o_totalprice"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    merged = merge_apply(
        tgt,
        src,
        ["o_orderkey"],
        matched_clauses=[
            {
                "action": "update",
                "condition": lambda t, s: s["o_orderstatus"] == "O",
            },
            {
                "action": "delete",
                "condition": lambda t, s: s["o_orderstatus"] == "F",
            },
        ],
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"), _dec_sum("o_totalprice", "sum_price")
    )


@register(
    "cdc_apply_snapshot",
    """
    WITH tgt AS (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_orderkey % 7 <> 0),
    ch AS (SELECT l_orderkey AS o_orderkey, l_linenumber AS seq,
                  CASE WHEN l_returnflag = 'R' THEN 'delete'
                       ELSE 'upsert' END AS op,
                  l_extendedprice AS o_totalprice
           FROM lineitem),
    latest AS (SELECT o_orderkey, op, o_totalprice FROM (
        SELECT o_orderkey, op, o_totalprice,
               -- apply_cdc's winner is max(struct(seq, op, payload)),
               -- a TOTAL order; the testdata's seq is NOT unique per
               -- key, so the tie-break columns must be spelled out
               -- here too or the engines pick different winners
               row_number() OVER (PARTITION BY o_orderkey
                 ORDER BY seq DESC, op DESC, o_totalprice DESC) AS rn
        FROM ch) WHERE rn = 1),
    applied AS (
      SELECT t.o_orderkey, t.o_totalprice FROM tgt t
      WHERE NOT EXISTS (SELECT 1 FROM latest l
                        WHERE l.o_orderkey = t.o_orderkey)
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM latest WHERE op <> 'delete')
    SELECT CAST(o_orderkey % 10 AS BIGINT) AS bucket,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM applied GROUP BY 1
    """,
)
def q_cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply, latest-wins (Delta Live Tables ``APPLY CHANGES
    INTO``, SCD-1): the lineitem table plays a change feed — each line
    of an order is a change keyed by ``l_orderkey``, sequenced by
    ``l_linenumber``, with returned lines ('R') as tombstones — and
    ``plans/merge.apply_cdc`` replays it against an orders snapshot:
    the highest-sequence change per key decides (delete drops the key,
    anything else upserts its payload). The oracle resolves the same
    winners with a row_number window and applies them as UNION ALL
    branches.

    Scale: one key shuffle for the winner aggregate (map-side partial
    max — no window over the feed), anti-join on the same key; the
    feed collapses to key cardinality before it meets the target."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    tgt = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    changes = li.select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_linenumber").alias("seq"),
        F.when(F.col("l_returnflag") == "R", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("l_extendedprice").alias("o_totalprice"),
    )
    applied = apply_cdc(
        tgt, changes, ["o_orderkey"], seq_col="seq", op_col="op"
    )
    return applied.groupBy(
        (F.col("o_orderkey") % 10).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        _dec_sum("o_totalprice", "sum_price"),
    )


@register(
    "cdc_apply_scd2",
    """
    WITH ch AS (SELECT l_orderkey AS o_orderkey, l_linenumber AS seq,
                  CASE WHEN l_returnflag = 'R' THEN 'delete'
                       ELSE 'upsert' END AS op,
                  l_extendedprice AS price
           FROM lineitem),
    -- apply_cdc_scd2 dedupes per (key, seq) by the op-blind total
    -- order max(struct(op <> 'delete', payload, op)) — spelled out
    -- here as op DESC ('upsert' > 'delete'), then payload (testdata
    -- seq is NOT unique per key, same trap cdc_apply_snapshot
    -- documents)
    dedup AS (SELECT o_orderkey, seq, op, price FROM (
        SELECT o_orderkey, seq, op, price,
               row_number() OVER (PARTITION BY o_orderkey, seq
                 ORDER BY op DESC, price DESC NULLS LAST) AS rn
        FROM ch) WHERE rn = 1),
    vers AS (SELECT o_orderkey, op, price, seq AS start_at,
                    lead(seq) OVER (PARTITION BY o_orderkey
                                    ORDER BY seq) AS end_at,
                    lag(op) OVER (PARTITION BY o_orderkey
                                  ORDER BY seq) AS prev_op
             FROM dedup),
    -- real versions, plus the degenerate [seq, seq] NULL-payload
    -- tombstone for a delete that closed no version (first surviving
    -- event for its key, or preceded only by another delete)
    hist AS (SELECT o_orderkey, price, start_at, end_at
             FROM vers WHERE op <> 'delete'
             UNION ALL
             SELECT o_orderkey, NULL AS price, start_at,
                    start_at AS end_at
             FROM vers WHERE op = 'delete'
               AND (prev_op IS NULL OR prev_op = 'delete'))
    SELECT CAST(o_orderkey % 10 AS BIGINT) AS bucket,
           count(*) AS n_versions,
           CAST(sum(CASE WHEN end_at IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_open,
           CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           CAST(sum(start_at) AS BIGINT) AS sum_start,
           CAST(sum(end_at) AS BIGINT) AS sum_end
    FROM hist GROUP BY 1
    """,
)
def q_cdc_apply_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with history (Delta Live Tables ``APPLY CHANGES INTO
    ... STORED AS SCD TYPE 2``): the lineitem change feed of
    ``cdc_apply_snapshot`` replayed into version intervals — each
    upsert opens a ``[__START_AT, __END_AT)`` version, the next change
    closes it, returned lines ('R') are deletes that close without
    opening, live versions carry NULL ``__END_AT``; a delete that
    closed nothing survives as a degenerate ``[seq, seq]``
    NULL-payload tombstone (it still constrains later-arriving
    lower-sequence upserts). The oracle builds
    the same intervals with the (key, seq) dedup + lead() windows; the
    aggregate fingerprints interval placement (sum of starts/ends,
    open-version count) so a mis-stamped or unclosed version flips the
    hash.

    Scale: one key repartition feeds both the dedup aggregate and the
    per-key lead window (hash partitioning on a key subset satisfies
    both clusterings) — one shuffle end-to-end, versions-per-key
    bounded by the feed, no data-sized window."""
    li = _t(spark, sf_dir, "lineitem")
    changes = li.select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_linenumber").alias("seq"),
        F.when(F.col("l_returnflag") == "R", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("l_extendedprice").alias("price"),
    )
    hist = apply_cdc_scd2(
        None, changes, ["o_orderkey"], seq_col="seq", op_col="op"
    )
    return hist.groupBy(
        (F.col("o_orderkey") % 10).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n_versions"),
        F.sum(F.col("__END_AT").isNull().cast("int"))
        .cast("long")
        .alias("n_open"),
        _dec_sum("price", "sum_price"),
        F.sum("__START_AT").cast("long").alias("sum_start"),
        F.sum("__END_AT").cast("long").alias("sum_end"),
    )


@register(
    "set_ops_cohorts",
    """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(CAST(o_orderdate AS DATE)) = 1994),
    b AS (SELECT DISTINCT o_custkey FROM orders
          WHERE year(CAST(o_orderdate AS DATE)) = 1995)
    SELECT 'both' AS cohort, count(*) AS n_customers
    FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
    UNION ALL
    SELECT 'only_1994', count(*)
    FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
    UNION ALL
    SELECT 'only_1995', count(*)
    FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
    """,
)
def q_set_ops_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT cohort analysis (retained vs churned vs new
    customers across years) — the set-operator family SURVEY §2.7 notes
    as absent from the reference. Spark plans both as aggregate-based
    set ops (hash, not sort); each leg is one shuffle on the
    already-distinct key sets."""
    o = _t(spark, sf_dir, "orders")

    def cohort(year: int) -> DataFrame:
        return (
            o.filter(F.year(F.col("o_orderdate").cast("date")) == year)
            .select("o_custkey")
            .distinct()
        )

    a, b = cohort(1994), cohort(1995)
    rows = [
        ("both", a.intersect(b)),
        ("only_1994", a.subtract(b)),
        ("only_1995", b.subtract(a)),
    ]
    parts = [
        s.agg(
            F.lit(tag).alias("cohort"),
            F.count("*").alias("n_customers"),
        )
        for tag, s in rows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "distinct_to_date",
    """
    WITH first_seen AS (
      SELECT o_custkey,
             min(date_trunc('month', CAST(o_orderdate AS DATE))) AS m
      FROM orders GROUP BY 1),
    per_month AS (
      SELECT m, count(*) AS new_customers FROM first_seen GROUP BY 1)
    SELECT strftime(m, '%Y-%m') AS month,
           new_customers,
           CAST(sum(new_customers) OVER (ORDER BY m
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_customers
    FROM per_month
    """,
)
def q_distinct_to_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative DISTINCT count to date (W6's distinct variant — the
    running 'customers acquired so far' a DAX DISTINCTCOUNT+DATESYTD
    pair computes): distinct-to-date ≡ running SUM of first-occurrence
    counts, which needs one aggregate per key + one tiny month-level
    window — never a giant collect_set state. The window input is the
    calendar, so the plan is identical at any fact scale."""
    o = _t(spark, sf_dir, "orders")
    first_seen = o.groupBy("o_custkey").agg(
        F.min(F.trunc(F.col("o_orderdate").cast("date"), "month")).alias("m")
    )
    per_month = first_seen.groupBy("m").agg(
        F.count("*").alias("new_customers")
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return per_month.select(
        F.date_format("m", "yyyy-MM").alias("month"),
        "new_customers",
        F.sum("new_customers").over(w).alias("cum_customers"),
    )


# ---------------------------------------------------------------------------
# Histogram binning + null/distinct profiling (data-quality operators)
# ---------------------------------------------------------------------------


@register(
    "histogram_bins",
    """
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
           floor(o_totalprice / 25000.0) * 25000.0 AS bin_lo,
           count(*) AS n_orders,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders GROUP BY 1, 2
    """,
)
def q_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value: floor-division binning (one
    shuffle on ~40 bins, partial-aggregated map-side so the exchange
    carries bins, not rows). The profiling primitive for choosing
    quality-score thresholds on a full corpus scan."""
    o = _t(spark, sf_dir, "orders")
    bin_col = F.floor(F.col("o_totalprice") / F.lit(25000.0))
    return o.groupBy(
        bin_col.cast("long").alias("bin"),
        (bin_col * F.lit(25000.0)).alias("bin_lo"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "profile_nulls",
    """
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_quantity,
           CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_returnflag,
           CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_shipdate,
           count(DISTINCT l_returnflag) AS distinct_returnflag,
           count(DISTINCT l_linestatus) AS distinct_linestatus,
           strftime(min(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS min_shipdate,
           strftime(max(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS max_shipdate
    FROM lineitem
    """,
)
def q_profile_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality profile: null counts, distinct
    cardinalities, and value ranges — the generalization of the
    reference's per-layer QA row counts
    (``Automated_Bronze_to_Silver...py:211-213``). At 100 TB this is
    the cheap pre-flight check before a pipeline run.

    r14 rework (guide §2.3, same class as the r13 cube fix): the flat
    two-count-distinct form planned Expand ×3 directly over the scan —
    every fact row replicated once per distinct aggregate. Aggregating
    first at the (returnflag, linestatus) grain makes every measure a
    reassociable partial (counts sum, null-counts sum, min/max of
    minima/maxima, the null_returnflag tally a conditional sum over
    group keys), and the two exact distinct counts run over the ~6-row
    group relation — the Expand now replicates ~6 rows, not the fact
    table. Pinned registry-wide by
    test_plan_quality.py::test_no_expand_directly_over_data_sized_scans."""
    l = _t(spark, sf_dir, "lineitem")
    g = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("_nq"),
        F.sum(F.col("l_shipdate").isNull().cast("long")).alias("_nd"),
        F.min(F.col("l_shipdate").cast("date")).alias("_mind"),
        F.max(F.col("l_shipdate").cast("date")).alias("_maxd"),
    )
    return g.agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.sum("_nq").cast("long").alias("null_quantity"),
        F.sum(
            F.when(F.col("l_returnflag").isNull(), F.col("_n")).otherwise(0)
        )
        .cast("long")
        .alias("null_returnflag"),
        F.sum("_nd").cast("long").alias("null_shipdate"),
        F.countDistinct("l_returnflag").cast("long").alias(
            "distinct_returnflag"
        ),
        F.countDistinct("l_linestatus").cast("long").alias(
            "distinct_linestatus"
        ),
        F.date_format(F.min("_mind"), "yyyy-MM-dd").alias("min_shipdate"),
        F.date_format(F.max("_maxd"), "yyyy-MM-dd").alias("max_shipdate"),
    )


# ---------------------------------------------------------------------------
# Pure Spark SQL entry point (TPC-H Q1 shape)
# ---------------------------------------------------------------------------


@register(
    "sql_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's ``spark.sql`` entry point, exercised with the
    TPC-H Q1 pricing summary: identical ANSI SQL text runs on both
    engines (temp view over the parquet scan). Catalyst gets the same
    logical plan the DataFrame API builds — one scan with pushed date
    filter, one partial-aggregated groupBy on a 4-ish-row key space."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                 AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem_v
        WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


# ---------------------------------------------------------------------------
# Event-sequence analytics: journeys and funnels
# ---------------------------------------------------------------------------


@register(
    "user_journey",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events)
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY ts_us, event_id) AS journey,
           count(*) AS n_events
    FROM e GROUP BY user_id
    """,
)
def q_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event path ("view>click>purchase>..."): the
    sequence-analytics primitive behind funnel mining and
    next-event-prediction features. ONE aggregation —
    collect_list(struct) + array_sort + transform + array_join, all
    Catalyst built-ins: the struct's (ts, event_id) prefix makes the
    sort total, so the path string is deterministic on both engines.
    No window sort: partial aggregation collects per-partition lists
    and merges — at 100 TB the per-user state is the user's own events,
    never a partition-wide sort buffer."""
    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    agg = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts_us", "event_id", "event_type"))
        ).alias("seq"),
        F.count("*").alias("n_events"),
    )
    return agg.select(
        "user_id",
        F.array_join(
            F.transform(F.col("seq"), lambda x: x["event_type"]), ">"
        ).alias("journey"),
        "n_events",
    )


@register(
    "funnel_steps",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id)
    SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
           count(CASE WHEN t_view < t_click THEN 1 END) AS n_view_click,
           count(CASE WHEN t_view < t_click AND t_click < t_purchase
                      THEN 1 END) AS n_full_funnel
    FROM per_user
    """,
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): first
    occurrence of each step per user, then ordering constraints between
    the step timestamps. Two aggregations, both partial-aggregated —
    the classic funnel without any per-user sort or self-join (the
    naive formulation is 2 self-joins on a corpus-sized table)."""
    e = _events(spark, sf_dir)

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_view") < F.col("t_click"), 1)).alias(
            "n_view_click"
        ),
        F.count(
            F.when(
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")),
                1,
            )
        ).alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------

_WINNOW_K = 3  # tokens per k-gram
_WINNOW_W = 4  # hashes per winnowing window


@register(
    "winnow_fingerprint",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t
          WHERE len(toks) >= {_WINNOW_K + _WINNOW_W - 1}),
    g AS (SELECT doc_id,
                 unnest(generate_series(1, n - {_WINNOW_K - 1})) AS i,
                 n FROM s),
    h AS (SELECT g.doc_id, g.i,
                 substr(md5(array_to_string(
                   s.toks[g.i:g.i + {_WINNOW_K - 1}], ' ')), 1, 15) AS h,
                 g.n - {_WINNOW_K - 1} AS n_grams
          FROM g JOIN s ON g.doc_id = s.doc_id),
    w AS (SELECT doc_id, i, n_grams,
                 min(h) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
                   AS fp
          FROM h)
    SELECT DISTINCT doc_id, fp
    FROM w WHERE i <= n_grams - {_WINNOW_W - 1}
    """,
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    hash every token {k}-gram, slide a {w}-hash window, keep each
    window's minimum, dedupe — guarantees any shared run of
    k+w-1 = {kw} tokens between two documents yields at least one
    shared fingerprint (the paper's local-minimum property), at ~2/(w+1)
    of the positions. The plagiarism/near-dup fingerprint with a
    *coverage guarantee*, unlike plain MinHash sampling.

    Plan shape: explode k-gram positions (flat map, no shuffle) → ONE
    window shuffle on doc_id → distinct (map-side partial). Hashes are
    fixed-width md5 hex prefixes, so lexicographic MIN equals numeric
    MIN and the DuckDB twin reproduces the exact fingerprint choice.
    Documents shorter than k+w-1 tokens have no full window and are
    excluded on both engines (production: fall back to whole-doc hash).
    """.format(k=_WINNOW_K, w=_WINNOW_W, kw=_WINNOW_K + _WINNOW_W - 1)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_array(F.col("text")).alias("toks")
    )
    d = d.withColumn("n", F.size("toks")).filter(
        F.col("n") >= _WINNOW_K + _WINNOW_W - 1
    )
    grams = d.select(
        "doc_id",
        (F.col("n") - F.lit(_WINNOW_K - 1)).alias("n_grams"),
        F.explode(
            F.sequence(F.lit(1), F.col("n") - F.lit(_WINNOW_K - 1))
        ).alias("i"),
        F.col("toks"),
    ).select(
        "doc_id",
        "n_grams",
        "i",
        md5_hex15(
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), _WINNOW_K))
        ).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    fps = grams.select(
        "doc_id",
        "i",
        "n_grams",
        F.min("h").over(w).alias("fp"),
    ).filter(F.col("i") <= F.col("n_grams") - F.lit(_WINNOW_W - 1))
    return fps.select("doc_id", "fp").distinct()


# ---------------------------------------------------------------------------
# IQR outlier detection (data-cleaning pre-filter)
# ---------------------------------------------------------------------------

@register(
    "iqr_outliers",
    """
    WITH b AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders GROUP BY 1)
    SELECT o.o_orderpriority,
           count(*) AS n_total,
           CAST(sum(CASE WHEN o.o_totalprice < b.q1 - 1.5 * (b.q3 - b.q1)
                           OR o.o_totalprice > b.q3 + 1.5 * (b.q3 - b.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           floor((b.q1 - 1.5 * (b.q3 - b.q1)) * 100.0 + 0.5) / 100.0 AS lo_fence,
           floor((b.q3 + 1.5 * (b.q3 - b.q1)) * 100.0 + 0.5) / 100.0 AS hi_fence
    FROM orders o JOIN b USING (o_orderpriority)
    GROUP BY o.o_orderpriority, b.q1, b.q3
    """,
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier profiling per group: exact q1/q3 (linear-
    interpolation percentile, same formula both engines), 1.5-IQR
    fences, outlier counts. Two passes over the fact — one percentile
    aggregation (tiny result), broadcast back for the counting scan —
    the standard shape for 'compute stats, then filter by them' at any
    scale: the stats never ride along the big shuffle."""
    o = _t(spark, sf_dir, "orders")
    fences = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    fences = fences.select(
        "o_orderpriority",
        (F.col("q1") - 1.5 * iqr).alias("lo"),
        (F.col("q3") + 1.5 * iqr).alias("hi"),
    )
    out = (F.col("o_totalprice") < F.col("lo")) | (
        F.col("o_totalprice") > F.col("hi")
    )
    return (
        o.join(F.broadcast(fences), on="o_orderpriority")
        .groupBy("o_orderpriority", "lo", "hi")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(out.cast("long")).alias("n_outliers"),
        )
        .select(
            "o_orderpriority",
            "n_total",
            "n_outliers",
            (F.floor(F.col("lo") * 100 + F.lit(0.5)) / 100).alias("lo_fence"),
            (F.floor(F.col("hi") * 100 + F.lit(0.5)) / 100).alias("hi_fence"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (the linear-cost DAU/WAU formulation)
# ---------------------------------------------------------------------------

@register(
    "rolling_active_users",
    """
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    cov AS (SELECT user_id, d + CAST(i.i AS INTEGER) AS as_of
            FROM ud, (SELECT unnest(range(0, 7)) AS i) i)
    SELECT as_of, count(DISTINCT user_id) AS active_users
    FROM cov GROUP BY 1
    """,
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the WAU curve).

    Windowed COUNT(DISTINCT) doesn't exist in Spark (or most engines),
    and the naive dates x events range join is O(days * events). This is
    the linear formulation: distinct (user, activity_day) pairs each
    COVER the 7 as-of days they contribute to, so an explode by 7 +
    one distinct-count aggregation computes every day's window in one
    pass — O(events + 7 * active_pairs), all map-side until the final
    groupBy. The same shape computes any trailing-k-distinct metric at
    100 TB without a quadratic join."""
    e = _events(spark, sf_dir)
    ud = e.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    cov = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("as_of"),
    )
    return cov.groupBy("as_of").agg(
        F.countDistinct("user_id").alias("active_users")
    )


# ---------------------------------------------------------------------------
# Conversion latency (funnel timing, exact percentiles)
# ---------------------------------------------------------------------------

@register(
    "conversion_latency",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id),
    lat AS (
      SELECT CAST(date_diff('microsecond', t_view, t_purchase) AS DOUBLE)
               / 1000000.0 AS latency_s
      FROM per_user WHERE t_view IS NOT NULL AND t_purchase > t_view)
    SELECT count(*) AS n_converted,
           floor(quantile_cont(latency_s, 0.5) * 100.0 + 0.5) / 100.0
             AS p50_s,
           floor(quantile_cont(latency_s, 0.9) * 100.0 + 0.5) / 100.0
             AS p90_s
    FROM lat
    """,
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time from first view to first subsequent purchase, summarized as
    exact p50/p90. One groupBy(user) with conditional-min partials (no
    self-join over the event log), then a scalar percentile aggregate
    over the per-user latencies — the per-user relation is |users|-sized
    no matter how many raw events feed it."""
    e = _events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    lat = per_user.filter(
        F.col("t_view").isNotNull() & (F.col("t_purchase") > F.col("t_view"))
    ).select(
        (
            (
                F.unix_micros("t_purchase") - F.unix_micros("t_view")
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("latency_s")
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        (
            F.floor(F.percentile("latency_s", F.lit(0.5)) * 100 + F.lit(0.5)) / 100
        ).alias("p50_s"),
        (
            F.floor(F.percentile("latency_s", F.lit(0.9)) * 100 + F.lit(0.5)) / 100
        ).alias("p90_s"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC primitive)
# ---------------------------------------------------------------------------

@register(
    "snapshot_diff",
    """
    WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey % 103 = 0)
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
           END AS diff_status
    FROM v1 a FULL OUTER JOIN v2 b USING (o_orderkey)
    WHERE (a.o_orderkey IS NULL OR b.o_orderkey IS NULL
           OR a.o_totalprice <> b.o_totalprice)
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: v2 simulates the next load (1/97 of
    keys deleted, 1/101 repriced, 1/103 cloned as new keys) and
    plans/merge.table_diff classifies added/removed/changed via one
    full-outer join + one md5 per row. The oracle classifies by direct
    value comparison — so this checks the diff SEMANTICS, not the hash
    implementation."""
    key = F.col("o_orderkey")
    o = _t(spark, sf_dir, "orders")
    v2 = o.filter(key % 97 != 0).withColumn(
        "o_totalprice",
        F.when(key % 101 == 0, F.col("o_totalprice") + 1.5).otherwise(
            F.col("o_totalprice")
        ),
    )
    added = o.filter(key % 103 == 0).withColumn(
        "o_orderkey", key + F.lit(10000000)
    )
    v2 = v2.unionByName(added)
    return table_diff(o, v2, ["o_orderkey"], compare_cols=["o_totalprice"])


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (delta refresh of a daily rollup)
# ---------------------------------------------------------------------------

@register(
    "incremental_rollup",
    """
    SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view delta refresh: the daily rollup is computed for
    history (ts < split) and for the new delta (ts >= split) SEPARATELY,
    then merged by re-aggregating the partial aggregates — counts add,
    decimal sums add. The oracle recomputes from scratch; matching
    proves the merge is lossless, which is the property that lets a
    100 TB gold table refresh by touching only the new partition
    instead of rescanning history. (Algebraic aggregates only — avg
    must be maintained as sum+count, never averaged averages.)"""
    e = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    split = F.lit("2024-02-01")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("dec_value"),
        )

    hist = rollup(e.filter(F.col("day") < split))
    delta = rollup(e.filter(F.col("day") >= split))
    merged = (
        hist.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("dec_value").cast("double").alias("sum_value"),
        )
    )
    return merged


# ---------------------------------------------------------------------------
# Unpivot / melt (wide measures -> long)
# ---------------------------------------------------------------------------

@register(
    "unpivot_measures",
    """
    WITH long AS (
      SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount FROM lineitem)
    SELECT measure, count(*) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM long GROUP BY measure
    """,
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) of three wide measure columns to (measure,
    value) rows, aggregated per measure. The oracle IS the three-way
    union, proving equivalence.

    r14 rework (guide §2.3, same class as the r13 cube fix): the
    unpivot-then-aggregate form planned the unpivot's Expand ×3
    directly over the scan — every fact row tripled just to be
    aggregated straight back down to a 3-row result. Aggregate FIRST
    (one pass: count + the three decimal sums, all reassociable), then
    melt the single summary row — the generate runs over 1 row. Same
    per-measure values: the per-row DECIMAL(18,2) cast is unchanged
    and each measure's n_rows is count(*), exactly the oracle's
    union-all semantics. Pinned registry-wide by the Expand lint."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.agg(
        F.count("*").alias("_n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_se"),
        F.sum(F.col("l_discount").cast("decimal(18,2)")).alias("_sd"),
    )
    melted = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("measure"),
                        F.col("_n").alias("n_rows"),
                        F.col(c).alias("_sum"),
                    )
                    for m, c in [
                        ("l_quantity", "_sq"),
                        ("l_extendedprice", "_se"),
                        ("l_discount", "_sd"),
                    ]
                ]
            )
        ).alias("r")
    )
    return melted.select(
        "r.measure",
        "r.n_rows",
        F.col("r._sum").cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Data-quality expectations report (C6 generalized)
# ---------------------------------------------------------------------------

@register(
    "quality_expectations",
    """
    SELECT 'not_null:l_quantity' AS rule,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'in_set:l_returnflag',
           CAST(sum(CASE WHEN l_returnflag IS NULL
                          OR l_returnflag NOT IN ('A', 'N', 'R')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'range:l_discount',
           CAST(sum(CASE WHEN l_discount IS NULL
                          OR l_discount < 0.0 OR l_discount > 0.1
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'unique:l_orderkey,l_linenumber',
           CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                AS BIGINT)
    FROM lineitem
    """,
)
def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract over lineitem: not-null,
    in-set, range, and key-uniqueness expectations evaluated as ONE
    aggregation pass (plus one distinct shuffle for uniqueness),
    reported as (rule, n_violations) rows a pipeline gate can assert
    on. The reference's 45-states ingest gate (C6) is the special case
    of one rule."""

    li = _t(spark, sf_dir, "lineitem")
    return quality_report(
        li,
        not_null=["l_quantity"],
        in_set={"l_returnflag": ["A", "N", "R"]},
        ranges={"l_discount": (0.0, 0.1)},
        unique=[["l_orderkey", "l_linenumber"]],
    ).withColumn("n_violations", F.col("n_violations").cast("long"))


# ---------------------------------------------------------------------------
# Time-weighted average (irregularly sampled series)
# ---------------------------------------------------------------------------

@register(
    "time_weighted_avg",
    """
    WITH e AS (SELECT user_id, event_id, value,
                      CAST(ts AS TIMESTAMP) AS tsu FROM events),
    seq AS (
      SELECT user_id, value,
             CAST(floor(date_diff('microsecond', tsu,
                  lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id))
                  / 1000000.0) AS BIGINT) AS dur_s
      FROM e),
    w AS (SELECT user_id,
                 sum(CAST(value AS DECIMAL(18,6)) * dur_s) AS num,
                 sum(dur_s) AS den
          FROM seq WHERE dur_s IS NOT NULL GROUP BY user_id)
    SELECT user_id,
           CAST(den AS BIGINT) AS observed_s,
           floor((CAST(num AS DOUBLE) / den) * 10000.0 + 0.5) / 10000.0
             AS twa_value
    FROM w WHERE den > 0
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregularly sampled series: each
    reading holds until the next one, so its weight is that interval
    (step interpolation — the standard sensor/metric semantics a plain
    AVG silently gets wrong when sampling is uneven). One lead() window
    per user, decimal-exact weighted sums; the last reading of each
    user has no successor and drops out of both numerator and
    denominator on both engines."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        (
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts"))
            / F.lit(1000000)
        )
        .cast("long")
        .alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    agg = seq.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)") * F.col("dur_s")).alias(
            "num"
        ),
        F.sum("dur_s").alias("den"),
    )
    return agg.filter(F.col("den") > 0).select(
        "user_id",
        F.col("den").cast("long").alias("observed_s"),
        (
            F.floor((F.col("num").cast("double") / F.col("den")) * 1e4 + F.lit(0.5))
            / 1e4
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# Calendar gap detection (missing activity days per user)
# ---------------------------------------------------------------------------

@register(
    "activity_gaps",
    """
    WITH span AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1,
             count(DISTINCT CAST(ts AS DATE)) AS active_days
      FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS span_days,
           CAST(active_days AS BIGINT) AS active_days,
           CAST(date_diff('day', d0, d1) + 1 - active_days AS BIGINT)
             AS gap_days
    FROM span
    """,
)
def q_activity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-day detection per user: calendar span between first and
    last activity minus distinct active days = gap days. Computed
    ARITHMETICALLY from one aggregation — the naive formulation
    (generate a calendar scaffold per user, anti-join activity) explodes
    span × users rows to count what min/max/countDistinct already
    determine. Scaffold generation stays the right tool only when the
    gaps themselves must be enumerated."""
    e = _events(spark, sf_dir).withColumn("d", F.to_date("ts"))
    return e.groupBy("user_id").agg(
        (F.datediff(F.max("d"), F.min("d")) + 1).cast("long").alias("span_days"),
        F.countDistinct("d").cast("long").alias("active_days"),
        (
            F.datediff(F.max("d"), F.min("d")) + 1 - F.countDistinct("d")
        )
        .cast("long")
        .alias("gap_days"),
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix (signup week x weeks-since)
# ---------------------------------------------------------------------------

@register(
    "cohort_retention",
    """
    WITH weeks AS (
      SELECT user_id, CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS w
      FROM events GROUP BY 1, 2),
    cohorts AS (SELECT user_id, min(w) AS cohort_w FROM weeks GROUP BY 1)
    SELECT c.cohort_w AS cohort_week,
           CAST(date_diff('day', c.cohort_w, a.w) / 7 AS BIGINT)
             AS week_offset,
           count(DISTINCT a.user_id) AS n_active
    FROM cohorts c JOIN weeks a USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: each user's cohort is their first
    active week; the matrix counts distinct users active k weeks later.
    Two aggregations and one equi-join on user_id — the (user, week)
    relation is the only thing shuffled, and it is already collapsed to
    distinct pairs before the join, so the fact volume never rides the
    cohort join at any scale."""
    e = _events(spark, sf_dir)
    weeks = e.select(
        "user_id", F.trunc(F.to_date("ts"), "week").alias("w")
    ).distinct()
    cohorts = weeks.groupBy("user_id").agg(F.min("w").alias("cohort_w"))
    return (
        weeks.join(cohorts, on="user_id")
        .groupBy(
            F.col("cohort_w").alias("cohort_week"),
            (F.datediff("w", "cohort_w") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Ratio-to-parent in a hierarchy (region -> nation share)
# ---------------------------------------------------------------------------

@register(
    "share_of_parent",
    """
    WITH n AS (
      SELECT r.r_name AS region, na.n_name AS nation,
             sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS bal
      FROM customer c
      JOIN nation na ON c.c_nationkey = na.n_nationkey
      JOIN region r ON na.n_regionkey = r.r_regionkey
      GROUP BY 1, 2)
    SELECT region, nation,
           CAST(bal AS DOUBLE) AS nation_bal,
           floor((CAST(bal AS DOUBLE)
                  / CAST(sum(bal) OVER (PARTITION BY region) AS DOUBLE))
                 * 10000.0 + 0.5) / 10000.0 AS share_of_region
    FROM n
    """,
)
def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent: each nation's share of its region's customer
    balance — the drill-down companion of share_of_total
    (REMOVEFILTERS at the parent grain = a windowed sum partitioned by
    the parent). Decimal-exact child sums; ONE window over the
    nation-sized aggregate, never over the fact."""
    c = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    n = (
        c.join(F.broadcast(na), c.c_nationkey == na.n_nationkey)
        .join(F.broadcast(r), na.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("bal"))
    )
    w = Window.partitionBy("region")
    return n.select(
        "region",
        "nation",
        F.col("bal").cast("double").alias("nation_bal"),
        (
            F.floor(
                (F.col("bal").cast("double") / F.sum("bal").over(w).cast("double"))
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("share_of_region"),
    )


@register(
    "sql_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) > DATE '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority) through the ``spark.sql``
    entry point: 3-table star join with selective predicates on both
    fact and dims, revenue top-10. Catalyst broadcasts customer/orders
    sides under AQE; both engines run near-identical ANSI text (only
    the date-format function differs by dialect)."""
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"{t}_v")
    return spark.sql(
        """
        SELECT l.l_orderkey,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                 AS revenue,
               date_format(CAST(o.o_orderdate AS DATE), 'yyyy-MM-dd')
                 AS o_orderdate,
               o.o_orderpriority
        FROM customer_v c
        JOIN orders_v o ON c.c_custkey = o.o_custkey
        JOIN lineitem_v l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
          AND CAST(l.l_shipdate AS DATE) > DATE '1997-01-01'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """
    )


@register(
    "sql_local_supplier_volume",
    """
    SELECT n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           count(*) AS n_lineitems
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q_sql_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume) through ``spark.sql``:
    six-table join with a co-nation constraint between supplier and
    customer — the deepest join tree in the registry; region/nation/
    supplier/customer broadcast, lineitem streams."""
    for t in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"{t}_v")
    return spark.sql(
        """
        SELECT n.n_name,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                 AS revenue,
               count(*) AS n_lineitems
        FROM customer_v c
        JOIN orders_v o ON c.c_custkey = o.o_custkey
        JOIN lineitem_v l ON l.l_orderkey = o.o_orderkey
        JOIN supplier_v s ON l.l_suppkey = s.s_suppkey
                         AND s.s_nationkey = c.c_nationkey
        JOIN nation_v n ON c.c_nationkey = n.n_nationkey
        JOIN region_v r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
        """
    )


@register(
    "zscore_anomalies",
    """
    WITH s AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
             CAST(sum(CAST(value AS DECIMAL(18,6))
                      * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS svv
      FROM events GROUP BY 1),
    m AS (SELECT event_type, n, sv / n AS mu,
                 sqrt(greatest(0.0, svv / n - (sv / n) * (sv / n))) AS sd
          FROM s)
    SELECT e.event_type,
           max(m.n) AS n_events,
           floor(max(mu) * 1000000.0 + 0.5) / 1000000.0 AS mean_value,
           floor(max(sd) * 1000000.0 + 0.5) / 1000000.0 AS std_value,
           CAST(sum(CASE WHEN sd > 0 AND abs((e.value - mu) / sd) > 3
                         THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies
    FROM events e JOIN m USING (event_type)
    GROUP BY 1
    """,
)
def q_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score anomaly screening (|z| > 3 against the group's
    own distribution) — the metric-monitoring primitive for a pipeline's
    QA stage. Determinism across engines comes from EXACT moment sums:
    mean and std derive from decimal-accumulated Σv and Σv² (order-
    independent), cast to double only at the final division, so every
    z-comparison sees bit-identical thresholds on both engines. Scale:
    one grouped aggregate (map-side partial), the k-row stats broadcast
    back onto the scan, second aggregate — the fact table shuffles only
    on event_type."""
    e = _events(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,6)")
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec).cast("double").alias("sv"),
        F.sum(dec * dec).cast("double").alias("svv"),
    )
    mu = F.col("sv") / F.col("n")
    # clamp the variance (float cancellation in svv/n − mu² can dip a
    # constant group's variance fractionally below 0 → NaN sqrt) and
    # gate the z-test on sd > 0: a constant group has 0 anomalies, not
    # a NULL/NaN/inf divide that Spark and DuckDB resolve differently
    stats = stats.withColumn("mu", mu).withColumn(
        "sd",
        F.sqrt(F.greatest(F.lit(0.0), F.col("svv") / F.col("n") - mu * mu)),
    )
    joined = e.join(F.broadcast(stats), on="event_type")
    is_anomaly = (F.col("sd") > 0) & (
        F.abs((F.col("value") - F.col("mu")) / F.col("sd")) > 3
    )
    return joined.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        round_portable(F.max("mu"), 6).alias("mean_value"),
        round_portable(F.max("sd"), 6).alias("std_value"),
        F.sum(is_anomaly.cast("long")).alias("n_anomalies"),
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped SQL suite (round 3): the remaining classic query shapes,
# run through spark.sql over registered views — exercises scalar
# subqueries, disjunctive predicates, conditional aggregation, and
# group-filter (HAVING) through the SQL front-end rather than the
# DataFrame DSL. Revenue math rides DECIMAL(18,2) sums (order-
# independent) cast to DOUBLE only at the end, so both engines see
# bit-identical values.
# ---------------------------------------------------------------------------

@register(
    "sql_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {_REV} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-10-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_sql_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): customers ranked by
    revenue lost to returns in a quarter. Star join — nation broadcasts,
    the orders/lineitem join shuffles on the order key — then a top-20
    TakeOrderedAndProject (no global sort materialization)."""
    _sql_views(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(
        f"""
        SELECT c.c_custkey, c.c_name, n.n_name,
               {_REV} AS revenue
        FROM customer_v c
        JOIN orders_v o ON c.c_custkey = o.o_custkey
        JOIN lineitem_v l ON l.l_orderkey = o.o_orderkey
        JOIN nation_v n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND CAST(o.o_orderdate AS DATE) >= DATE '1996-10-01'
          AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
        """
    )


@register(
    "sql_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, {_REV} AS total_revenue
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
      GROUP BY 1)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q_sql_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier revenue over a
    quarter, then the supplier(s) hitting the maximum — an uncorrelated
    scalar subquery over the same CTE. The decimal-exact revenue makes
    the max-equality test engine-portable (bit-identical doubles).
    Catalyst evaluates the scalar subquery once (a one-row broadcast),
    not per-row."""
    _sql_views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(
        f"""
        WITH rev AS (
          SELECT l_suppkey, {_REV} AS total_revenue
          FROM lineitem_v
          WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
            AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
          GROUP BY 1)
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier_v s JOIN rev r ON s.s_suppkey = r.l_suppkey
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        """
    )


@register(
    "sql_parts_supplier",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 9, 17, 25, 33, 41, 49)
    GROUP BY 1, 2, 3
    """,
)
def q_sql_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    counts per part group under negated + IN-list predicates (lineitem
    stands in for partsupp in this schema). The part-side filters push
    into the parquet scan; count(DISTINCT) expands partial aggregation
    before the exchange."""
    _sql_views(spark, sf_dir, "part", "lineitem")
    return spark.sql(
        """
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM part_v p JOIN lineitem_v l ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#5'
          AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 9, 17, 25, 33, 41, 49)
        GROUP BY 1, 2, 3
        """
    )


@register(
    "sql_small_qty_revenue",
    """
    WITH lim AS (
      SELECT l_partkey AS pk,
             (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              / count(*)) * 0.2 AS qty_lim
      FROM lineitem GROUP BY 1)
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN lim a ON a.pk = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < a.qty_lim
    """,
)
def q_sql_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems below
    20% of their part's average quantity. The per-part average is a
    decimal-exact sum divided in double (identical fp sequence on both
    engines — avg(DECIMAL) itself would be DOUBLE with engine-specific
    accumulation order), re-joined on the part key: the classic
    aggregate-then-self-join decorrelation of Q17's correlated
    subquery."""
    _sql_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        """
        WITH lim AS (
          SELECT l_partkey AS pk,
                 (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  / count(*)) * 0.2 AS qty_lim
          FROM lineitem_v GROUP BY 1)
        SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0 AS avg_yearly
        FROM lineitem_v l
        JOIN part_v p ON p.p_partkey = l.l_partkey
        JOIN lim a ON a.pk = l.l_partkey
        WHERE p.p_brand = 'Brand#1' AND l.l_quantity < a.qty_lim
        """
    )


@register(
    "sql_large_volume_customer",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2, 3, 4, 5
    HAVING sum(CAST(l.l_quantity AS DECIMAL(18,2))) > 300
    """,
)
def q_sql_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customer): orders whose total
    quantity exceeds 300, with their customer. HAVING over a
    decimal-exact sum so the >300 cut is identical on both engines;
    the group-by key includes the order attributes, so no second join
    back to orders is needed."""
    _sql_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(
        """
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               date_format(CAST(o.o_orderdate AS DATE), 'yyyy-MM-dd')
                 AS orderdate,
               CAST(o.o_totalprice AS DOUBLE) AS totalprice,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_qty
        FROM customer_v c
        JOIN orders_v o ON c.c_custkey = o.o_custkey
        JOIN lineitem_v l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2, 3, 4, 5
        HAVING sum(CAST(l.l_quantity AS DECIMAL(18,2))) > 300
        """
    )


@register(
    "sql_discounted_revenue",
    f"""
    SELECT {_REV} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 35)
    """,
)
def q_sql_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): three disjunctive
    brand/size/quantity clauses over the part join — the classic
    OR-of-ANDs predicate that tests the optimizer's ability to keep the
    join equi (the l_partkey = p_partkey conjunct stays common) while
    evaluating the disjunction as a post-join filter."""
    _sql_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        f"""
        SELECT {_REV} AS revenue
        FROM lineitem_v l JOIN part_v p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 15)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN 10 AND 25)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
               AND l.l_quantity BETWEEN 20 AND 35)
        """
    )


@register(
    "sql_promo_revenue",
    """
    SELECT floor(100.0
             * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                        THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS promo_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1997-02-01'
    """,
)
def q_sql_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): percent of a month's revenue
    from PROMO parts — conditional aggregation with both branches in
    DECIMAL so numerator and denominator are exact before the one
    double division, rounded in-query to 4 places on both engines."""
    _sql_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        """
        SELECT floor(CAST(100 AS DOUBLE)
                 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                            THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                            ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                        AS DOUBLE) * 1E4 + 0.5) / 1E4 AS promo_pct
        FROM lineitem_v l JOIN part_v p ON p.p_partkey = l.l_partkey
        WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l.l_shipdate AS DATE) < DATE '1997-02-01'
        """
    )


@register(
    "sql_market_share",
    """
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             ns.n_name AS supp_nation,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'ASIA')
    SELECT o_year,
           floor(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS mkt_share
    FROM vol GROUP BY 1
    """,
)
def q_sql_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_2 suppliers' share
    of yearly revenue delivered into ASIA customers — a 7-table join
    where every dimension broadcasts and only orders/lineitem shuffle,
    then one conditional-aggregation pass; share division happens once
    per year-row over decimal-exact sums."""
    _sql_views(
        spark, sf_dir,
        "lineitem", "orders", "customer", "nation", "region", "supplier",
    )
    return spark.sql(
        """
        WITH vol AS (
          SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
                 ns.n_name AS supp_nation,
                 CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
          FROM lineitem_v l
          JOIN orders_v o ON l.l_orderkey = o.o_orderkey
          JOIN customer_v c ON o.o_custkey = c.c_custkey
          JOIN nation_v nc ON c.c_nationkey = nc.n_nationkey
          JOIN region_v r ON nc.n_regionkey = r.r_regionkey
          JOIN supplier_v s ON l.l_suppkey = s.s_suppkey
          JOIN nation_v ns ON s.s_nationkey = ns.n_nationkey
          WHERE r.r_name = 'ASIA')
        SELECT o_year,
               floor(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                     / CAST(sum(volume) AS DOUBLE) * 1E6 + 0.5)
                 / 1E6 AS mkt_share
        FROM vol GROUP BY 1
        """
    )


@register(
    "sql_order_priority_count",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-07-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60)
    GROUP BY 1
    """,
)
def q_sql_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders in a quarter
    with at least one LATE lineitem (shipped >60 days after order —
    this schema has no commit/receipt dates), counted by priority. The
    correlated EXISTS decorrelates into a left-semi hash join; the
    date filter pushes into the orders scan."""
    _sql_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o.o_orderpriority, count(*) AS order_count
        FROM orders_v o
        WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-07-01'
          AND CAST(o.o_orderdate AS DATE) < DATE '1996-10-01'
          AND EXISTS (
            SELECT 1 FROM lineitem_v l
            WHERE l.l_orderkey = o.o_orderkey
              AND CAST(l.l_shipdate AS DATE)
                  > date_add(CAST(o.o_orderdate AS DATE), 60))
        GROUP BY 1
        """
    )


@register(
    "sql_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1)
    GROUP BY 1
    """,
)
def q_sql_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order distribution): histogram of
    non-urgent order counts per customer, INCLUDING zero-order
    customers — the left outer join with an extra join-side predicate
    (not a WHERE, which would drop the nulls) feeding two stacked
    aggregations."""
    _sql_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer_v c
          LEFT JOIN orders_v o ON c.c_custkey = o.o_custkey
                              AND o.o_orderpriority <> '1-URGENT'
          GROUP BY 1)
        GROUP BY 1
        """
    )


@register(
    "sql_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice) AS min_price
      FROM lineitem GROUP BY 1, 2),
    best AS (
      SELECT l_partkey, min(min_price) AS best_price
      FROM cost GROUP BY 1)
    SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
           CAST(c.min_price AS DOUBLE) AS min_price
    FROM cost c
    JOIN best b ON c.l_partkey = b.l_partkey
               AND c.min_price = b.best_price
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    WHERE p.p_size <= 5
    """,
)
def q_sql_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each small part, the
    supplier(s) achieving its lowest observed price — the classic
    argmin-by-join (aggregate per (part, supplier), aggregate per part,
    equi-join back on the min; ties keep every witness, as Q2 does).
    Prices compare as the exact stored doubles on both engines; no
    derived float crosses the equality."""
    _sql_views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(
        """
        WITH cost AS (
          SELECT l_partkey, l_suppkey,
                 min(l_extendedprice) AS min_price
          FROM lineitem_v GROUP BY 1, 2),
        best AS (
          SELECT l_partkey, min(min_price) AS best_price
          FROM cost GROUP BY 1)
        SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
               CAST(c.min_price AS DOUBLE) AS min_price
        FROM cost c
        JOIN best b ON c.l_partkey = b.l_partkey
                   AND c.min_price = b.best_price
        JOIN part_v p ON p.p_partkey = c.l_partkey
        JOIN supplier_v s ON s.s_suppkey = c.l_suppkey
        WHERE p.p_size <= 5
        """
    )


@register(
    "orders_gini",
    """
    WITH x AS (
      SELECT o_custkey, count(*) AS n_orders
      FROM orders GROUP BY 1),
    r AS (
      SELECT n_orders,
             row_number() OVER (ORDER BY n_orders ASC, o_custkey ASC) AS rk
      FROM x),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(n_orders AS BIGINT)) AS BIGINT) AS total,
             CAST(sum(CAST(rk * n_orders AS BIGINT)) AS BIGINT) AS weighted
      FROM r)
    SELECT n AS n_customers, total AS n_orders,
           floor((2.0 * weighted - (n + 1.0) * total)
                 / (CAST(n AS DOUBLE) * total) * 1000000.0 + 0.5)
             / 1000000.0 AS gini
    FROM s
    """,
)
def q_orders_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of orders across customers (the inequality
    statistic a pipeline tracks for key-skew early warning: gini → 1
    means a few hot customers own the workload). The rank-weighted
    formula G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) runs on exact integer
    sums — the only float is the final division, rounded in-query.
    The rank runs over the customer aggregate — which SCALES WITH THE
    DATA in TPC-H proportions, so it uses the bucketed two-phase
    :func:`~.operators.order_stats.with_global_rank` (never a global
    single-partition sort)."""

    o = _t(spark, sf_dir, "orders")
    x = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    r = with_global_rank(
        x,
        F.col("n_orders"),
        [F.asc("n_orders"), F.asc("o_custkey")],
        "rk",
    )
    s = r.agg(
        F.count("*").alias("n"),
        F.sum("n_orders").alias("total"),
        F.sum(F.col("rk") * F.col("n_orders")).alias("weighted"),
    )
    gini = (
        2.0 * F.col("weighted") - (F.col("n") + 1.0) * F.col("total")
    ) / (F.col("n").cast("double") * F.col("total"))
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("n_orders"),
        round_portable(gini, 6).alias("gini"),
    )


@register(
    "null_safe_join_counts",
    """
    WITH a AS (SELECT event_id, nullif(user_id % 10, 0) AS k FROM events),
    b AS (SELECT nullif(CAST(id AS BIGINT), 0) AS k
          FROM (SELECT unnest(range(0, 10)) AS id)),
    eq AS (SELECT CAST(count(*) AS BIGINT) AS n_eq
           FROM a JOIN b ON a.k = b.k),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n_null_safe
           FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k)
    SELECT n_eq, n_null_safe, n_null_safe - n_eq AS n_null_matches
    FROM eq, ns
    """,
)
def q_null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM) next to
    the plain equi-join on the same keys: the row-count delta is
    exactly the NULL-key matches a plain join silently drops — the
    semantics bug class behind "my join lost rows". Both forms plan as
    hash joins (the null-safe operator is still an equi-condition for
    Catalyst); the dimension side is a 10-row broadcast."""
    e = _events(spark, sf_dir)
    a = e.select(
        "event_id", F.nullif(F.col("user_id") % 10, F.lit(0)).alias("k")
    )
    b = spark.range(0, 10).select(
        F.nullif(F.col("id").cast("long"), F.lit(0)).alias("k")
    )
    eq = a.join(F.broadcast(b), a["k"] == b["k"]).agg(
        F.count("*").cast("long").alias("n_eq")
    )
    ns = a.join(F.broadcast(b), a["k"].eqNullSafe(b["k"])).agg(
        F.count("*").cast("long").alias("n_null_safe")
    )
    return eq.crossJoin(ns).select(
        "n_eq",
        "n_null_safe",
        (F.col("n_null_safe") - F.col("n_eq")).alias("n_null_matches"),
    )


@register(
    "pearson_corr_qty_price",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sy,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(28,4))) AS DOUBLE) AS syy,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4)))
                  AS DOUBLE) AS sxy
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
           floor((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                 * 1000000.0 + 0.5) / 1000000.0 AS corr_qty_price
    FROM s
    """,
)
def q_pearson_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group, computed PORTABLY from five
    decimal-exact moment sums and one closed-form double expression —
    engine-native ``corr()`` reduces in nondeterministic partial-agg
    order with float state, so two engines (or two runs over different
    partitionings) can disagree in the last ulp; decimal moments make
    the reduction exact and push all float math into one deterministic
    scalar expression. The same trick the covariance/Gram operator
    uses, in single-aggregate form."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(q.cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(p.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((q * q).cast("decimal(28,4)")).cast("double").alias("sxx"),
        F.sum((p * p).cast("decimal(28,4)")).cast("double").alias("syy"),
        F.sum((q * p).cast("decimal(28,4)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx)
        * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return s.select(
        "l_returnflag", "n", round_portable(corr, 6).alias("corr_qty_price")
    )


@register(
    "drill_across_monthly",
    """
    WITH rev AS (
      SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1),
    act AS (
      SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1)
    SELECT coalesce(rev.month, act.month) AS month,
           rev.revenue, rev.n_orders, act.n_events, act.n_users
    FROM rev FULL OUTER JOIN act ON rev.month = act.month
    """,
)
def q_drill_across_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-across: two fact tables (orders revenue, event activity)
    aggregated SEPARATELY to the conformed month grain, then stitched
    with a full outer join — the multi-fact BI pattern that must never
    join raw facts to raw facts (that's a fan-out trap; each fact
    aggregates to the grain first). Months present in only one fact
    keep their side's measures and NULL the other's."""
    o = _t(spark, sf_dir, "orders")
    e = _events(spark, sf_dir)
    rev = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("timestamp"), "yyyy-MM")
        .alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    act = e.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    rev_m = rev.withColumnRenamed("month", "r_month")
    return (
        rev_m.join(
            act, rev_m["r_month"] == act["month"], how="full_outer"
        )
        .select(
            F.coalesce(F.col("r_month"), F.col("month")).alias("month"),
            "revenue",
            "n_orders",
            "n_events",
            "n_users",
        )
    )


@register(
    "fk_integrity_audit",
    """
    WITH li_o AS (SELECT CAST(count(*) AS BIGINT) AS n
                  FROM lineitem l
                  WHERE NOT EXISTS (SELECT 1 FROM orders o
                                    WHERE o.o_orderkey = l.l_orderkey)),
    o_c AS (SELECT CAST(count(*) AS BIGINT) AS n
            FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
    li_p AS (SELECT CAST(count(*) AS BIGINT) AS n
             FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
    SELECT li_o.n AS orphan_lineitems, o_c.n AS orphan_orders,
           li_p.n AS orphan_part_refs
    FROM li_o, o_c, li_p
    """,
)
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for three foreign-key
    relationships (lineitem→orders, orders→customer, lineitem→part) in
    one report row — the constraint check a lake has to RUN because it
    cannot DECLARE it. Each check is a left-anti join; the key-only
    projections keep every probe narrow, and the anti joins on the two
    big facts shuffle on their join keys (the dim-sided ones
    broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    li_o = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"),
              li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").cast("long").alias("orphan_lineitems"))
    )
    o_c = (
        o.select("o_custkey")
        .join(F.broadcast(c.select("c_custkey")),
              o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").cast("long").alias("orphan_orders"))
    )
    li_p = (
        li.select("l_partkey")
        .join(F.broadcast(p.select("p_partkey")),
              li["l_partkey"] == p["p_partkey"], "left_anti")
        .agg(F.count("*").cast("long").alias("orphan_part_refs"))
    )
    return li_o.crossJoin(o_c).crossJoin(li_p)


@register(
    "weighted_median_price",
    """
    WITH w AS (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             CAST(l_quantity AS DECIMAL(18,2)) AS qty
      FROM lineitem),
    g AS (SELECT l_returnflag, price, CAST(sum(qty) AS DECIMAL(28,2)) AS q
          FROM w GROUP BY 1, 2),
    cum AS (
      SELECT l_returnflag, price, q,
             sum(q) OVER (PARTITION BY l_returnflag ORDER BY price
                          ROWS UNBOUNDED PRECEDING) AS cq,
             sum(q) OVER (PARTITION BY l_returnflag) AS tq
      FROM g)
    SELECT l_returnflag,
           CAST(min(price) AS DOUBLE) AS weighted_median_price
    FROM cum WHERE cq * 2 >= tq GROUP BY 1
    """,
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price whose cumulative quantity share reaches 50% — a weighted
    quantile, which no engine-native percentile computes. Prices
    pre-aggregate to (group, price) before the window, so the running
    sum runs over the DISTINCT-price relation, and all comparisons are
    decimal-exact (``2·cum ≥ total`` avoids dividing)."""
    li = _t(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    g = (
        li.select(
            "l_returnflag",
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
            F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        )
        .groupBy("l_returnflag", "price")
        .agg(F.sum("qty").cast("decimal(28,2)").alias("q"))
    )
    wc = Window.partitionBy("l_returnflag").orderBy("price").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("l_returnflag")
    cum = g.select(
        "l_returnflag",
        "price",
        F.sum("q").over(wc).alias("cq"),
        F.sum("q").over(wt).alias("tq"),
    )
    return (
        cum.filter(F.col("cq") * 2 >= F.col("tq"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").cast("double").alias("weighted_median_price")
        )
    )


@register(
    "topk_with_ties_orders",
    """
    WITH r AS (
      SELECT o_custkey, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
             rank() OVER (PARTITION BY o_custkey
                          ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC)
               AS rk
      FROM orders WHERE o_custkey < 50)
    SELECT o_custkey, o_orderkey, price, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 2
    """,
)
def q_topk_with_ties_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer WITH TIES (``rank``, not
    ``row_number``): equal-price orders at the boundary all survive,
    so group output size is variable — the semantics an analyst
    usually means by "top k" and the one ``row_number`` silently
    breaks by dropping tied rows nondeterministically. Ranking on the
    DECIMAL-cast price keeps tie decisions engine-exact."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").cast("decimal(18,2)").desc()
    )
    return (
        o.filter(F.col("o_custkey") < 50)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("price"),
            F.rank().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 2)
    )


@register(
    "mad_outliers",
    """
    WITH v AS (SELECT event_type, event_id,
                      CAST(value AS DECIMAL(18,2)) AS val
               FROM events),
    med AS (SELECT event_type, val AS med FROM (
              SELECT event_type, val,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY val ASC, event_id ASC) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM v) WHERE rn = (n + 1) // 2),
    dev AS (SELECT v.event_type, v.event_id, v.val, m.med,
                   abs(v.val - m.med) AS ad
            FROM v JOIN med m ON v.event_type = m.event_type),
    mad AS (SELECT event_type, ad AS mad FROM (
              SELECT event_type, ad,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY ad ASC, event_id ASC) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM dev) WHERE rn = (n + 1) // 2)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(d.med) AS DOUBLE) AS median_value,
           CAST(max(x.mad) AS DOUBLE) AS mad,
           CAST(sum(CASE WHEN d.ad > 3 * x.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad x ON d.event_type = x.event_type
    GROUP BY 1
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screening via Median Absolute Deviation: unlike
    the z-score (zscore_anomalies) and IQR (iqr_outliers) screens, the
    MAD's 50% breakdown point survives heavy contamination. Medians
    are the LOWER median (the value at sorted position ⌈n/2⌉,
    event_id-tiebroken) so every quantity is a decimal-exact data
    value — no interpolation, no float drift — and the 3-MAD test
    compares exact decimals. Two window passes over the per-type value
    relation, then one aggregate."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    v = e.select(
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,2)").alias("val"),
    )

    def lower_median(df, col, out):
        w = Window.partitionBy("event_type").orderBy(
            F.col(col).asc(), F.col("event_id").asc()
        )
        wt = Window.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count("*").over(wt))
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = lower_median(v, "val", "med")
    dev = v.join(med, on="event_type").withColumn(
        "ad", F.abs(F.col("val") - F.col("med"))
    )
    mad = lower_median(
        dev.select("event_type", "event_id", "ad"), "ad", "mad"
    )
    return (
        dev.join(mad, on="event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("med").cast("double").alias("median_value"),
            F.max("mad").cast("double").alias("mad"),
            F.sum(
                (F.col("ad") > F.lit(3) * F.col("mad")).cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@register(
    "late_dim_backfill",
    """
    WITH dim_early AS (SELECT c_custkey, c_mktsegment FROM customer
                       WHERE c_custkey % 7 <> 0),
    phase1 AS (
      SELECT o.o_orderkey,
             coalesce(d.c_mktsegment, 'UNKNOWN') AS segment
      FROM orders o LEFT JOIN dim_early d ON o.o_custkey = d.c_custkey),
    phase2 AS (
      SELECT o.o_orderkey,
             coalesce(d.c_mktsegment, 'UNKNOWN') AS segment
      FROM orders o LEFT JOIN customer d ON o.o_custkey = d.c_custkey)
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM phase1
       WHERE segment = 'UNKNOWN') AS unknown_phase1,
      (SELECT CAST(count(*) AS BIGINT) FROM phase2
       WHERE segment = 'UNKNOWN') AS unknown_phase2,
      (SELECT CAST(count(*) AS BIGINT) FROM phase1 p1 JOIN phase2 p2
        ON p1.o_orderkey = p2.o_orderkey
       WHERE p1.segment = 'UNKNOWN' AND p2.segment <> 'UNKNOWN')
        AS backfilled
    """,
)
def q_late_dim_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling: facts join a PARTIAL dimension
    (1/7 of customers 'arrive late') and land with an UNKNOWN
    placeholder instead of being dropped — the inferred-member pattern;
    once the full dimension lands, the backfill pass resolves exactly
    the placeholder rows. The report row counts unknowns before/after
    and the resolved delta, which must reconcile (phase1 unknowns =
    backfilled + phase2 unknowns)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    early = c.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", "c_mktsegment"
    )

    def phase(dim):
        return o.join(
            F.broadcast(dim), o["o_custkey"] == dim["c_custkey"], "left"
        ).select(
            "o_orderkey",
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias(
                "segment"
            ),
        )

    p1 = phase(early)
    p2 = phase(c.select("c_custkey", "c_mktsegment"))
    u1 = p1.filter(F.col("segment") == "UNKNOWN").agg(
        F.count("*").cast("long").alias("unknown_phase1")
    )
    u2 = p2.filter(F.col("segment") == "UNKNOWN").agg(
        F.count("*").cast("long").alias("unknown_phase2")
    )
    bf = (
        p1.filter(F.col("segment") == "UNKNOWN")
        .select("o_orderkey")
        .join(
            p2.filter(F.col("segment") != "UNKNOWN").select("o_orderkey"),
            on="o_orderkey",
        )
        .agg(F.count("*").cast("long").alias("backfilled"))
    )
    return u1.crossJoin(u2).crossJoin(bf)


@register(
    "table_fingerprint",
    """
    WITH h AS (
      SELECT ('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)),
             1, 15))::BIGINT AS rh
      FROM orders)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(rh) AS BIGINT) AS xor_fingerprint,
           CAST(sum(CAST(rh AS DECIMAL(38,0))) % 1000000007 AS BIGINT)
             AS sum_fingerprint
    FROM h
    """,
)
def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: md5 each row's canonical
    string form, fold with XOR and SUM — the replication/migration
    audit that answers "are these two copies identical?" without
    moving either (ship two 8-byte scalars, compare). XOR and SUM are
    commutative/associative, so partitioning and row order never
    change the digest; the decimal canonicalization pins float
    formatting. One scan, one partial-aggregated fold."""
    o = _t(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
    )
    h = o.select(
        F.conv(F.substring(F.md5(canon), 1, 15), 16, 10)
        .cast("long")
        .alias("rh")
    )
    return h.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.expr("bit_xor(rh)").cast("long").alias("xor_fingerprint"),
        (F.sum(F.col("rh").cast("decimal(38,0)")) % 1000000007)
        .cast("long")
        .alias("sum_fingerprint"),
    )


@register(
    "ols_price_by_qty",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sy,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4)))
                  AS DOUBLE) AS sxy
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * 1000000.0 + 0.5) / 1000000.0 AS slope,
           floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                 * 1000000.0 + 0.5) / 1000000.0 AS intercept
    FROM s
    """,
)
def q_ols_price_by_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (price ~ quantity) from the
    same decimal-exact moment sums as the Pearson query: slope and
    intercept come out of one closed-form double expression per group,
    so the distributed reduction stays exact and only the final
    scalar arithmetic is float — the portable way to ship regression
    over engine-native ``regr_slope`` (float partial-agg state)."""
    li = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(q.cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(p.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((q * q).cast("decimal(28,4)")).cast("double").alias("sxx"),
        F.sum((q * p).cast("decimal(28,4)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    intercept = (sy - slope * sx) / n
    return s.select(
        "l_returnflag",
        "n",
        round_portable(slope, 6).alias("slope"),
        round_portable(intercept, 6).alias("intercept"),
    )


@register(
    "benford_first_digit",
    """
    WITH d AS (SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                       AS VARCHAR), 1, 1) AS BIGINT)
                 AS digit
               FROM orders WHERE o_totalprice > 0),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d),
    obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
            FROM d GROUP BY 1)
    SELECT obs.digit, obs.n_obs,
           floor(CAST(obs.n_obs AS DOUBLE) / n.total * 1000000.0 + 0.5)
             / 1000000.0 AS observed_freq,
           floor(ln(1.0 + 1.0 / obs.digit) / ln(10.0) * 1000000.0 + 0.5)
             / 1000000.0 AS benford_freq
    FROM obs, n
    """,
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed digit
    frequencies next to the expected log10(1 + 1/d) — the forensic
    screen for fabricated or truncated monetary data. The digit comes
    from the DECIMAL(18,2) canonical string (same text both engines),
    and both frequency columns round in-query."""
    o = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("long")
    d = o.filter(F.col("o_totalprice") > 0).select(digit.alias("digit"))
    n = d.agg(F.count("*").cast("long").alias("total"))
    obs = d.groupBy("digit").agg(F.count("*").cast("long").alias("n_obs"))
    return obs.crossJoin(F.broadcast(n)).select(
        "digit",
        "n_obs",
        round_portable(
            F.col("n_obs").cast("double") / F.col("total"), 6
        ).alias("observed_freq"),
        round_portable(
            F.ln(1.0 + 1.0 / F.col("digit")) / F.ln(F.lit(10.0)), 6
        ).alias("benford_freq"),
    )


@register(
    "event_streaks",
    """
    WITH o AS (SELECT user_id, event_type, ts, event_id,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS rn,
                      row_number() OVER (PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) AS rnt
               FROM events),
    runs AS (SELECT user_id, event_type, rn - rnt AS grp,
                    CAST(count(*) AS BIGINT) AS streak
             FROM o GROUP BY 1, 2, 3)
    SELECT user_id, streak AS longest_streak, event_type AS streak_type
    FROM (SELECT user_id, event_type, streak,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY streak DESC, length(event_type) ASC,
                            event_type ASC) AS rk
          FROM runs) WHERE rk = 1
    """,
)
def q_event_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest same-type event streak per user — the gaps-and-islands
    identity (global row_number minus per-type row_number is constant
    within a run) applied to engagement streaks. Two windows over the
    same (user, time) sort order, one aggregate; tie on streak length
    resolves deterministically (shortest type name, then
    lexicographic). The companion to activity_gaps' BETWEEN-runs
    view."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    o = e.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias(
            "grp"
        ),
    )
    runs = o.groupBy("user_id", "event_type", "grp").agg(
        F.count("*").cast("long").alias("streak")
    )
    wbest = Window.partitionBy("user_id").orderBy(
        F.col("streak").desc(),
        F.length("event_type").asc(),
        F.col("event_type").asc(),
    )
    return (
        runs.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("streak").alias("longest_streak"),
            F.col("event_type").alias("streak_type"),
        )
    )


@register(
    "winsorize_values",
    """
    WITH v AS (SELECT event_type, event_id,
                      CAST(value AS DECIMAL(18,2)) AS val
               FROM events),
    r AS (SELECT event_type, event_id, val,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY val ASC, event_id ASC) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM v),
    lo AS (SELECT event_type, val AS p01 FROM r
           WHERE rn = greatest((n * 1 + 99) // 100, 1)),
    hi AS (SELECT event_type, val AS p99 FROM r
           WHERE rn = (n * 99) // 100 + CASE WHEN (n * 99) % 100 > 0
                                             THEN 1 ELSE 0 END),
    w AS (SELECT v.event_type, v.val, lo.p01, hi.p99,
                 CASE WHEN v.val < lo.p01 THEN lo.p01
                      WHEN v.val > hi.p99 THEN hi.p99
                      ELSE v.val END AS wval
          FROM v JOIN lo ON v.event_type = lo.event_type
                 JOIN hi ON v.event_type = hi.event_type)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(p01) AS DOUBLE) AS p01,
           CAST(max(p99) AS DOUBLE) AS p99,
           CAST(sum(CASE WHEN val <> wval THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped,
           CAST(sum(val) AS DOUBLE) AS raw_sum,
           CAST(sum(wval) AS DOUBLE) AS winsorized_sum
    FROM w GROUP BY 1
    """,
)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization report per event type: clip values at the
    POSITION-BASED 1st/99th percentiles (the data value at sorted rank
    ⌈q·n⌉ — no interpolation, so every boundary is a decimal-exact
    data value) and compare raw vs clipped sums — the robust-mean
    preprocessing every metrics pipeline applies before averaging
    heavy-tailed revenue-like columns. One window pass for ranks, a
    broadcast-sized percentile relation joined back, one aggregate."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    v = e.select(
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,2)").alias("val"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("val").asc(), F.col("event_id").asc()
    )
    wt = Window.partitionBy("event_type")
    r = v.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wt)
    )
    lo = r.filter(
        F.col("rn") == F.greatest(F.expr("(n * 1 + 99) div 100"), F.lit(1))
    ).select("event_type", F.col("val").alias("p01"))
    hi = r.filter(
        F.col("rn")
        == F.expr(
            "(n * 99) div 100 + CASE WHEN (n * 99) % 100 > 0"
            " THEN 1 ELSE 0 END"
        )
    ).select("event_type", F.col("val").alias("p99"))
    joined = v.join(F.broadcast(lo), on="event_type").join(
        F.broadcast(hi), on="event_type"
    )
    wval = (
        F.when(F.col("val") < F.col("p01"), F.col("p01"))
        .when(F.col("val") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("val"))
    )
    return (
        joined.withColumn("wval", wval)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("p01").cast("double").alias("p01"),
            F.max("p99").cast("double").alias("p99"),
            F.sum((F.col("val") != F.col("wval")).cast("int"))
            .cast("long")
            .alias("n_clipped"),
            F.sum("val").cast("double").alias("raw_sum"),
            F.sum("wval").cast("double").alias("winsorized_sum"),
        )
    )


@register(
    "cube_grouping_flags",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with per-column GROUPING flags: the flags disambiguate a
    subtotal row's NULL (this column was rolled up) from a genuine
    NULL data value — the correctness detail naive cube consumers get
    wrong the first time a dimension contains real NULLs. Per-column
    ``grouping()`` is used instead of ``grouping_id()`` because the
    bit packing order of the latter is engine-defined."""
    o = _t(spark, sf_dir, "orders")
    # r13 (guide §2.3, same rework as q_cube_measures): CUBE over the
    # finest-grain partial counts, not over every order row.
    # ``grouping()`` flags describe the cube's own grouping columns,
    # which are identical on the pre-aggregated relation — including
    # for genuine NULL data values, which form their own base group
    # and roll up exactly as raw rows would.
    base = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("_n")
    )
    return (
        base.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_orders"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "g_status",
            "g_priority",
            "n_orders",
        )
    )


@register(
    "revenue_reconciliation",
    """
    WITH o AS (SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m')
                 AS month,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                           AS DECIMAL(28,2)) AS header_total
               FROM orders GROUP BY 1),
    l AS (SELECT strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m')
                 AS month,
                 CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                      AS DECIMAL(28,2)) AS line_total
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          GROUP BY 1)
    SELECT o.month,
           CAST(o.header_total AS DOUBLE) AS header_total,
           CAST(coalesce(l.line_total, 0) AS DOUBLE) AS line_total,
           CAST(o.header_total - coalesce(l.line_total, 0) AS DOUBLE)
             AS delta
    FROM o LEFT JOIN l ON o.month = l.month
    """,
)
def q_revenue_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-path revenue reconciliation: the order-header total vs the
    sum of its lines, per month — the finance close check that catches
    dropped lines, double-loads, and modeling gaps (here the delta
    quantifies TPC-H's own header-vs-line pricing difference rather
    than asserting zero). All sums are decimal-exact; the delta is one
    decimal subtraction surfaced as a signed column."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    month = F.date_format(
        F.col("o_orderdate").cast("timestamp"), "yyyy-MM"
    ).alias("month")
    header = o.groupBy(month).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("header_total")
    )
    lines = (
        li.join(o.select("o_orderkey", "o_orderdate"),
                li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.date_format(
                F.col("o_orderdate").cast("timestamp"), "yyyy-MM"
            ).alias("l_month")
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("line_total")
        )
    )
    return header.join(
        lines, header["month"] == lines["l_month"], "left"
    ).select(
        "month",
        F.col("header_total").cast("double").alias("header_total"),
        F.coalesce(F.col("line_total"), F.lit(0))
        .cast("double")
        .alias("line_total"),
        (
            F.col("header_total")
            - F.coalesce(F.col("line_total"), F.lit(0).cast("decimal(28,2)"))
        )
        .cast("double")
        .alias("delta"),
    )


@register(
    "dow_seasonality",
    """
    WITH e AS (SELECT dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
                      CAST(value AS DECIMAL(18,2)) AS val
               FROM events),
    g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(val) AS DECIMAL(28,2)) AS s
          FROM e GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total_n FROM g)
    SELECT g.dow, g.n,
           CAST(g.s AS DOUBLE) AS sum_value,
           floor(CAST(g.n AS DOUBLE) / t.total_n * 7.0 * 1000000.0 + 0.5)
             / 1000000.0 AS traffic_index
    FROM g, t
    """,
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: per-weekday volume with a
    traffic index normalized so a flat week reads 1.0 everywhere —
    the capacity-planning baseline and the denominator every
    "is today anomalous" alert needs. DuckDB's ``dayofweek`` is
    0=Sunday while Spark's ``dayofweek`` is 1=Sunday, so the Spark
    side subtracts 1 to land on the same encoding (a known
    cross-engine trap, handled explicitly)."""
    e = _events(spark, sf_dir)
    g = e.groupBy(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("s"),
    )
    t = g.agg(F.sum("n").cast("long").alias("total_n"))
    return g.crossJoin(F.broadcast(t)).select(
        "dow",
        "n",
        F.col("s").cast("double").alias("sum_value"),
        round_portable(
            F.col("n").cast("double") / F.col("total_n") * 7.0, 6
        ).alias("traffic_index"),
    )


@register(
    "churn_flags",
    """
    WITH horizon AS (SELECT max(CAST(ts AS TIMESTAMP)) AS h FROM events),
    last_seen AS (SELECT user_id, max(CAST(ts AS TIMESTAMP)) AS last_ts,
                         CAST(count(*) AS BIGINT) AS n_events
                  FROM events GROUP BY 1)
    SELECT l.user_id, l.n_events,
           strftime(l.last_ts, '%Y-%m-%d') AS last_day,
           CAST(CASE WHEN l.last_ts < h.h - INTERVAL 7 DAY
                     THEN 1 ELSE 0 END AS BIGINT) AS churned
    FROM last_seen l, horizon h
    """,
)
def q_churn_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn flagging at the observation horizon: a user is churned if
    their last event is more than 7 days before the newest event in
    the data — the label-generation step for every churn model and
    the retention counterpart of cohort_retention. One per-user
    aggregate plus a broadcast scalar horizon; timestamp comparison
    is exact microseconds."""
    e = _events(spark, sf_dir)
    horizon = e.agg(F.max("ts").alias("h"))
    last_seen = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").cast("long").alias("n_events"),
    )
    return last_seen.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        "n_events",
        F.date_format("last_ts", "yyyy-MM-dd").alias("last_day"),
        (
            F.col("last_ts") < F.col("h") - F.expr("INTERVAL 7 DAY")
        )
        .cast("long")
        .alias("churned"),
    )


@register(
    "target_encoding_smoothed",
    """
    WITH g AS (SELECT o_orderpriority,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                           AS DECIMAL(28,2)) AS s
               FROM orders GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
                 CAST(sum(s) AS DECIMAL(38,2)) AS ts FROM g)
    SELECT g.o_orderpriority, g.n,
           floor((CAST(g.s AS DOUBLE) + 10.0 * (CAST(t.ts AS DOUBLE) / t.tn))
                 / (g.n + 10) * 1000000.0 + 0.5) / 1000000.0
             AS encoded_value,
           floor(CAST(t.ts AS DOUBLE) / t.tn * 1000000.0 + 0.5)
             / 1000000.0 AS global_mean
    FROM g, t
    """,
)
def q_target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (the m-estimate, m=10): each category's
    mean target shrinks toward the global mean in proportion to its
    sample size — the leakage-safe categorical feature every tabular
    model pipeline computes. Decimal-exact sums; the shrinkage formula
    is one deterministic double expression per category row."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("s"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("s").cast("decimal(38,2)").alias("ts"),
    )
    out = g.crossJoin(F.broadcast(t))
    gmean = F.col("ts").cast("double") / F.col("tn")
    enc = (F.col("s").cast("double") + F.lit(10.0) * gmean) / (
        F.col("n") + 10
    )
    return out.select(
        "o_orderpriority",
        "n",
        round_portable(enc, 6).alias("encoded_value"),
        round_portable(gmean, 6).alias("global_mean"),
    )


@register(
    "abc_pareto_classes",
    """
    WITH rev AS (SELECT l_partkey,
                        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                             AS DECIMAL(28,2)) AS r
                 FROM lineitem GROUP BY 1),
    c AS (SELECT l_partkey, r,
                 sum(r) OVER (ORDER BY r DESC, l_partkey ASC
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(r) OVER () AS total
          FROM rev),
    cls AS (SELECT l_partkey, r,
                   CASE WHEN cum * 100 <= total * 80 THEN 'A'
                        WHEN cum * 100 <= total * 95 THEN 'B'
                        ELSE 'C' END AS abc
            FROM c)
    SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(r) AS DOUBLE) AS revenue
    FROM cls GROUP BY 1
    """,
)
def q_abc_pareto_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts ranked by revenue, classed A
    (first 80% of cumulative revenue), B (to 95%), C (tail) — the
    inventory-management classic and the canonical cumulative-share
    window. Boundary tests multiply decimals by integers (``cum·100 ≤
    total·80``) instead of dividing, so class edges are exact. The
    cumulative sum runs over the part-level aggregate — PART-SIZED,
    which scales with the data — so it uses the bucketed two-phase
    :func:`~.operators.order_stats.with_running_sum` (decimal-exact
    through the collected bucket offsets); the grand total rides the
    operator's own bucket-totals collect (``total_col`` — zero extra
    jobs), never an unpartitioned window and never a second scan of
    the lineitem aggregate."""

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("r")
    )
    c = with_running_sum(
        rev,
        -F.col("r"),
        [F.col("r").desc(), F.col("l_partkey").asc()],
        "r",
        "cum",
        total_col="total",
    )
    abc = (
        F.when(F.col("cum") * 100 <= F.col("total") * 80, F.lit("A"))
        .when(F.col("cum") * 100 <= F.col("total") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return (
        c.withColumn("abc", abc)
        .groupBy("abc")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("r").cast("double").alias("revenue"),
        )
    )


@register(
    "calendar_densify",
    """
    WITH bounds AS (SELECT CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
                           CAST(max(CAST(ts AS TIMESTAMP)) AS DATE) AS d1
                    FROM events),
    spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
                AS day
              FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT s.day, t.event_type FROM spine s, types t),
    daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2)
    SELECT g.event_type,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_filled,
           CAST(sum(coalesce(d.n, 0)) AS BIGINT) AS total_events
    FROM grid g LEFT JOIN daily d
      ON g.day = d.day AND g.event_type = d.event_type
    GROUP BY 1
    """,
)
def q_calendar_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: a complete day × event-type spine
    (generated from the data's own bounds) left-joined to the daily
    counts, zero-filling silent days — the gap-filling step every
    time-series model and every "days with no sales" report needs,
    because a groupBy alone cannot emit rows for absent days. The
    spine is sequence-generated (no source scan) and the fact side
    joins it pre-aggregated at day grain."""
    e = _events(spark, sf_dir)
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(
                F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day")
    )
    types = e.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    daily = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    return (
        grid.join(daily, on=["day", "event_type"], how="left")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum(F.col("n").isNull().cast("int"))
            .cast("long")
            .alias("n_zero_filled"),
            F.sum(F.coalesce(F.col("n"), F.lit(0)))
            .cast("long")
            .alias("total_events"),
        )
    )


@register(
    "auc_rank_sum",
    """
    WITH s AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
               FROM documents),
    g AS (SELECT score, CAST(count(*) AS BIGINT) AS n_at,
                 CAST(sum(pos) AS BIGINT) AS n_pos_at
          FROM s GROUP BY 1),
    r AS (SELECT score, n_at, n_pos_at,
                 1 + coalesce(sum(n_at) OVER (ORDER BY score ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS min_rank
          FROM g),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
                   CAST(count(*) - sum(pos) AS BIGINT) AS nn
            FROM s),
    u AS (SELECT CAST(sum(CAST(n_pos_at AS DOUBLE)
                          * (min_rank + (n_at - 1) / 2.0)) AS DOUBLE)
                   AS rank_sum
          FROM r)
    SELECT tot.np AS n_pos, tot.nn AS n_neg,
           floor((u.rank_sum - tot.np * (tot.np + 1) / 2.0)
                 / (CAST(tot.np AS DOUBLE) * tot.nn)
                 * 1000000.0 + 0.5) / 1000000.0 AS auc
    FROM tot, u
    """,
)
def q_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC by the Mann-Whitney rank-sum identity: does document length
    separate English from non-English docs? Ties get average ranks
    (``min_rank + (n−1)/2`` — halves are exact doubles), so the
    statistic is deterministic without per-row jitter. The ranking
    window runs over the DISTINCT-score relation, never the corpus —
    the trick that makes exact AUC computable at 100 TB (scores are
    integers here; quantize continuous scores first)."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    s = d.select(
        F.col("n_chars").cast("long").alias("score"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    g = s.groupBy("score").agg(
        F.count("*").cast("long").alias("n_at"),
        F.sum("pos").cast("long").alias("n_pos_at"),
    )
    w = Window.orderBy(F.col("score").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = g.withColumn(
        "min_rank", F.lit(1) + F.coalesce(F.sum("n_at").over(w), F.lit(0))
    )
    tot = s.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("pos")).cast("long").alias("n_neg"),
    )
    u = r.agg(
        F.sum(
            F.col("n_pos_at").cast("double")
            * (F.col("min_rank") + (F.col("n_at") - 1) / F.lit(2.0))
        ).alias("rank_sum")
    )
    return tot.crossJoin(u).select(
        "n_pos",
        "n_neg",
        round_portable(
            (
                F.col("rank_sum")
                - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0)
            )
            / (F.col("n_pos").cast("double") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


@register(
    "psi_value_drift",
    """
    WITH e AS (SELECT CAST(value AS DECIMAL(18,2)) AS val,
                      CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
                           THEN 'base' ELSE 'cur' END AS period,
                      event_id
               FROM events
               WHERE value IS NOT NULL),
    b AS (SELECT val, event_id FROM e WHERE period = 'base'),
    r AS (SELECT val,
                 row_number() OVER (ORDER BY val ASC, event_id ASC) AS rn,
                 count(*) OVER () AS n
          FROM b),
    edges AS (SELECT d.d AS bin, max(r.val) AS hi
              FROM r, (SELECT unnest(range(1, 10)) AS d) d
              WHERE r.rn = (r.n * d.d) // 10
              GROUP BY 1),
    binned AS (
      SELECT e.period,
             coalesce((SELECT min(bin) FROM edges
                       WHERE e.val <= edges.hi), 10) AS bin
      FROM e),
    counts AS (SELECT period, bin, CAST(count(*) AS BIGINT) AS n
               FROM binned GROUP BY 1, 2),
    tots AS (SELECT period, CAST(sum(n) AS BIGINT) AS tn
             FROM counts GROUP BY 1),
    shares AS (SELECT c.bin,
                      CAST(sum(CASE WHEN c.period = 'base'
                               THEN CAST(c.n AS DOUBLE) / t.tn END)
                           AS DOUBLE) AS p,
                      CAST(sum(CASE WHEN c.period = 'cur'
                               THEN CAST(c.n AS DOUBLE) / t.tn END)
                           AS DOUBLE) AS q
               FROM counts c JOIN tots t ON c.period = t.period
               GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           floor(CAST(sum(CAST(CASE WHEN p > 0 AND q > 0
                    THEN (p - q) * ln(p / q) ELSE 0 END
                    AS DECIMAL(18,12))) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS psi
    FROM shares
    """,
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the month's first and second
    half: the base period's position-based deciles define the bins
    (exact data values at ranks n·d/10 — no interpolation), both
    periods' shares fall into them, and PSI = Σ (p−q)·ln(p/q) with
    per-bin terms decimal-quantized. The drift alarm every deployed
    model's feature monitoring runs; >0.25 conventionally means
    retrain. Bin edges are 9 scalars — broadcast; binning is
    scan-local. The decile ranks run over the base-period EVENT
    relation (data-sized), so they use the bucketed two-phase
    :func:`~.operators.order_stats.with_global_rank`; the base-period
    row count rides the operator's bucket-counts collect
    (``total_col`` — no separate count job re-scanning events) — no
    unpartitioned window anywhere."""

    e = _events(spark, sf_dir)
    # PSI is defined over OBSERVED values: exclude nulls explicitly
    # (both sides — without this, a null would fall to bin 1 here via
    # array-filter null semantics but to bin 10 in the oracle's
    # coalesce form; the driver data has no null values, but the
    # behavior should be deliberate, not an artifact)
    v = e.filter(F.col("value").isNotNull()).select(
        F.col("value").cast("decimal(18,2)").alias("val"),
        F.when(F.dayofmonth("ts") <= 15, F.lit("base"))
        .otherwise(F.lit("cur"))
        .alias("period"),
        "event_id",
    )
    b = v.filter(F.col("period") == "base")
    r = with_global_rank(
        b,
        F.col("val"),
        [F.col("val").asc(), F.col("event_id").asc()],
        "rn",
        total_col="n",
    )
    edges = (
        r.crossJoin(
            F.broadcast(
                v.sparkSession.range(1, 10).select(
                    F.col("id").alias("bin")
                )
            )
        )
        .filter(F.col("rn") == F.expr("(n * bin) div 10"))
        .groupBy("bin")
        .agg(F.max("val").alias("hi"))
    )
    # Collapse the 9 edges to ONE sorted-array row and bin scan-locally:
    # bin = 1 + #{edges < val} (edges' hi is nondecreasing in bin, so
    # this equals "min bin with val ≤ hi, else 10" — the decile rule —
    # including tied edges). The naive form (crossJoin the 9-row edge
    # relation, then re-aggregate at EVENT grain to pick min bin) was a
    # 9× row expansion plus an event-sized shuffle; this is a 1-row
    # broadcast and a lambda over a 9-element array, then the only
    # shuffle left is the 20-group (period, bin) count.
    edge_arr = edges.agg(
        F.sort_array(F.collect_list("hi")).alias("his")
    ).filter(F.size("his") > 0)
    # the size>0 filter keeps the empty-base degenerate identical to
    # the 9-row-relation crossJoin form (no edges -> no binned rows),
    # instead of the scalar collect_list's one empty-array row binning
    # everything as bin 1
    counts = (
        v.crossJoin(F.broadcast(edge_arr))
        .withColumn(
            "bin",
            (
                F.lit(1)
                + F.size(
                    F.filter("his", lambda h: h < F.col("val"))
                ).cast("long")
            ),
        )
        .groupBy("period", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tots = counts.groupBy("period").agg(
        F.sum("n").cast("long").alias("tn")
    )
    shares = (
        counts.join(tots, on="period")
        .groupBy("bin")
        .agg(
            F.sum(
                F.when(
                    F.col("period") == "base",
                    F.col("n").cast("double") / F.col("tn"),
                )
            ).alias("p"),
            F.sum(
                F.when(
                    F.col("period") == "cur",
                    F.col("n").cast("double") / F.col("tn"),
                )
            ).alias("q"),
        )
    )
    term = (
        F.when(
            (F.col("p") > 0) & (F.col("q") > 0),
            (F.col("p") - F.col("q")) * F.ln(F.col("p") / F.col("q")),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(18,12)")
    )
    return shares.agg(
        F.count("*").cast("long").alias("n_bins"),
        round_portable(F.sum(term).cast("double"), 6).alias("psi"),
    )


@register(
    "join_fanout_audit",
    """
    WITH lo AS (SELECT l.l_orderkey AS k FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey),
    oc AS (SELECT o.o_custkey AS k FROM orders o
           JOIN customer c ON o.o_custkey = c.c_custkey),
    lp AS (SELECT l.l_partkey AS k FROM lineitem l
           JOIN part p ON l.l_partkey = p.p_partkey),
    m AS (
      SELECT 'lineitem->orders' AS rel,
             (SELECT CAST(count(*) AS BIGINT) FROM lo) AS rows_out,
             (SELECT CAST(max(n) AS BIGINT) FROM
                (SELECT count(*) AS n FROM lo GROUP BY k))
               AS max_multiplicity
      UNION ALL
      SELECT 'orders->customer',
             (SELECT CAST(count(*) AS BIGINT) FROM oc),
             (SELECT CAST(max(n) AS BIGINT) FROM
                (SELECT count(*) AS n FROM oc GROUP BY k))
      UNION ALL
      SELECT 'lineitem->part',
             (SELECT CAST(count(*) AS BIGINT) FROM lp),
             (SELECT CAST(max(n) AS BIGINT) FROM
                (SELECT count(*) AS n FROM lp GROUP BY k)))
    SELECT rel, rows_out, max_multiplicity FROM m
    """,
)
def q_join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fan-out audit: post-join row counts and the maximum
    per-key multiplicity for three relationships — the QA view that
    catches accidental many-to-many joins (a dim with duplicate keys
    silently multiplies the fact) before they corrupt every downstream
    sum. Here lineitem→orders shows the by-design 1:N multiplicity
    while orders→customer must audit at 1. Each audit is the join's
    key stream re-aggregated; nothing wide survives the join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")

    def audit(left, lk, right, rk, name):
        keys = left.select(F.col(lk).alias("k")).join(
            right.select(F.col(rk).alias("k")), on="k"
        )
        per = keys.groupBy("k").agg(F.count("*").alias("n"))
        return keys.crossJoin(
            F.broadcast(per.agg(F.max("n").alias("mm")))
        ).agg(
            F.lit(name).alias("rel"),
            F.count("*").cast("long").alias("rows_out"),
            F.max("mm").cast("long").alias("max_multiplicity"),
        )

    return (
        audit(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionAll(audit(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionAll(audit(li, "l_partkey", p, "p_partkey", "lineitem->part"))
    )


@register(
    "bounce_rate_daily",
    """
    WITH marked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER (
                           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
                       < INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS new_sess
      FROM events),
    sess AS (SELECT user_id, ts,
                    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                      RANGE UNBOUNDED PRECEDING) AS sid
             FROM marked),
    per_sess AS (SELECT user_id, sid,
                        strftime(date_trunc('day', min(ts)), '%Y-%m-%d')
                          AS day,
                        CAST(count(*) AS BIGINT) AS n_events
                 FROM sess GROUP BY 1, 2)
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           floor(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1000000.0 + 0.5)
             / 1000000.0 AS bounce_rate
    FROM per_sess GROUP BY 1
    """,
)
def q_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of 30-minute-gap sessions containing a
    single event, attributed to the day the session started — the
    engagement KPI built directly on the sessionization machinery
    (same gaps-and-islands identity as session_windows). One window
    pass, one per-session aggregate, one per-day aggregate."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    marked = e.select(
        "user_id",
        "ts",
        F.when(
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
            < 1800 * 1_000_000,
            0,
        )
        .otherwise(1)
        .alias("new_sess"),
    )
    # RANGE frame, not ROWS: a ROWS running sum splits a duplicate-ts
    # peer group across two sids whenever the boundary row isn't first
    # among its peers (arbitrary tie order on both engines) — the
    # round-7 sf1 sweep caught the session variant of this. RANGE gives
    # every peer the group's full sum, matching session_window's
    # same-instant-same-session semantics deterministically.
    sess = marked.withColumn(
        "sid",
        F.sum("new_sess").over(
            w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("day"),
        F.count("*").cast("long").alias("n_events"),
    )
    return per_sess.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("int"))
        .cast("long")
        .alias("n_bounces"),
        round_portable(
            F.sum((F.col("n_events") == 1).cast("int")).cast("double")
            / F.count("*"),
            6,
        ).alias("bounce_rate"),
    )


@register(
    "peak_concurrent_sessions",
    """
    WITH marked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER (
                           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
                       < INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS new_sess
      FROM events),
    sess AS (SELECT user_id, ts,
                    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                      RANGE UNBOUNDED PRECEDING) AS sid
             FROM marked),
    ivals AS (SELECT user_id, sid, min(ts) AS s, max(ts) AS e
              FROM sess GROUP BY 1, 2),
    deltas AS (SELECT s AS t, 1 AS d FROM ivals
               UNION ALL
               SELECT e + INTERVAL 1 SECOND, -1 FROM ivals),
    sweep AS (SELECT t,
                     sum(d) OVER (ORDER BY t ASC, d ASC
                                  ROWS UNBOUNDED PRECEDING) AS conc
              FROM deltas),
    mx AS (SELECT max(conc) AS peak FROM sweep)
    SELECT CAST(mx.peak AS BIGINT) AS peak_concurrency,
           strftime(min(sweep.t), '%Y-%m-%d %H:%M:%S') AS first_peak_at
    FROM sweep, mx WHERE sweep.conc = mx.peak GROUP BY mx.peak
    """,
)
def q_peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions by sweep line: each 30-minute-gap
    session becomes a +1 at its start and a −1 one second after its
    end (end-inclusive), and the running sum's maximum is the capacity
    number every connection pool and rate limiter is sized from. The
    tie rule (at equal timestamps, −1 sorts before +1) is explicit so
    both engines count a back-to-back end/start as non-overlapping.
    The delta relation is SESSION-sized — it scales with the data — so
    the sweep's running sum is the bucketed two-phase
    :func:`~.operators.order_stats.with_running_sum` (time-range
    buckets, exact offsets), never an unpartitioned window."""
    from pyspark.sql import Window

    # Collapse duplicate-(user, ts) peers BEFORE the window: session
    # intervals are functions of the DISTINCT timestamps (sid
    # boundaries, min/max ts per session are unchanged under peer
    # dedup), and with peers gone the deterministic ROWS frame is
    # safe again — the round-7 RANGE-frame fix solved the duplicate-ts
    # nondeterminism but cost +30% (round-8 probe, SCALE.md
    # "peak_concurrent_sessions adjudication"); this reformulation
    # keeps the determinism and returns the cost. The dedup aggregate
    # rides the window's own user_id exchange (HashPartitioning on
    # user_id satisfies the (user_id, ts) clustering requirement), so
    # it adds no shuffle.
    e = (
        _events(spark, sf_dir)
        .select("user_id", "ts")
        .repartition("user_id")
        .dropDuplicates(["user_id", "ts"])
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    marked = e.select(
        "user_id",
        "ts",
        F.when(
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
            < 1800 * 1_000_000,
            0,
        )
        .otherwise(1)
        .alias("new_sess"),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ivals = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = ivals.select(
        F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        ivals.select(
            (F.col("e") + F.expr("INTERVAL 1 SECOND")).alias("t"),
            F.lit(-1).alias("d"),
        )
    )
    sweep = with_running_sum(
        deltas,
        F.col("t").cast("double"),
        [F.col("t").asc(), F.col("d").asc()],
        "d",
        "conc",
    )
    # One aggregation pass finds both outputs: max(struct(conc, −t))
    # orders by concurrency first, then by NEGATED epoch micros — so
    # the winner is the maximum concurrency at its EARLIEST instant.
    # (The max-agg + self-join-on-peak form executed the sweep's window
    # pass twice; this is a single scalar aggregate over it.)
    best = sweep.agg(
        F.max(
            F.struct(
                F.col("conc").alias("c"),
                (F.lit(0) - F.unix_micros("t")).alias("neg_t"),
            )
        ).alias("b")
    )
    # the scalar max over an EMPTY sweep yields one all-null row; drop
    # it so the no-sessions degenerate stays a 0-row result (the shape
    # the grouped formulation produced)
    return best.filter(F.col("b").isNotNull()).select(
        F.col("b.c").cast("long").alias("peak_concurrency"),
        F.date_format(
            F.timestamp_micros(F.lit(0) - F.col("b.neg_t")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("first_peak_at"),
    )


@register(
    "revenue_decomposition",
    """
    WITH u AS (SELECT c.c_mktsegment,
                      CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_users
               FROM customer c GROUP BY 1),
    b AS (SELECT c.c_mktsegment,
                 CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_buyers,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                      AS DECIMAL(28,2)) AS revenue
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1)
    SELECT u.c_mktsegment, u.n_users,
           coalesce(b.n_buyers, 0) AS n_buyers,
           coalesce(b.n_orders, 0) AS n_orders,
           CAST(coalesce(b.revenue, 0) AS DOUBLE) AS revenue,
           floor(CAST(coalesce(b.n_buyers, 0) AS DOUBLE) / u.n_users
                 * 1000000.0 + 0.5) / 1000000.0 AS conversion,
           CASE WHEN coalesce(b.n_orders, 0) > 0
                THEN floor(CAST(b.revenue AS DOUBLE) / b.n_orders
                           * 100.0 + 0.5) / 100.0
                ELSE 0.0 END AS aov
    FROM u LEFT JOIN b ON u.c_mktsegment = b.c_mktsegment
    """,
)
def q_revenue_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI-tree decomposition per market segment: revenue factored
    into users × conversion × orders × average order value — the
    first drill every revenue dashboard supports, computed so each
    factor reconciles exactly with the total (decimal revenue, count
    ratios rounded in-query)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    u = c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").cast("long").alias("n_users")
    )
    b = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o["o_custkey"] == c["c_custkey"],
        )
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_buyers"),
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("revenue"),
        )
    )
    out = u.join(b, on="c_mktsegment", how="left")
    return out.select(
        "c_mktsegment",
        "n_users",
        F.coalesce("n_buyers", F.lit(0)).cast("long").alias("n_buyers"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce(F.col("revenue"), F.lit(0))
        .cast("double")
        .alias("revenue"),
        round_portable(
            F.coalesce("n_buyers", F.lit(0)).cast("double")
            / F.col("n_users"),
            6,
        ).alias("conversion"),
        F.when(
            F.coalesce("n_orders", F.lit(0)) > 0,
            round_portable(
                F.col("revenue").cast("double") / F.col("n_orders"), 2
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("aov"),
    )


@register(
    "shipping_latency_bands",
    """
    WITH l AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS within_30d,
           CAST(sum(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) AS BIGINT)
             AS over_90d,
           CAST(max(lag_days) AS BIGINT) AS max_lag_days,
           (CAST(sum(lag_days) AS BIGINT) // count(*)) AS mean_lag_days
    FROM l GROUP BY 1
    """,
)
def q_shipping_latency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency per priority: SLA band counts (≤30 days,
    >90 days), the max, and the floor-divided mean — all integer-day
    arithmetic, so the report is exact. The fulfillment-ops view of the
    same order/lineitem join the revenue queries use."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    l = li.join(
        o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        li["l_orderkey"] == o["o_orderkey"],
    ).select("o_orderpriority", lag.alias("lag_days"))
    return l.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum((F.col("lag_days") <= 30).cast("int"))
        .cast("long")
        .alias("within_30d"),
        F.sum((F.col("lag_days") > 90).cast("int"))
        .cast("long")
        .alias("over_90d"),
        F.max("lag_days").cast("long").alias("max_lag_days"),
        F.expr("CAST(sum(lag_days) AS BIGINT) div count(*)").alias(
            "mean_lag_days"
        ),
    )


@register(
    "growth_accounting_daily",
    """
    WITH ud AS (SELECT DISTINCT user_id,
                       CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
                FROM events),
    f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1),
    lagged AS (SELECT ud.user_id, ud.day, f.first_day,
                      lag(ud.day) OVER (PARTITION BY ud.user_id
                                        ORDER BY ud.day) AS prev_day
               FROM ud JOIN f ON ud.user_id = f.user_id)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(sum(CASE WHEN day > first_day
                          AND prev_day = day - INTERVAL 1 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS retained,
           CAST(sum(CASE WHEN day > first_day
                          AND (prev_day IS NULL
                               OR prev_day < day - INTERVAL 1 DAY)
                    THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
    FROM lagged GROUP BY 1
    """,
)
def q_growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting (the Social-Capital MAU framework at
    day grain): each active user is NEW (first-ever day), RETAINED
    (also active the previous day), or RESURRECTED (returning after a
    gap) — the decomposition that turns a flat DAU line into a
    diagnosis. One distinct user-day relation, one first-day
    aggregate, one lag window; date arithmetic is integer-exact."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    f = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = (
        ud.join(f, on="user_id")
        .withColumn("prev_day", F.lag("day").over(w))
    )
    is_new = (F.col("day") == F.col("first_day")).cast("int")
    is_ret = (
        (F.col("day") > F.col("first_day"))
        & (F.col("prev_day") == F.date_sub(F.col("day"), 1))
    ).cast("int")
    is_res = (
        (F.col("day") > F.col("first_day"))
        & (
            F.col("prev_day").isNull()
            | (F.col("prev_day") < F.date_sub(F.col("day"), 1))
        )
    ).cast("int")
    return lagged.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(is_new).cast("long").alias("new_users"),
        F.sum(is_ret).cast("long").alias("retained"),
        F.sum(is_res).cast("long").alias("resurrected"),
    )


@register(
    "supplier_hhi_by_nation",
    """
    WITH r AS (SELECT s.s_nationkey, l.l_suppkey,
                      CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                           AS DECIMAL(28,2)) AS rev
               FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
               GROUP BY 1, 2),
    t AS (SELECT s_nationkey, CAST(sum(rev) AS DECIMAL(38,2)) AS total
          FROM r GROUP BY 1),
    sh AS (SELECT r.s_nationkey,
                  CAST(power(CAST(r.rev AS DOUBLE) / CAST(t.total AS DOUBLE),
                             2) * 10000.0 AS DECIMAL(18,9)) AS term
           FROM r JOIN t ON r.s_nationkey = t.s_nationkey)
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           floor(CAST(sum(term) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
             AS hhi
    FROM sh GROUP BY 1
    """,
)
def q_supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation (Σ share² × 10 000 — the antitrust scale where 10 000
    is a monopoly): the market-concentration complement to the Gini
    query. Per-supplier share² terms quantize to DECIMAL before the
    per-nation sum; the share division is one deterministic double op
    per supplier row."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    r = (
        li.join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == s["s_suppkey"],
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("rev")
        )
    )
    t = r.groupBy("s_nationkey").agg(
        F.sum("rev").cast("decimal(38,2)").alias("total")
    )
    sh = r.join(t, on="s_nationkey").select(
        "s_nationkey",
        (
            F.pow(
                F.col("rev").cast("double") / F.col("total").cast("double"),
                2,
            )
            * 10000.0
        )
        .cast("decimal(18,9)")
        .alias("term"),
    )
    return sh.groupBy("s_nationkey").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        round_portable(F.sum("term").cast("double"), 4).alias("hhi"),
    )


@register(
    "ttr_by_length_band",
    f"""
    WITH t AS (SELECT doc_id, list_transform({TOKS}, x -> lower(x)) AS toks
               FROM documents),
    d AS (SELECT doc_id, len(toks) AS n_toks,
                 len(list_distinct(toks)) AS n_types
          FROM t WHERE len(toks) > 0),
    banded AS (SELECT (n_toks // 50) * 50 AS len_band, n_toks, n_types
               FROM d)
    SELECT CAST(len_band AS BIGINT) AS len_band,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(CAST(sum(CAST(CAST(n_types AS DOUBLE) / n_toks
                                AS DECIMAL(18,9))) AS DOUBLE) / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_ttr
    FROM banded GROUP BY 1
    """,
)
def q_ttr_by_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio by document-length band (50-token buckets):
    lexical diversity falls with length by construction, so TTR is
    only comparable WITHIN a band — this is the banded view corpus
    linguists actually use, and a quality screen (templated text shows
    anomalously low TTR for its band). All row-local array math plus
    one banded aggregate; per-doc ratios quantize to DECIMAL before
    the band mean."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.transform(token_array(F.col("text")), lambda x: F.lower(x)).alias(
            "toks"
        ),
    ).filter(F.size("toks") > 0)
    row = t.select(
        (F.floor(F.size("toks") / 50) * 50).cast("long").alias("len_band"),
        F.size("toks").alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("n_types"),
    )
    ttr = (F.col("n_types").cast("double") / F.col("n_toks")).cast(
        "decimal(18,9)"
    )
    return row.groupBy("len_band").agg(
        F.count("*").cast("long").alias("n_docs"),
        round_portable(
            F.sum(ttr).cast("double") / F.count("*"), 6
        ).alias("mean_ttr"),
    )


@register(
    "order_backlog_daily",
    """
    WITH o AS (SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS od,
                      max(CAST(l.l_shipdate AS DATE)) AS sd
               FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
               GROUP BY 1, 2),
    deltas AS (SELECT od AS day, 1 AS d FROM o
               UNION ALL SELECT sd, -1 FROM o),
    daily AS (SELECT day, CAST(sum(d) AS BIGINT) AS delta
              FROM deltas GROUP BY 1),
    sweep AS (SELECT day, sum(delta) OVER (ORDER BY day ASC
                         ROWS UNBOUNDED PRECEDING) AS backlog
              FROM daily)
    SELECT strftime(day, '%Y-%m') AS month,
           CAST(max(backlog) AS BIGINT) AS peak_backlog,
           CAST(min(backlog) AS BIGINT) AS min_backlog
    FROM sweep GROUP BY 1
    """,
)
def q_order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time: each order is +1 on its order
    date and −1 on its LAST ship date, and the day-grain running sum
    is the number of orders in flight — the operations curve behind
    staffing and cash-conversion planning, reported as monthly
    peak/min. Deltas pre-aggregate to one row per day before the
    sweep window, so the window input is calendar-sized."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    iv = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(o["o_orderkey"], F.col("o_orderdate").cast("date").alias("od"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("sd"))
    )
    deltas = iv.select(F.col("od").alias("day"), F.lit(1).alias("d")).unionAll(
        iv.select(F.col("sd").alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("day").agg(F.sum("d").cast("long").alias("delta"))
    ws = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sweep = daily.withColumn("backlog", F.sum("delta").over(ws))
    return sweep.groupBy(
        F.date_format("day", "yyyy-MM").alias("month")
    ).agg(
        F.max("backlog").cast("long").alias("peak_backlog"),
        F.min("backlog").cast("long").alias("min_backlog"),
    )


@register(
    "dead_stock_report",
    """
    WITH never AS (
      SELECT p.p_partkey, p.p_name FROM part p
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                        WHERE l.l_partkey = p.p_partkey)),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM never) AS n_never_ordered,
           t.n_parts,
           floor((SELECT CAST(count(*) AS DOUBLE) FROM never) / t.n_parts
                 * 1000000.0 + 0.5) / 1000000.0 AS dead_stock_frac,
           (SELECT CAST(min(p_partkey) AS BIGINT) FROM never)
             AS min_dead_key
    FROM t
    """,
)
def q_dead_stock_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stock report: parts never referenced by any lineitem (the
    catalog→fact anti-join, the inverse direction of the FK orphan
    audit) with the dead fraction — the inventory question behind
    catalog pruning. The anti-join probes the part table against the
    distinct referenced-key set; nothing wide moves."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    never = p.select("p_partkey").join(
        li.select("l_partkey"),
        p["p_partkey"] == li["l_partkey"],
        "left_anti",
    )
    n_never = never.agg(
        F.count("*").cast("long").alias("n_never_ordered"),
        F.min("p_partkey").cast("long").alias("min_dead_key"),
    )
    t = p.agg(F.count("*").cast("long").alias("n_parts"))
    return n_never.crossJoin(t).select(
        "n_never_ordered",
        "n_parts",
        round_portable(
            F.col("n_never_ordered").cast("double") / F.col("n_parts"), 6
        ).alias("dead_stock_frac"),
        "min_dead_key",
    )


@register(
    "id_gap_audit",
    """
    WITH k AS (SELECT DISTINCT o_orderkey AS id FROM orders),
    l AS (SELECT id,
                 lead(id) OVER (ORDER BY id) AS next_id
          FROM k)
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(coalesce(max(next_id - id - 1), 0) AS BIGINT)
             AS widest_gap,
           CAST(coalesce(sum(next_id - id - 1), 0) AS BIGINT)
             AS total_missing
    FROM l WHERE next_id - id > 1
    """,
)
def q_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-sequence gap audit: count, widest, and total missing ids in
    the order-key sequence — the continuity check that catches dropped
    loads and partial restores in surrogate-keyed tables. The distinct
    key relation is DATA-SIZED, so the neighbor scan is the generic
    gaps-and-islands-at-scale operator
    :func:`~.operators.order_stats.sequence_gaps` — per-value-range
    ``lead`` with cross-bucket seams stitched from the bounded bucket
    summary, never a global single-partition sort. Arithmetic is
    integer. (Degenerate zero-gap data yields the 0/0/0 row on both
    engines.)"""

    o = _t(spark, sf_dir, "orders")
    k = o.select(F.col("o_orderkey").alias("id")).distinct()
    l = sequence_gaps(k, "id")
    gap = F.col("next_id") - F.col("id") - 1
    return l.agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.coalesce(F.max(gap), F.lit(0)).cast("long").alias("widest_gap"),
        F.coalesce(F.sum(gap), F.lit(0))
        .cast("long")
        .alias("total_missing"),
    )


@register(
    "sql_keyset_pagination",
    """
    WITH ranked AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
             row_number() OVER (
               ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC,
                        o_orderkey ASC) AS rn
      FROM orders),
    cursor_row AS (SELECT price, o_orderkey FROM ranked WHERE rn = 40)
    SELECT r.o_orderkey, r.price, CAST(r.rn AS BIGINT) AS rn
    FROM ranked r, cursor_row c
    WHERE (r.price < c.price
           OR (r.price = c.price AND r.o_orderkey > c.o_orderkey))
    ORDER BY r.price DESC, r.o_orderkey ASC LIMIT 20
    """,
)
def q_sql_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination: page 3 of the price-ranked order
    list fetched by the ``(price, key) < cursor`` predicate instead of
    OFFSET 40 — the pattern that stays O(page) at any depth because
    the predicate prunes at the scan, where OFFSET must materialize
    and discard every earlier row. The cursor (row 40's key pair) is
    derived in-query so the page is deterministic; the rn column
    proves rows 41-60 came back.

    Scale shape: NO global row_number anywhere — the cursor is the
    last row of the top-40 (two chained ``TakeOrderedAndProject``
    top-ks: per-partition partial top-k, bounded gather), the page is
    the top-20 of the post-cursor set (another TakeOrdered), and the
    rn column is reconstructed as ``40 + row_number`` over the 20-row
    page — a bounded window (LIMIT-20 input), allowlisted in the plan
    sweep."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias(
            "price"
        ),
    )
    # row 40 = the LAST row of the top-40 under (price desc, key asc),
    # i.e. the top-1 of those 40 under the REVERSED order
    cursor = (
        base.orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
        .limit(40)
        .orderBy(F.col("price").asc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            F.col("price").alias("c_price"),
            F.col("o_orderkey").alias("c_key"),
        )
    )
    page = (
        base.crossJoin(F.broadcast(cursor))
        .filter(
            (F.col("price") < F.col("c_price"))
            | (
                (F.col("price") == F.col("c_price"))
                & (F.col("o_orderkey") > F.col("c_key"))
            )
        )
        .orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )
    wp = Window.orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
    return page.select(
        "o_orderkey",
        "price",
        (F.row_number().over(wp) + F.lit(40)).cast("long").alias("rn"),
    )


@register(
    "mean_imputation_report",
    """
    WITH v AS (SELECT event_type,
                      CASE WHEN event_id % 13 = 0 THEN NULL
                           ELSE CAST(value AS DECIMAL(18,2)) END AS val
               FROM events),
    m AS (SELECT event_type,
                 CAST(sum(val) AS DECIMAL(28,2)) AS s,
                 CAST(count(val) AS BIGINT) AS n_obs,
                 CAST(count(*) AS BIGINT) AS n_all
          FROM v GROUP BY 1)
    SELECT event_type, n_all,
           n_all - n_obs AS n_imputed,
           floor(CAST(s AS DOUBLE) / n_obs * 1000000.0 + 0.5)
             / 1000000.0 AS fill_value,
           floor((CAST(s AS DOUBLE)
                  + (n_all - n_obs) * (CAST(s AS DOUBLE) / n_obs))
                 / n_all * 1000000.0 + 0.5) / 1000000.0
             AS mean_after_impute
    FROM m
    """,
)
def q_mean_imputation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-imputation report: nulls (simulated sensor dropouts at a
    deterministic 1-in-13 rate, same convention as the CSV-corruption
    round trip) fill with their group's observed mean, and the report
    row shows the fill value and the post-imputation mean — which must
    equal the observed mean, the invariant that makes mean imputation
    bias-free for the mean and the report auditable. Decimal sums,
    one group aggregate."""
    e = _events(spark, sf_dir)
    v = e.select(
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit(None))
        .otherwise(F.col("value").cast("decimal(18,2)"))
        .alias("val"),
    )
    m = v.groupBy("event_type").agg(
        F.sum("val").cast("decimal(28,2)").alias("s"),
        F.count("val").cast("long").alias("n_obs"),
        F.count("*").cast("long").alias("n_all"),
    )
    fill = F.col("s").cast("double") / F.col("n_obs")
    after = (
        F.col("s").cast("double")
        + (F.col("n_all") - F.col("n_obs")) * fill
    ) / F.col("n_all")
    return m.select(
        "event_type",
        "n_all",
        (F.col("n_all") - F.col("n_obs")).alias("n_imputed"),
        round_portable(fill, 6).alias("fill_value"),
        round_portable(after, 6).alias("mean_after_impute"),
    )


@register(
    "double_charge_detection",
    """
    WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                      CAST(value AS DECIMAL(18,2)) AS amount
               FROM events WHERE event_type = 'purchase')
    SELECT a.user_id, a.event_id AS first_charge,
           b.event_id AS second_charge,
           CAST(a.amount AS DOUBLE) AS amount,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM p a JOIN p b
      ON a.user_id = b.user_id
     AND a.amount = b.amount
     AND a.event_id < b.event_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    """,
)
def q_double_charge_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge detection: same user, identical decimal amount,
    within 5 minutes — the fintech dedup rule that catches retried
    payment submissions. The self-join keys on (user, amount) so the
    pair space is per-user-per-amount, with the interval bound pruning
    inside each group; gaps report in exact integer microseconds.
    Decimal equality on the amount avoids the float-compare trap that
    makes naive implementations miss or double-flag charges."""
    e = _events(spark, sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "ts",
        F.col("value").cast("decimal(18,2)").alias("amount"),
    )
    a = p.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("first_charge"),
        F.col("ts").alias("t1"),
        F.col("amount").alias("am"),
    )
    b = p.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("second_charge"),
        F.col("ts").alias("t2"),
        F.col("amount").alias("am"),
    )
    pairs = a.join(b, on=["u", "am"]).filter(
        (F.col("first_charge") < F.col("second_charge"))
        & (F.col("t2") >= F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 5 MINUTE"))
    )
    return pairs.select(
        F.col("u").alias("user_id"),
        "first_charge",
        "second_charge",
        F.col("am").cast("double").alias("amount"),
        (F.unix_micros("t2") - F.unix_micros("t1")).alias("gap_us"),
    )


@register(
    "priority_mix_shift",
    """
    WITH y AS (SELECT year(CAST(o_orderdate AS DATE)) AS yr,
                      o_orderpriority,
                      CAST(count(*) AS BIGINT) AS n
               FROM orders GROUP BY 1, 2),
    t AS (SELECT yr, CAST(sum(n) AS BIGINT) AS tn FROM y GROUP BY 1),
    sh AS (SELECT y.yr, y.o_orderpriority,
                  CAST(y.n AS DOUBLE) / t.tn AS share
           FROM y JOIN t ON y.yr = t.yr),
    yrs AS (SELECT min(yr) AS y0, max(yr) AS y1 FROM sh),
    w AS (SELECT s.o_orderpriority,
                 max(CASE WHEN s.yr = yrs.y0 THEN s.share END) AS share_first,
                 max(CASE WHEN s.yr = yrs.y1 THEN s.share END) AS share_last
          FROM sh s, yrs GROUP BY 1)
    SELECT o_orderpriority,
           floor(coalesce(share_first, 0) * 1000000.0 + 0.5) / 1000000.0
             AS share_first,
           floor(coalesce(share_last, 0) * 1000000.0 + 0.5) / 1000000.0
             AS share_last,
           floor((coalesce(share_last, 0) - coalesce(share_first, 0))
                 * 1000000.0 + 0.5) / 1000000.0 AS mix_shift
    FROM w
    """,
)
def q_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift analysis: each order priority's share of volume in the
    first vs last year of data and the signed shift — the composition
    check that separates "the business grew" from "the business
    changed" before any rate metric is trusted. Year-grain shares from
    one aggregate, pivoted via conditional max over the
    k-priorities-sized relation."""
    o = _t(spark, sf_dir, "orders")
    y = o.groupBy(
        F.year(F.col("o_orderdate").cast("date")).alias("yr"),
        "o_orderpriority",
    ).agg(F.count("*").cast("long").alias("n"))
    t = y.groupBy("yr").agg(F.sum("n").cast("long").alias("tn"))
    sh = y.join(t, on="yr").select(
        "yr",
        "o_orderpriority",
        (F.col("n").cast("double") / F.col("tn")).alias("share"),
    )
    yrs = sh.agg(F.min("yr").alias("y0"), F.max("yr").alias("y1"))
    w = (
        sh.crossJoin(F.broadcast(yrs))
        .groupBy("o_orderpriority")
        .agg(
            F.max(
                F.when(F.col("yr") == F.col("y0"), F.col("share"))
            ).alias("sf_"),
            F.max(
                F.when(F.col("yr") == F.col("y1"), F.col("share"))
            ).alias("sl_"),
        )
    )
    return w.select(
        "o_orderpriority",
        round_portable(F.coalesce("sf_", F.lit(0.0)), 6).alias(
            "share_first"
        ),
        round_portable(F.coalesce("sl_", F.lit(0.0)), 6).alias(
            "share_last"
        ),
        round_portable(
            F.coalesce("sl_", F.lit(0.0)) - F.coalesce("sf_", F.lit(0.0)),
            6,
        ).alias("mix_shift"),
    )


# ---------------------------------------------------------------------------
# Linearly-weighted moving average (decimal-exact trend smoothing)
# ---------------------------------------------------------------------------


@register(
    "wma_revenue_trend",
    """
    WITH monthly AS (
      SELECT o_orderpriority AS prio,
             strftime(o_orderdate, '%Y-%m') AS ym,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS rev
      FROM orders GROUP BY 1, 2),
    idx AS (
      SELECT prio, ym, rev,
             CAST(row_number() OVER (PARTITION BY prio ORDER BY ym)
               AS BIGINT) AS rn
      FROM monthly),
    win AS (
      SELECT prio, ym, rev, rn,
             sum(rev) OVER w AS sum_x,
             sum(rev * rn) OVER w AS sum_ix,
             count(*) OVER w AS cnt
      FROM idx
      WINDOW w AS (PARTITION BY prio ORDER BY rn
                   ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
    SELECT prio, ym, CAST(rev AS DOUBLE) AS revenue,
           CAST(sum_ix - (rn - 6) * sum_x AS DOUBLE)
             / ((2 * rn - cnt + 1) * cnt // 2 - (rn - 6) * cnt) AS wma6
    FROM win
    """,
)
def q_wma_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-month linearly-weighted moving average of monthly revenue per
    priority (weight 6 for the current month down to 1 for the oldest —
    the LWMA smoother a metrics layer puts next to the uniform
    ``moving_avg_7d``). The windowed weighting is rewritten into two
    UNWEIGHTED running sums — sum(x) and sum(rn*x) — via
    sum(w_i*x_i) = sum(rn_i*x_i) - (t-6)*sum(x_i), so the whole thing
    is decimal-times-integer exact arithmetic with ONE double division
    at the end (an EWMA's pow(alpha, n) weights are a cross-engine ulp
    hazard; linear weights need no transcendentals). The weight
    denominator comes from the same identity on sum(rn_i) in closed
    form, so ramp-up months (fewer than 6 points) are exact too.

    Scale: one shuffle to the month grain, then windows partitioned by
    priority over calendar-bounded partitions."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    worder = Window.partitionBy("prio").orderBy("ym")
    idx = monthly.withColumn(
        "rn", F.row_number().over(worder).cast("long")
    )
    w6 = (
        Window.partitionBy("prio")
        .orderBy("rn")
        .rowsBetween(-5, Window.currentRow)
    )
    win = idx.select(
        "prio",
        "ym",
        "rev",
        "rn",
        F.sum("rev").over(w6).alias("sum_x"),
        F.sum(F.col("rev") * F.col("rn")).over(w6).alias("sum_ix"),
        F.count("*").over(w6).alias("cnt"),
    )
    wgt = F.expr("(2 * rn - cnt + 1) * cnt DIV 2 - (rn - 6) * cnt")
    return win.select(
        "prio",
        "ym",
        F.col("rev").cast("double").alias("revenue"),
        (
            (F.col("sum_ix") - (F.col("rn") - 6) * F.col("sum_x")).cast(
                "double"
            )
            / wgt
        ).alias("wma6"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation (three bucketed global ranks, no single-partition sort)
# ---------------------------------------------------------------------------


@register(
    "rfm_segments",
    """
    WITH cust AS (
      SELECT o_custkey,
             max(datediff('day', DATE '1970-01-01',
                          CAST(o_orderdate AS DATE))) AS rec,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS mon
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT mon,
             row_number() OVER (ORDER BY rec DESC, o_custkey) AS rrn,
             row_number() OVER (ORDER BY freq DESC, o_custkey) AS frn,
             row_number() OVER (ORDER BY mon DESC, o_custkey) AS mrn,
             count(*) OVER () AS n
      FROM cust)
    SELECT 'R' || CAST(5 - (rrn - 1) * 5 // n AS VARCHAR)
        || 'F' || CAST(5 - (frn - 1) * 5 // n AS VARCHAR)
        || 'M' || CAST(5 - (mrn - 1) * 5 // n AS VARCHAR) AS segment,
           count(*) AS n_customers,
           CAST(sum(mon) AS DOUBLE) AS total_monetary
    FROM ranked GROUP BY 1
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (Hughes' recency/frequency/monetary quintiles):
    each customer gets an R/F/M score of 5 (best) down to 1 via the
    closed-form quintile ``5 - (rank-1)*5 div n`` over three exact
    global ranks, then segments roll up to counts and revenue.

    Scale: the ranked relation is the CUSTOMER aggregate (data-sized),
    so all three ranks are the bucketed two-phase
    :func:`~.operators.order_stats.with_global_rank` — never a
    single-partition sort; ties break on custkey so the assignment is
    reproducible across engines. Three rank passes = three bounded
    summary collects, so ``prepared`` rebuilds it and the bench pays
    them)."""

    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.to_date(F.lit("1970-01-01")),
            )
        ).alias("rec"),
        F.count("*").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("mon"),
    )
    r = with_global_rank(
        cust, -F.col("rec").cast("double"),
        [F.desc("rec"), F.asc("o_custkey")], "rrn", total_col="n",
    )
    r = with_global_rank(
        r, -F.col("freq").cast("double"),
        [F.desc("freq"), F.asc("o_custkey")], "frn",
    )
    r = with_global_rank(
        r, -F.col("mon").cast("double"),
        [F.desc("mon"), F.asc("o_custkey")], "mrn",
    )

    def score(rn: str):
        # integer DIV, not `/`: Spark's / is double division, and
        # truncating AFTER the subtraction collapses the top quintile
        return F.expr(f"5 - ({rn} - 1) * 5 DIV n")

    seg = F.concat(
        F.lit("R"), score("rrn").cast("string"),
        F.lit("F"), score("frn").cast("string"),
        F.lit("M"), score("mrn").cast("string"),
    )
    return (
        r.select(seg.alias("segment"), "mon")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("mon").cast("double").alias("total_monetary"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto skyline (2-D dominance frontier)
# ---------------------------------------------------------------------------


@register(
    "skyline_pareto_parts",
    """
    SELECT a.p_partkey, a.p_retailprice AS price, a.p_size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice < a.p_retailprice
        AND b.p_size > a.p_size)
    """,
)
def q_skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline (Borzsony/Kossmann/Stocker, "The Skyline
    Operator", ICDE 2001): parts not strictly dominated on (lower
    price, larger size). For two dimensions the skyline reduces to a
    prefix maximum: a part is dominated iff some strictly cheaper
    price level carries a larger size, so group to per-price max-size,
    take the exclusive running max in price order, and keep rows whose
    size beats it — NO quadratic all-pairs comparison (the oracle IS
    the quadratic NOT EXISTS form, so the two engines verify each
    other through structurally different algorithms).

    Scale: the windowed relation is the DISTINCT-PRICE max-size table —
    prices are currency cents from a generator-bounded domain (1,000
    values at sf0.01 and sf0.1 alike; TPC-H's formula bounds it by
    construction), so the global window is allowlisted on that
    argument, while both data-sized steps (group to price levels, hash
    join back) shuffle on the price key."""
    p = _t(spark, sf_dir, "part")
    levels = p.groupBy("p_retailprice").agg(
        F.max("p_size").alias("gmax")
    )
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    levels = levels.withColumn("prevmax", F.max("gmax").over(w))
    j = p.join(
        levels.select("p_retailprice", "prevmax"), "p_retailprice"
    )
    return j.filter(
        F.col("prevmax").isNull() | (F.col("p_size") >= F.col("prevmax"))
    ).select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        "p_size",
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection
# ---------------------------------------------------------------------------


@register(
    "cusum_changepoint",
    """
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS rev
      FROM orders GROUP BY 1),
    tot AS (
      SELECT CAST(sum(rev) AS DECIMAL(18,2)) AS tot,
             CAST(count(*) AS BIGINT) AS nd
      FROM daily),
    curve AS (
      SELECT d,
             nd * sum(rev) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - (row_number() OVER (ORDER BY d)) * tot AS scaled,
             nd
      FROM daily CROSS JOIN tot)
    SELECT d AS change_day,
           CAST(scaled AS DOUBLE) / nd AS cusum_peak,
           nd AS n_days
    FROM curve
    ORDER BY abs(scaled) DESC, d ASC LIMIT 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint (Page, Biometrika 1954): the day where the
    cumulative deviation of daily revenue from its grand mean peaks —
    the classic drift detector for a metric time series. Exactness
    trick: S_t = cumsum(rev) - t*mean has a division inside the
    cumulative, so both engines compute the INTEGER-SCALED curve
    n*S_t = n*cumsum(rev_t) - t*total (decimal-times-integer, exact,
    same argmax) and divide once at the end. The grand total rides a
    broadcast one-row aggregate — no driver collect, no build-time job.

    Scale: one shuffle to the day grain; the cumulative window runs
    over calendar-bounded daily rows (allowlisted); the final argmax is
    an orderBy+limit, which Spark plans as TakeOrderedAndProject."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    tot = daily.agg(
        F.sum("rev").cast("decimal(18,2)").alias("tot"),
        F.count("*").cast("long").alias("nd"),
    )
    wcum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("__cum", F.sum("rev").over(wcum))
        .withColumn("__t", F.row_number().over(Window.orderBy("d")))
        .withColumn(
            "scaled",
            F.col("nd") * F.col("__cum") - F.col("__t") * F.col("tot"),
        )
    )
    return (
        curve.orderBy(F.abs(F.col("scaled")).desc(), F.asc("d"))
        .limit(1)
        .select(
            F.col("d").alias("change_day"),
            (F.col("scaled").cast("double") / F.col("nd")).alias(
                "cusum_peak"
            ),
            F.col("nd").alias("n_days"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort lifetime value
# ---------------------------------------------------------------------------


@register(
    "cohort_ltv",
    """
    WITH om AS (
      SELECT o_custkey,
             (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders),
    first AS (
      SELECT o_custkey, min(m) AS cm FROM om GROUP BY 1),
    sizes AS (
      SELECT cm, CAST(count(*) AS BIGINT) AS n_cohort
      FROM first GROUP BY 1),
    rev AS (
      SELECT f.cm, om.m - f.cm AS age,
             CAST(sum(om.price) AS DECIMAL(18,2)) AS r
      FROM om JOIN first f ON om.o_custkey = f.o_custkey
      GROUP BY 1, 2),
    cum AS (
      SELECT cm, CAST(age AS BIGINT) AS age,
             sum(r) OVER (PARTITION BY cm ORDER BY age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev
      FROM rev)
    SELECT CAST(c.cm // 12 AS VARCHAR) || '-'
             || lpad(CAST(c.cm % 12 + 1 AS VARCHAR), 2, '0') AS cohort,
           c.age, s.n_cohort,
           CAST(c.cum_rev AS DOUBLE) / s.n_cohort AS ltv_per_customer
    FROM cum c JOIN sizes s ON c.cm = s.cm
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: customers are cohorted by first-order
    month; each cohort's cumulative revenue per member is tracked by
    month-age. The month index is the integer year*12+month-1 (no date
    arithmetic ambiguity across engines); revenue stays decimal through
    the cumulative window and divides by cohort size once at the end.

    Scale: two data-sized shuffles (first-order aggregate, the
    customer equi-join back) plus a cohort x age aggregate; the
    cumulative window partitions by cohort month over calendar-bounded
    ages. Cohort sizes broadcast."""
    o = _t(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("m"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    first = om.groupBy("o_custkey").agg(F.min("m").alias("cm"))
    # both aggregates derive from the SAME join subtree (identical
    # exchanges -> ReuseExchange dedups them), instead of referencing
    # `first` twice and re-scanning orders for a separate size pass;
    # every cohort member has >= 1 order, so the distinct custkey count
    # over the joined rows IS the cohort size
    j = om.join(first, "o_custkey")
    sizes = j.groupBy("cm").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_cohort")
    )
    rev = j.groupBy(
        "cm", (F.col("m") - F.col("cm")).alias("age")
    ).agg(F.sum("price").cast("decimal(18,2)").alias("r"))
    wcum = (
        Window.partitionBy("cm")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cm",
        F.col("age").cast("long").alias("age"),
        F.sum("r").over(wcum).alias("cum_rev"),
    )
    cohort = F.concat(
        F.expr("CAST(cm DIV 12 AS STRING)"),
        F.lit("-"),
        F.lpad(F.expr("CAST(cm % 12 + 1 AS STRING)"), 2, "0"),
    )
    return cum.join(F.broadcast(sizes), "cm").select(
        cohort.alias("cohort"),
        "age",
        "n_cohort",
        (F.col("cum_rev").cast("double") / F.col("n_cohort")).alias(
            "ltv_per_customer"
        ),
    )


# ---------------------------------------------------------------------------
# Record-breaking rows (exclusive global running max at data scale)
# ---------------------------------------------------------------------------


@register(
    "record_breaking_orders",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS d,
           o_totalprice AS price
    FROM (
      SELECT o_orderkey, o_orderdate, o_totalprice,
             max(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM orders)
    WHERE pm IS NULL OR o_totalprice > pm
    """,
)
def q_record_breaking_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking orders: every order whose total strictly exceeds
    ALL earlier orders' totals (order = orderdate, orderkey tiebreak) —
    the "running record" scan behind all-time-high dashboards and
    monotone envelope extraction. Expected output is ~H(n) ≈ ln n rows
    for exchangeable totals, but the SCAN is over every order in
    global time order — exactly the data-sized exclusive-prefix-max
    the single-partition SQL frame can't survive at 100 TB.

    Scale: uses :func:`~.operators.order_stats.with_running_max` — the
    bucketed two-phase carve with a per-bucket exclusive prefix-max
    offset (summary collect bounded by the timestamp band count; the
    build runs it, so ``prepared`` rebuilds the query and the bench
    pays it). The oracle is the
    plain windowed-frame SQL, so the two engines verify each other
    through different algorithms."""

    o = _t(spark, sf_dir, "orders")
    r = with_running_max(
        o,
        F.unix_micros(F.col("o_orderdate").cast("timestamp")),
        [F.asc("o_orderdate"), F.asc("o_orderkey")],
        "o_totalprice",
        "pm",
    )
    return r.filter(
        F.col("pm").isNull() | (F.col("o_totalprice") > F.col("pm"))
    ).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        F.col("o_totalprice").alias("price"),
    )


@register(
    "skyline_running_max",
    """
    SELECT a.p_partkey, a.p_retailprice AS price, a.p_size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice < a.p_retailprice
        AND b.p_size > a.p_size)
    """,
)
def q_skyline_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 2-D Pareto skyline as ``skyline_pareto_parts``, but via
    the bucketed EXCLUSIVE running max directly over the DATA relation
    — the formulation that survives an unbounded dominance-key domain
    (timestamps, scores) where the sibling's per-price-level window
    would become data-sized. The trick is the tie order: sorting
    (price ASC, size ASC, partkey) makes the exclusive prefix max
    exceed a row's size IFF some STRICTLY cheaper part carries a
    strictly larger size — same-price rows earlier in the order have
    sizes <= the current row's, so they can never trigger the test —
    which is exactly strict 2-D dominance. One summary collect (run at
    build, so ``prepared`` rebuilds it), one partitioned window pass,
    no join back, no bounded-domain assumption. Oracle: the quadratic NOT EXISTS form
    (cross-algorithm check, shared with the sibling)."""

    p = _t(spark, sf_dir, "part")
    r = with_running_max(
        p,
        F.col("p_retailprice"),
        [F.asc("p_retailprice"), F.asc("p_size"), F.asc("p_partkey")],
        "p_size",
        "pm",
    )
    return r.filter(
        F.col("pm").isNull() | (F.col("p_size") >= F.col("pm"))
    ).select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        "p_size",
    )


# ---------------------------------------------------------------------------
# Welch's t-test (A/B comparison with exact-decimal moments)
# ---------------------------------------------------------------------------


@register(
    "welch_t_test",
    f"""
    WITH j AS (
      SELECT c.c_mktsegment AS seg,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
               AS xi
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    m AS (
      SELECT
        CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS HUGEINT)
          AS n1,
        CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS HUGEINT)
          AS n2,
        CAST(sum(CASE WHEN seg = 'BUILDING' THEN xi END) AS HUGEINT) AS s1,
        CAST(sum(CASE WHEN seg = 'MACHINERY' THEN xi END) AS HUGEINT) AS s2,
        CAST(sum(CASE WHEN seg = 'BUILDING' THEN xi * xi END) AS HUGEINT)
          AS q1,
        CAST(sum(CASE WHEN seg = 'MACHINERY' THEN xi * xi END) AS HUGEINT)
          AS q2
      FROM j),
    v AS (
      SELECT n1, n2,
             n1 * q1 - s1 * s1 AS v1,
             n2 * q2 - s2 * s2 AS v2,
             n1 * n1 * (n1 - 1) * 10000 AS d1,
             n2 * n2 * (n2 - 1) * 10000 AS d2,
             s1 * n2 - s2 * n1 AS num,
             n1 * n2 * 100 AS den,
             s1 * 20000 + n1 AS am1,
             s2 * 20000 + n2 AS am2
      FROM m),
    w AS (
      SELECT n1, n2,
             {sql_dec38_to_double('v1')} / {sql_dec38_to_double('d1')} AS a1,
             {sql_dec38_to_double('v2')} / {sql_dec38_to_double('d2')} AS a2,
             {sql_dec38_to_double('num')} / {sql_dec38_to_double('den')}
               AS diff,
             CAST((am1 - (((am1 % (n1 * 2)) + n1 * 2) % (n1 * 2)))
                  // (n1 * 2) AS BIGINT) AS mb_micro,
             CAST((am2 - (((am2 % (n2 * 2)) + n2 * 2) % (n2 * 2)))
                  // (n2 * 2) AS BIGINT) AS mm_micro
      FROM v)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(mb_micro AS DOUBLE) / 1000000.0 AS mean_building,
           CAST(mm_micro AS DOUBLE) / 1000000.0 AS mean_machinery,
           floor(diff / sqrt(a1 + a2) * 1000000.0 + 0.5) / 1000000.0
             AS t_stat,
           floor((a1 + a2) * (a1 + a2)
                 / (a1 * a1 / CAST(n1 - 1 AS DOUBLE)
                    + a2 * a2 / CAST(n2 - 1 AS DOUBLE))
                 * 100.0 + 0.5) / 100.0 AS welch_df
    FROM w
    """,
)
def q_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test (Welch, Biometrika 1947) on mean
    order value between the BUILDING and MACHINERY segments — the A/B
    significance readout a metrics layer runs on experiment cohorts.

    Every moment rides an INTEGER lane until the last possible step:
    prices quantize to exact integer cents, and count / Σxᵢ /
    Σxᵢ² accumulate as DECIMAL(38,0) (HUGEINT in the oracle) in one
    conditional-aggregate pass sharing one shuffle.  The variance
    numerators (nᵢQᵢ − Sᵢ², ≥ 0 by Cauchy-Schwarz), their
    denominators nᵢ²(nᵢ−1)·10⁴, and the mean difference's exact
    rational (S₁n₂ − S₂n₁)/(100n₁n₂) are still exact integers;
    each converts to double through the limb-split
    ``dec38_to_double_portable`` — the round-5/6 lesson that a direct
    DECIMAL(38,x)→DOUBLE cast double-rounds in DuckDB beyond 2^53
    (Σxᵢ² is ~1.35e19 already at sf0.1).  Group means round half-up
    at 6 decimals entirely in integer arithmetic (mod-adjust
    floor-division, the ``mean_round6_micro`` pattern).  The t
    statistic and Welch-Satterthwaite df then use only IEEE
    correctly-rounded double ops (÷, ×, +, sqrt) in a fixed order, so
    both engines are bit-identical by construction.  Exactness bound:
    the integer lanes hold while nᵢ³·10⁴ and nᵢ·Qᵢ stay under
    10³⁸ — ~10¹¹ rows per arm at TPC-H price magnitudes, beyond any
    realistic cohort.

    Scale: one equi join (orders x customer on custkey) and ONE
    aggregation to a single row — no window, no second pass."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100))
            .cast("decimal(20,0)")
            .alias("xi"),
        )
    )
    b = F.col("seg") == "BUILDING"
    d38 = "decimal(38,0)"
    m = j.agg(
        F.sum(F.when(b, 1).otherwise(0)).cast(d38).alias("n1"),
        F.sum(F.when(~b, 1).otherwise(0)).cast(d38).alias("n2"),
        F.sum(F.when(b, F.col("xi"))).cast(d38).alias("s1"),
        F.sum(F.when(~b, F.col("xi"))).cast(d38).alias("s2"),
        F.sum(F.when(b, F.col("xi") * F.col("xi"))).cast(d38).alias("q1"),
        F.sum(F.when(~b, F.col("xi") * F.col("xi"))).cast(d38).alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2 = F.col("s1"), F.col("s2")
    v = m.select(
        n1,
        n2,
        (n1 * F.col("q1") - s1 * s1).alias("v1"),
        (n2 * F.col("q2") - s2 * s2).alias("v2"),
        (n1 * n1 * (n1 - 1) * F.lit(10000)).alias("d1"),
        (n2 * n2 * (n2 - 1) * F.lit(10000)).alias("d2"),
        (s1 * n2 - s2 * n1).alias("num"),
        (n1 * n2 * F.lit(100)).alias("den"),
        (s1 * F.lit(20000) + n1).alias("am1"),
        (s2 * F.lit(20000) + n2).alias("am2"),
    )

    def _mean_micro(a: Column, n: Column) -> Column:
        # exact half-up 6-decimal mean: floor((2e4·S + n)/(2n)) in
        # integer arithmetic via the mod-adjust identity
        bq = n * F.lit(2)
        r = ((a % bq) + bq) % bq
        return F.call_function("div", a - r, bq)

    w = v.select(
        n1,
        n2,
        (
            dec38_to_double_portable(F.col("v1"))
            / dec38_to_double_portable(F.col("d1"))
        ).alias("a1"),
        (
            dec38_to_double_portable(F.col("v2"))
            / dec38_to_double_portable(F.col("d2"))
        ).alias("a2"),
        (
            dec38_to_double_portable(F.col("num"))
            / dec38_to_double_portable(F.col("den"))
        ).alias("diff"),
        _mean_micro(F.col("am1"), n1).alias("mb_micro"),
        _mean_micro(F.col("am2"), n2).alias("mm_micro"),
    )
    a1, a2 = F.col("a1"), F.col("a2")
    return w.select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        (F.col("mb_micro").cast("double") / F.lit(1000000.0)).alias(
            "mean_building"
        ),
        (F.col("mm_micro").cast("double") / F.lit(1000000.0)).alias(
            "mean_machinery"
        ),
        round_portable(
            F.col("diff") / F.sqrt(a1 + a2), 6
        ).alias("t_stat"),
        round_portable(
            (a1 + a2)
            * (a1 + a2)
            / (
                a1 * a1 / (n1 - 1).cast("double")
                + a2 * a2 / (n2 - 1).cast("double")
            ),
            2,
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Regulatory design value (annual 4th-highest daily max, 3-year average)
# ---------------------------------------------------------------------------


@register(
    "design_value_4th_max",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             max(value) AS dmax
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, year(d) AS yr, dmax,
             row_number() OVER (PARTITION BY event_type, year(d)
               ORDER BY dmax DESC, d ASC) AS rnk
      FROM daily),
    annual AS (
      SELECT event_type, CAST(yr AS BIGINT) AS yr, dmax AS fourth_max
      FROM ranked WHERE rnk = 4),
    dv AS (
      SELECT event_type, yr, fourth_max,
             avg(fourth_max) OVER w AS dv3,
             count(*) OVER w AS nyrs
      FROM annual
      WINDOW w AS (PARTITION BY event_type ORDER BY yr
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
    SELECT event_type, yr,
           floor(fourth_max * 1000000.0 + 0.5) / 1000000.0 AS fourth_max,
           floor(dv3 * 1000000.0 + 0.5) / 1000000.0 AS design_value,
           CAST(nyrs AS BIGINT) AS n_years
    FROM dv
    """,
)
def q_design_value_4th_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPA-style DESIGN VALUE on the measurement stream: per pollutant
    (event_type), the annual 4th-highest daily maximum, then the
    rolling 3-year mean of that statistic — the exact shape of the
    ozone NAAQS design value (40 CFR 50 Appendix U: 3-year average of
    the annual 4th-highest daily max 8-hour concentration), the
    regulatory metric the reference's AQI pipeline feeds
    (``Automated_Bronze_to_Silver_Data_Transformation.py``'s
    sample-measurement grain rolls up to exactly this). Ties in the
    annual ranking break on the earlier day, so the 4th-highest is
    deterministic across engines.

    Scale: one shuffle to the (pollutant, day) grain; the annual
    ranking windows partition per (pollutant, year) — at most ~366
    rows each regardless of event volume; the 3-year window runs per
    pollutant over years. Every window partition is calendar-bounded.

    The 3-year mean divides an in-frame double sum by the frame count;
    both engines sum the same <= 3 doubles in frame order, and the
    result is 6-decimal-rounded inside the query."""
    e = _events(spark, sf_dir)
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.max("value").alias("dmax"))
    wrank = Window.partitionBy("event_type", F.year("d")).orderBy(
        F.desc("dmax"), F.asc("d")
    )
    annual = (
        daily.withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("rnk") == 4)
        .select(
            "event_type",
            F.year("d").cast("long").alias("yr"),
            F.col("dmax").alias("fourth_max"),
        )
    )
    w3 = (
        Window.partitionBy("event_type")
        .orderBy("yr")
        .rowsBetween(-2, Window.currentRow)
    )
    dv = annual.select(
        "event_type",
        "yr",
        "fourth_max",
        F.avg("fourth_max").over(w3).alias("dv3"),
        F.count("*").over(w3).cast("long").alias("n_years"),
    )
    return dv.select(
        "event_type",
        "yr",
        round_portable(F.col("fourth_max"), 6).alias("fourth_max"),
        round_portable(F.col("dv3"), 6).alias("design_value"),
        "n_years",
    )


# ---------------------------------------------------------------------------
# EPA annual summary: days in each AQI category per CBSA-year (cube)
# ---------------------------------------------------------------------------


@register(
    "aqi_category_days",
    """
    WITH daily AS (
      SELECT user_id % 10 AS cbsa,
             CAST(date_trunc('day', ts) AS DATE) AS d,
             max(value) AS day_aqi
      FROM events GROUP BY 1, 2),
    lab AS (
      SELECT cbsa, year(d) AS yr,
             CASE WHEN day_aqi <= 50 THEN 'Good'
                  WHEN day_aqi <= 100 THEN 'Moderate'
                  WHEN day_aqi <= 150 THEN 'Unhealthy for Sensitive Groups'
                  WHEN day_aqi <= 200 THEN 'Unhealthy'
                  WHEN day_aqi <= 300 THEN 'Very Unhealthy'
                  ELSE 'Hazardous' END AS cat,
             day_aqi
      FROM daily)
    SELECT cbsa, CAST(yr AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN cat = 'Good' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_good,
           CAST(sum(CASE WHEN cat = 'Moderate' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moderate,
           CAST(sum(CASE WHEN cat = 'Unhealthy for Sensitive Groups'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_usg,
           CAST(sum(CASE WHEN cat = 'Unhealthy' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unhealthy,
           CAST(sum(CASE WHEN cat = 'Very Unhealthy' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_very_unhealthy,
           CAST(sum(CASE WHEN cat = 'Hazardous' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hazardous,
           floor(max(day_aqi) * 1000000.0 + 0.5) / 1000000.0 AS max_aqi
    FROM lab GROUP BY CUBE (cbsa, yr)
    """,
)
def q_aqi_category_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EPA annual air-quality summary table — "number of days in
    each AQI category" per CBSA-year (the report the reference's
    dashboards approximate; EPA publishes it as the Annual Summary
    "AQI by CBSA" file): per geography and year, the day-count in each
    of the six AQI categories (the reference's X7 bucket chain,
    ``operators/buckets.aqi_category``) plus total days and the annual
    max AQI, as a CUBE so per-CBSA all-years, per-year all-CBSA and
    grand-total rows come from the same single aggregation.  The
    daily AQI is the max across the day's measurements (EPA's daily
    AQI = max over pollutant sub-indices); ``user_id % 10`` stands in
    for the CBSA code of the reporting site.

    Scale: one shuffle to the (cbsa, day) grain — calendar x geography
    bounded — then the cube aggregates that bounded relation; category
    day-counts are conditional sums riding the same pass (A5's
    filtered-count pattern), so the fact stream is read once."""
    e = _events(spark, sf_dir)
    daily = e.groupBy(
        (F.col("user_id") % 10).alias("cbsa"),
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
    ).agg(F.max("value").alias("day_aqi"))
    cat = aqi_category(F.col("day_aqi"))
    labeled = daily.select(
        "cbsa",
        F.year("d").cast("long").alias("yr"),
        cat.alias("cat"),
        "day_aqi",
    )

    def n_cat(label: str, out: str) -> Column:
        return (
            F.sum(F.when(F.col("cat") == label, 1).otherwise(0))
            .cast("long")
            .alias(out)
        )

    return labeled.cube("cbsa", "yr").agg(
        F.count("*").cast("long").alias("n_days"),
        n_cat("Good", "n_good"),
        n_cat("Moderate", "n_moderate"),
        n_cat("Unhealthy for Sensitive Groups", "n_usg"),
        n_cat("Unhealthy", "n_unhealthy"),
        n_cat("Very Unhealthy", "n_very_unhealthy"),
        n_cat("Hazardous", "n_hazardous"),
        round_portable(F.max("day_aqi"), 6).alias("max_aqi"),
    )
