"""Approximate-sketch workload: HLL++ distinct counts and t-digest
quantiles, verified through their ACCURACY CONTRACTS.

Sketch register layouts are engine-specific, so the raw estimates can
never hash-match a DuckDB twin. What IS portable is the contract: the
estimate must sit within its published error bound of the exact value.
Each query therefore emits the exact aggregate plus a 0/1
within-tolerance flag; the oracle reproduces the exact values and
asserts the flag — a full value-hash verification that the sketch
honored its bound on this input. Unit tests (tests/test_sketches.py)
additionally pin the tighter measured error and the raw estimates.

These are the 100 TB workhorses: one-pass, fixed-size, mergeable state
per group versus the exact forms' expand-shuffle (distinct) and
per-group sort (percentile).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import round_portable, token_array
from air_quality_etl_pipeline_spark.operators.sketches import (
    hll_distinct_with_contract,
    kmv_jaccard,
    quantile_band_contract,
)
from air_quality_etl_pipeline_spark.oracle_fragments import TOKS
from air_quality_etl_pipeline_spark.workload import _events, _t, register

_QB_PROBS = [0.25, 0.5, 0.75, 0.95]
_QB_PAD = 0.01


@register(
    "sketch_hll_distinct",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS exact_distinct,
           CAST(1 AS BIGINT) AS within_tol
    FROM orders GROUP BY 1
    """,
)
def q_sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct customers per order priority, 2% rsd, checked
    against the exact distinct computed in the SAME groupBy (the HLL
    rides the exact-distinct's shuffle, so auditing the bound is free).
    within_tol asserts the 3σ bound; the oracle's flag is literal 1 —
    an HLL estimate outside tolerance fails the hash compare."""
    o = _t(spark, sf_dir, "orders")
    out = hll_distinct_with_contract(
        o, ["o_orderpriority"], "o_custkey", rsd=0.02
    )
    return out.select("o_orderpriority", "exact_distinct", "within_tol")


def _qb_oracle() -> str:
    parts = []
    for p in _QB_PROBS:
        lo, hi = max(0.0, p - _QB_PAD), min(1.0, p + _QB_PAD)
        parts.append(
            f"""
    SELECT CAST({p} AS DOUBLE) AS p,
           floor(quantile_cont(o_totalprice, {lo}) * 1000000.0 + 0.5)
             / 1000000.0 AS band_lo,
           floor(quantile_cont(o_totalprice, {hi}) * 1000000.0 + 0.5)
             / 1000000.0 AS band_hi,
           CAST(1 AS BIGINT) AS within_band
    FROM orders"""
        )
    return "\n    UNION ALL".join(parts)


@register("sketch_quantile_band", _qb_oracle())
def q_sketch_quantile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (accuracy 10k ⇒ rank error ≤ 1e-4) banded by
    the exact [p−0.01, p+0.01] percentiles of o_totalprice: the
    estimate must land inside the band by the estimator's published
    rank guarantee. Band edges are exact interpolated percentiles —
    portable doubles the oracle reproduces; the sketch value itself
    stays out of the hashed columns."""
    o = _t(spark, sf_dir, "orders")
    out = quantile_band_contract(
        o, "o_totalprice", _QB_PROBS, rank_pad=_QB_PAD
    )
    return out.select(
        "p",
        round_portable(F.col("band_lo"), 6).alias("band_lo"),
        round_portable(F.col("band_hi"), 6).alias("band_hi"),
        "within_band",
    )


# KMV is fully deterministic (md5 order statistics), so unlike HLL /
# t-digest the RAW estimates are oracle-verifiable, not just the
# contract flag.


@register(
    "sketch_kmv_jaccard",
    f"""
    WITH toks AS (
      SELECT DISTINCT source AS g, lower(tok) AS tok
      FROM (SELECT source, unnest({TOKS}) AS tok FROM documents)),
    hashed AS (
      SELECT DISTINCT g,
             ('0x' || substr(md5('kmv:' || tok), 1, 15))::BIGINT AS h
      FROM toks),
    sig AS (SELECT g, h FROM (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
      FROM hashed) WHERE rn <= 64),
    srcs AS (SELECT DISTINCT g FROM sig),
    pairs AS (SELECT x.g AS a, y.g AS b FROM srcs x, srcs y WHERE x.g < y.g),
    merged AS (
      SELECT a, b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        SELECT p.a, p.b, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sig s ON s.g = p.a
        UNION ALL
        SELECT p.a, p.b, s.h, 0 AS in_a, 1 AS in_b
        FROM pairs p JOIN sig s ON s.g = p.b)
      GROUP BY 1, 2, 3),
    est AS (
      SELECT a, b, CAST(sum(in_a * in_b) AS BIGINT) AS kmv_matches,
             CAST(count(*) AS BIGINT) AS uk FROM (
        SELECT *, row_number() OVER (PARTITION BY a, b ORDER BY h) AS rn
        FROM merged) WHERE rn <= 64
      GROUP BY 1, 2),
    sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    inter AS (
      SELECT p.g AS a, q.g AS b, CAST(count(*) AS BIGINT) AS ninter
      FROM toks p JOIN toks q USING (tok) WHERE p.g < q.g GROUP BY 1, 2)
    SELECT p.a AS source_a, p.b AS source_b, e.kmv_matches,
           CAST(e.kmv_matches AS DOUBLE) / e.uk AS kmv_jaccard,
           CAST(COALESCE(i.ninter, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.ninter, 0)) AS exact_jaccard
    FROM pairs p
    JOIN est e ON e.a = p.a AND e.b = p.b
    LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
    JOIN sizes sa ON sa.g = p.a
    JOIN sizes sb ON sb.g = p.b
    """,
)
def q_sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set sketches per document source + pairwise Jaccard
    estimates against the exact value — the mergeable-sketch path for
    cross-source content-overlap monitoring (every pairwise step
    touches only k-row signatures). See operators.sketches.kmv_jaccard."""

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(token_array(F.col("text"))).alias("_raw"),
    ).select("source", F.lower(F.col("_raw")).alias("tok"))
    return kmv_jaccard(toks, "source", "tok", k=64)


# ---------------------------------------------------------------------------
# Rolling distinct via window-merged HLL day sketches
# ---------------------------------------------------------------------------


@register(
    "rolling_hll_distinct_7d",
    """
    WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d,
                       user_id
                FROM events),
    days AS (SELECT DISTINCT d FROM du),
    win AS (SELECT dd.d AS day, du.user_id
            FROM days dd JOIN du ON du.d BETWEEN dd.d - 6 AND dd.d)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS exact_7d,
           CAST(1 AS BIGINT) AS within_tol
    FROM win GROUP BY 1
    """,
)
def q_rolling_hll_distinct_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day via MERGEABLE sketches:
    one Apache DataSketches HLL per day (`hll_sketch_agg`), then the
    7-day figure is `hll_union_agg` over a day-grain window — the
    OLAP-cube pattern where per-grain sketches are built once and any
    rolling/rollup distinct is a cheap register merge, never a rescan
    (a plain COUNT(DISTINCT) over a sliding window re-shuffles every
    event into all 7 windows it belongs to). The exact trailing
    distinct rides the same query (the one-pass day-offset explode on
    the distinct day/user relation), and `within_tol` asserts the
    estimate against the lgk=12 error bound (3 sigma ~= 4.9%; at these
    cardinalities the sketch is in sparse mode and typically exact).
    The oracle recomputes the exact figure and a literal flag — an
    estimate outside tolerance fails the hash compare.

    Scale: day sketches are ONE shuffle over events; the union window
    runs on the calendar-bounded day relation (allowlisted); the exact
    twin's explode is bounded at 7 copies of the distinct (day, user)
    relation — at 100 TB you drop the exact twin and keep the sketch
    path, which is the point."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    du = e.select(
        F.to_date(F.date_trunc("day", "ts")).alias("d"), "user_id"
    ).distinct()
    sk = du.groupBy("d").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    est = sk.select(
        "d",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias(
            "est"
        ),
    )
    offs = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "user_id",
        "d",
    ).select(F.expr("date_add(d, off)").alias("day"), "user_id")
    days = du.select(F.col("d").alias("day")).distinct()
    exact = (
        offs.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_7d"))
    )
    j = est.join(exact, est["d"] == exact["day"])
    tol = F.lit(0.049) * F.col("exact_7d") + F.lit(2.0)
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "exact_7d",
        (
            F.abs(F.col("est") - F.col("exact_7d")) <= tol
        ).cast("long").alias("within_tol"),
    )
