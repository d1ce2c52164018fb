"""Exactness tests for the distributed order-statistics primitives
(`operators/order_stats.py`): every operator must agree EXACTLY with
the naive single-partition global window it replaces, across bucket
boundaries, ties, descending decimal keys, string (hex-digest) orders,
and degenerate inputs — because the analytics queries built on them
(Gini, ABC/Pareto, PSI deciles, sweep-line concurrency, id-gap audit,
padding waste) keep their exact DuckDB oracles after the scale
reformulation."""

from __future__ import annotations

import random
from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.operators.order_stats import (
    hex_prefix_key,
    sequence_gaps,
    with_global_rank,
    with_running_sum,
)


@pytest.fixture(scope="module")
def skewed_df(spark):
    # heavy ties (k in 0..40 over 3000 rows) + decimal values, spread
    # over 8 input partitions so bucket boundaries are actually crossed
    rng = random.Random(11)
    rows = [
        (
            i,
            rng.randint(0, 40),
            Decimal(str(round(rng.uniform(-500, 500), 2))),
        )
        for i in range(3000)
    ]
    return spark.createDataFrame(
        rows, "id bigint, k bigint, v decimal(18,2)"
    ).repartition(8)


def test_global_rank_matches_naive_window(skewed_df):
    naive = skewed_df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("k"), F.col("id")))
    )
    mine = with_global_rank(
        skewed_df, F.col("k"), [F.col("k"), F.col("id")], "rn"
    )
    a = {r.id: r.rn for r in naive.collect()}
    b = {r.id: r.rn for r in mine.collect()}
    assert a == b


def test_global_rank_value_only_ties_keep_rank_value_mapping(skewed_df):
    # with value-only ordering, tie assignment floats but the value at
    # any given rank is determined — the property the position-based
    # median (repeat_purchase_interval) relies on
    naive = skewed_df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("k")))
    )
    mine = with_global_rank(skewed_df, F.col("k"), [F.col("k")], "rn")
    a = {r.rn: r.k for r in naive.collect()}
    b = {r.rn: r.k for r in mine.collect()}
    assert a == b


def test_running_sum_decimal_descending_matches_naive(skewed_df):
    # descending decimal order via negated key: decimal exactness must
    # survive the collected bucket offsets (ABC/Pareto's requirement)
    w = Window.orderBy(F.col("v").desc(), F.col("id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = skewed_df.withColumn("cum", F.sum("v").over(w))
    mine = with_running_sum(
        skewed_df, -F.col("v"), [F.col("v").desc(), F.col("id")], "v", "cum"
    )
    a = {r.id: r.cum for r in naive.collect()}
    b = {r.id: r.cum for r in mine.collect()}
    assert a == b


def test_running_sum_negative_and_positive_deltas(spark):
    # sweep-line shape: ±1 deltas, key is the (timestamp-like) long
    rng = random.Random(3)
    rows = [(i, rng.randint(0, 999), 1 if i % 2 else -1) for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, t bigint, d int").repartition(
        8
    )
    w = Window.orderBy(F.col("t"), F.col("d"), F.col("id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = df.withColumn("conc", F.sum("d").over(w))
    mine = with_running_sum(
        df, F.col("t"), [F.col("t"), F.col("d"), F.col("id")], "d", "conc"
    )
    assert {r.id: r.conc for r in naive.collect()} == {
        r.id: r.conc for r in mine.collect()
    }


def test_hex_prefix_key_preserves_digest_order(spark):
    # md5-lexicographic global rank (padding_waste_report's random
    # order): the 60-bit prefix key must bucket monotonically
    df = spark.range(0, 1500).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
    ).repartition(8)
    naive = df.withColumn("rn", F.row_number().over(Window.orderBy("h")))
    mine = with_global_rank(df, hex_prefix_key(F.col("h")), [F.col("h")], "rn")
    assert {r.id: r.rn for r in naive.collect()} == {
        r.id: r.rn for r in mine.collect()
    }


def test_sequence_gaps_matches_sorted_scan(spark):
    rng = random.Random(5)
    ids = sorted(rng.sample(range(1, 20000), 1200))
    df = spark.createDataFrame([(i,) for i in ids], "id bigint").repartition(8)
    got = {(r["id"], r["next_id"]) for r in sequence_gaps(df, "id").collect()}
    want = {(a, b) for a, b in zip(ids, ids[1:]) if b - a > 1}
    assert got == want


def test_sequence_gaps_dense_and_single(spark):
    dense = spark.createDataFrame([(i,) for i in range(50, 80)], "id bigint")
    assert sequence_gaps(dense, "id").count() == 0
    single = spark.createDataFrame([(7,)], "id bigint")
    assert sequence_gaps(single, "id").count() == 0


def test_sequence_gaps_null_ids_dropped(spark):
    """NULL ids carry no sequence position: they must be ignored, not
    turned into a sentinel summary group whose None min/max blows up
    the driver-side seam stitching (round-6 advisor finding)."""
    rows = [(1,), (2,), (None,), (5,), (None,), (6,), (9,)]
    df = spark.createDataFrame(rows, "id bigint").repartition(4)
    got = {(r["id"], r["next_id"]) for r in sequence_gaps(df, "id").collect()}
    assert got == {(2, 5), (6, 9)}
    # all-null input behaves like empty
    nulls = spark.createDataFrame([(None,), (None,)], "id bigint")
    assert sequence_gaps(nulls, "id").count() == 0


def test_empty_inputs(spark):
    empty = spark.createDataFrame([], "id bigint, k bigint, v decimal(18,2)")
    assert with_global_rank(empty, F.col("k"), [F.col("k")]).count() == 0
    assert (
        with_running_sum(empty, F.col("k"), [F.col("k")], "v").count() == 0
    )
    assert (
        sequence_gaps(spark.createDataFrame([], "id bigint"), "id").count()
        == 0
    )
    # total_col keeps the output schema stable on empty input
    er = with_global_rank(
        empty, F.col("k"), [F.col("k")], total_col="n"
    )
    assert "n" in er.columns and er.count() == 0
    es = with_running_sum(
        empty, F.col("k"), [F.col("k")], "v", total_col="tot"
    )
    assert "tot" in es.columns and es.count() == 0


def test_total_col_equals_global_aggregate(skewed_df):
    # the attached literal must equal a real global aggregate — count
    # for the rank, the value sum (Decimal-exact) for the running sum —
    # because Pareto/median/PSI denominators ride it with no extra job
    r = with_global_rank(
        skewed_df, F.col("k"), [F.col("k"), F.col("id")], total_col="n"
    )
    vals = r.select("n").distinct().collect()
    assert len(vals) == 1 and vals[0]["n"] == skewed_df.count()

    s = with_running_sum(
        skewed_df,
        F.col("k"),
        [F.col("k"), F.col("id")],
        "v",
        total_col="tot",
    )
    tots = s.select("tot").distinct().collect()
    expected = skewed_df.agg(F.sum("v")).first()[0]
    assert len(tots) == 1 and tots[0]["tot"] == expected


def test_failing_summary_runs_once(spark):
    # a summary whose final merge fails (long overflow of the bucket
    # total, raised in the result stage) must surface that error after
    # the jobs one summary takes — the same input with small values
    # builds with that many — not run the summary a second way
    from air_quality_etl_pipeline_spark.workload import count_jobs

    def build(v):
        df = spark.range(0, 8, numPartitions=8).select(
            "id", F.lit(0).alias("k"), F.lit(v).alias("v")
        )
        return with_running_sum(df, F.col("k"), [F.col("id")], "v")

    _, ok_jobs = count_jobs(spark, lambda: build(1))

    def failing():
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            build(2**62)

    _, jobs = count_jobs(spark, failing)
    assert jobs == ok_jobs


def test_no_single_partition_window_in_plans(spark, skewed_df):
    # the DATA-sized window must be partitioned by __obkt, and since
    # the round-6 fused formulation the summary is collected (never
    # windowed in-plan), so NO window may sit on a single-partition
    # exchange anywhere — the same rule as the registry-wide fence in
    # tests/test_plan_quality.py, with an empty exception list.
    for df in (
        with_global_rank(skewed_df, F.col("k"), [F.col("k"), F.col("id")]),
        with_running_sum(
            skewed_df, -F.col("v"), [F.col("v").desc(), F.col("id")], "v"
        ),
        sequence_gaps(skewed_df.select("id").distinct(), "id"),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Window [" in ln or "WindowGroupLimit" in ln:
                below = "\n".join(lines[i + 1 : i + 3])
                assert "Exchange SinglePartition" not in below, (
                    "single-partition window:\n" + ln
                )


def test_all_equal_keys_degenerate_stays_exact(spark):
    # maximum skew: every bucket key identical -> one bucket carries
    # everything (forced — ties must share a bucket). Exactness must
    # hold; only parallelism degrades, and that is inherent to ranking
    # a 100%-tied order.
    df = spark.createDataFrame(
        [(i, 7, Decimal(str(i))) for i in range(200)],
        "id bigint, k bigint, v decimal(18,2)",
    ).repartition(4)
    r = with_global_rank(
        df, F.col("k"), [F.col("k"), F.col("id")], "rn", total_col="n"
    )
    rows = r.collect()
    assert sorted(x["rn"] for x in rows) == list(range(1, 201))
    assert {x["n"] for x in rows} == {200}
    by_id = {x["id"]: x["rn"] for x in rows}
    assert by_id[0] == 1 and by_id[199] == 200

    s = with_running_sum(
        df, F.col("k"), [F.col("k"), F.col("id")], "v", "cum"
    )
    got = {x["id"]: x["cum"] for x in s.collect()}
    # ordered by (k, id) = by id; cum(i) = 0+1+...+i
    assert got[199] == Decimal("19900.00") and got[3] == Decimal("6.00")


def test_nonfinite_keys_match_naive_window(spark):
    # NaN sorts above +Infinity in Spark; −Infinity below everything;
    # nulls first. The bucket expression must route all three through
    # explicit branches (the arithmetic path yields NaN/null buckets
    # and silently ranks NaN rows among the SMALLEST keys) — pinned
    # here against the naive global window.
    nan, inf = float("nan"), float("inf")
    rows = (
        [(i, float(i % 13) - 6.0) for i in range(300)]
        + [(1000, nan), (1001, nan), (1002, inf), (1003, -inf),
           (1004, None)]
    )
    df = spark.createDataFrame(rows, "id bigint, x double").repartition(7)
    naive = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("x"), F.col("id")))
    )
    mine = with_global_rank(df, F.col("x"), [F.col("x"), F.col("id")], "rn")
    assert {r.id: r.rn for r in naive.collect()} == {
        r.id: r.rn for r in mine.collect()
    }

    # all-non-finite keys: one bucket, still exact
    weird = spark.createDataFrame(
        [(0, nan), (1, inf), (2, -inf), (3, None)], "id bigint, x double"
    )
    got = {
        r.id: r.rn
        for r in with_global_rank(
            weird, F.col("x"), [F.col("x"), F.col("id")], "rn"
        ).collect()
    }
    # Spark order: null < -inf < inf < nan
    assert got == {3: 1, 2: 2, 1: 3, 0: 4}


def test_adversarial_band_edge_doubles_match_naive(spark):
    # keys engineered at quantizer trouble spots: exact powers of two
    # (log2 rounding), 1-ulp neighbours straddling band edges, huge
    # (DBL_MAX region, where uncorrected log2 overflows pow),
    # subnormals, and near-equal pairs — the range MERGE must absorb
    # any band misordering, so ranks always match the naive window
    import math
    import struct

    def ulp_away(x, n):
        b = struct.unpack("<q", struct.pack("<d", x))[0]
        return struct.unpack("<d", struct.pack("<q", b + n))[0]

    keys = []
    for e in (-1000, -100, -5, 0, 5, 100, 1000, 1023):
        p = math.ldexp(1.0, e)
        keys += [p, ulp_away(p, -1), ulp_away(p, 1)]
    keys += [1.7976931348623157e308, ulp_away(1.7976931348623157e308, -1),
             1.794e308, 5e-324, ulp_away(5e-324, 1), 2.2250738585072014e-308]
    keys += [-k for k in keys]
    keys += [0.0, 1.0, -1.0, 3.141592653589793,
             ulp_away(3.141592653589793, 1)]
    rows = [(i, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "id bigint, x double").repartition(7)

    naive = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("x"), F.col("id")))
    )
    mine = with_global_rank(df, F.col("x"), [F.col("x"), F.col("id")], "rn")
    assert {r.id: r.rn for r in naive.collect()} == {
        r.id: r.rn for r in mine.collect()
    }


def test_carve_offsets_match_bruteforce_random():
    # pure-Python property sweep of _Carve: random group summaries
    # (including deliberately OVERLAPPING ranges, as a broken quantizer
    # would emit) must yield exclusive offsets consistent with a brute
    # force over the flattened rows, and strictly increasing finite
    # bounds
    import random

    from air_quality_etl_pipeline_spark.operators.order_stats import _Carve

    rng = random.Random(17)
    for trial in range(200):
        n_groups = rng.randint(1, 40)
        rows = []
        lo = -50.0
        for g in range(n_groups):
            width = rng.uniform(0.1, 5.0)
            mn = lo + rng.uniform(-1.0, 1.0)  # occasional overlap
            mx = mn + width
            cnt = rng.randint(1, 20)
            rows.append((g, cnt, mn, mx, cnt * 2))
            lo = mx
        num_ranges = rng.choice([1, 2, 4, 8])
        carve = _Carve(rows, num_ranges)
        total = sum(r[1] for r in rows)
        assert carve.grand_n == total
        assert carve.n_buckets <= num_ranges
        # bounds strictly increasing
        assert all(
            a < b
            for a, b in zip(carve.fin_bounds, carve.fin_bounds[1:])
        )
        # offsets: nondecreasing, first is 0, consistent with bucket
        # row counts summing to the total
        assert carve.count_offsets[0] == 0
        assert all(
            a <= b
            for a, b in zip(carve.count_offsets, carve.count_offsets[1:])
        )
        bucket_counts = [
            sum(e[0] for e in bkt) for bkt in carve.buckets
        ]
        assert sum(bucket_counts) == total
        for i in range(1, carve.n_buckets):
            assert carve.count_offsets[i] == (
                carve.count_offsets[i - 1] + bucket_counts[i - 1]
            )
        offs, grand = carve.payload_offsets(0)
        assert grand == total * 2
        run = None
        for i, bkt in enumerate(carve.buckets):
            assert offs[i] == run
            for e in bkt:
                for r in e[2]:
                    run = r[4] if run is None else run + r[4]


def test_running_max_matches_naive_exclusive_window(skewed_df):
    from air_quality_etl_pipeline_spark.operators.order_stats import (
        with_running_max,
    )

    w = Window.orderBy(F.col("k"), F.col("id")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    naive = skewed_df.withColumn("pm", F.max("v").over(w))
    mine = with_running_max(
        skewed_df, F.col("k"), [F.col("k"), F.col("id")], "v", "pm"
    )
    a = {r.id: r.pm for r in naive.collect()}
    b = {r.id: r.pm for r in mine.collect()}
    assert a == b  # includes None for the global first row


def test_running_max_negative_values_and_null_values(spark):
    # 0 must NOT leak in as a max identity (all-negative prefixes),
    # and null values must be transparent (no earlier value -> null)
    from air_quality_etl_pipeline_spark.operators.order_stats import (
        with_running_max,
    )

    rows = [
        (1, 10.0, None),
        (2, 20.0, -5.0),
        (3, 30.0, None),
        (4, 40.0, -2.0),
        (5, 50.0, -9.0),
    ]
    df = spark.createDataFrame(rows, "id bigint, k double, v double")
    got = {
        r.id: r.pm
        for r in with_running_max(
            df, F.col("k"), [F.col("k")], "v", "pm", num_ranges=3
        ).collect()
    }
    assert got == {1: None, 2: None, 3: -5.0, 4: -5.0, 5: -2.0}


def test_running_max_random_fuzz_vs_naive(spark):
    from air_quality_etl_pipeline_spark.operators.order_stats import (
        with_running_max,
    )

    rng = random.Random(20260815)
    rows = [
        (
            i,
            rng.choice(
                [None, float("nan"), float("inf"), -float("inf")]
                + [float(rng.randint(-50, 50))] * 12
            ),
            None if rng.random() < 0.1 else round(rng.uniform(-9, 9), 2),
        )
        for i in range(800)
    ]
    df = spark.createDataFrame(
        rows, "id bigint, k double, v double"
    ).repartition(8)
    w = Window.orderBy(F.col("k").asc(), F.col("id")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    naive = {r.id: r.pm for r in df.withColumn("pm", F.max("v").over(w)).collect()}
    mine = {
        r.id: r.pm
        for r in with_running_max(
            df, F.col("k"), [F.col("k").asc(), F.col("id")], "v", "pm",
            num_ranges=7,
        ).collect()
    }
    assert naive == mine
