"""Semantic property pins for the round-6 operator batch — the CLAIMS
the docstrings make, asserted directly, plus INDEPENDENT reference
implementations (NumPy / pure Python) for the formula-heavy queries.
The DuckDB oracles pin cross-engine value equality; these pin
geometry/conservation properties (zorder tiles, compaction bins,
k-anonymity monotonicity) and prove the shared expression trees equal
the intended algorithm (Welch, CUSUM, LWMA, greedy MMR), closing the
"both engines agree on the same wrong formula" gap.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.workload import QUERIES, _t


def test_zorder_files_are_16x16_tiles(spark, sf_dir):
    # file_id = morton16 DIV 256 covers EXACTLY one 16x16 tile of the
    # (pk8, sk8) plane — the data-skipping claim: every file envelope
    # spans <= 15 in BOTH interleaved keys (a single-key sort layout
    # would span the full 0..255 domain on the trailing key).
    fn, _ = QUERIES["zorder_layout_audit"]
    rows = fn(spark, sf_dir).collect()
    assert rows, "audit produced no files"
    for r in rows:
        assert 0 <= r.file_id <= 255
        assert r.pk_hi - r.pk_lo <= 15, r
        assert r.sk_hi - r.sk_lo <= 15, r
    # conservation: every input row landed in exactly one file
    li = _t(spark, sf_dir, "lineitem")
    assert sum(r.n_rows for r in rows) == li.count()


def test_compaction_bins_are_contiguous_and_conserving(spark, sf_dir):
    fn, _ = QUERIES["compaction_bin_packing"]
    rows = sorted(fn(spark, sf_dir).collect(), key=lambda r: r.bin_id)
    assert rows
    # bins partition the manifest in key order: ranges must not overlap
    for a, b in zip(rows, rows[1:]):
        assert a.bin_id < b.bin_id
        assert a.last_file <= b.first_file, (a, b)
    # byte conservation vs the manifest the query derives from
    o = _t(spark, sf_dir, "orders")
    total = o.count() * 128
    assert sum(r.total_bytes for r in rows) == total


def test_k_anonymity_risk_monotone_in_k(spark, sf_dir):
    fn, _ = QUERIES["k_anonymity_audit"]
    rows = sorted(fn(spark, sf_dir).collect(), key=lambda r: r.k)
    assert [r.k for r in rows] == [2, 5, 10, 20, 50]
    n_classes = {r.n_classes for r in rows}
    assert len(n_classes) == 1  # k never changes the class partition
    for a, b in zip(rows, rows[1:]):
        assert a.violating_classes <= b.violating_classes
        assert a.rows_at_risk <= b.rows_at_risk
        assert b.violating_classes <= b.n_classes


def test_bitmap_distinct_equals_native_count_distinct(spark, sf_dir):
    # cross-check INSIDE Spark (the DuckDB oracle is the cross-engine
    # check; this pins the bitmap algebra against Spark's own
    # countDistinct on the identical session/reader)
    from air_quality_etl_pipeline_spark.workload import _events

    fn, _ = QUERIES["bitmap_distinct_rollup"]
    got = {r.day: r.n_users for r in fn(spark, sf_dir).collect()}
    want = {
        r.day: r.n
        for r in _events(spark, sf_dir)
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_morton_polynomial_matches_python_reference(spark):
    # pin the generated bit-interleave SQL against an independent pure-
    # Python Morton encoder (both engines share the polynomial, so the
    # oracle only proves Spark == DuckDB; this proves both == intent)
    from pyspark.sql import functions as F

    from air_quality_etl_pipeline_spark.workload_lakehouse import _Z_SPARK

    def morton(pk: int, sk: int) -> int:
        z = 0
        for i in range(8):
            z |= ((pk >> i) & 1) << (2 * i)
            z |= ((sk >> i) & 1) << (2 * i + 1)
        return z

    import random

    rng = random.Random(7)
    rows = [(0, 0), (255, 255), (255, 0), (0, 255), (1, 2)] + [
        (rng.randrange(256), rng.randrange(256)) for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "__pk long, __sk long")
    got = [r.z for r in df.select(F.expr(_Z_SPARK).alias("z")).collect()]
    want = [morton(a, b) for a, b in rows]
    assert got == want


def test_welch_t_matches_numpy_reference(spark, sf_dir):
    # formula-level cross-check: the oracle proves Spark == DuckDB on
    # the same expression tree; this proves the tree == Welch's test as
    # an independent NumPy implementation computes it from raw data
    import math

    import numpy as np

    fn, _ = QUERIES["welch_t_test"]
    got = fn(spark, sf_dir).first()

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_mktsegment", "o_totalprice")
        .collect()
    )
    x1 = np.array([r.o_totalprice for r in j if r.c_mktsegment == "BUILDING"])
    x2 = np.array([r.o_totalprice for r in j if r.c_mktsegment == "MACHINERY"])
    a1 = x1.var(ddof=1) / len(x1)
    a2 = x2.var(ddof=1) / len(x2)
    t = (x1.mean() - x2.mean()) / math.sqrt(a1 + a2)
    df = (a1 + a2) ** 2 / (a1**2 / (len(x1) - 1) + a2**2 / (len(x2) - 1))
    assert got.n1 == len(x1) and got.n2 == len(x2)
    assert abs(got.mean_building - x1.mean()) < 1e-4
    assert abs(got.mean_machinery - x2.mean()) < 1e-4
    assert abs(got.t_stat - t) < 1e-4
    assert abs(got.welch_df - df) < 0.5


def test_cusum_matches_numpy_reference(spark, sf_dir):
    import numpy as np

    fn, _ = QUERIES["cusum_changepoint"]
    got = fn(spark, sf_dir).first()

    o = _t(spark, sf_dir, "orders")
    rows = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
        .orderBy("d")
        .collect()
    )
    days = [r.d for r in rows]
    rev = np.array([float(r.r) for r in rows])
    s = np.cumsum(rev - rev.mean())
    i = int(np.argmax(np.abs(s)))
    # ties in |S| break on the earlier day in the query; numpy argmax
    # picks the first max too, and the data has no exact ties
    assert got.change_day == days[i]
    assert abs(got.cusum_peak - s[i]) < 1e-3
    assert got.n_days == len(days)


def test_wma_matches_pure_python_reference(spark, sf_dir):
    fn, _ = QUERIES["wma_revenue_trend"]
    got = {
        (r.prio, r.ym): (r.revenue, r.wma6)
        for r in fn(spark, sf_dir).collect()
    }
    o = _t(spark, sf_dir, "orders")
    rows = (
        o.groupBy(
            F.col("o_orderpriority").alias("p"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.p, r.ym)):
        series.setdefault(r.p, []).append((r.ym, float(r.r)))
    n_checked = 0
    for p, months in series.items():
        for t in range(len(months)):
            lo = max(0, t - 5)
            window = months[lo : t + 1]
            # linear weights: 6 for the newest, down the window
            ws = [6 - (t - i) for i in range(lo, t + 1)]
            want = sum(w * v for w, (_, v) in zip(ws, window)) / sum(ws)
            ym = months[t][0]
            assert abs(got[(p, ym)][1] - want) < 1e-6, (p, ym)
            n_checked += 1
    assert n_checked == len(got)


def test_mmr_matches_pure_python_greedy(spark, sf_dir):
    # intent-level pin for the unrolled DataFrame rounds: a dict-based
    # greedy MMR over the same rounded relevance/similarity inputs must
    # select the same 5 ids in the same order with the same scores
    fn, _ = QUERIES["mmr_diversified_rerank"]
    got = [
        (r.rank, r.vec_id, r.relevance, r.mmr_score)
        for r in sorted(fn(spark, sf_dir).collect(), key=lambda r: r.rank)
    ]

    from air_quality_etl_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rel = {
        r.neighbor_id: r.cosine
        for r in cosine_topk(
            e, e.filter(F.col("vec_id") == 0), k=20
        ).collect()
    }
    cvecs = e.filter(F.col("vec_id").isin(*rel)).select(
        "vec_id", "embedding"
    )
    sim = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(cvecs, cvecs, k=19).collect()
    }
    selected: list = []
    want = []
    for rank in range(1, 6):
        best = None
        for d in sorted(rel):
            if d in selected:
                continue
            ms = max((sim[(d, s)] for s in selected), default=0.0)
            score = 0.7 * rel[d] - 0.3 * ms
            if best is None or score > best[1]:
                best = (d, score)
        selected.append(best[0])
        want.append((rank, best[0], rel[best[0]], best[1]))
    assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
    for g, w in zip(got, want):
        assert abs(g[2] - w[2]) < 1e-12 and abs(g[3] - w[3]) < 1e-12


def test_rfm_matches_pure_python_quintiles(spark, sf_dir):
    from collections import Counter
    from decimal import Decimal

    fn, _ = QUERIES["rfm_segments"]
    got = {
        r.segment: (r.n_customers, r.total_monetary)
        for r in fn(spark, sf_dir).collect()
    }

    o = _t(spark, sf_dir, "orders")
    rows = (
        o.groupBy("o_custkey")
        .agg(
            F.max(
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.to_date(F.lit("1970-01-01")),
                )
            ).alias("rec"),
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
        )
        .collect()
    )
    n = len(rows)

    def scores(key):
        order = sorted(rows, key=key)
        return {
            r.o_custkey: 5 - (rn * 5) // n for rn, r in enumerate(order)
        }

    rs = scores(lambda r: (-r.rec, r.o_custkey))
    fs = scores(lambda r: (-r.freq, r.o_custkey))
    ms = scores(lambda r: (-r.mon, r.o_custkey))
    counts: Counter = Counter()
    money: dict = {}
    for r in rows:
        seg = f"R{rs[r.o_custkey]}F{fs[r.o_custkey]}M{ms[r.o_custkey]}"
        counts[seg] += 1
        money[seg] = money.get(seg, Decimal(0)) + r.mon
    assert {k: v[0] for k, v in got.items()} == dict(counts)
    for seg, (_, tot) in got.items():
        assert abs(tot - float(money[seg])) < 1e-6, seg


def test_item_item_cosine_matches_pure_python(spark, sf_dir):
    import itertools
    import math
    from collections import Counter

    fn, _ = QUERIES["item_item_cosine"]
    got = {
        (r.item, r.other): (r.cosine, r.rank)
        for r in fn(spark, sf_dir).collect()
    }

    li = _t(spark, sf_dir, "lineitem")
    rows = li.select("l_orderkey", "l_partkey").distinct().collect()
    baskets: dict = {}
    freq: Counter = Counter()
    for r in rows:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
        freq[r.l_partkey] += 1
    support: Counter = Counter()
    for parts in baskets.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            support[(a, b)] += 1
    sym: dict = {}
    for (a, b), n in support.items():
        if n < 2:
            continue
        cos = n / math.sqrt(freq[a] * freq[b])
        cos = math.floor(cos * 1e6 + 0.5) / 1e6
        sym.setdefault(a, []).append((b, cos))
        sym.setdefault(b, []).append((a, cos))
    want: dict = {}
    for item, lst in sym.items():
        lst.sort(key=lambda t: (-t[1], t[0]))
        for rank, (other, cos) in enumerate(lst[:5], 1):
            want[(item, other)] = (cos, rank)
    assert got == want


def test_design_value_matches_pure_python(spark, sf_dir):
    import math
    from collections import defaultdict

    fn, _ = QUERIES["design_value_4th_max"]
    got = {
        (r.event_type, r.yr): (r.fourth_max, r.design_value, r.n_years)
        for r in fn(spark, sf_dir).collect()
    }

    from air_quality_etl_pipeline_spark.workload import _events

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.to_date(F.date_trunc("day", "ts")).alias("d"),
        )
        .agg(F.max("value").alias("dmax"))
        .collect()
    )
    per_year: dict = defaultdict(list)
    for r in daily:
        per_year[(r.event_type, r.d.year)].append((r.dmax, r.d))
    annual: dict = defaultdict(dict)
    for (et, yr), vals in per_year.items():
        vals.sort(key=lambda t: (-t[0], t[1]))
        if len(vals) >= 4:
            annual[et][yr] = vals[3][0]
    want: dict = {}
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    for et, years in annual.items():
        for yr in years:
            window = [years[y] for y in (yr - 2, yr - 1, yr) if y in years]
            want[(et, yr)] = (
                r6(years[yr]),
                r6(sum(window) / len(window)),
                len(window),
            )
    assert got == want
