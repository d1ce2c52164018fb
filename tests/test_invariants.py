"""Unit + property-based tests for engine invariants (SURVEY §5):
dedup determinism, merge idempotency/monotonicity, surrogate-key
density, bucket boundaries, weekend semantics, safe division.

Hypothesis drives the data-shape properties; a single shared local
SparkSession keeps each example cheap (no per-example session).
Spark jobs per example are still expensive, so example counts are
deliberately small — these are invariant checks, not fuzzing depth.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import safe_div
from air_quality_etl_pipeline_spark.operators.buckets import (
    aqi_category,
    bucketize,
    region_of_state,
)
from air_quality_etl_pipeline_spark.operators.cleaning import dedup_first
from air_quality_etl_pipeline_spark.operators.dates import with_date_parts
from air_quality_etl_pipeline_spark.plans.gold import dense_id, surrogate_key
from air_quality_etl_pipeline_spark.plans.merge import (
    merge_insert_if_absent,
    upsert_replace,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

row_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=0, max_value=3),  # tiebreak
        st.integers(min_value=-100, max_value=100),  # payload
    ),
    min_size=0,
    max_size=25,
)


@given(rows=row_strategy)
@SETTINGS
def test_dedup_first_keeps_min_order_row_per_key(spark, rows):
    df = spark.createDataFrame(rows, "k int, ord int, v int") if rows else None
    if df is None:
        return
    out = dedup_first(df, ["k"], order_by=["ord", "v"]).collect()
    expected = {}
    for k, o, v in rows:
        if k not in expected or (o, v) < expected[k]:
            expected[k] = (o, v)
    got = {r["k"]: (r["ord"], r["v"]) for r in out}
    assert got == expected


@given(rows=row_strategy)
@SETTINGS
def test_merge_is_idempotent_and_monotonic(spark, rows):
    if not rows:
        return
    df = spark.createDataFrame(rows, "k int, ord int, v int")
    base = dedup_first(df, ["k"], order_by=["ord", "v"])
    # idempotent: merging a source into a target that already contains
    # it changes nothing
    once = merge_insert_if_absent(base, base, ["k"])
    assert sorted(once.collect()) == sorted(base.collect())
    # monotonic: merging a superset never loses existing keys
    extra = spark.createDataFrame([(99, 0, 0)], "k int, ord int, v int")
    merged = merge_insert_if_absent(base, base.unionByName(extra), ["k"])
    assert {r["k"] for r in base.collect()} | {99} == {
        r["k"] for r in merged.collect()
    }


@given(rows=row_strategy)
@SETTINGS
def test_upsert_replace_source_wins_target_survives(spark, rows):
    if not rows:
        return
    df = spark.createDataFrame(rows, "k int, ord int, v int")
    base = dedup_first(df, ["k"], order_by=["ord", "v"])
    # source rows replace matched keys wholesale; v+1000 marks them
    src = base.limit(1).withColumn("v", F.col("v") + 1000)
    merged = upsert_replace(base, src, ["k"])
    got = {r["k"]: r["v"] for r in merged.collect()}
    base_rows = {r["k"]: r["v"] for r in base.collect()}
    src_rows = {r["k"]: r["v"] for r in src.collect()}
    assert got == {**base_rows, **src_rows}
    # idempotent: upserting the same source twice changes nothing
    again = upsert_replace(merged, src, ["k"])
    assert sorted(again.collect()) == sorted(merged.collect())


@given(n=st.integers(min_value=0, max_value=40))
@SETTINGS
def test_surrogate_keys_dense_and_unique(spark, n):
    if n == 0:
        return
    df = spark.createDataFrame([(i,) for i in range(n)], "x int").repartition(4)
    for maker in (
        lambda d: surrogate_key(d, ["x"], "key"),
        lambda d: dense_id(d, "key"),
    ):
        keys = sorted(r["key"] for r in maker(df).collect())
        assert keys == list(range(1, n + 1))


def test_surrogate_key_offset_continues_sequence(spark):
    df = spark.createDataFrame([(1,), (2,)], "x int")
    keys = sorted(
        r["key"] for r in surrogate_key(df, ["x"], "key", offset=10).collect()
    )
    assert keys == [11, 12]


def test_aqi_bucket_boundaries(spark):
    # boundary values from the reference's CASE chain: <=50 Good,
    # <=100 Moderate, <=150 USG, <=200 Unhealthy, <=300 Very Unhealthy
    cases = [
        (50, "Good"),
        (51, "Moderate"),
        (100, "Moderate"),
        (101, "Unhealthy for Sensitive Groups"),
        (150, "Unhealthy for Sensitive Groups"),
        (151, "Unhealthy"),
        (200, "Unhealthy"),
        (201, "Very Unhealthy"),
        (300, "Very Unhealthy"),
        (301, "Hazardous"),
        (None, None),
    ]
    df = spark.createDataFrame([(v,) for v, _ in cases], "aqi int")
    got = [
        r["cat"]
        for r in df.select(aqi_category(F.col("aqi")).alias("cat")).collect()
    ]
    assert got == [label for _, label in cases]


def test_region_map_covers_all_states(spark):
    df = spark.createDataFrame(
        [("09",), ("17",), ("01",), ("06",), ("XX",)], "state_code string"
    )
    got = [
        r["region"]
        for r in df.select(
            region_of_state(F.col("state_code")).alias("region")
        ).collect()
    ]
    assert got == ["Northeast", "Midwest", "South", "West", "Unknown"]


def test_weekend_flag_is_sat_sun(spark):
    # 2024-01-06 Sat, 2024-01-07 Sun, 2024-01-08 Mon — the reference's
    # batch notebook comments claim 1=Mon (wrong); the automated variant
    # ({1,7} under Spark's 1=Sunday) is the correct one we implement.
    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 6),), (datetime.date(2024, 1, 7),),
         (datetime.date(2024, 1, 8),)],
        "date date",
    )
    got = [r["is_weekend"] for r in with_date_parts(df, "date").collect()]
    assert got == [True, True, False]


def test_safe_div_matches_dax_divide(spark):
    df = spark.createDataFrame(
        [(10.0, 2.0), (1.0, 0.0), (1.0, None), (None, 2.0)],
        "num double, den double",
    )
    got = [
        r["q"]
        for r in df.select(
            safe_div(F.col("num"), F.col("den")).alias("q")
        ).collect()
    ]
    assert got == [5.0, None, None, None]


def test_bucketize_null_label(spark):
    df = spark.createDataFrame([(None,), (1,)], "x int")
    got = [
        r["b"]
        for r in df.select(
            bucketize(F.col("x"), [(5, "low")], "high", null_label="missing")
            .alias("b")
        ).collect()
    ]
    assert got == ["missing", "low"]


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"), min_size=0, max_size=30
        ),
        min_size=0,
        max_size=12,
    )
)
@SETTINGS
def test_simhash_band_lsh_has_exact_recall(spark, texts):
    """The bit-band candidate join must find EVERY pair within
    max_hamming (pigeonhole: k differing bits can't touch all k+1
    bands) — banded output ≡ brute-force all-pairs output."""
    from pyspark.sql import functions as F

    from air_quality_etl_pipeline_spark.operators.dedup import (
        simhash_bits,
        simhash_pairs,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id int, text string")
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(
            df, "doc_id", "text", bits=16, max_hamming=3
        ).collect()
    }
    sh = simhash_bits(df, "doc_id", "text", bits=16)
    a = sh.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a")
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b")
    )
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute


def test_md5_lsh_paths_find_near_dup_pairs(spark):
    """On clearly-separated data (near-identical vs unrelated docs),
    both md5 LSH paths surface the near-dup pairs: MinHash banding
    verified by true Jaccard, and SimHash bit bands verified by
    Hamming distance."""
    from air_quality_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (0, base),
        (1, base + " tail"),                      # near-dup of 0
        (2, "completely different words here entirely unrelated content"),
        (3, base.replace("quick", "slow")),       # near-dup of 0
        (4, "another unrelated document about nothing in particular at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")

    mh = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert (0, 1) in mh and (0, 3) in mh

    sim = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in simhash_pairs(
            df, "doc_id", "text", bits=48, max_hamming=10
        ).collect()
    }
    assert (0, 1) in sim and (0, 3) in sim


def test_minhash_signatures_match_python_ground_truth(spark):
    """Spark-computed MinHash signatures must equal a pure-Python
    reimplementation — guards the hash pipeline against silent
    expression-resolution corruption (sibling lambda transforms over a
    computed array column once produced wrong, unstable minima)."""
    import hashlib

    from air_quality_etl_pipeline_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, ""),
        (2, "one two three four five six seven"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["_id"]: tuple(r[f"_h{i}"] for i in range(8))
        for r in minhash_signatures(df, "doc_id", "text", n=5).collect()
    }

    def shingles(text: str) -> list[str]:
        toks = text.split()
        out: list[str] = []
        for i in range(max(len(toks) - 4, 1)):
            g = " ".join(toks[i : i + 5])
            if g not in out:
                out.append(g)
        return out

    def h15(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()[:15]

    expected = {
        doc_id: tuple(
            min(h15(f"{i}:{s}") for s in shingles(text)) for i in range(8)
        )
        for doc_id, text in docs
    }
    assert got == expected

    # affine family: one md5 → low 30 bits → k Carter-Wegman rehashes
    from air_quality_etl_pipeline_spark.functions.core import (
        MINHASH_P31,
        affine_coeffs,
    )

    got_affine = {
        r["_id"]: tuple(r[f"_h{i}"] for i in range(8))
        for r in minhash_signatures(
            df, "doc_id", "text", n=5, hash_family="md5_affine"
        ).collect()
    }

    def b30(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % (1 << 30)

    expected_affine = {
        doc_id: tuple(
            min(
                (affine_coeffs(i)[0] * b30(s) + affine_coeffs(i)[1])
                % MINHASH_P31
                for s in shingles(text)
            )
            for i in range(8)
        )
        for doc_id, text in docs
    }
    assert got_affine == expected_affine


def test_every_query_has_an_oracle():
    """Every registered query is hash-compared cross-engine: its oracle
    is a non-empty SQL string, and __spark_entry__ exposes the same names
    from queries() and oracle_sql()."""
    import importlib

    from air_quality_etl_pipeline_spark.workload import QUERIES

    entry = importlib.import_module("__spark_entry__")
    oracles = entry.oracle_sql()
    assert all(isinstance(o, str) and o.strip() for o in oracles.values())
    assert set(oracles) == set(entry.queries()) == set(QUERIES)


def test_side_effect_queries_all_registered():
    from air_quality_etl_pipeline_spark.workload import (
        QUERIES,
        SIDE_EFFECT_QUERIES,
    )

    unknown = sorted(n for n in SIDE_EFFECT_QUERIES if n not in QUERIES)
    assert unknown == [], f"side-effect names not in registry: {unknown}"


def test_queries_survive_empty_tables(spark, tmp_path):
    # 0-row inputs must produce 0-row (or empty-summary) outputs, not
    # exceptions — the operational case of an empty ingest window.
    # A representative query per family: filter/dedup, hashing, LSH,
    # text stats, ANN scan, star join, basket graph, LM scoring,
    # card summary, connected components.
    from air_quality_etl_pipeline_spark.workload import QUERIES

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "empty_sf")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"{src}/{t}.parquet").limit(0).write.parquet(
            f"{dst}/{t}.parquet"
        )
    expected_rows = {"dataset_card_summary": 1}
    for name in [
        "silver_filter_dedup", "dedup_exact", "dedup_minhash_lsh",
        "text_stats", "ann_cosine_topk", "gold_star_fact",
        "copurchase_pairs", "bigram_logprob_score",
        "dataset_card_summary", "dedup_clusters",
    ]:
        n = QUERIES[name][0](spark, dst).count()
        assert n == expected_rows.get(name, 0), (name, n)


@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=500), min_size=1, max_size=8
    )
)
@SETTINGS
def test_largest_remainder_allocation_sums_to_budget(spark, counts):
    # the Hamilton-allocation invariant: integer allocations sum to
    # EXACTLY the budget for any count distribution, and each group's
    # share is its floor quota or floor+1 (quota monotonicity)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    budget = 1000
    df = spark.createDataFrame(
        [(f"g{i}", n) for i, n in enumerate(counts)], "grp string, n long"
    )
    t = df.agg(F.sum("n").cast("long").alias("total"))
    q = df.crossJoin(F.broadcast(t)).select(
        "grp",
        "n",
        F.expr(f"(n * {budget}) div total").alias("fa"),
        F.expr(f"(n * {budget}) % total").alias("rem"),
    )
    s = q.agg(F.sum("fa").cast("long").alias("alloc"))
    w = Window.orderBy(F.col("rem").desc(), F.col("grp").asc())
    out = (
        q.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(s))
        .select(
            "grp",
            "fa",
            (
                F.col("fa")
                + F.when(
                    F.col("rk") <= F.lit(budget) - F.col("alloc"), 1
                ).otherwise(0)
            ).alias("alloc_final"),
        )
        .collect()
    )
    assert sum(r["alloc_final"] for r in out) == budget
    for r in out:
        assert r["alloc_final"] in (r["fa"], r["fa"] + 1)


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),   # value (as int cents)
            st.integers(min_value=1, max_value=9),    # weight
        ),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_weighted_median_crosses_half_mass(spark, vals):
    # the weighted-median invariant: cumulative weight at the returned
    # value is >= half the total, and strictly below half just before
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(vals, "price long, qty long")
    g = df.groupBy("price").agg(F.sum("qty").alias("q"))
    wc = Window.orderBy("price").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    cum = g.select(
        "price",
        F.sum("q").over(wc).alias("cq"),
        F.sum("q").over(wt).alias("tq"),
    )
    med = (
        cum.filter(F.col("cq") * 2 >= F.col("tq"))
        .agg(F.min("price").alias("m"))
        .collect()[0]["m"]
    )
    total = sum(q for _, q in vals)
    below = sum(q for p, q in vals if p < med)
    at_or_below = sum(q for p, q in vals if p <= med)
    assert at_or_below * 2 >= total
    assert below * 2 < total


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=12), min_size=10, max_size=60
    ),
    edges=st.lists(
        st.integers(min_value=0, max_value=12), min_size=9, max_size=9
    ),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_psi_array_binning_equals_min_bin_rule(spark, vals, edges):
    # psi_value_drift bins with `1 + #{edges < val}` over the SORTED
    # edge array; the definitional rule is "min bin whose (sorted,
    # nondecreasing) edge is >= val, else 10". With duplicated edge
    # values — which position-based deciles produce on tied data —
    # both must agree on every input value; this pins the rewrite's
    # nondecreasing-edges equivalence argument.
    sorted_edges = sorted(edges)

    def naive_bin(v: int) -> int:
        for i, hi in enumerate(sorted_edges, start=1):
            if v <= hi:
                return i
        return 10

    df = spark.createDataFrame([(v,) for v in vals], "val int")
    arr = F.array(*[F.lit(e) for e in sorted_edges])
    got = {
        r["val"]: r["bin"]
        for r in df.select(
            "val",
            (
                F.lit(1)
                + F.size(F.filter(arr, lambda h: h < F.col("val")))
            ).alias("bin"),
        ).collect()
    }
    for v in set(vals):
        assert got[v] == naive_bin(v), (v, sorted_edges)
