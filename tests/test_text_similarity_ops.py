"""Unit tests for fuzzy edit-distance dedup, repetition signals,
int8 quantization, and the range-sorted data-skipping layout."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.operators.dedup import fuzzy_pairs
from air_quality_etl_pipeline_spark.operators.similarity import quantize_int8
from air_quality_etl_pipeline_spark.operators.text import repetition_stats
from air_quality_etl_pipeline_spark.sources.writers import write_range_sorted


# ---------------------------------------------------------------------------
# fuzzy_pairs
# ---------------------------------------------------------------------------


def _brute_force_pairs(rows, max_dist):
    import itertools

    def lev(a, b):
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[n]

    out = set()
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        d = lev(ta, tb)
        if d <= max_dist:
            out.add((min(ia, ib), max(ia, ib), d))
    return out


def test_fuzzy_pairs_perfect_recall_across_length_bands(spark):
    # texts engineered so qualifying pairs span adjacent AND same
    # length buckets (band width = max_dist + 1 = 4)
    rows = [
        (1, "abcd"),        # len 4  bucket 1
        (2, "abcde"),       # len 5  bucket 1 — dist(1,2)=1
        (3, "abcdefg"),     # len 7  bucket 1
        (4, "abcdefgh"),    # len 8  bucket 2 — dist(3,4)=1, crosses buckets
        (5, "zzzzzzzz"),    # len 8  bucket 2 — far from everything
        (6, "abce"),        # len 4  bucket 1 — dist(1,6)=1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in fuzzy_pairs(df, "doc_id", "text", max_dist=3).collect()
    }
    assert got == _brute_force_pairs(rows, 3)


def test_fuzzy_pairs_respects_blocking(spark):
    rows = [(1, "same text", "en"), (2, "same text", "de")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = fuzzy_pairs(
        df, "doc_id", "text", max_dist=3, block_cols=("lang",)
    ).collect()
    assert got == []  # identical texts, different blocks → no pair


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------


def test_repetition_stats_values_and_edges(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),        # 1 distinct / 4 toks
            (2, "a b c d"),        # all distinct
            (3, "x"),              # single token: no bigrams
            (4, ""),               # empty: all NULL
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].dup_word_frac == 0.75
    assert rows[1].top_word_share == 1.0
    assert rows[1].dup_bigram_frac == pytest.approx(1 - 1 / 3, abs=1e-4)
    assert rows[2].dup_word_frac == 0.0
    assert rows[2].top_word_share == 0.25
    assert rows[2].dup_bigram_frac == 0.0
    assert rows[3].dup_bigram_frac is None  # no bigrams
    assert rows[3].dup_word_frac == 0.0
    assert rows[4].dup_word_frac is None  # empty doc
    assert rows[4].top_word_share is None


# ---------------------------------------------------------------------------
# quantize_int8
# ---------------------------------------------------------------------------


def test_quantize_int8_reconstruction_and_zero_vector(spark):
    vecs = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.001, 0.002, -0.003, 0.004]),
        (3, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in quantize_int8(df).collect()}
    for vid, vec in vecs:
        r = out[vid]
        if r.scale == 0:
            assert all(q == 0 for q in r.q)
            continue
        assert max(abs(q) for q in r.q) == 127  # maxabs maps to full range
        for x, q in zip(vec, r.q):
            # dequantization error bounded by half a quantization step
            assert abs(x - q * r.scale / 127) <= r.scale / 254 + 1e-12


# ---------------------------------------------------------------------------
# write_range_sorted: files must carry disjoint key ranges
# ---------------------------------------------------------------------------


def test_range_sorted_files_have_disjoint_minmax(spark, sf_dir, tmp_path):
    path = str(tmp_path / "li_sorted")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    write_range_sorted(li, path, ["l_shipdate"], num_partitions=8)
    intervals = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("l_shipdate")
        lo = min(
            md.row_group(i).column(idx).statistics.min
            for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(idx).statistics.max
            for i in range(md.num_row_groups)
        )
        intervals.append((lo, hi))
    assert len(intervals) > 1
    intervals.sort()
    for (_, hi_prev), (lo_next, _) in zip(intervals, intervals[1:]):
        # contiguous ranges may touch at the boundary value but not overlap
        assert lo_next >= hi_prev

    # and the roundtrip preserves every row
    assert spark.read.parquet(path).count() == li.count()


# ---------------------------------------------------------------------------
# dedup_first_agg ≡ dedup_first (same survivor, different plan)
# ---------------------------------------------------------------------------


def test_dedup_first_agg_matches_window_form(spark, sf_dir):
    from air_quality_etl_pipeline_spark.operators.cleaning import (
        dedup_first,
        dedup_first_agg,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    keys = ["l_orderkey", "l_partkey"]
    ob = ["l_linenumber", "l_quantity", "l_returnflag"]
    a = sorted(map(tuple, dedup_first(li, keys, ob).collect()))
    b = sorted(map(tuple, dedup_first_agg(li, keys, ob).collect()))
    assert a == b
    assert dedup_first_agg(li, keys, ob).columns == li.columns


# ---------------------------------------------------------------------------
# table_diff
# ---------------------------------------------------------------------------


def test_table_diff_classifies_all_cases(spark):
    from air_quality_etl_pipeline_spark.plans.merge import table_diff

    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "x"]
    )
    v2 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)], ["k", "s", "x"]
    )
    got = {(r.k, r.diff_status) for r in table_diff(v1, v2, ["k"]).collect()}
    assert got == {(2, "changed"), (3, "removed"), (4, "added")}
    # identical snapshots diff to empty
    assert table_diff(v1, v1, ["k"]).collect() == []


def test_table_diff_row_encoding_is_injective(spark):
    """The row hash must be null-safe and injective: a value moving
    between columns, NULL appearing/disappearing, or a value that
    embeds a would-be separator must all read as CHANGED (the skipped-
    NULL concat_ws encoding aliased every one of these to unchanged —
    the round-8 advisor's dedup-fingerprint defect class)."""
    from air_quality_etl_pipeline_spark.plans.merge import table_diff

    schema = "k long, a string, b string"
    cases = [
        # (v1 row, v2 row) — every pair must classify as changed
        ((1, "x", None), (1, None, "x")),         # value swaps columns
        ((2, "x", None), (2, "x", "")),           # NULL vs empty string
        ((3, "x\x1fy", None), (3, "x", "y")),     # embedded separator
        ((4, "ab", "c"), (4, "a", "bc")),         # boundary shift
    ]
    v1 = spark.createDataFrame([c[0] for c in cases], schema)
    v2 = spark.createDataFrame([c[1] for c in cases], schema)
    got = {(r.k, r.diff_status) for r in table_diff(v1, v2, ["k"]).collect()}
    assert got == {(k, "changed") for k, *_ in (c[0] for c in cases)}


def test_table_diff_property_matches_dict_diff(spark):
    """Random snapshot pairs (NULL-heavy, separator-laden values):
    table_diff classifies exactly like a plain Python dict diff."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from air_quality_etl_pipeline_spark.plans.merge import table_diff

    val = st.one_of(st.none(), st.sampled_from(["", "a", "b", "a\x1fb"]))
    snap = st.dictionaries(st.integers(0, 5), st.tuples(val, val), max_size=6)

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(s1=snap, s2=snap)
    def run(s1, s2):
        schema = "k long, a string, b string"
        mk = lambda s: (  # noqa: E731
            spark.createDataFrame([(k, *v) for k, v in s.items()], schema)
            if s
            else spark.createDataFrame([], schema)
        )
        want = set()
        for k in s1.keys() | s2.keys():
            if k not in s2:
                want.add((k, "removed"))
            elif k not in s1:
                want.add((k, "added"))
            elif s1[k] != s2[k]:
                want.add((k, "changed"))
        got = {
            (r.k, r.diff_status)
            for r in table_diff(mk(s1), mk(s2), ["k"]).collect()
        }
        assert got == want

    run()


# ---------------------------------------------------------------------------
# write_zorder: every file narrow in EVERY z-ordered dimension
# ---------------------------------------------------------------------------


def test_zorder_files_narrow_in_both_dimensions(spark, sf_dir, tmp_path):
    from air_quality_etl_pipeline_spark.sources.writers import write_zorder

    path = str(tmp_path / "li_zorder")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_orderkey", "l_partkey"]
    write_zorder(li, path, cols, bits=10, num_partitions=8)

    glob_lo_hi = li.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    spans = {
        c: glob_lo_hi[f"hi_{c}"] - glob_lo_hi[f"lo_{c}"] for c in cols
    }

    fracs = {c: [] for c in cols}
    files = glob.glob(f"{path}/*.parquet")
    assert len(files) > 4
    for f in files:
        md = pq.ParquetFile(f).metadata
        for c in cols:
            idx = md.schema.names.index(c)
            lo = min(
                md.row_group(i).column(idx).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(idx).statistics.max
                for i in range(md.num_row_groups)
            )
            fracs[c].append((hi - lo) / spans[c])
    # a z-ordered file is narrow in BOTH dimensions (a plain sort would
    # leave the second column spanning ~100% of its range per file)
    for c in cols:
        avg = sum(fracs[c]) / len(fracs[c])
        assert avg < 0.6, (c, avg)

    assert spark.read.parquet(path).count() == li.count()


# ---------------------------------------------------------------------------
# fuzzy_pairs property: banded candidates == brute force, always
# ---------------------------------------------------------------------------


from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="abcxyz ", min_size=0, max_size=24),
        min_size=2,
        max_size=10,
    ),
    max_dist=st.integers(min_value=1, max_value=6),
)
def test_fuzzy_pairs_recall_property(spark, texts, max_dist):
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in fuzzy_pairs(df, "doc_id", "text", max_dist=max_dist).collect()
    }
    assert got == _brute_force_pairs(rows, max_dist)


# ---------------------------------------------------------------------------
# compact_files / schema evolution / runtime bloom filter
# ---------------------------------------------------------------------------


def test_compact_files_bin_packs_small_files(spark, sf_dir, tmp_path):
    from air_quality_etl_pipeline_spark.sources.writers import compact_files

    path = str(tmp_path / "fragmented")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_rows = li.count()
    li.repartition(64).write.parquet(path)  # simulate a small-file mess
    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 32
    after = compact_files(spark, path, target_file_bytes=8 * 1024 * 1024)
    assert after < before / 4
    assert spark.read.parquet(path).count() == n_rows


def test_schema_evolution_merge_on_read(spark, tmp_path):
    # append a v2 batch with an extra column; mergeSchema unions the
    # schemas and backfills nulls — the additive-evolution contract
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a")], ["id", "s"])
    v2 = spark.createDataFrame([(2, "b", 9.5)], ["id", "s", "score"])
    v1.write.parquet(f"{path}/batch=1")
    v2.write.parquet(f"{path}/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(back.columns) == {"id", "s", "score", "batch"}
    rows = {r.id: r for r in back.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_runtime_bloom_filter_prunes_big_side(spark, sf_dir):
    # a selective filter on the orders side should inject a bloom
    # filter (might_contain) into the lineitem scan when broadcast is
    # off — Spark's runtime row-group pruning for shuffle joins
    import io
    from contextlib import redirect_stdout

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        assert "might_contain" in buf.getvalue()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# PPJoin prefix-filter property: candidates lose NO qualifying pair
# ---------------------------------------------------------------------------


def _brute_jaccard_pairs(rows, n, threshold):
    import itertools

    def shingles(t):
        if len(t) < n:
            return {t}
        return {t[i : i + n] for i in range(len(t) - n + 1)}

    out = set()
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        a, b = shingles(ta), shingles(tb)
        inter = len(a & b)
        union = len(a) + len(b) - inter
        if union and inter / union >= threshold:
            out.add((min(ia, ib), max(ia, ib)))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="abcab ", min_size=1, max_size=20),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
@example(texts=["aaa ", "aaa a"], threshold=0.3)  # positional-bound regression
@example(texts=["bca ", "abca "], threshold=0.3)
def test_ngram_jaccard_prefix_filter_exact_recall(spark, texts, threshold):
    from air_quality_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }
    assert got == _brute_jaccard_pairs(rows, 3, threshold)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="abcab ", min_size=1, max_size=20),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
@example(texts=["aaa ", "aaa a"], threshold=0.3)  # positional-bound regression
@example(texts=["bca ", "abca "], threshold=0.3)
def test_ppjoin_positional_filter_prunes_without_losing_pairs(
    spark, texts, threshold
):
    """The positional upper bound may only DISCARD candidates (subset of
    the plain prefix filter's) and must keep every true pair (the final
    result equals brute force either way)."""
    from air_quality_etl_pipeline_spark.operators.dedup import (
        _shingled,
        ngram_jaccard_pairs,
        ppjoin_candidates,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = _shingled(df, "doc_id", "text", 3, ())
    plain = {
        (r.id_a, r.id_b)
        for r in ppjoin_candidates(sh, threshold, positional=False).collect()
    }
    pos = {
        (r.id_a, r.id_b)
        for r in ppjoin_candidates(sh, threshold, positional=True).collect()
    }
    truth = _brute_jaccard_pairs(rows, 3, threshold)
    assert pos <= plain
    assert truth <= pos  # pruning never drops a true pair
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=threshold, positional=True
        ).collect()
    }
    assert got == truth


def test_ppjoin_exact_rational_threshold_arithmetic(spark):
    """Float-ceil regression: at t=0.2 with |A|=10, |B|=2 sharing
    exactly B's 2 tokens, J = 2/10 = 0.2 is EXACTLY the threshold.
    Double arithmetic computes ⌈0.2·10⌉ = ceil(2.0000000000000004) = 3
    (prefix one short of the recall guarantee — the earliest common
    token sits at A's position 8, just past the truncated prefix) and
    α = ⌈0.2/1.2·12⌉ = ceil(2.0000000000000004) = 3 > ub = 2 (positional
    prune of a true pair). The exact-rational forms keep the pair."""
    from air_quality_etl_pipeline_spark.operators.dedup import (
        ppjoin_candidates,
    )

    # common tokens c0/c1 have global freq 2, A's fillers freq 1, so
    # the ascending-frequency order puts c0/c1 LAST in A (positions
    # 8-9) — the tight case for both the prefix and positional bounds
    a_tokens = [f"u{i:02d}" for i in range(8)] + ["c0", "c1"]
    b_tokens = ["c0", "c1"]
    sh = spark.createDataFrame(
        [("a", a_tokens), ("b", b_tokens)], ["_id", "_sh"]
    )
    for positional in (False, True):
        got = {
            (r.id_a, r.id_b)
            for r in ppjoin_candidates(
                sh, 0.2, positional=positional
            ).collect()
        }
        assert ("a", "b") in got, f"positional={positional}"


def test_ngram_jaccard_keeps_pair_at_exact_threshold(spark):
    """Boundary regression: A's 55 words are a subset of B's 100, so
    J = 55/100 = 0.55 is EXACTLY the threshold and the pair must be
    returned. A float size prefilter ``min ≥ t·max`` evaluated
    55 ≥ 55.00000000000001 and dropped it."""
    from air_quality_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    words = [f"w{i:03d}" for i in range(100)]
    df = spark.createDataFrame(
        [(0, " ".join(words[:55])), (1, " ".join(words))],
        ["doc_id", "text"],
    )
    got = [
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=1, threshold=0.55, shingler="word"
        ).collect()
    ]
    assert got == [(0, 1, 0.55)]


# ---------------------------------------------------------------------------
# write_with_metrics: QA counters ride the write job (no second scan)
# ---------------------------------------------------------------------------


def test_write_with_metrics_observes_in_write_pass(spark, sf_dir, tmp_path):
    from air_quality_etl_pipeline_spark.sources.writers import (
        write_with_metrics,
    )

    path = str(tmp_path / "observed")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    m = write_with_metrics(o, path, count_col="o_orderpriority")
    assert m["n_rows"] == o.count()
    assert m["n_nulls"] == o.filter(F.col("o_orderpriority").isNull()).count()
    assert spark.read.parquet(path).count() == m["n_rows"]


# ---------------------------------------------------------------------------
# ANALYZE TABLE: statistics reach the catalog (CBO input)
# ---------------------------------------------------------------------------


def test_analyze_table_statistics_in_catalog(spark, sf_dir):
    import shutil

    # a stale location can survive a previous session's metastore:
    # drop through the catalog AND remove the directory
    spark.sql("DROP TABLE IF EXISTS nation_stats_test")
    shutil.rmtree(
        "/tmp/spark_graft_warehouse/nation_stats_test", ignore_errors=True
    )
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.mode(
        "overwrite"
    ).saveAsTable("nation_stats_test")
    spark.sql(
        "ANALYZE TABLE nation_stats_test COMPUTE STATISTICS "
        "FOR COLUMNS n_nationkey, n_regionkey"
    )
    desc = {
        r.info_name: r.info_value
        for r in spark.sql(
            "DESCRIBE EXTENDED nation_stats_test n_nationkey"
        ).collect()
    }
    # column-level stats present -> CBO has ndv/min/max to plan with
    assert desc.get("distinct_count") not in (None, "NULL")
    assert desc.get("min") not in (None, "NULL")
    stats_row = [
        r for r in spark.sql("DESCRIBE EXTENDED nation_stats_test").collect()
        if r.col_name == "Statistics"
    ]
    assert stats_row and "rows" in stats_row[0].data_type


# ---------------------------------------------------------------------------
# read_csv_with_quarantine: malformed rows isolated, none lost
# ---------------------------------------------------------------------------


def test_csv_quarantine_splits_clean_and_corrupt(spark, tmp_path):
    from air_quality_etl_pipeline_spark.sources.readers import (
        read_csv_with_quarantine,
    )

    p = tmp_path / "messy.csv"
    p.write_text(
        "id,score\n"
        "1,10.5\n"
        "2,not_a_number\n"   # type mismatch -> corrupt
        "3,30.25\n"
    )
    spark.catalog.clearCache()
    clean, corrupt = read_csv_with_quarantine(
        spark, str(p), "id INT, score DOUBLE"
    )
    clean_rows = sorted((r.id, r.score) for r in clean.collect())
    assert clean_rows == [(1, 10.5), (3, 30.25)]
    bad = [r._corrupt_record for r in corrupt.collect()]
    assert bad == ["2,not_a_number"]  # raw text preserved for triage
    # one materialized scan serves both sides; no session cache entry
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_lsh_pairs_between_matches_cross_subset(spark):
    """The incremental (cross-relation) LSH must find exactly the
    cross-relation subset of what the self-join form finds on the
    union — no corpus×corpus or new×new pairs, nothing missed."""
    from air_quality_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_between,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs before the dawn comes",
        "sphinx of black quartz judge my vow said the old professor",
    ]
    rows = []
    # ids 0-2: corpus originals; 10-12: near-clones (one word changed);
    # 20: unrelated new doc; 11 vs 12 share a clone source (new×new —
    # must NOT be reported by the incremental form)
    for i, t in enumerate(base):
        rows.append((i, t))
    rows.append((10, base[0].replace("dog", "cat")))
    rows.append((11, base[1].replace("dawn", "dusk")))
    rows.append((12, base[1].replace("jugs", "cups")))
    rows.append((20, "completely different words about spark shuffles"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    corpus = df.filter(F.col("doc_id") < 10)
    new = df.filter(F.col("doc_id") >= 10)

    thr, n = 0.5, 3
    got = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_lsh_pairs_between(
            new, corpus, "doc_id", n=n, threshold=thr
        ).collect()
    }
    want = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
        for r in minhash_lsh_pairs(
            df, "doc_id", n=n, threshold=thr
        ).collect()
        if (r["id_a"] >= 10) != (r["id_b"] >= 10)
    }
    assert got == want and len(got) >= 3
    # and strictly one-sided: no new×new pair leaked through
    assert all(a >= 10 and b < 10 for a, b in got)


# ---------------------------------------------------------------------------
# Exact→near dedup cascade (collapse_exact_clones)
# ---------------------------------------------------------------------------

def _brute_jaccard_scores(rows, n=3, threshold=0.8):
    """Reference: char-n-gram Jaccard over ALL pairs, pure Python,
    pair -> score (distinct name: ``_brute_jaccard_pairs`` above returns
    the pair SET for the prefix-filter recall property — a same-name
    second def would shadow it module-wide)."""
    def sh(t):
        if len(t) < n:
            return frozenset([t])
        return frozenset(t[i:i + n] for i in range(len(t) - n + 1))
    out = {}
    items = sorted(rows)
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            (ida, ta), (idb, tb) = items[i], items[j]
            a, b = sh(ta), sh(tb)
            inter = len(a & b)
            union = len(a) + len(b) - inter
            jac = inter / union if union else None
            if jac is not None and jac >= threshold:
                out[(ida, idb)] = jac
    return out


def test_collapse_exact_clones_members_and_reps(spark):
    from air_quality_etl_pipeline_spark.operators.dedup import (
        collapse_exact_clones,
    )

    rows = [
        (7, "the quick brown fox jumps"),
        (3, "the quick brown fox jumps"),   # clone, smaller id → rep
        (9, "the quick brown fox jumps"),   # clone
        (1, "entirely different text here"),
        (5, "ab"),                          # shorter than shingle width
        (6, "ab"),                          # clone of the short text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    members, reps = collapse_exact_clones(df, "doc_id")
    m = {r["doc_id"]: r["_rep"] for r in members.collect()}
    assert m == {7: 3, 3: 3, 9: 3, 1: 1, 5: 5, 6: 5}
    got = sorted((r["doc_id"], r["text"]) for r in reps.collect())
    assert got == [
        (1, "entirely different text here"),
        (3, "the quick brown fox jumps"),
        (5, "ab"),
    ]


def test_collapse_exact_clones_keys_on_raw_text(spark):
    """Docs that differ only in case/punctuation normalize to the same
    ``fingerprint()`` but shingle differently — they must NOT collapse
    into one clone group, or the cascade would hand them hardcoded 1.0
    intra-group jaccard where the true per-raw-text score differs
    (round-6 advisor finding). Only byte-identical texts collapse."""
    from air_quality_etl_pipeline_spark.operators.dedup import (
        collapse_exact_clones,
        jaccard_of_arrays,
    )
    from air_quality_etl_pipeline_spark.functions.core import char_shingles

    rows = [
        (1, "The Quick, Brown Fox!"),
        (2, "the quick brown fox"),     # normalize-equal, raw-different
        (3, "the quick brown fox"),     # true byte clone of 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    members, reps = collapse_exact_clones(df, "doc_id")
    m = {r["doc_id"]: r["_rep"] for r in members.collect()}
    assert m == {1: 1, 2: 2, 3: 2}          # doc 1 stays its own group
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 2]
    # and the rep-level jaccard between the two groups is the TRUE
    # raw-text shingle score, not 1.0
    csh = reps.select(
        F.col("doc_id").alias("_id"),
        char_shingles(F.col("text"), 3).alias("_c"),
    )
    a = csh.select(F.col("_id").alias("id_a"), F.col("_c").alias("c_a"))
    b = csh.select(F.col("_id").alias("id_b"), F.col("_c").alias("c_b"))
    [row] = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard_of_arrays(F.col("c_a"), F.col("c_b")))
        .collect()
    )
    want = _brute_jaccard_scores(
        [(1, "The Quick, Brown Fox!"), (2, "the quick brown fox")],
        threshold=0.0,
    )[(1, 2)]
    assert abs(row["jaccard"] - want) < 1e-12
    assert row["jaccard"] < 1.0


def test_cascade_pair_expansion_matches_brute_force(spark):
    """Clone-heavy corpus: the cascaded query must produce exactly the
    all-pairs ≥0.8 char-3-gram Jaccard set — intra-clone pairs at 1.0,
    cross-group near-dup pairs expanded to every member combination.
    Uses the same shingle/verify construction as dedup_ngram_jaccard,
    via brute force as the oracle (LSH banding with identical word
    5-gram shingles makes all these candidates)."""
    from air_quality_etl_pipeline_spark.functions.core import char_shingles
    from air_quality_etl_pipeline_spark.operators.dedup import (
        collapse_exact_clones,
        jaccard_of_arrays,
    )

    base_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base_b = base_a + " x"  # near-dup of base_a (same long prefix)
    rows = (
        [(i, base_a) for i in (11, 4, 8)]     # clone group, rep = 4
        + [(i, base_b) for i in (2, 15)]      # clone group, rep = 2
        + [(20, "completely unrelated content with other words")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    members, reps = collapse_exact_clones(df, "doc_id")

    # rep-level all-pairs verify (stand-in for the LSH candidates —
    # recall-equivalent here; candidacy depends only on the text)
    csh = reps.select(
        F.col("doc_id").alias("_id"),
        char_shingles(F.col("text"), 3).alias("_c"),
    )
    a = csh.select(F.col("_id").alias("id_a"), F.col("_c").alias("c_a"))
    b = csh.select(F.col("_id").alias("id_b"), F.col("_c").alias("c_b"))
    rep_pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard_of_arrays(F.col("c_a"), F.col("c_b")))
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", "jaccard")
    )
    ma = members.select(F.col("_rep").alias("id_a"), F.col("doc_id").alias("_a"))
    mb = members.select(F.col("_rep").alias("id_b"), F.col("doc_id").alias("_b"))
    cross = (
        rep_pairs.join(ma, on="id_a").join(mb, on="id_b")
        .select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            "jaccard",
        )
    )
    x, y = members.alias("x"), members.alias("y")
    intra = x.join(
        y,
        (F.col("x._fp") == F.col("y._fp"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("id_a"),
        F.col("y.doc_id").alias("id_b"),
        F.lit(1.0).alias("jaccard"),
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in cross.unionByName(intra).collect()
    }
    want = _brute_jaccard_scores(rows)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])


# ---------------------------------------------------------------------------
# PII scrub (C4/CCNet set: URL/email + phone, IP, ID-like digit runs)
# ---------------------------------------------------------------------------

PII_CASES = [
    # (input, expected)
    ("visit https://ex.com/a?b=1 now", "visit <URL> now"),
    ("mail bob.smith+x@corp.example.org ok", "mail <EMAIL> ok"),
    ("host 192.168.100.1 down", "host <IP> down"),
    ("v6 2001:db8:85a3:0:0:8a2e:370:7334 up", "v6 <IP> up"),
    ("v6 fe80::1 up", "v6 <IP> up"),  # ::-compressed with tail
    ("short 12:30 meeting", "short 12:30 meeting"),  # time, not IPv6
    ("at 12:30:45 sharp", "at 12:30:45 sharp"),  # time w/ seconds
    ("say cafe:face:bead twice", "say cafe:face:bead twice"),  # hex words
    # ≥4 hex groups is the chosen IPv6 bar, so a 4-part ratio IS
    # scrubbed — pinned deliberately (the 3-group forms above are the
    # common false positives the round-10 advisor flagged)
    ("ratio 3:2:1:4 cut", "ratio <IP> cut"),
    ("v6 2001:db8:: trailing", "v6 2001:db8:: trailing"),  # accepted gap
    # mixed full+compressed form: the ::-branch is FIRST in the
    # alternation so the whole address matches, not just the plain
    # prefix (round-11 advisor: plain-branch-first left '<IP>::5')
    ("link fe80:1:2:3::5 up", "link <IP> up"),
    ("deep 1:2:3:4:5:6::7 form", "deep <IP> form"),
    ("call 555-123-4567 today", "call <PHONE> today"),
    ("call (555) 123-4567 today", "call <PHONE> today"),
    ("call +1 555.123.4567 today", "call <PHONE> today"),
    ("on 2020-01-02 we met", "on 2020-01-02 we met"),  # date, not phone
    ("ssn 123-45-6789 leaked", "ssn <ID> leaked"),
    ("acct 123456789012 closed", "acct <ID> closed"),
    ("digits in id abc123456789x stay", "digits in id abc123456789x stay"),
    ("short run 12345678 kept", "short run 12345678 kept"),  # < 9 digits
    ("ip in url https://1.2.3.4/x ok", "ip in url <URL> ok"),
]


def test_scrub_text_pii_boundaries(spark):
    from air_quality_etl_pipeline_spark.operators.text import scrub_text_pii

    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(PII_CASES)], "i long, text string"
    )
    got = {
        r["i"]: r["clean"]
        for r in df.select(
            "i", scrub_text_pii(F.col("text")).alias("clean")
        ).collect()
    }
    for i, (_, want) in enumerate(PII_CASES):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_scrub_text_pii_cross_engine(spark):
    """The registry oracle hash-compares full scrubbed text over the
    corpus; this pins the Java-regex vs RE2 agreement on inputs that
    actually CONTAIN every PII shape (the corpus may not)."""
    import duckdb

    from air_quality_etl_pipeline_spark.operators.text import (
        EMAIL_PATTERN,
        ID_PATTERN,
        IPV4_PATTERN,
        IPV6_PATTERN,
        PHONE_PATTERN,
        URL_PATTERN,
        scrub_text_pii,
    )

    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(PII_CASES)], "i long, text string"
    )
    got = {
        r["i"]: r["clean"]
        for r in df.select(
            "i", scrub_text_pii(F.col("text")).alias("clean")
        ).collect()
    }
    con = duckdb.connect()
    chain = "text"
    for pat, tag in [
        (URL_PATTERN, "<URL>"),
        (EMAIL_PATTERN, "<EMAIL>"),
        (IPV6_PATTERN, "<IP>"),
        (IPV4_PATTERN, "<IP>"),
        (PHONE_PATTERN, "<PHONE>"),
        (ID_PATTERN, "<ID>"),
    ]:
        chain = f"regexp_replace({chain}, '{pat}', '{tag}', 'g')"
    for i, (s, _) in enumerate(PII_CASES):
        (duck,) = con.execute(
            f"SELECT {chain} FROM (SELECT ? AS text)", [s]
        ).fetchone()
        assert got[i] == duck, f"case {i}: spark {got[i]!r} != duck {duck!r}"
