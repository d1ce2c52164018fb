"""Physical-plan assertions: the optimizations the engine is designed
around must actually appear in the executed plans — broadcast star
joins, scan-level predicate pushdown, and column pruning. A regression
here is a silent 100×-at-scale problem even when results stay correct.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.workload import QUERIES

SF = "/root/testdata/sf0.001"


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_star_join_broadcasts_all_dims(spark):
    # fact ⟕ 4 dims: every dim side must be a broadcast hash join —
    # a sort-merge join here means a fact-table shuffle per dim at scale
    df, _ = QUERIES["gold_star_fact"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_hash_sample_is_shuffle_free(spark):
    # deterministic sampling is scan + filter only (the md5-bucket
    # predicate is computed, so it can't be a parquet-native pushed
    # filter — but it must run pre-shuffle): no keyed/global exchange
    # (the small-input round-robin scan spread — workload
    # ._spread_small_scan — is allowed; it vanishes at scale)
    df, _ = QUERIES["sample_hash"]
    plan = _plan_of(df(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Filter" in plan


def test_filtered_count_prunes_columns(spark):
    # a 2-column aggregate over lineitem must not read all 16 columns
    df, _ = QUERIES["filtered_count"]
    plan = _plan_of(df(spark, SF))
    scan = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    n_cols = scan.count(":") - 1  # struct<a:t,b:t,...> → field count
    assert n_cols <= 4, scan


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    # hive-partitioned layout + partition-column predicate ⇒ the scan's
    # PartitionFilters must carry the predicate (pruned at planning,
    # non-matching directories never read) — the property the bronze
    # year/month/state layout exists for
    src = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "o_year", F.year(F.col("o_orderdate").cast("date"))
    )
    path = str(tmp_path / "part_orders")
    src.write.partitionBy("o_year").parquet(path)
    df = spark.read.parquet(path).filter("o_year = 1995")
    plan = _plan_of(df)
    assert "PartitionFilters" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "1995" in pf, pf


def test_silver_filter_pushes_predicates(spark):
    # the isin + notnull silver filters should reach the parquet scan
    df, _ = QUERIES["silver_filter_dedup"]
    plan = _plan_of(df(spark, SF))
    assert "PushedFilters" in plan
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert any("IsNotNull" in p or "In(" in p for p in pushed), pushed


def test_fuzzy_pairs_avoids_cartesian_product(spark):
    # length banding must surface as an equi-join (hash/broadcast), not
    # a CartesianProduct / BroadcastNestedLoopJoin over the corpus
    df, _ = QUERIES["dedup_fuzzy_edit"]
    plan = _plan_of(df(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan


def test_iqr_outliers_broadcasts_fences(spark):
    # per-group fences are k rows — they must broadcast back to the
    # counting scan, never shuffle the fact side for the join
    df, _ = QUERIES["iqr_outliers"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_ivf_probe_join_broadcasts_probes(spark):
    # the probe side (queries x nprobe) broadcasts so inverted lists
    # stream through without an extra corpus shuffle
    df, _ = QUERIES["ann_ivf_topk"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_rolling_active_users_single_aggregation_shuffle(spark):
    # cover-explode formulation: exactly two exchanges total (the
    # distinct pre-agg and the final count-distinct), never a
    # dates x events range join
    df, _ = QUERIES["rolling_active_users"]
    plan = _plan_of(df(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan
    assert plan.count("Generate") >= 1  # the explode is a Generate node


def test_decontaminate_broadcasts_eval_shingles(spark):
    # the eval shingle set joins by broadcast: the corpus side must
    # never shuffle its exploded shingles for a sort-merge join
    df, _ = QUERIES["decontaminate_eval"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_pack_sequences_no_global_sort(spark):
    # the prefix sum must be the bucketed two-phase form: the window
    # partitions by the deterministic key bucket (hash exchange), never
    # a single-partition Exchange (the signature of a global window)
    df, _ = QUERIES["pack_sequences"]
    plan = _plan_of(df(spark, SF))
    assert "Exchange SinglePartition" not in plan, plan
    assert "__bkt" in plan, plan


def test_zscore_broadcasts_group_stats(spark):
    # the k-row per-type stats broadcast back onto the events scan;
    # the fact side shuffles only for the grouped aggregates
    df, _ = QUERIES["zscore_anomalies"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_hard_negatives_broadcast_query_set(spark):
    # broadcast-nested-loop over the 8-query broadcast side is the
    # intended exact-scan shape; what must never appear is a
    # non-broadcast cartesian of corpus-sized relations
    df, _ = QUERIES["hard_negative_mining"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_cross_doc_ngram_no_cartesian(spark):
    df, _ = QUERIES["cross_doc_ngram_dup"]
    plan = _plan_of(df(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan


def test_bloom_filter_join_prefilters_before_broadcast_semi(spark):
    # the Bloom probe must sit in a Filter BELOW the exchange-free
    # broadcast semi-join (fact rows drop at the scan stage, before any
    # join), and the exact verify must be a broadcast — never a
    # shuffled SortMergeJoin
    df, _ = QUERIES["bloom_filter_join"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "substring" in plan, plan  # the bitmap probe reached a Filter


def test_contamination_stats_broadcasts_eval_grams(spark):
    # the eval gram set joins the train grams as a broadcast (eval sets
    # are small); the train side must not shuffle for the join
    df, _ = QUERIES["contamination_overlap_stats"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_unigram_logprob_broadcasts_vocab(spark):
    # vocabulary frequencies and the scalar total both broadcast back
    # onto the token stream — the corpus-sized relation never shuffles
    # to meet a vocabulary-sized one
    df, _ = QUERIES["unigram_logprob_score"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_random_projection_runs_inside_scan(spark):
    # the JL projection is scan-local arithmetic: no keyed/global
    # exchange, no UDF (round-robin scan spread allowed — see
    # test_hash_sample_is_shuffle_free)
    df, _ = QUERIES["random_projection_lsh"]
    plan = _plan_of(df(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_canonical_dedup_single_shuffle(spark):
    # canonicalization is scan-local string work; the dedup is exactly
    # one hash exchange on the canonical key
    df, _ = QUERIES["url_canonical_dedup"]
    plan = _plan_of(df(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # partial+final
    assert "BatchEvalPython" not in plan


def test_semantic_dedup_broadcasts_centroids_no_cartesian(spark):
    # assignment is broadcast-centroids ⨯ corpus (structurally small
    # side); the pair stage must be a same-cluster equi join, never a
    # corpus-level cartesian
    df, _ = QUERIES["semantic_dedup"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_pq_encode_is_map_only(spark):
    # PQ encoding computes every code inside the scan: no keyed/global
    # exchange (round-robin scan spread allowed), no join, no
    # aggregate anywhere in the plan
    df, _ = QUERIES["pq_codes"]
    plan = _plan_of(df(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan, plan


def test_pq_adc_broadcasts_lut(spark):
    # the lookup table (queries × m × k) must broadcast; the code
    # relation streams through a broadcast hash join — a sort-merge
    # join here would shuffle the full code relation per query batch
    df, _ = QUERIES["pq_adc_search"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cm_sketch_probe_side_broadcasts(spark):
    # the 20-token probe relation broadcasts onto the d×w counter
    # relation; the counter build itself is one hash aggregate
    df, _ = QUERIES["sketch_cm_heavy_hitters"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_embedding_covariance_single_aggregation(spark):
    # the Gram block is scan → project/explode → partial agg → one
    # exchange of d²/2 rows → final agg; exactly one Exchange
    df, _ = QUERIES["embedding_covariance"]
    plan = _plan_of(df(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Join" not in plan, plan


def test_copurchase_basket_form_has_no_join(spark):
    # basket formulation: the pair expansion is array algebra inside
    # the scan stage — no join anywhere (the self-join form would
    # shuffle the distinct relation twice), and never a nested loop
    df, _ = QUERIES["copurchase_pairs"]
    plan = _plan_of(df(spark, SF))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangle_joins_are_equi(spark):
    # triangle enumeration = two equi-joins over the ordered edge
    # list; the only non-equi joins allowed are the 1-row scalar
    # combiners at the very top (BroadcastNestedLoopJoin on single-row
    # aggregates), never a CartesianProduct
    df, _ = QUERIES["triangle_count"]
    plan = _plan_of(df(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_entity_link_blocked_join_is_equi(spark):
    # the name-pair comparison joins on the blocking key; without the
    # block equi-condition the linkage is quadratic in the vocabulary
    df, _ = QUERIES["entity_link_names"]
    plan = _plan_of(df(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_canonical_docs_no_cartesian(spark):
    # pairs → components → one corpus join + one cluster window; no
    # stage may fall back to a cartesian over documents
    df, _ = QUERIES["dedup_canonical_docs"]
    plan = _plan_of(df(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_lsh_recall_joins_are_bounded(spark):
    # both pair generators (PPJoin prefix buckets, MinHash band
    # buckets) are equi-joins; only the final 1-row count combiner may
    # be a nested-loop
    df, _ = QUERIES["lsh_recall_eval"]
    plan = _plan_of(df(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_ivf_pq_broadcasts_probes_and_lut(spark):
    # probes (queries × nprobe) and the ADC lookup table broadcast;
    # the code relation is the only big input and it must never be
    # nested-looped
    df, _ = QUERIES["ivf_pq_search"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_dynamic_partition_pruning_on_dim_filter(spark, tmp_path):
    # DPP: a partitioned fact joined to a FILTERED dim must prune fact
    # partitions at RUNTIME from the dim's qualifying keys — the scan
    # carries a dynamicpruning subquery filter. At 100 TB this is the
    # difference between scanning one year and scanning the decade
    # when the predicate lives on the dim side.
    src = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "o_year", F.year(F.col("o_orderdate").cast("date"))
    )
    path = str(tmp_path / "dpp_orders")
    src.write.partitionBy("o_year").parquet(path)
    fact = spark.read.parquet(path)
    # the filter sits on a NON-join dim column, so static predicate
    # inference cannot rewrite it onto the fact scan — only runtime
    # pruning from the dim's surviving join keys can skip partitions
    dim = (
        spark.range(1992, 1999)
        .select(
            F.col("id").cast("int").alias("o_year"),
            (F.col("id") % 7).alias("era"),
        )
        .filter(F.col("era") == 3)
    )
    joined = fact.join(dim, on="o_year").agg(F.count("*").alias("n"))
    plan = _plan_of(joined)
    assert "dynamicpruning" in plan.lower(), plan


def test_bfs_frontier_joins_are_equi(spark):
    # every frontier expansion is an equi-join of a node-sized frontier
    # against the edge list — never a nested loop over the graph
    df, _ = QUERIES["bfs_reach_3"]
    plan = _plan_of(df(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_boilerplate_hot_set_broadcasts(spark):
    # the 20-gram hot set broadcasts onto the gram stream; the
    # corpus-sized gram relation must not shuffle to meet it
    df, _ = QUERIES["boilerplate_gram_coverage"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_trigram_backoff_no_cartesian(spark):
    # five left joins against vocabulary-sized count relations plus one
    # broadcast scalar; nothing may degenerate to a cartesian
    df, _ = QUERIES["trigram_backoff_score"]
    plan = _plan_of(df(spark, SF))
    assert "CartesianProduct" not in plan, plan


# The single-partition-window allowlist lives in workload.py (one
# canonical site: these fences enforce it, bench.py silences exactly
# these queries' known-bounded WindowExec warnings so a NEW offender's
# warning stays visible in the bench tail).
from air_quality_etl_pipeline_spark.workload import (  # noqa: E402
    GLOBAL_WINDOW_ALLOWLIST,
)


def _executed_plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _global_window_sites(plan_str: str) -> list[str]:
    # a Window/WindowGroupLimit node whose child (directly or through
    # the Sort that WindowExec requires) is Exchange SinglePartition —
    # the signature of a global-ordered window moving ALL rows to one
    # partition. Scalar aggregates' final single-partition gathers
    # (one row per partition after partial agg) do NOT match.
    lines = plan_str.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if "Window [" in ln or "WindowGroupLimit" in ln:
            below = "\n".join(lines[i + 1 : i + 3])
            if "Exchange SinglePartition" in below:
                bad.append(ln.strip()[:70])
    return bad


# Queries whose plan may contain a CartesianProduct: documented EXACT
# baselines where the all-pairs comparison is the point (paired with a
# bucketed variant elsewhere in the registry). Add a name ONLY with the
# justification.
CARTESIAN_ALLOWLIST: dict[str, str] = {}


@pytest.fixture(scope="module")
def registry_audit(spark) -> tuple[dict[str, str], dict[str, int], dict]:
    # one plan-build pass over every registered pure query, shared by
    # the registry-wide sweeps below (building ~240 physical plans
    # costs ~1 min; do it once). Each build runs under its own Spark
    # job group so the no-jobs-at-construction fence can count what
    # the BUILDER executed; table scans are warmed first so first-touch
    # parquet listing/schema jobs don't charge to the first query.
    from air_quality_etl_pipeline_spark.workload import (
        REBUILD_PURE_QUERIES,
        SIDE_EFFECT_QUERIES,
        _events,
        _t,
    )

    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings",
    ):
        _t(spark, SF, t).schema
    _events(spark, SF).schema

    skip = SIDE_EFFECT_QUERIES - REBUILD_PURE_QUERIES  # writes/streams only
    sc = spark.sparkContext
    plans: dict[str, str] = {}
    build_jobs: dict[str, int] = {}
    dfs: dict = {}
    for name, (fn, _) in QUERIES.items():
        if name in skip:
            continue
        group = f"plan-audit:{name}"
        sc.setJobGroup(group, name)
        df = fn(spark, SF)
        sc.setJobGroup("plan-audit:idle", "idle")
        build_jobs[name] = len(
            sc.statusTracker().getJobIdsForGroup(group)
        )
        plans[name] = _executed_plan_str(df)
        dfs[name] = df
    return plans, build_jobs, dfs


@pytest.fixture(scope="module")
def registry_plans(registry_audit) -> dict[str, str]:
    return registry_audit[0]


def test_no_unpartitioned_data_sized_windows_anywhere(registry_plans):
    # the regression fence for the round-3 bug class: a global
    # Window.orderBy (or Window.partitionBy() grand-total) moves ALL
    # rows to one partition — correct at sf0.1, a scale-killer at
    # 100×. Sweep EVERY registered pure query's PHYSICAL plan; any
    # window sitting on a single-partition exchange must be in the
    # audited bounded-relation allowlist. Reintroducing e.g.
    # psi_value_drift's old row_number()-over-all form fails here.
    offenders = {}
    for name, plan in registry_plans.items():
        sites = _global_window_sites(plan)
        if sites and name not in GLOBAL_WINDOW_ALLOWLIST:
            offenders[name] = sites
    assert not offenders, offenders


def test_no_cartesian_product_anywhere(registry_plans):
    # a CartesianProduct over data-sized relations is quadratic I/O at
    # scale; the engine's pair generators are all bucketed equi-joins
    # and its scalar combiners broadcast — so NO registered query may
    # plan a CartesianProduct at all (broadcast nested-loop against
    # structurally-small sides is a different node and stays legal).
    offenders = [
        name
        for name, plan in registry_plans.items()
        if "CartesianProduct" in plan and name not in CARTESIAN_ALLOWLIST
    ]
    assert not offenders, offenders


def test_pure_query_builds_run_no_jobs(registry_audit):
    # bench honesty fence (the round-3 bug class, made mechanical): a
    # query OUTSIDE SIDE_EFFECT_QUERIES is timed on a cached prepared
    # plan, so its builder must not execute Spark jobs — any build-time
    # collect (codebook training, Bloom bitmap, range offsets) would
    # silently drop out of every bench sample. A builder that needs
    # jobs belongs in REBUILD_PURE_QUERIES / SIDE_EFFECT_QUERIES so
    # samples rebuild it and pay the work. Found-by-audit members:
    # pq_codes / pq_adc_search / ivf_pq_search (codebook collect),
    # bloom_filter_join (bitmap build), the order-stats family
    # (offset collects).
    from air_quality_etl_pipeline_spark.workload import (
        SIDE_EFFECT_QUERIES,
    )

    build_jobs = registry_audit[1]
    offenders = {
        name: n
        for name, n in build_jobs.items()
        if n > 0 and name not in SIDE_EFFECT_QUERIES
    }
    assert not offenders, offenders


def _live_scan_counts(plan) -> dict[str, int]:
    """Per-table FileScan occurrences that could EXECUTE.

    Walks the REAL SparkPlan tree (py4j), not the printed string: in
    the tree, a cached relation is an ``InMemoryTableScanExec`` LEAF —
    its build lineage is not a child — whereas ``toString`` re-prints
    the whole cached plan at every reference, and once the cache has
    executed, its embedded AQE ``== Final Plan ==`` section prints at
    SHALLOWER indentation than the InMemoryRelation node itself, so no
    indentation-based string skip can be correct (the session-history-
    dependent false positive that flagged bfs_reach_3). AQE wrappers
    unwrap to their current plan; already-seen query stages and
    Reused* nodes count once; expression subqueries are walked too.

    Accepts either a DataFrame or a java SparkPlan."""
    if hasattr(plan, "_jdf"):
        plan = plan._jdf.queryExecution().executedPlan()
    counts: dict[str, int] = {}
    seen: set[tuple[str, int]] = set()

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls == "InMemoryTableScanExec":
            return
        if cls.endswith("QueryStageExec"):
            key = (cls, node.id())
            if key in seen:
                return
            seen.add(key)
            walk(node.plan())
            return
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            return
        if cls == "FileSourceScanExec":
            m = re.search(r"([a-z_0-9]+)\.parquet", node.toString())
            key2 = m.group(1) if m else "unknown"
            counts[key2] = counts.get(key2, 0) + 1
            return
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            walk(subs.apply(i))

    walk(plan)
    return counts


# Queries whose plan legitimately references one table more than
# REPEATED_SCAN_LIMIT times. Add a name ONLY with the justification.
# Two legitimate shapes exist (and one illegitimate one this fence
# hunts): (a) multi-branch analyses where each scan does DIFFERENT
# work — per-arm metrics, set-operation cohorts, query-vs-corpus ANN
# sides; (b) static fan-out of an identical subtree that AQE's
# exchange reuse collapses to one execution at runtime (the count here
# is pre-execution and cannot see that). The illegitimate shape is the
# round-6 MMR class — an iteratively-grown lazy plan re-EXECUTING a
# data-sized subtree per reference — which shows up here as a count
# that grows with the iteration/branch count on a table whose scan is
# expensive. Anything new above the limit: measure lazy vs
# localCheckpoint before allowlisting (scripts/profile.py: plan.scans,
# exec.* and the final plan's FileScans).
REPEATED_SCAN_ALLOWLIST: dict[str, str] = {
    "kl_corpus_divergence": "5 branches: two corpus-arm token counts + vocab union + smoothing totals, each a different aggregate",
    "hybrid_rrf_search": "6 static: every reference is the SAME single-tokenize-pass doc-tf subtree (r14 rework); AQE exchange reuse executes it once — runtime FileScan count is 1 (SCALE.md retired-scripts table, 6e9c12f)",
    "class_separability": "5: per-class centroid/scatter branches over embeddings",
    "set_ops_cohorts": "6: INTERSECT/EXCEPT cohort pairs, each branch a different year filter",
    "semantic_dedup": "6: centroid build + assignment + intra-cluster pair sides",
    "ivf_pq_search": "6: codebook/coarse/fine stages each touch embeddings once",
    "matryoshka_recall": "6: full-dim vs truncated-dim retrieval arms + ground truth",
    "association_rules": "6: basket pairs + per-item supports + totals over lineitem",
    "trigram_backoff_score": "7: trigram/bigram/unigram model tables + score pass",
    "ann_sign_lsh_topk": "8: query side + corpus side per band family; identical sides runtime-reuse",
    "kmeans_parallel_init": "8: k-means|| rounds (fixed, small k) each re-reference embeddings; candidate set is checkpointed, scans are the narrow vector column",
    "ann_recall_at_k": "8: approximate arm + exact-baseline arm + recall join",
    "sketch_kmv_jaccard": "12: per-sketch-pair branches (KMV build per arm x pairs)",
    "retrieval_mrr_ndcg": "12: per-metric @k branches over the ranked hits",
    "dedup_ngram_jaccard": "10 static: the clone-members relation feeds both ends of the cross-pair expansion and both sides of the intra-group self-join, plus reps and the candidate-shingle semi-join; measured at sf0.1 (SCALE.md, 'Builders leave nothing in the session cache'): build + cold 7.2 s with members lazy vs 8.2 s with members materialized",
    "dedup_incremental_batch": "9 static: new-side and corpus-side signatures each read by the band join and a verify join-back; measured cold 4.2 s persisted -> 3.4 s lazy at sf0.1 (SCALE.md, 'Builders leave nothing in the session cache')",
    "bitext_margin_mine": "8 static: forward/backward kNN relations each read by the neighbourhood sums and the candidate union; measured cold 18.3 s persisted -> 8.8 s lazy at sf0.1 (SCALE.md, 'Builders leave nothing in the session cache')",
    "bitext_margin_mine_ivf": "16 static: the IVF kNN per direction (coarse assignment + probe) read by sums and candidates; measured cold 2.5 s persisted -> 1.6 s lazy at sf0.1 (SCALE.md, 'Builders leave nothing in the session cache')",
    "bitext_doc_align": "8 static: both centroid relations read by both kNN directions; measured cold 2.0 s persisted -> 1.3 s lazy at sf0.1 (SCALE.md, 'Builders leave nothing in the session cache')",
    "bitext_doc_align_ivf": "16 static: centroids x IVF kNN per direction; measured cold 1.9 s persisted -> 1.9 s lazy at sf0.1, runtime FileScans 2 (SCALE.md, 'Builders leave nothing in the session cache')",
    "split_leakage_audit": "72 static: csp (clusters x splits) referenced 3x atop cluster lineage; measured flat — lazy 2.2 s vs csp-checkpointed 1.6-1.9 s at sf0.1 (runtime exchange reuse collapses the fan-out), and csp is corpus-sized so a checkpoint costs more than it saves at scale",
}

#: A table referenced more often than this in one plan needs a
#: justified allowlist entry.
REPEATED_SCAN_LIMIT = 4


def test_no_unjustified_repeated_scans(registry_audit):
    # permanent fence for the round-6 MMR bug class (lazy iterative
    # plans re-executing a data-sized subtree per reference): any
    # registered query whose plan references one parquet table more
    # than REPEATED_SCAN_LIMIT times — after discounting cached-plan
    # lineage, reused AQE stages and ReusedExchange subtrees — must
    # carry a justification above.
    offenders = {}
    for name, df in registry_audit[2].items():
        counts = _live_scan_counts(df)
        worst = max(counts.values(), default=0)
        if worst > REPEATED_SCAN_LIMIT and name not in REPEATED_SCAN_ALLOWLIST:
            offenders[name] = counts
    assert not offenders, offenders


def test_repeated_scan_fence_not_vacuous(spark):
    # canary: the counter must SEE a genuine repeated scan (self-join
    # fan-out of the same table five times, nothing cached)...
    from air_quality_etl_pipeline_spark.workload import _t

    d = _t(spark, SF, "nation").select("n_nationkey")
    j = d
    for _ in range(5):
        j = j.unionByName(d)
    counts = _live_scan_counts(j)
    assert max(counts.values()) >= 5, counts
    # ...must NOT count cached lineage — even after the cache has
    # EXECUTED, which is when toString embeds the cached plan's
    # ``== Final Plan ==`` section at shallower indentation (the
    # session-order-dependent false positive the tree walk fixed)
    p = d.persist()
    p.count()
    j2 = p.unionByName(p).unionByName(p)
    j2.count()  # force-execute so the cached AQE plan is final
    counts2 = _live_scan_counts(j2)
    assert counts2.get("nation", 0) == 0, counts2
    p.unpersist()


def test_no_row_at_a_time_python_eval_anywhere(registry_plans):
    # the engine's Python-boundary rule (SCALE.md): Python runs only as
    # Arrow-batched mapInPandas/applyInPandas stages — never the
    # row-at-a-time BatchEvalPython operator, which serializes one row
    # per Python call and is the classic 10-100× slow path. The source
    # grep (no F.udf) catches the obvious form; this sweep catches any
    # plan that degenerates into row-wise eval by another route.
    offenders = [
        name
        for name, plan in registry_plans.items()
        if "BatchEvalPython" in plan
    ]
    assert not offenders, offenders


def test_global_topk_compiles_to_take_ordered(spark):
    # Spark 4.1 rewrites row_number()=1-style / orderBy+limit global
    # top-k into TakeOrderedAndProject (per-partition partial top-k,
    # then a bounded gather) — NOT the WindowGroupLimit node; this pin
    # keeps the README's claim honest and catches a planner regression
    # that would resurrect a data-sized global sort under bm25_search.
    df, _ = QUERIES["bm25_search"]
    plan = _plan_of(df(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_bitmap_distinct_avoids_expand(spark):
    # the operator's reason to exist: COUNT(DISTINCT) plans an Expand
    # whose shuffle carries one row per distinct (day, user) pair; the
    # bitmap rollup must plan as two plain hash aggregates (BIT_OR
    # partial combines map-side) with NO Expand node anywhere.
    df, _ = QUERIES["bitmap_distinct_rollup"]
    plan = _plan_of(df(spark, SF))
    assert "Expand" not in plan, plan
    assert "bit_or" in plan or "BitOr" in plan, plan


def test_zorder_projection_stays_in_scan_stage(spark):
    # the Morton polynomial must be a codegen'd projection feeding ONE
    # exchange (the file_id groupBy) — no Python, no extra shuffle
    df, _ = QUERIES["zorder_layout_audit"]
    plan = _plan_of(df(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # partial->final agg pair
    assert "BatchEvalPython" not in plan
    assert "shiftright" in plan


def test_mmr_pick_rounds_compile_to_take_ordered(spark):
    # each greedy round's argmax is an orderBy+limit(1) over the
    # bounded candidate relation — every pick must be a
    # TakeOrderedAndProject, never a global sort
    df, _ = QUERIES["mmr_diversified_rerank"]
    plan = _plan_of(df(spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 5, plan
    assert "CartesianProduct" not in plan


def test_window_fence_detector_still_detects(spark):
    # canary for the fence itself: if Spark's executedPlan format ever
    # changes the Window/Exchange layout strings, _global_window_sites
    # could start returning [] for EVERYTHING and the registry sweep
    # would pass vacuously. Build a deliberately-global window and
    # assert the detector flags it.
    from pyspark.sql import Window

    df = (
        spark.range(1000)
        .withColumn("v", F.col("id") % 7)
        .withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    )
    sites = _global_window_sites(_executed_plan_str(df))
    assert sites, "fence detector no longer sees a global window"
    # and a properly partitioned window must NOT be flagged
    ok = (
        spark.range(1000)
        .withColumn("g", F.col("id") % 8)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("g").orderBy("id")
            ),
        )
    )
    assert not _global_window_sites(_executed_plan_str(ok))


def test_build_job_audit_still_detects(spark):
    # same canary for the bench-honesty fence: a builder that runs a
    # Spark job must show up in the job-group audit
    sc = spark.sparkContext
    group = "plan-audit-canary"
    sc.setJobGroup(group, "canary")
    spark.range(10).collect()  # a real job inside the group
    sc.setJobGroup("plan-audit-canary-idle", "idle")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1


def test_curation_v3_decontam_stage_plan_shape(spark):
    # r12 verdict #8: the decontamination stage composed into the
    # curation DAG must appear as (a) a broadcast join of the eval
    # gram-hash set against the corpus gram stream and (b) a LEFT ANTI
    # exclusion at the dedup-survivor grain — with no Python eval and
    # no cartesian product anywhere in the fused plan
    df, _ = QUERIES["corpus_curation_e2e_v3"]
    plan = _plan_of(df(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert re.search(r"LeftAnti", plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "cube_measures",
        "rollup_measures",
        "grouping_sets_measures",
        "cube_grouping_flags",
    ],
)
def test_grouping_queries_expand_aggregate_not_scan(spark, name):
    # r13 rework (optimization guide §2.3, aggregate before you
    # expand): CUBE/ROLLUP/GROUPING SETS' Expand must sit ABOVE the
    # finest-grain partial aggregate, so the ×k grouping-set
    # replication multiplies a key-space-sized relation, not every
    # fact row. Operator ids in the formatted plan are bottom-up: the
    # first aggregate above the scan must be deeper than the Expand.
    df, _ = QUERIES[name]
    plan = _plan_of(df(spark, SF))
    ids = {}
    for m in re.finditer(r"\((\d+)\) (Expand|Scan parquet|HashAggregate)", plan):
        ids.setdefault(m.group(2), int(m.group(1)))
    assert "Expand" in ids and "HashAggregate" in ids, plan
    # lowest-numbered HashAggregate (the pre-aggregate) must be below
    # the Expand; the scan feeds the aggregate, not the Expand
    assert ids["HashAggregate"] < ids["Expand"], plan
    assert ids["Scan parquet"] < ids["HashAggregate"], plan


def test_hybrid_rrf_runs_one_tokenize_pass(spark):
    # r14 rework: both RRF legs and the BM25 stats derive from ONE
    # per-doc token aggregate (_bm25_doc_tf), and because every
    # consumer is the same subtree, AQE stage reuse executes the
    # tokenize pass once — the EXECUTED plan must carry exactly one
    # live documents scan and at least two ReusedExchange markers.
    # (The STATIC plan legitimately shows ~6 scan references; the
    # repeated-scan allowlist documents that. This fence pins the
    # runtime dedup so a change that breaks canonical subtree equality
    # — e.g. diverging the legs' projections — is caught.)
    df, _ = QUERIES["hybrid_rrf_search"]
    d = df(spark, SF)
    d.collect()
    final = (
        d._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("FileScan") == 1, final
    assert final.count("ReusedExchange") >= 2, final


# Expand nodes whose input is legitimately data-sized. Add a name ONLY
# with the irreducibility argument — "it's a distinct count" is not
# enough (profile_nulls' enum distincts pre-aggregate; r14).
EXPAND_ALLOWLIST: dict[str, str] = {
    "dataset_card_summary": "distinct-FINGERPRINT count is corpus-cardinality by definition; the Expand input is already the narrow doc-grain (lang, source, fp, n_toks) projection, so there is no coarser grain to pre-aggregate to",
}


def test_no_expand_directly_over_data_sized_scans(registry_plans):
    # registry-wide lint for the r13/r14 Expand bug class (VERDICT r13
    # item 8): CUBE/ROLLUP/GROUPING SETS, multi-count-DISTINCT rewrites
    # and unpivots all plan an Expand that REPLICATES its input xk —
    # fine over an aggregate's key space, a 100 TB scale-killer over
    # raw fact rows. Operator ids in the formatted plan are bottom-up,
    # so any plan containing an Expand must have an aggregate BELOW it
    # (lower id), unless the input is audited data-sized-irreducible
    # above. Caught live: profile_nulls (Expand x3 of lineitem from
    # two enum count-distincts) and unpivot_measures (unpivot x3 then
    # re-aggregate), both reworked r14.
    offenders = {}
    for name, plan in registry_plans.items():
        if "Expand" not in plan or name in EXPAND_ALLOWLIST:
            continue
        ids: dict[str, int] = {}
        for m in re.finditer(
            r"\((\d+)\) (Expand|HashAggregate|ObjectHashAggregate|SortAggregate)",
            plan,
        ):
            kind = "Agg" if m.group(2) != "Expand" else "Expand"
            ids[kind] = min(ids.get(kind, 1 << 30), int(m.group(1)))
        if "Expand" in ids and ids.get("Agg", 1 << 30) > ids["Expand"]:
            offenders[name] = ids
    assert not offenders, offenders


def test_star_join_preagg_aggregates_below_join(spark):
    # r14 scale twin (VERDICT r13 item 7): the orderkey-grain revenue
    # pre-aggregate must sit BELOW every join (operator ids are
    # bottom-up: the deepest aggregate precedes the first join), so the
    # join's fact side is order-grain, not line-grain, in any regime.
    df, _ = QUERIES["star_join_wide_preagg"]
    plan = _plan_of(df(spark, SF))
    agg_ids = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", plan)]
    join_ids = [
        int(m.group(1))
        for m in re.finditer(
            r"\((\d+)\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
            plan,
        )
    ]
    assert agg_ids and join_ids, plan
    assert min(agg_ids) < min(join_ids), plan
