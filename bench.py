"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

Per query we force a full materialization with the built-in ``noop``
sink (``df.write.format("noop")``) — every output column is computed
and handed to the sink, the same work DuckDB does for the oracle.
``df.count()`` (used through round 9) is NOT that action: Catalyst
prunes columns the action doesn't need, so projection-terminal
queries were under-billed — measured at sf0.1: lang_id 5.1x,
text_stats 2.8x, text_scrub 2x, gold_star_fact 1.8x under count();
aggregate-terminal queries within ±5% (receipt in SCALE.md round 10).
A tiny warmup query first so JVM/codegen startup isn't billed to the
first headline query.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

HEADLINE = [
    # relational medallion core
    "silver_filter_dedup",
    "gold_star_fact",
    "cube_measures",
    "filtered_distinct_count",
    "mom_change",
    "group_rank",
    "share_of_total",
    "merge_upsert",
    "star_join_wide",
    # round-14: the 100 TB star-join strategy twin (lineitem revenue
    # pre-aggregated to orderkey grain BELOW the orders join — VERDICT
    # r13 item 7); additive entry, star_join_wide itself unchanged
    "star_join_wide_preagg",
    # LLM-data extensions
    "text_stats",
    "lang_id",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "embedding_near_dup",
    # training-data prep (guards the SCALE.md measured numbers)
    "pack_sequences",
    "decontaminate_eval",
    "chunk_documents",
    # round-3 additions: semantic dedup, PQ search, LM scoring, sketches
    "semantic_dedup",
    "pq_adc_search",
    "bigram_logprob_score",
    "sketch_cm_heavy_hitters",
    # round-3 graph/ER/IVF-PQ batch
    "copurchase_pairs",
    "triangle_count",
    "dedup_canonical_docs",
    "ivf_pq_search",
    # round-3 text/retrieval batch (guards the SCALE.md measured numbers)
    "trigram_backoff_score",
    "boilerplate_gram_coverage",
    "hybrid_rrf_search",
    # streaming twins
    "session_windows",
    # round-4: bucketed two-phase order statistics (the scale-safe
    # reformulation of the global-window analytics family — their
    # builds run the offset collects, so prepared() rebuilds them and
    # each sample pays those jobs)
    "orders_gini",
    "abc_pareto_classes",
    "psi_value_drift",
    "peak_concurrent_sessions",
    "id_gap_audit",
    "repeat_purchase_interval",
    "padding_waste_report",
    # round-6: incremental corpus screen + curriculum export (guards
    # the cross-relation LSH and the global-rank consumer path)
    "dedup_incremental_batch",
    "curriculum_shards",
    # round-6 lakehouse maintenance (guards the single-shuffle bitmap
    # distinct and the Morton-code projection staying codegen-only)
    "bitmap_distinct_rollup",
    "zorder_layout_audit",
    # round-7: real multimodal codecs (Arrow mapInPandas hot path),
    # DSIR selection, the full-matrix MERGE (its duplicate-match probe
    # is a raise_error branch inside the plan, so every sample runs it),
    # and the AQI summary cube
    "image_decode_channel_stats",
    "audio_decode_stats",
    "dsir_importance_weights",
    "merge_full_sync",
    "aqi_category_days",
    # round-8: real RIFF/AVI video decode (per-sampled-frame tensors)
    "video_frame_stats",
    # round-9: SCD-2 CDC apply (interval rebuild over the 6M-change
    # feed — one key repartition shared by the dedup agg + lead window)
    "cdc_apply_scd2",
    # round-9: the other two merge/CDC flagships — the ordered
    # multi-clause MERGE on its one-action lazy-check general path
    # ((keys, tid) reduction riding the join exchange) and the SCD-1
    # APPLY CHANGES snapshot apply
    "merge_multi_clause",
    "cdc_apply_snapshot",
]


def _set_windowexec_level(spark, level_name: str) -> None:
    """Toggle the log level of WindowExec's logger (log4j2). The
    allowlisted bounded-grain windows each warn "No Partition Defined"
    on every sample — 17 known-justified warnings that bury a NEW
    single-partition regression's warning in the bench tail. Silencing
    the logger ONLY while an allowlisted query runs keeps an
    unexpected offender's warning visible (and the plan fence in
    tests/test_plan_quality.py remains the mechanical catch)."""
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.toLevel(level_name),
    )


@contextlib.contextmanager
def _quiet_allowlisted_windows(spark, name: str):
    """Silence WindowExec's logger while *name* runs, if *name* is in
    the allowlist of bounded-grain global windows."""
    from air_quality_etl_pipeline_spark.workload import GLOBAL_WINDOW_ALLOWLIST

    silenced = name in GLOBAL_WINDOW_ALLOWLIST
    if silenced:
        _set_windowexec_level(spark, "ERROR")
    try:
        yield
    finally:
        if silenced:
            _set_windowexec_level(spark, "WARN")


def warm_up(spark, names) -> None:
    """Warm up JVM JIT + whole-stage codegen (Janino class compilation
    is plan-shape-specific, so running every query once at the
    smallest SF compiles the same generated classes) — steady-state
    throughput is what the benchmark should measure, not one-time JIT."""
    from air_quality_etl_pipeline_spark.workload import QUERIES

    warm_dir = "/root/testdata/sf0.001"
    for warm_name in names:
        if warm_name in QUERIES:
            with _quiet_allowlisted_windows(spark, warm_name):
                QUERIES[warm_name][0](spark, warm_dir).write.format(
                    "noop"
                ).mode("overwrite").save()


def time_query(spark, sf_dir: str, name: str) -> tuple[float, list[float]]:
    """Best-of-3 seconds and the three samples for *name* at *sf_dir*.

    Each sample runs ``prepared``'s plan: a build that ran no Spark job
    happens once (a prepared statement — run 1 pays it) and each sample
    re-executes the plan in full; a build that runs jobs is repeated
    per sample, so each sample pays them. Best-of-3
    therefore measures steady-state execution, not py4j
    plan-construction chatter, and scheduler noise (shared CPUs) is
    squeezed out by the min."""
    from air_quality_etl_pipeline_spark.workload import prepared

    samples = []
    with _quiet_allowlisted_windows(spark, name):
        for _ in range(3):
            t0 = time.perf_counter()
            prepared(spark, sf_dir, name).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(round(time.perf_counter() - t0, 3))
    return round(min(samples), 3), samples


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from air_quality_etl_pipeline_spark.session import get_spark
    from air_quality_etl_pipeline_spark.workload import QUERIES

    spark = get_spark(app_name="bench")
    warm_up(spark, HEADLINE)

    names = [n for n in HEADLINE if n in QUERIES]
    missing = [n for n in HEADLINE if n not in QUERIES]
    if missing:
        print(f"bench: skipping unknown queries {missing}", file=sys.stderr)

    timings: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    for name in names:
        timings[name], all_samples[name] = time_query(spark, sf_dir, name)

    # Intra-suite drift guard (round-8 verdict #6): re-time the anchor
    # AFTER the whole suite so session aging across ~50 queries is
    # visible inside every BENCH_r*.json, not only by diffing rounds.
    # anchor_first is the anchor's in-suite timing (it runs first in
    # HEADLINE); anchor_last is a fresh best-of-3 of the same prepared
    # plan at suite end. Neither re-run is added to "value".
    anchor = "silver_filter_dedup"
    anchor_first = timings.get(anchor)
    anchor_last, anchor_last_samples = (
        time_query(spark, sf_dir, anchor) if anchor in timings else (None, [])
    )

    samples_out = os.environ.get("SPARK_GRAFT_BENCH_SAMPLES_OUT", "")
    if samples_out:
        with open(samples_out, "w") as f:
            json.dump(
                {
                    "samples": all_samples,
                    "anchor_last_samples": anchor_last_samples,
                },
                f,
                indent=1,
            )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "anchor": anchor,
                "anchor_first": anchor_first,
                "anchor_last": anchor_last,
                # r1-r9 used count(), which let Catalyst prune
                # computed output columns (up to 38x under-billing on
                # projection-terminal queries — SCALE.md r10); totals
                # from the two actions are NOT comparable
                "action": "noop_sink",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
