"""Corpus curation workload: TF-IDF vocabulary, deterministic hash
sampling, stratified sampling, and per-group top-k pruning — the
sample/rebalance/prune stage of a training-data pipeline, each
registered with a DuckDB oracle twin.

Extensions beyond the reference surface (the reference has no sampling
or curation operators); cited as such in COVERAGE.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import round_portable
from air_quality_etl_pipeline_spark.operators.dedup import (
    simhash_component_edges,
    simhash_pairs,
)
from air_quality_etl_pipeline_spark.operators.graph import dedup_clusters
from air_quality_etl_pipeline_spark.operators.sampling import (
    hash_sample,
    keep_top_k_per_group,
    stratified_hash_sample,
)
from air_quality_etl_pipeline_spark.operators.text import tfidf_terms
from air_quality_etl_pipeline_spark.workload import _t, register
from air_quality_etl_pipeline_spark.workload_llm import SIMHASH_PAIRS_CTES

# SQL twin of operators.sampling.sample_bucket (md5_long % 100).
_BUCKET_SQL = (
    "(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))"
    "::BIGINT % 100)"
)

#: whitespace tokens, [] on blank — mirrors functions.core.token_array
_TOKS = (
    "CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)


@register(
    "tfidf_terms",
    f"""
    WITH t AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks
               FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    stats AS (SELECT term, count(*) AS tf_total,
                     count(DISTINCT doc_id) AS df_docs
              FROM terms GROUP BY 1)
    SELECT term, tf_total, df_docs,
           floor((ln(CAST(n_docs AS DOUBLE) / df_docs)) * 1000000.0 + 0.5)
             / 1000000.0 AS idf,
           floor((tf_total * ln(CAST(n_docs AS DOUBLE) / df_docs))
                 * 1000000.0 + 0.5) / 1000000.0 AS tfidf
    FROM stats, n
    """,
)
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF vocabulary table: one explode + one groupBy (term
    counts and document frequencies from a single aggregation), scalar
    corpus size broadcast in. Output is vocabulary-sized, not
    data-sized — the plan survives a 100× corpus."""
    d = _t(spark, sf_dir, "documents")
    out = tfidf_terms(d, "doc_id", "text")
    return out.select(
        "term",
        "tf_total",
        "df_docs",
        round_portable(F.col("idf"), 6).alias("idf"),
        round_portable(F.col("tfidf"), 6).alias("tfidf"),
    )


@register(
    "sample_hash",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_BUCKET_SQL} < 10
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% Bernoulli sample keyed on doc_id: same rows on
    every run and every engine, predicate stays on the scan."""
    d = _t(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", rate_pct=10).select(
        "doc_id", "lang", "source"
    )


#: per-source keep rates for the stratified sample (up-sample src0,
#: near-drop src1, default 25%) — shared by the Spark op and its oracle.
_STRATA_RATES = {"src0": 80, "src1": 5}
_STRATA_DEFAULT = 25


@register(
    "sample_stratified",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_BUCKET_SQL} <
          (CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 5
           ELSE 25 END)
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum keep rates (rebalance sources to a token budget):
    the rate lookup is a literal CASE chain so the whole filter is one
    scan-level predicate — no join, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    return stratified_hash_sample(
        d, "doc_id", "source", _STRATA_RATES, _STRATA_DEFAULT
    ).select("doc_id", "lang", "source")


@register(
    "curate_top_k",
    """
    SELECT source, doc_id, n_chars, CAST(rk AS BIGINT) AS rk FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM documents)
    WHERE rk <= 3
    """,
)
def q_curate_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality pruning: keep the 3 largest documents per source under a
    total order (n_chars desc, doc_id tiebreak) — one shuffle on the
    group key."""
    d = _t(spark, sf_dir, "documents")
    out = keep_top_k_per_group(
        d,
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        k=3,
        rank_col="rk",
    )
    return out.select(
        "source", "doc_id", "n_chars", F.col("rk").cast("long").alias("rk")
    )


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {SIMHASH_PAIRS_CTES},
    edges AS (SELECT id_a AS src, id_b AS dst FROM sim_pairs
              UNION SELECT id_b, id_a FROM sim_pairs),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
    decided AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
    SELECT doc_id, cluster_id,
           CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT)
             AS is_keeper,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM decided
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION: SimHash near-dup pairs → connected components
    (transitive closure: a~b, b~c ⇒ {{a,b,c}} is one cluster even when a
    and c never collide) → per-document (cluster_id, is_keeper,
    cluster_size) over the whole corpus. Dropping ``is_keeper = 0`` rows
    IS the deduplication — this is the step between candidate pairs and
    document removal that every large-corpus pipeline needs.

    Spark side: iterative min-label propagation over the pair graph
    (operators/graph.py — O(diameter) rounds, one join + one
    partial-aggregated min per round, materialize-truncated
    lineage); the oracle resolves the same closure with a recursive
    CTE. The corpus-sized relation never enters the loop — only the
    pair graph iterates, and near-dup graphs are tiny relative to the
    corpus."""
    d = _t(spark, sf_dir, "documents")
    # star-edge cascade (round 8): connectivity-equivalent edges with
    # the clone cliques replaced by linear rep->member stars — 3.2x
    # at 50 clones/doc, identical components/labels (SCALE.md
    # "clusters-family star-edge decision"); split_leakage_audit keeps
    # simhash_pairs because it reports the PAIR relation itself
    edges = simhash_component_edges(
        d, "doc_id", "text", bits=48, max_hamming=3, block_cols=["lang"]
    )
    return dedup_clusters(d, edges, "doc_id")


#: the 80/10/10 split CASE over the salted doc-id hash — the SQL twin
#: of workload_corpus.q_train_val_test_split's assignment, reused by
#: the leakage audit below (same salt, same buckets)
_SPLIT_SQL = """CASE
      WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
            1, 15))::BIGINT % 100 < 80 THEN 'train'
      WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
            1, 15))::BIGINT % 100 < 90 THEN 'val'
      ELSE 'test' END"""


@register(
    "split_leakage_audit",
    f"""
    WITH RECURSIVE {SIMHASH_PAIRS_CTES},
    edges AS (SELECT id_a AS src, id_b AS dst FROM sim_pairs
              UNION SELECT id_b, id_a FROM sim_pairs),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
    decided AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    sp AS (SELECT doc_id, {_SPLIT_SQL} AS split FROM documents),
    csp AS (
      SELECT dd.doc_id, sp.split AS naive_split, rep.split AS cluster_split
      FROM decided dd
      JOIN sp ON sp.doc_id = dd.doc_id
      JOIN sp rep ON rep.doc_id = dd.cluster_id),
    pair_splits AS (
      SELECT a.naive_split AS na, b.naive_split AS nb,
             a.cluster_split AS ca, b.cluster_split AS cb
      FROM sim_pairs p
      JOIN csp a ON a.doc_id = p.id_a
      JOIN csp b ON b.doc_id = p.id_b)
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM sim_pairs) AS n_pairs,
      (SELECT CAST(count(*) FILTER (WHERE na <> nb) AS BIGINT)
         FROM pair_splits) AS leaked_naive,
      (SELECT CAST(count(*) FILTER (WHERE ca <> cb) AS BIGINT)
         FROM pair_splits) AS leaked_cluster_aware,
      (SELECT CAST(count(*) FILTER (WHERE naive_split <> cluster_split)
              AS BIGINT) FROM csp) AS n_moved,
      (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
    """,
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene audit for the train/val/test split: a per-document
    hash split (the `train_val_test_split` assignment) puts near-dup
    documents in DIFFERENT splits — train/test leakage that inflates
    eval scores. The CLUSTER-AWARE split reassigns every document to
    its near-dup cluster representative's split (cluster = connected
    components over the SimHash pair graph, exactly `dedup_clusters`),
    which provably zeroes cross-split near-dup pairs: both endpoints
    of any pair share a cluster, hence a representative, hence a
    split. Output: pair counts leaked under each policy (the
    cluster-aware column must be 0 — an invariant the oracle also
    computes, not assumes), documents moved, totals.

    Scale shape: the split is a scan-local hash; only the PAIR GRAPH
    and the (doc, cluster) relation join — both near-dup-sized, never
    corpus² (same contract as dedup_clusters)."""
    from air_quality_etl_pipeline_spark.functions.core import md5_long

    d = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(
        d, "doc_id", "text", bits=48, max_hamming=3, block_cols=["lang"]
    ).select("id_a", "id_b")
    clusters = dedup_clusters(d, pairs, "doc_id").select(
        "doc_id", "cluster_id"
    )
    bucket = md5_long(F.col("doc_id").cast("string"), salt="split") % 100
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
    )
    sp = d.select("doc_id", split.alias("naive_split"))
    rep = sp.select(
        F.col("doc_id").alias("cluster_id"),
        F.col("naive_split").alias("cluster_split"),
    )
    csp = clusters.join(sp, "doc_id").join(rep, "cluster_id")
    pair_splits = (
        pairs.join(
            csp.select(
                F.col("doc_id").alias("id_a"),
                F.col("naive_split").alias("na"),
                F.col("cluster_split").alias("ca"),
            ),
            "id_a",
        )
        .join(
            csp.select(
                F.col("doc_id").alias("id_b"),
                F.col("naive_split").alias("nb"),
                F.col("cluster_split").alias("cb"),
            ),
            "id_b",
        )
    )
    leak = pair_splits.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum((F.col("na") != F.col("nb")).cast("long"))
        .cast("long")
        .alias("leaked_naive"),
        F.sum((F.col("ca") != F.col("cb")).cast("long"))
        .cast("long")
        .alias("leaked_cluster_aware"),
    )
    moved = csp.agg(
        F.sum(
            (F.col("naive_split") != F.col("cluster_split")).cast("long")
        )
        .cast("long")
        .alias("n_moved"),
        F.count("*").cast("long").alias("n_docs"),
    )
    return leak.crossJoin(moved).select(
        "n_pairs",
        F.coalesce("leaked_naive", F.lit(0)).cast("long").alias(
            "leaked_naive"
        ),
        F.coalesce("leaked_cluster_aware", F.lit(0)).cast("long").alias(
            "leaked_cluster_aware"
        ),
        "n_moved",
        "n_docs",
    )


# ---------------------------------------------------------------------------
# End-to-end curation: scrub -> quality gate -> exact dedup -> budget report
# ---------------------------------------------------------------------------

@register(
    "corpus_curation_e2e",
    f"""
    WITH scrubbed AS (
      SELECT doc_id, source,
             regexp_replace(regexp_replace(text,
                 'https?://[^\\s]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                 '<EMAIL>', 'g') AS text
      FROM documents),
    scored AS (
      SELECT doc_id, source, text, {_TOKS} AS toks FROM scrubbed),
    gated AS (
      SELECT doc_id, source, text, toks,
             0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
             + 0.3 * coalesce(CAST(len(list_distinct(toks)) AS DOUBLE)
                              / nullif(len(toks), 0), 0.0)
             + 0.3 * coalesce(CAST(len(list_filter(toks,
                   x -> list_contains(['the','a','of','and','to'], lower(x))))
                   AS DOUBLE) / nullif(len(toks), 0), 0.0) AS q
      FROM scored),
    kept AS (SELECT * FROM gated WHERE q >= 0.5),
    deduped AS (
      SELECT * FROM (
        SELECT doc_id, source, toks,
               row_number() OVER (
                 PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                 ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS n_tokens
    FROM deduped GROUP BY source
    """,
)
def q_corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE composed Spark plan: scrub
    URLs/emails -> composite quality gate (>= 0.5) -> exact dedup on the
    normalized-content fingerprint (min doc_id survives) -> per-source
    document and token budget report. Everything fuses into a single
    scan + one dedup shuffle + one aggregation — the operators compose
    as Catalyst expressions rather than materialized stages, which is
    exactly how the 100 TB pipeline should run (no intermediate
    tables, full pushdown through every stage)."""
    from air_quality_etl_pipeline_spark.functions.core import token_array
    from air_quality_etl_pipeline_spark.operators.cleaning import dedup_first
    from air_quality_etl_pipeline_spark.operators.text import (
        fingerprint,
        quality_score,
        scrub_text,
    )

    d = _t(spark, sf_dir, "documents")
    scrubbed = d.select(
        "doc_id", "source", scrub_text(F.col("text")).alias("text")
    )
    gated = scrubbed.filter(quality_score(F.col("text")) >= 0.5)
    keyed = gated.select(
        "doc_id",
        "source",
        F.size(token_array(F.col("text"))).alias("n_toks"),
        fingerprint(F.col("text")).alias("fp"),
    )
    deduped = dedup_first(keyed, ["fp"], order_by=["doc_id"])
    return deduped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )


def _register_corpus_curation_e2e_v2() -> None:
    """Classifier-oracle fragments come from the LEAF module
    oracle_fragments (r13): importing them from workload_training
    here was a circular-import landmine — this module loads before
    workload_training under workload.py's import order."""
    from air_quality_etl_pipeline_spark.oracle_fragments import (
        QC_B as _QC_B,
        QC_BUCKET as _QC_BUCKET,
        QC_GRAMS as _QC_GRAMS,
        qc_qln as _qc_qln,
    )

    oracle = f"""
    WITH scrubbed AS (
      SELECT doc_id, source, lang,
             regexp_replace(regexp_replace(text,
                 'https?://[^\\s]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                 '<EMAIL>', 'g') AS text
      FROM documents),
    lab AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM scrubbed WHERE doc_id % 5 <> 0),
    lg AS ({_QC_GRAMS.format(rel="lab", keep="y")}),
    lb AS (SELECT {_QC_BUCKET} AS bucket, y FROM lg),
    cnt AS (SELECT bucket,
                   CAST(count(*) FILTER (y = 1) AS BIGINT) AS c1,
                   CAST(count(*) FILTER (y = 0) AS BIGINT) AS c0
            FROM lb GROUP BY 1),
    allb AS (SELECT r.range AS bucket,
                    coalesce(c1, 0) AS c1, coalesce(c0, 0) AS c0
             FROM range(0, {_QC_B}) r
             LEFT JOIN cnt ON r.range = cnt.bucket),
    tot AS (SELECT CAST(sum(c1) + {_QC_B} AS BIGINT) AS t1b,
                   CAST(sum(c0) + {_QC_B} AS BIGINT) AS t0b
            FROM allb),
    w AS (SELECT bucket,
                 {_qc_qln("c1 + 1")} - {_qc_qln("t1b")}
                 - {_qc_qln("c0 + 1")} + {_qc_qln("t0b")} AS wm
          FROM allb, tot),
    pr AS (SELECT {_qc_qln("n1")} - {_qc_qln("n0")} AS pm FROM (
             SELECT CAST(count(*) FILTER (y = 1) AS BIGINT) AS n1,
                    CAST(count(*) FILTER (y = 0) AS BIGINT) AS n0
             FROM lab)),
    tokd AS (SELECT doc_id, source, text, {_TOKS} AS toks FROM scrubbed),
    gated AS (
      SELECT doc_id, source, text, toks,
             0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
             + 0.3 * coalesce(CAST(len(list_distinct(toks)) AS DOUBLE)
                              / nullif(len(toks), 0), 0.0)
             + 0.3 * coalesce(CAST(len(list_filter(toks,
                   x -> list_contains(['the','a','of','and','to'], lower(x))))
                   AS DOUBLE) / nullif(len(toks), 0), 0.0) AS q
      FROM tokd),
    kept AS (SELECT doc_id, source, text, toks FROM gated WHERE q >= 0.5),
    kd AS (SELECT doc_id, list_transform(toks, x -> lower(x)) AS toks
           FROM kept),
    kg AS ({_QC_GRAMS.format(rel="kd", keep="doc_id")}),
    kb AS (SELECT doc_id, {_QC_BUCKET} AS bucket,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM kg GROUP BY 1, 2),
    ks AS (SELECT doc_id, CAST(sum(cnt * wm) AS BIGINT) AS dot
           FROM kb JOIN w USING (bucket) GROUP BY 1),
    cls AS (SELECT doc_id FROM ks, pr WHERE dot + pm > 0),
    deduped AS (
      SELECT * FROM (
        SELECT k.doc_id, k.source, k.toks,
               row_number() OVER (
                 PARTITION BY md5(regexp_replace(lower(k.text),
                                  '[^a-z0-9]', '', 'g'))
                 ORDER BY k.doc_id) AS rn
        FROM kept k JOIN cls USING (doc_id)) WHERE rn = 1)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS n_tokens
    FROM deduped GROUP BY source
    """

    @register("corpus_curation_e2e_v2", oracle)
    def q_corpus_curation_e2e_v2(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The production curation pipeline in CCNet stage order
        (round-11 verdict #2): scrub URLs/emails -> cheap rule gate
        (composite quality >= 0.5) -> TRAINED quality classifier
        (Naive Bayes log-odds over hashed grams, fit on the lang='en'
        labeled 80% split of the scrubbed corpus, keep pred = 1) ->
        exact dedup on the normalized-content fingerprint -> per-source
        document/token budget report. Still ONE fused DAG: the rule
        gate is a scan-level predicate, the classifier stage carries
        (source, n_toks, fp) through its scoring aggregation via
        ``keep_cols`` — one corpus pass, no score-then-self-join (this
        runtime re-executes referenced subtrees) — and the ≤1025-row
        weight table is trained once, persisted, and broadcast into
        the scoring join. The rules-then-classifier ordering matters
        at 100 TB: the cheap predicate prunes the gram explosion the
        classifier pays for, so the expensive stage sees only
        rule-surviving documents."""
        from air_quality_etl_pipeline_spark.functions.core import (
            token_array,
        )
        from air_quality_etl_pipeline_spark.operators.cleaning import (
            dedup_first,
        )
        from air_quality_etl_pipeline_spark.operators.text import (
            fingerprint,
            quality_classifier_score,
            quality_classifier_weights,
            quality_score,
            scrub_text,
        )

        d = _t(spark, sf_dir, "documents")
        scrubbed = d.select(
            "doc_id", "source", "lang",
            scrub_text(F.col("text")).alias("text"),
        )
        labeled = scrubbed.filter(F.col("doc_id") % 5 != 0).withColumn(
            "y", (F.col("lang") == "en").cast("int")
        )
        w = quality_classifier_weights(
            labeled, label_col="y", n_buckets=_QC_B
        )
        gated = scrubbed.filter(quality_score(F.col("text")) >= 0.5)
        keyed = gated.select(
            "doc_id",
            "source",
            F.size(token_array(F.col("text"))).alias("n_toks"),
            fingerprint(F.col("text")).alias("fp"),
            "text",
        )
        scored = quality_classifier_score(
            keyed, w, n_buckets=_QC_B, keep_cols=["source", "n_toks", "fp"]
        )
        kept = scored.filter(F.col("pred") == 1).select(
            "doc_id", "source", "n_toks", "fp"
        )
        deduped = dedup_first(kept, ["fp"], order_by=["doc_id"])
        return deduped.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )


_register_corpus_curation_e2e_v2()


@register(
    "sample_weighted",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS wt,
             ('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               / 1152921504606846976.0 AS u
      FROM documents)
    SELECT source, count(*) AS n_kept
    FROM w WHERE u < wt GROUP BY source
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional sampling: keep probability = min(n_chars /
    500, 1) — longer documents kept more often. Deterministic 60-bit
    md5 fraction as the uniform draw, so both engines make identical
    per-document decisions; reported as per-source kept counts."""
    from air_quality_etl_pipeline_spark.operators.sampling import (
        sample_weighted,
    )

    d = _t(spark, sf_dir, "documents")
    wt = F.least(F.col("n_chars").cast("double") / F.lit(500.0), F.lit(1.0))
    kept = sample_weighted(d, "doc_id", wt)
    return kept.groupBy("source").agg(F.count("*").alias("n_kept"))


# word-3-gram set per document, blank-safe — mirrors
# functions.core.word_shingles_of_tokens(token_array(text), 3)
_GRAMS3 = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 1) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' ')))"
)


@register(
    "decontaminate_eval",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    raw AS (SELECT doc_id, unnest({_GRAMS3}) AS raw FROM t),
    grams AS (SELECT doc_id,
                     ('0x' || substr(md5(raw), 1, 15))::BIGINT AS g
              FROM raw),
    ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    hits AS (SELECT grams.doc_id, count(DISTINCT grams.g) AS n_overlap
             FROM grams JOIN ev USING (g)
             WHERE grams.doc_id % 50 <> 0 GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(CASE WHEN coalesce(h.n_overlap, 0) >= 5 THEN 1 ELSE 0 END
                AS BIGINT) AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 50 <> 0
    """,
)
def q_decontaminate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 §2.2 style): flag training
    documents sharing ≥5 distinct word-3-grams with a held-out eval
    set (here: every 50th document). Grams are 60-bit md5-hashed on
    both sides before the join — the eval broadcast is ~6× smaller
    than raw strings; the corpus explodes, joins map-side, and
    re-aggregates — see operators.packing.decontaminate."""
    from air_quality_etl_pipeline_spark.operators.packing import decontaminate

    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 50 != 0)
    ev = d.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(train, ev, "doc_id", "text", n=3, min_hits=5)


def _register_corpus_curation_e2e_v3() -> None:
    """v3 = v2 + the decontamination stage between dedup and budget
    (round-12 verdict #8) — the full production chain: scrub → rule
    gate → trained classifier → exact dedup → eval-set decontamination
    → budget, still ONE fused DAG."""
    from air_quality_etl_pipeline_spark.oracle_fragments import (
        QC_B as _QC_B,
        QC_BUCKET as _QC_BUCKET,
        QC_GRAMS as _QC_GRAMS,
        qc_qln as _qc_qln,
    )

    g60 = "('0x' || substr(md5(raw), 1, 15))::BIGINT"
    oracle = f"""
    WITH scrubbed AS (
      SELECT doc_id, source, lang,
             regexp_replace(regexp_replace(text,
                 'https?://[^\\s]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                 '<EMAIL>', 'g') AS text
      FROM documents),
    corp AS (SELECT * FROM scrubbed WHERE doc_id % 50 <> 0),
    lab AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM corp WHERE doc_id % 5 <> 0),
    lg AS ({_QC_GRAMS.format(rel="lab", keep="y")}),
    lb AS (SELECT {_QC_BUCKET} AS bucket, y FROM lg),
    cnt AS (SELECT bucket,
                   CAST(count(*) FILTER (y = 1) AS BIGINT) AS c1,
                   CAST(count(*) FILTER (y = 0) AS BIGINT) AS c0
            FROM lb GROUP BY 1),
    allb AS (SELECT r.range AS bucket,
                    coalesce(c1, 0) AS c1, coalesce(c0, 0) AS c0
             FROM range(0, {_QC_B}) r
             LEFT JOIN cnt ON r.range = cnt.bucket),
    tot AS (SELECT CAST(sum(c1) + {_QC_B} AS BIGINT) AS t1b,
                   CAST(sum(c0) + {_QC_B} AS BIGINT) AS t0b
            FROM allb),
    w AS (SELECT bucket,
                 {_qc_qln("c1 + 1")} - {_qc_qln("t1b")}
                 - {_qc_qln("c0 + 1")} + {_qc_qln("t0b")} AS wm
          FROM allb, tot),
    pr AS (SELECT {_qc_qln("n1")} - {_qc_qln("n0")} AS pm FROM (
             SELECT CAST(count(*) FILTER (y = 1) AS BIGINT) AS n1,
                    CAST(count(*) FILTER (y = 0) AS BIGINT) AS n0
             FROM lab)),
    tokd AS (SELECT doc_id, source, text, {_TOKS} AS toks FROM corp),
    gated AS (
      SELECT doc_id, source, text, toks,
             0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
             + 0.3 * coalesce(CAST(len(list_distinct(toks)) AS DOUBLE)
                              / nullif(len(toks), 0), 0.0)
             + 0.3 * coalesce(CAST(len(list_filter(toks,
                   x -> list_contains(['the','a','of','and','to'], lower(x))))
                   AS DOUBLE) / nullif(len(toks), 0), 0.0) AS q
      FROM tokd),
    kept AS (SELECT doc_id, source, text, toks FROM gated WHERE q >= 0.5),
    kd AS (SELECT doc_id, list_transform(toks, x -> lower(x)) AS toks
           FROM kept),
    kg AS ({_QC_GRAMS.format(rel="kd", keep="doc_id")}),
    kb AS (SELECT doc_id, {_QC_BUCKET} AS bucket,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM kg GROUP BY 1, 2),
    ks AS (SELECT doc_id, CAST(sum(cnt * wm) AS BIGINT) AS dot
           FROM kb JOIN w USING (bucket) GROUP BY 1),
    cls AS (SELECT doc_id FROM ks, pr WHERE dot + pm > 0),
    deduped AS (
      SELECT * FROM (
        SELECT k.doc_id, k.source, k.toks,
               row_number() OVER (
                 PARTITION BY md5(regexp_replace(lower(k.text),
                                  '[^a-z0-9]', '', 'g'))
                 ORDER BY k.doc_id) AS rn
        FROM kept k JOIN cls USING (doc_id)) WHERE rn = 1),
    craw AS (SELECT doc_id, unnest({_GRAMS3}) AS raw FROM tokd),
    cg AS (SELECT doc_id, {g60} AS g FROM craw),
    evt AS (SELECT {_TOKS} AS toks FROM scrubbed WHERE doc_id % 50 = 0),
    evraw AS (SELECT unnest({_GRAMS3}) AS raw FROM evt),
    ev AS (SELECT DISTINCT {g60} AS g FROM evraw),
    contam AS (SELECT doc_id FROM cg JOIN ev USING (g)
               GROUP BY doc_id HAVING count(DISTINCT g) >= 5),
    clean AS (SELECT * FROM deduped
              WHERE doc_id NOT IN (SELECT doc_id FROM contam))
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS n_tokens
    FROM clean GROUP BY source
    """

    @register("corpus_curation_e2e_v3", oracle)
    def q_corpus_curation_e2e_v3(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The FULL production curation chain (r13, verdict #8): scrub
        URLs/emails → cheap rule gate → trained NB quality classifier
        (fit on the 80% labeled split of the train corpus) → exact
        fingerprint dedup → eval-set DECONTAMINATION (GPT-3 §2.2:
        drop survivors sharing ≥5 distinct word-3-grams with the
        held-out eval split, every 50th document) → per-source budget.
        Still one fused DAG: the eval side reduces to a broadcast
        60-bit gram-hash set, the train side's gram stream joins it
        map-side and aggregates to a doc-id-grain contaminated set,
        and the exclusion is a LEFT ANTI join at the dedup-survivor
        grain — no text ever shuffles for decontamination, so the
        stage adds one corpus text re-scan and doc-id-sized exchanges
        only. Decontamination runs AFTER dedup on purpose: a dropped
        survivor is NOT replaced by a duplicate sibling (the
        contaminated content itself is what must leave the corpus)."""
        from air_quality_etl_pipeline_spark.functions.core import (
            token_array,
        )
        from air_quality_etl_pipeline_spark.operators.cleaning import (
            dedup_first,
        )
        from air_quality_etl_pipeline_spark.operators.packing import (
            decontaminate,
        )
        from air_quality_etl_pipeline_spark.operators.text import (
            fingerprint,
            quality_classifier_score,
            quality_classifier_weights,
            quality_score,
            scrub_text,
        )

        d = _t(spark, sf_dir, "documents")
        scrubbed = d.select(
            "doc_id", "source", "lang",
            scrub_text(F.col("text")).alias("text"),
        )
        corp = scrubbed.filter(F.col("doc_id") % 50 != 0)
        labeled = corp.filter(F.col("doc_id") % 5 != 0).withColumn(
            "y", (F.col("lang") == "en").cast("int")
        )
        w = quality_classifier_weights(
            labeled, label_col="y", n_buckets=_QC_B
        )
        gated = corp.filter(quality_score(F.col("text")) >= 0.5)
        keyed = gated.select(
            "doc_id",
            "source",
            F.size(token_array(F.col("text"))).alias("n_toks"),
            fingerprint(F.col("text")).alias("fp"),
            "text",
        )
        scored = quality_classifier_score(
            keyed, w, n_buckets=_QC_B, keep_cols=["source", "n_toks", "fp"]
        )
        kept = scored.filter(F.col("pred") == 1).select(
            "doc_id", "source", "n_toks", "fp"
        )
        deduped = dedup_first(kept, ["fp"], order_by=["doc_id"])
        ev = scrubbed.filter(F.col("doc_id") % 50 == 0)
        contam = (
            decontaminate(corp, ev, "doc_id", "text", n=3, min_hits=5)
            .filter(F.col("contaminated") == 1)
            .select("doc_id")
        )
        clean = deduped.join(contam, on="doc_id", how="left_anti")
        return clean.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )


_register_corpus_curation_e2e_v3()


@register(
    "pack_sequences",
    f"""
    WITH t AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n
               FROM documents),
    c AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM t),
    s AS (SELECT doc_id, n, cum - n AS strt, cum AS fin FROM c WHERE n > 0),
    b AS (SELECT doc_id, strt, fin,
                 unnest(range(strt // 256, (fin - 1) // 256 + 1)) AS bin
          FROM s)
    SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
           CAST(sum(least(fin, (bin + 1) * 256)
                    - greatest(strt, bin * 256)) AS BIGINT) AS n_tokens
    FROM b GROUP BY 1
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing into 256-token training
    windows: distributed prefix sum of per-document token counts (no
    global sort — range-partitioned two-phase cumsum), then each
    document explodes into the windows it spans. One row per window
    with its document count and filled-slot count."""
    from air_quality_etl_pipeline_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, "doc_id", "text", ctx=256)


@register(
    "chunk_documents",
    f"""
    WITH t AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n
               FROM documents WHERE doc_id < 300),
    s AS (SELECT doc_id, n, unnest(range(0, (n - 1) // 64 + 1)) AS chunk_idx
          FROM t WHERE n > 0)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * 64 AS BIGINT) AS start_tok,
           CAST(least(128, n - chunk_idx * 64) AS BIGINT) AS n_tokens
    FROM s
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking: 128-token windows every 64
    tokens per document (50% overlap), one output row per window —
    per-document arithmetic computed inside the scan, embarrassingly
    parallel. Bounded to doc_id < 300 to keep the compare payload
    fixed-size at any SF. See operators.packing.chunk_documents."""
    from air_quality_etl_pipeline_spark.operators.packing import (
        chunk_documents,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return chunk_documents(d, "doc_id", "text", chunk=128, stride=64)


#: target mixture for the domain-mix sampler (sums to 1)
_MIX_WEIGHTS = {"en": 0.4, "fr": 0.2, "de": 0.2, "es": 0.1, "zh": 0.1}
_MIX_BUDGET = 200


@register(
    "mixture_sample",
    f"""
    WITH n AS (SELECT lang, count(*) AS n_src FROM documents GROUP BY 1),
    p AS (SELECT lang,
                 least(1.0, (CASE lang
                   {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_MIX_WEIGHTS.items()))}
                   ELSE 0.0 END * {_MIX_BUDGET}) / n_src) AS keep_p
          FROM n),
    kept AS (
      SELECT d.lang FROM documents d JOIN p USING (lang)
      WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))
            ::BIGINT / 1152921504606846976.0 < keep_p)
    SELECT lang, count(*) AS n_kept FROM kept GROUP BY 1
    """,
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture downsampling to a ~200-doc budget at a target
    language mix (40/20/20/10/10): per-source quota → keep probability
    min(1, quota/actual) → deterministic 60-bit md5 draw. The count
    aggregate broadcasts back onto the scan, so the corpus is read
    once and never shuffled. See operators.sampling.mixture_sample."""
    from air_quality_etl_pipeline_spark.operators.sampling import (
        mixture_sample,
    )

    d = _t(spark, sf_dir, "documents")
    kept = mixture_sample(
        d, "doc_id", "lang", _MIX_WEIGHTS, budget=_MIX_BUDGET
    )
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


#: word-5-gram set per document — mirrors word_shingles_of_tokens(n=5)
_GRAMS5 = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 4, 1) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 4), ' ')))"
)


@register(
    "cross_doc_ngram_dup",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    grams AS (SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
              FROM (SELECT doc_id, unnest({_GRAMS5}) AS g FROM t)),
    freq AS (SELECT gh, count(*) AS n_docs FROM grams GROUP BY 1),
    scored AS (
      SELECT g.doc_id,
             count(*) AS n_grams,
             CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared
      FROM grams g JOIN freq f USING (gh) GROUP BY 1)
    SELECT doc_id, n_grams, n_shared,
           floor((CAST(n_shared AS DOUBLE) / n_grams) * 10000.0 + 0.5)
             / 10000.0 AS shared_frac
    FROM scored
    """,
)
def q_cross_doc_ngram_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate n-gram fraction (the corpus-level dedup
    quality metric of Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022 — distinct from doc_repetition's
    INTRA-document signals): per document, the fraction of its distinct
    word-5-grams that appear in at least one OTHER document.

    Relational shape: one explode to 60-bit gram hashes, one
    vocabulary-sized groupBy for document frequencies, one join back,
    one per-doc aggregate — two shuffles total, both on narrow hash
    keys; the document text never re-shuffles. The same pipeline at a
    higher n and a min-count threshold IS the remove-duplicated-spans
    preprocessing pass."""
    from air_quality_etl_pipeline_spark.functions.core import (
        md5_long,
        token_array,
        word_shingles_of_tokens,
    )

    d = _t(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(
            word_shingles_of_tokens(token_array(F.col("text")), 5)
        ).alias("_raw"),
    ).select("doc_id", md5_long(F.col("_raw")).alias("gh"))
    freq = grams.groupBy("gh").agg(F.count("*").alias("n_docs"))
    scored = (
        grams.join(freq, on="gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_shared"),
        )
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_shared",
        round_portable(
            F.col("n_shared").cast("double") / F.col("n_grams"), 4
        ).alias("shared_frac"),
    )


@register(
    "vocab_oov_rate",
    f"""
    WITH toks AS (
      SELECT doc_id, lower(tok) AS tok
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)),
    freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC) AS rk
        FROM freq) WHERE rk <= 20),
    scored AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY 1)
    SELECT doc_id, n_tokens, n_oov,
           floor((CAST(n_oov AS DOUBLE) / n_tokens) * 10000.0 + 0.5)
             / 10000.0 AS oov_frac
    FROM scored
    """,
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage proxy: build the corpus top-20 vocabulary
    (frequency-ranked, deterministic tiebreak) and report each
    document's out-of-vocabulary token fraction — the screening metric
    for "will this corpus tokenize efficiently / is this document
    gibberish". The vocabulary aggregate is vocabulary-sized, its
    top-k is a window over that (never the corpus), and the k terms
    BROADCAST back onto the token stream — the corpus shuffles once,
    on doc_id, for the final per-doc aggregate."""
    d = _t(spark, sf_dir, "documents")
    from air_quality_etl_pipeline_spark.functions.core import token_array
    from pyspark.sql import Window

    toks = d.select(
        "doc_id",
        F.explode(token_array(F.col("text"))).alias("_raw"),
    ).select("doc_id", F.lower(F.col("_raw")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    vocab = (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("tok", F.lit(True).alias("_in"))
    )
    scored = (
        toks.join(F.broadcast(vocab), on="tok", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("_in").isNull().cast("long")).alias("n_oov"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        round_portable(
            F.col("n_oov").cast("double") / F.col("n_tokens"), 4
        ).alias("oov_frac"),
    )
