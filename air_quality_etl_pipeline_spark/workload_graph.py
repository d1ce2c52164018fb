"""Graph-analytics and entity-resolution workload (round 3): the
relational-graph operators a curation pipeline reaches for once the
pair/cluster machinery exists — co-occurrence graph building, triangle
counting / clustering coefficient, blocked record linkage (entity
resolution), cluster-representative selection (the survivor policy a
near-dup pass feeds into), and LSH recall evaluation against an
exact-similarity ground truth.

Every query is a registered ``(spark_fn, duckdb_oracle)`` pair. Graph
edges are built from the TPC-H-shaped fact tables (co-purchase: parts
sharing an order; customer→supplier trade), so edge construction
itself is a distributed join, not a toy literal. Constant-depth
traversals (triangles, 3-hop BFS) unroll in place; the genuinely
iterative machinery (connected components, PageRank and its
personalized variant) lives in operators/graph.py and is driven from
here with unrolled SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.functions.core import round_portable
from air_quality_etl_pipeline_spark.operators.cache import materialize
from air_quality_etl_pipeline_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_component_edges,
)
from air_quality_etl_pipeline_spark.operators.graph import connected_components
from air_quality_etl_pipeline_spark.workload import _t, register
from air_quality_etl_pipeline_spark.workload_llm import (
    SIMHASH_PAIRS_CTES,
    TOKS,
    _minhash_oracle,
    _word_shingles_sql,
)

#: distinct (order, part) pairs → co-purchase edge list with support.
#: Shared CTE between copurchase_pairs and triangle_count so both
#: engines resolve triangles over the exact same edge set.
_COPURCHASE_CTES = """
    d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pp AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
           FROM d a JOIN d b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey),
    edges AS (SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
              FROM pp GROUP BY 1, 2 HAVING count(*) >= 2)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase edges: parts appearing together in ≥2
    distinct orders. Plan shape: one exchange collapses lineitem to
    sorted distinct part-baskets per order (collect_set dedups inside
    the aggregate), pair expansion is scan-local array algebra over
    each basket, and the support filter prunes random-co-occurrence
    noise so the edge list stays orders of magnitude smaller than the
    pair space."""
    li = _t(spark, sf_dir, "lineitem")
    # basket formulation: ONE shuffle (orders → sorted distinct part
    # arrays), then the a<b pair expansion is scan-local array algebra
    # — the join formulation shuffles the distinct relation twice
    # (distinct + join repartition) and was measured 2.4× slower at
    # sf0.1. Pair expansion is two chained Generates (posexplode the
    # left element, explode the tail slice) — measured 1.00 s vs 1.19 s
    # for the equivalent nested-transform/flatten expression at sf0.1
    # (identical 3573-edge output): two shallow Generates beat one deep
    # Catalyst lambda tree. Per-order fan-out is C(basket,2), bounded
    # by basket size, and the pair relation partial-aggregates before
    # its exchange.
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .select("parts")
    )
    pairs = (
        baskets.select(
            F.col("parts"),
            F.posexplode(F.col("parts")).alias("i", "part_a"),
        )
        .select(
            "part_a",
            F.explode(
                F.slice(
                    F.col("parts"),
                    F.col("i") + F.lit(2),
                    F.size(F.col("parts")),
                )
            ).alias("part_b"),
        )
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@register(
    "copurchase_pairs",
    f"""
    WITH {_COPURCHASE_CTES}
    SELECT part_a, part_b, n_orders FROM edges
    """,
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequently-bought-together pairs (market-basket co-occurrence):
    the bipartite order–part fact projected onto parts. The same shape
    builds co-citation, co-click, and document–entity co-occurrence
    graphs at corpus scale."""
    return _copurchase_edges(spark, sf_dir)


@register(
    "triangle_count",
    f"""
    WITH {_COPURCHASE_CTES},
    e AS (SELECT part_a AS a, part_b AS b FROM edges),
    deg AS (SELECT node, count(*) AS deg FROM (
              SELECT a AS node FROM e UNION ALL SELECT b FROM e)
            GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                     CAST(sum(deg * (deg - 1)) AS BIGINT) // 2 AS n_wedges
              FROM deg),
    ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN floor(3.0 * n_triangles / n_wedges * 1000000.0 + 0.5)
                     / 1000000.0
                ELSE 0.0 END AS clustering_coeff
    FROM stats, ec, tri
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    co-purchase graph — the standard cohesion statistic (Watts-Strogatz
    transitivity). Triangles enumerate as two equi-joins over the
    ordered edge list (a<b<c by construction, so each triangle is
    counted exactly once); wedges come from the degree relation, which
    is node-sized. The edge list feeds four consumers (two join legs,
    the degree pass, the edge count) that filter and prune it
    differently, so AQE cannot reuse its pair-aggregation exchange
    across them: it is materialized once at build (cache-cleared at
    sf0.1, lazy was 1.4 → 2.2 s cold)."""
    edges = materialize(_copurchase_edges(spark, sf_dir))
    e = edges.select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.expr("sum(deg * (deg - 1)) div 2").cast("long").alias("n_wedges"),
    )
    ec = e.agg(F.count("*").cast("long").alias("n_edges"))
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .join(
            e.alias("e3"),
            (F.col("e1.a") == F.col("e3.a"))
            & (F.col("e2.b") == F.col("e3.b")),
        )
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    out = stats.crossJoin(ec).crossJoin(tri)
    coeff = F.when(
        F.col("n_wedges") > 0,
        round_portable(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
        ),
    ).otherwise(F.lit(0.0))
    return out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        coeff.alias("clustering_coeff"),
    )


@register(
    "entity_link_names",
    """
    WITH names AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
                   FROM part GROUP BY 1),
    b AS (SELECT p_name, n_parts,
                 list_extract(string_split(p_name, ' '), 2) AS blk
          FROM names)
    SELECT a.p_name AS name_a, c.p_name AS name_b,
           CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS dist,
           a.n_parts AS n_parts_a, c.n_parts AS n_parts_b
    FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= 2
    """,
)
def q_entity_link_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage (entity resolution) over part names:
    aggregate to the distinct-name level first (standard ER practice —
    compare VALUES, not records), block on the head noun, and link
    names within a block at Levenshtein ≤ 2. The expensive aggregation
    (name → record count) is corpus-sized and distributed; the
    pairwise edit-distance comparison runs on the blocked NAME
    vocabulary, which is orders of magnitude smaller — exactly the
    blocking discipline that makes linkage feasible at scale
    (Fellegi-Sunter blocking; the quadratic term is per-block)."""
    p = _t(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count("*").cast("long").alias("n_parts"))
    b = names.withColumn("blk", F.element_at(F.split("p_name", " "), 2))
    pairs = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.p_name") < F.col("y.p_name")),
        )
        .withColumn(
            "dist", F.levenshtein(F.col("x.p_name"), F.col("y.p_name"))
        )
        .filter(F.col("dist") <= 2)
    )
    return pairs.select(
        F.col("x.p_name").alias("name_a"),
        F.col("y.p_name").alias("name_b"),
        F.col("dist").cast("long").alias("dist"),
        F.col("x.n_parts").alias("n_parts_a"),
        F.col("y.n_parts").alias("n_parts_b"),
    )


@register(
    "dedup_canonical_docs",
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
      SELECT d.doc_id, d.n_chars,
             coalesce(c.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    ranked AS (
      SELECT cluster_id, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster_id
               ORDER BY n_chars DESC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY cluster_id) AS n_members,
             sum(n_chars) OVER (PARTITION BY cluster_id) AS total_chars
      FROM decided)
    SELECT cluster_id, doc_id AS keeper_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(total_chars AS BIGINT) AS total_chars
    FROM ranked WHERE rk = 1 AND n_members >= 2
    """,
)
def q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection: near-dup clusters (SimHash
    pairs → connected components) reduced to one CANONICAL document
    each — the survivor policy that keeps the RICHEST member (most
    characters; lowest id on ties) instead of dedup_clusters'
    smallest-id rule. This is the quality-aware variant every corpus
    pipeline actually ships: among near-duplicates, keep the longest/
    cleanest copy. Only multi-member clusters are emitted (the
    singleton majority never leaves the window stage). Same plan
    contract as dedup_clusters: components iterate only the pair
    graph; the corpus relation is touched once for the join and once
    for the per-cluster window."""
    d = _t(spark, sf_dir, "documents")
    # star-edge cascade (round 8): connectivity-equivalent, clone
    # cliques -> linear stars; components and min labels identical
    edges = simhash_component_edges(
        d, "doc_id", "text", bits=48, max_hamming=3, block_cols=["lang"]
    )
    comp = connected_components(edges, "id_a", "id_b").withColumnRenamed(
        "node", "doc_id"
    )
    decided = (
        d.select("doc_id", "n_chars")
        .join(comp, on="doc_id", how="left")
        .withColumn("cluster_id", F.coalesce("component", F.col("doc_id")))
        .drop("component")
    )
    # one hash AGGREGATE, not a window: the output is cluster-level,
    # so the keeper (max n_chars, min doc_id on ties — encoded as
    # min(struct(-n_chars, doc_id))), member count, and char total all
    # fold with map-side partials in a single exchange. The previous
    # two-window formulation sorted the whole corpus-level relation by
    # (cluster_id, n_chars) for a row_number it then threw away for
    # all but one row per cluster. Struct ordering puts NULL smallest,
    # so a NULL n_chars would WIN the min — coalesce to long-max makes
    # it LOSE, matching the oracle's ORDER BY n_chars DESC NULLS LAST.
    agg = decided.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.sum("n_chars").alias("total_chars"),
        F.min(
            F.struct(
                F.coalesce(
                    -F.col("n_chars"), F.lit(2**63 - 1).cast("long")
                ).alias("_neg_chars"),
                F.col("doc_id").alias("id"),
            )
        ).alias("_w"),
    )
    return agg.filter(F.col("n_members") >= 2).select(
        "cluster_id",
        F.col("_w.id").alias("keeper_id"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("total_chars").cast("long").alias("total_chars"),
    )


@register(
    "lsh_recall_eval",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_word_shingles_sql(5)} AS s FROM t),
    tp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                    AS j
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
    truth AS (SELECT id_a, id_b FROM tp WHERE j >= 0.7),
    found AS ({_minhash_oracle(num_hashes=8, bands=4, thr=0.7, n=5,
                               family="md5")}),
    c1 AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
    c2 AS (SELECT CAST(count(*) AS BIGINT) AS n_found FROM found)
    SELECT n_true, n_found,
           CASE WHEN n_true = 0 THEN 1.0
                ELSE floor(CAST(n_found AS DOUBLE) / n_true
                           * 1000000.0 + 0.5) / 1000000.0
           END AS recall
    FROM c1, c2
    """,
)
def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH dedup path against EXACT similarity
    ground truth — the ann_recall_at_k of the dedup family. Truth =
    word-5-gram Jaccard ≥ 0.7 pairs from the PPJoin prefix-filter join
    (provably exact recall, so it equals brute force without the
    oracle's quadratic scan); found = the banded MinHash candidates
    that verify at the same threshold. Answers the capacity-planning
    question every banding scheme raises: what fraction of true
    near-dups does 8-hashes/4-bands actually surface? The two pair
    sets are corpus-independent summaries (two counts), so the query
    output is one row regardless of scale."""
    d = _t(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(
        d, "doc_id", "text", n=5, threshold=0.7, shingler="word"
    )
    found = minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        n=5,
        num_hashes=8,
        bands=4,
        threshold=0.7,
        hash_family="md5",
    )
    nt = truth.agg(F.count("*").cast("long").alias("n_true"))
    nf = found.agg(F.count("*").cast("long").alias("n_found"))
    return nt.crossJoin(nf).select(
        "n_true",
        "n_found",
        F.when(F.col("n_true") == 0, F.lit(1.0))
        .otherwise(
            round_portable(
                F.col("n_found").cast("double") / F.col("n_true"), 6
            )
        )
        .alias("recall"),
    )


@register(
    "bfs_reach_3",
    f"""
    WITH {_COPURCHASE_CTES},
    bidir AS (SELECT part_a AS src, part_b AS dst FROM edges
              UNION ALL SELECT part_b, part_a FROM edges),
    seeds AS (SELECT DISTINCT src AS node FROM bidir
              ORDER BY node ASC LIMIT 3),
    h1 AS (SELECT DISTINCT b.dst AS node
           FROM seeds s JOIN bidir b ON b.src = s.node),
    h2 AS (SELECT DISTINCT b.dst AS node
           FROM h1 JOIN bidir b ON b.src = h1.node),
    h3 AS (SELECT DISTINCT b.dst AS node
           FROM h2 JOIN bidir b ON b.src = h2.node),
    lv AS (SELECT node, 0 AS hops FROM seeds
           UNION ALL SELECT node, 1 FROM h1
           UNION ALL SELECT node, 2 FROM h2
           UNION ALL SELECT node, 3 FROM h3)
    SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM lv GROUP BY 1
    """,
)
def q_bfs_reach_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS reachability from the 3 lowest-id nodes of the
    co-purchase graph: per reachable node, its exact hop distance —
    the bounded-depth traversal behind "related products", citation
    neighborhoods, and link-expansion crawls. The frontier expansion
    UNROLLS (depth is a constant, so no driver loop): each level is
    one equi-join of the previous DISTINCT frontier against the
    bidirectional edge list, and the min-hop aggregate resolves
    revisits (a level-k frontier contains back-edges into earlier
    levels; min picks the true shortest distance). All iterated
    relations are node-sized, never corpus-sized. The bidirectional
    edge list feeds the seeds and every level's join, so it is
    materialized once at build (cache-cleared at sf0.1, lazy was 2.4 →
    3.2 s cold)."""
    edges = _copurchase_edges(spark, sf_dir)
    e = edges.select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
    bidir = materialize(
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    seeds = (
        bidir.select(F.col("src").alias("node"))
        .distinct()
        .orderBy(F.asc("node"))
        .limit(3)
    )
    levels = [seeds]
    for _ in range(3):
        prev = levels[-1]
        nxt = (
            prev.join(bidir, prev["node"] == bidir["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        levels.append(nxt)
    lv = None
    for hops, frontier in enumerate(levels):
        tagged = frontier.select("node", F.lit(hops).alias("hops"))
        lv = tagged if lv is None else lv.unionAll(tagged)
    return lv.groupBy("node").agg(
        F.min("hops").cast("long").alias("hops")
    )


def _ppr_oracle(iterations: int = 3) -> str:
    """Unrolled personalized-PageRank oracle over the trade graph with
    seeds {c0, c1, c2} — mirrors
    operators.graph.personalized_pagerank_pico step for step (every
    term BIGINT floor-division)."""
    head = """
    WITH edges AS (
      SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    seeds AS (SELECT id FROM nodes WHERE id IN ('c0', 'c1', 'c2')),
    -- |S| is the PROVIDED seed-set size (matches the Spark operator,
    -- which divides by the given set even if a seed is absent from
    -- the graph), not the count of seeds present in nodes
    sn AS (SELECT CAST(3 AS BIGINT) AS ns),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY 1),
    r0 AS (SELECT nd.id,
                  CASE WHEN s.id IS NOT NULL
                       THEN CAST(1000000000000 AS BIGINT) // sn.ns
                       ELSE CAST(0 AS BIGINT) END AS pico
           FROM nodes nd LEFT JOIN seeds s ON nd.id = s.id, sn)"""
    steps = []
    for t in range(1, iterations + 1):
        steps.append(f"""
    c{t} AS (SELECT e.dst AS id,
                    CAST(sum(r.pico // d.outdeg) AS BIGINT) AS s
             FROM edges e
             JOIN r{t - 1} r ON e.src = r.id
             JOIN deg d ON e.src = d.src
             GROUP BY 1),
    r{t} AS (SELECT nd.id,
                    CASE WHEN sd.id IS NOT NULL
                         THEN (CAST(15 AS BIGINT) * 10000000000) // sn.ns
                         ELSE CAST(0 AS BIGINT) END
                      + (CAST(85 AS BIGINT) * COALESCE(c{t}.s, 0)) // 100
                      AS pico
             FROM nodes nd
             LEFT JOIN seeds sd ON nd.id = sd.id
             LEFT JOIN c{t} ON nd.id = c{t}.id, sn)""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT id AS node, CAST(pico AS BIGINT) AS rank_pico
    FROM r{iterations} WHERE pico > 0
    """
    )


@register("ppr_from_seeds", _ppr_oracle(3))
def q_ppr_from_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from 3 seed customers over the
    customer→supplier trade graph (3 rounds, d=0.85): proximity-to-
    the-seeds ranking, the graph primitive behind "suppliers relevant
    to THESE customers" — integer pico-units end to end, so the
    iterative algorithm is exactly reproduced by the unrolled oracle.
    Only nodes with nonzero mass are emitted (3 hops of seed
    reachability)."""
    from air_quality_etl_pipeline_spark.operators.graph import (
        personalized_pagerank_pico,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
    )
    seeds = spark.range(3).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("id")
    )
    out = personalized_pagerank_pico(edges, seeds, iterations=3)
    return out.filter(F.col("rank_pico") > 0)


@register(
    "association_rules",
    f"""
    WITH {_COPURCHASE_CTES},
    item AS (SELECT l_partkey AS part, CAST(count(DISTINCT l_orderkey)
                    AS BIGINT) AS n_item
             FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM lineitem),
    rules AS (
      SELECT e.part_a AS antecedent, e.part_b AS consequent,
             e.n_orders AS support_ab, a.n_item AS support_a,
             b.n_item AS support_b, t.n_orders AS n_orders
      FROM edges e
      JOIN item a ON a.part = e.part_a
      JOIN item b ON b.part = e.part_b, tot t
      UNION ALL
      SELECT e.part_b, e.part_a, e.n_orders, b.n_item, a.n_item, t.n_orders
      FROM edges e
      JOIN item a ON a.part = e.part_a
      JOIN item b ON b.part = e.part_b, tot t)
    SELECT antecedent, consequent, support_ab,
           floor(CAST(support_ab AS DOUBLE) / support_a * 1000000.0 + 0.5)
             / 1000000.0 AS confidence,
           floor(CAST(support_ab AS DOUBLE) * n_orders
                 / (CAST(support_a AS DOUBLE) * support_b)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM rules
    WHERE CAST(support_ab AS DOUBLE) / support_a >= 0.5
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules from the co-purchase edges (Agrawal et al.,
    SIGMOD'93 metrics): each frequent pair yields both directed rules
    with confidence = sup(a,b)/sup(a) and lift =
    conf / P(b) — the interestingness layer on top of raw pair counts.
    Item supports are one aggregate over the fact; the rule relation is
    edge-sized, so the metric joins are cheap. Only confident rules
    (≥ 0.5) are emitted."""
    li = _t(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(spark, sf_dir)
    item = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_item")
    )
    tot = li.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_total")
    )
    a = item.select(
        F.col("part").alias("part_a"), F.col("n_item").alias("sup_a")
    )
    b = item.select(
        F.col("part").alias("part_b"), F.col("n_item").alias("sup_b")
    )
    base = (
        edges.join(a, on="part_a")
        .join(b, on="part_b")
        .crossJoin(F.broadcast(tot))
    )
    fwd = base.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        F.col("n_orders").alias("support_ab"),
        F.col("sup_a").alias("support_a"),
        F.col("sup_b").alias("support_b"),
        F.col("n_total"),
    )
    rev = base.select(
        F.col("part_b").alias("antecedent"),
        F.col("part_a").alias("consequent"),
        F.col("n_orders").alias("support_ab"),
        F.col("sup_b").alias("support_a"),
        F.col("sup_a").alias("support_b"),
        F.col("n_total"),
    )
    rules = fwd.unionAll(rev)
    conf = F.col("support_ab").cast("double") / F.col("support_a")
    lift = (
        F.col("support_ab").cast("double")
        * F.col("n_total")
        / (F.col("support_a").cast("double") * F.col("support_b"))
    )
    return (
        rules.filter(conf >= 0.5)
        .select(
            "antecedent",
            "consequent",
            "support_ab",
            round_portable(conf, 6).alias("confidence"),
            round_portable(lift, 6).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (cosine over co-purchase counts)
# ---------------------------------------------------------------------------


@register(
    "item_item_cosine",
    f"""
    WITH {_COPURCHASE_CTES},
    freq AS (SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS n
             FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
             GROUP BY 1),
    sym AS (SELECT part_a AS item, part_b AS other, n_orders FROM edges
            UNION ALL
            SELECT part_b AS item, part_a AS other, n_orders FROM edges),
    scored AS (
      SELECT s.item, s.other,
             floor(s.n_orders / sqrt(fa.n * fb.n) * 1000000.0 + 0.5)
               / 1000000.0 AS cosine
      FROM sym s
      JOIN freq fa ON fa.item = s.item
      JOIN freq fb ON fb.item = s.other)
    SELECT item, other, cosine, CAST(rnk AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY item ORDER BY cosine DESC, other ASC) AS rnk
      FROM scored)
    WHERE rnk <= 5
    """,
)
def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based collaborative filtering (Sarwar et al., WWW 2001):
    top-5 most-similar parts per part by co-occurrence cosine
    ``n_ab / sqrt(n_a * n_b)`` over distinct order baskets — the
    "customers also bought" scorer, built on the SAME support-pruned
    co-purchase edge list as ``copurchase_pairs`` (support >= 2 prunes
    random co-occurrence, so the pair relation stays orders of
    magnitude below the cross product). Cosines are 6-decimal-rounded
    BEFORE ranking so both engines rank identical values; ties break
    on the neighbor id.

    Scale: basket pair expansion is the audited one-shuffle plan of
    :func:`_copurchase_edges`; the frequency joins are equi joins on
    the part key; the top-5 window partitions per item (bounded by
    that item's pruned neighbor count, never data-sized)."""
    edges = _copurchase_edges(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    freq = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy(F.col("l_partkey").alias("item"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    sym = edges.select(
        F.col("part_a").alias("item"),
        F.col("part_b").alias("other"),
        "n_orders",
    ).unionByName(
        edges.select(
            F.col("part_b").alias("item"),
            F.col("part_a").alias("other"),
            "n_orders",
        )
    )
    fa = freq.withColumnRenamed("n", "na")
    fb = freq.select(
        F.col("item").alias("other"), F.col("n").alias("nb")
    )
    scored = (
        sym.join(fa, "item")
        .join(fb, "other")
        .select(
            "item",
            "other",
            round_portable(
                F.col("n_orders")
                / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cosine"), F.asc("other")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("item", "other", "cosine", "rank")
    )
