"""Connected components / dedup clusters: transitivity, determinism,
and singleton semantics (operators/graph.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from air_quality_etl_pipeline_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def test_chain_is_one_component(spark):
    # a-b, b-c, c-d chain: no direct a~d pair, still one cluster
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_component_label_is_min_regardless_of_edge_direction(spark):
    # labels must not depend on which side of the pair the min id is on
    edges = spark.createDataFrame(
        [(5, 2), (2, 9), (9, 1)], ["id_a", "id_b"]
    )
    comps = connected_components(edges).collect()
    assert {r.component for r in comps} == {1}
    assert {r.node for r in comps} == {1, 2, 5, 9}


def test_distributed_path_matches_union_find(spark):
    # local_threshold=0 forces the min-propagation loop; same answer
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (7, 4)], ["id_a", "id_b"]
    )
    local = {
        (r.node, r.component)
        for r in connected_components(edges).collect()
    }
    dist = {
        (r.node, r.component)
        for r in connected_components(edges, local_threshold=0).collect()
    }
    assert local == dist
    assert {c for _, c in local} == {1, 10}


def test_empty_edges(spark):
    edges = spark.createDataFrame([], "id_a LONG, id_b LONG")
    assert connected_components(edges).count() == 0


def test_dedup_clusters_full_corpus_decision(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 8)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], ["id_a", "id_b"]
    )
    rows = {
        r.doc_id: (r.cluster_id, r.is_keeper, r.cluster_size)
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert rows == {
        1: (1, 1, 3),
        3: (1, 0, 3),
        5: (1, 0, 3),
        2: (2, 1, 2),
        6: (2, 0, 2),
        4: (4, 1, 1),  # singleton keeps itself
        7: (7, 1, 1),
    }
    # dropping is_keeper=0 keeps exactly one doc per cluster
    kept = [d for d, (_, k, _) in rows.items() if k]
    assert sorted(kept) == [1, 2, 4, 7]


def test_distributed_path_converges_past_max_iter_diameter(spark):
    """Regression: neighbor-min propagation alone needs O(diameter)
    rounds — a 2000-node chain exceeds max_iter=30 and used to return
    wrong labels SILENTLY. With pointer jumping each round the distance
    doubles (O(log diameter)); the run must both converge and be
    correct, and non-convergence now raises instead of mislabeling."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(2000)], ["id_a", "id_b"]
    )
    cc = connected_components(edges, local_threshold=0)
    comps = {r.component for r in cc.collect()}
    assert comps == {0}


def test_personalized_pagerank_exact_chain_trace(spark):
    # a → b → c with seed {a}: every round is exact integer arithmetic,
    # so the 3-round result is a hand-computable trace — base mass
    # returns only to the seed, downstream nodes hold damped mass
    from air_quality_etl_pipeline_spark.operators.graph import (
        personalized_pagerank_pico,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["src", "dst"]
    )
    seeds = spark.createDataFrame([("a",)], ["id"])
    got = {
        r["node"]: r["rank_pico"]
        for r in personalized_pagerank_pico(
            edges, seeds, iterations=3
        ).collect()
    }
    assert got == {
        "a": 150_000_000_000,          # teleport mass only
        "b": 127_500_000_000,          # 0.85 · a
        "c": 108_375_000_000,          # 0.85² · a (shifted one round)
    }


def test_triangle_count_matches_bruteforce(spark):
    # independent algorithm check: enumerate triangles in pure Python
    # (adjacency sets) over the same edge list the query builds
    from air_quality_etl_pipeline_spark.workload import QUERIES
    from air_quality_etl_pipeline_spark.workload_graph import (
        _copurchase_edges,
    )

    sf = "/root/testdata/sf0.001"
    edges = [
        (r["part_a"], r["part_b"])
        for r in _copurchase_edges(spark, sf).collect()
    ]
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = 0
    for a, b in edges:  # a < b by construction
        tri += sum(1 for c in adj[a] & adj[b] if c > b)
    deg = {n: len(s) for n, s in adj.items()}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    row = QUERIES["triangle_count"][0](spark, sf).collect()[0]
    assert row["n_triangles"] == tri
    assert row["n_edges"] == len(edges)
    assert row["n_nodes"] == len(adj)
    assert row["n_wedges"] == wedges


def test_bfs_matches_bruteforce(spark):
    # independent BFS in pure Python over the same edges/seeds
    from collections import deque

    from air_quality_etl_pipeline_spark.workload import QUERIES
    from air_quality_etl_pipeline_spark.workload_graph import (
        _copurchase_edges,
    )

    sf = "/root/testdata/sf0.001"
    edges = [
        (r["part_a"], r["part_b"])
        for r in _copurchase_edges(spark, sf).collect()
    ]
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seeds = sorted(adj)[:3]
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        n = q.popleft()
        if dist[n] >= 3:
            continue
        for m in adj[n]:
            if m not in dist:
                dist[m] = dist[n] + 1
                q.append(m)
    got = {
        r["node"]: r["hops"]
        for r in QUERIES["bfs_reach_3"][0](spark, sf).collect()
    }
    assert got == dist


def test_star_edges_clustering_identical_to_clique_pairs(spark):
    """simhash_component_edges (exact->near cascade, clone cliques
    replaced by linear rep->member stars) must produce IDENTICAL
    dedup_clusters output to the clique-pair plan — including across
    the two subtleties the SCALE.md cautions record: identical texts
    in DIFFERENT lang blocks must not merge, and near-dup (non-equal)
    texts must still cluster through their representatives."""
    from pyspark.sql import functions as F

    from air_quality_etl_pipeline_spark.operators.dedup import (
        simhash_component_edges,
        simhash_pairs,
    )
    from air_quality_etl_pipeline_spark.operators.graph import (
        dedup_clusters,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # clone-heavy corpus: every doc x 6 verbatim clones, plus the
    # cross-block trap — one doc's exact text under a different lang
    clones = [
        base.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(i * 100_000)).cast("bigint")
        )
        for i in range(6)
    ]
    corpus = clones[0]
    for c in clones[1:]:
        corpus = corpus.unionByName(c)
    trap = base.limit(3).select(
        (F.col("doc_id") + 900_000).cast("bigint").alias("doc_id"),
        *[
            F.lit("zz").alias(c) if c == "lang" else F.col(c)
            for c in base.columns
            if c != "doc_id"
        ],
    ).select(*corpus.columns)
    corpus = corpus.unionByName(trap)

    kw = dict(bits=48, max_hamming=3, block_cols=["lang"])
    clique = dedup_clusters(
        corpus,
        simhash_pairs(corpus, "doc_id", "text", **kw),
        "doc_id",
    )
    star = dedup_clusters(
        corpus,
        simhash_component_edges(corpus, "doc_id", "text", **kw),
        "doc_id",
    )
    a = sorted(tuple(r) for r in clique.collect())
    b = sorted(tuple(r) for r in star.collect())
    assert a == b
    # sanity: clones actually formed multi-member clusters
    assert any(r[3] >= 6 for r in a)


def test_star_edges_fingerprint_null_safe_and_injective(spark):
    """Round-8 advisor edge cases for the exact-clone fingerprint:
    (1) a separator-bearing text must not collide across blocks
    (block='a', text='x' vs block=NULL, text='a\\x1fx' hashed
    identically under the old concat_ws form), and (2) NULL block
    values never group — simhash_pairs' equi-join blocking never
    matches NULL blocks, so the star cascade must not merge what the
    clique relation keeps apart."""
    from air_quality_etl_pipeline_spark.operators.dedup import (
        simhash_component_edges,
    )

    corpus = spark.createDataFrame(
        [
            (1, "a", "x"),
            (2, None, "a\x1fx"),   # old fingerprint == row 1's
            (3, None, "same"),     # NULL block: must NOT pair with 4
            (4, None, "same"),
            (5, "b", "same"),      # real clones within one block
            (6, "b", "same"),
        ],
        "doc_id long, lang string, text string",
    )
    edges = simhash_component_edges(
        corpus, "doc_id", "text", bits=32, max_hamming=0,
        block_cols=["lang"],
    )
    got = sorted((r["id_a"], r["id_b"]) for r in edges.collect())
    assert got == [(5, 6)]


def test_component_edges_rebuilds_are_cache_independent(spark, sf_dir):
    """Round-14 honesty fence for the dedup family rebuilt per call: the
    fingerprint frame is materialized by an EAGER localCheckpoint, so
    (1) every downstream op builds on a LogicalRDD leaf (no analyzer
    re-walk of the 48-aggregate vote subtree per op), and (2) two
    REBUILDS of the same query are NOT plan-equal — the r13 warm-cache
    subsidy (CacheManager re-matching sample 1's internal persists
    across the bench's per-sample rebuilds) is structurally
    impossible. A revert to .persist() makes the two builds
    sameResult again and this test fails."""
    from air_quality_etl_pipeline_spark.operators.dedup import (
        simhash_component_edges,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def build():
        return simhash_component_edges(
            d, "doc_id", "text", bits=48, max_hamming=3,
            block_cols=["lang"],
        )

    e1, e2 = build(), build()
    p1 = e1._jdf.queryExecution().analyzed()
    p2 = e2._jdf.queryExecution().analyzed()
    assert not p1.sameResult(p2), (
        "two rebuilds are plan-equal: internal materialization is "
        "cache-rematchable across bench samples again (warm-cache "
        "subsidy, OPTIMIZATION_r13.md)"
    )
    # and the lineage really is truncated: the fingerprint frame is a
    # LogicalRDD leaf and no parquet scan survives in the edge
    # relation's analyzed plan
    assert "LogicalRDD" in p1.toString()
    assert "parquet" not in p1.toString().lower()


def _path(cc) -> str:
    """Which connected_components path built *cc*: the union-find path
    ends in a MapInPandas node, the distributed one in a LogicalRDD."""
    plan = cc._jdf.queryExecution().optimizedPlan().toString()
    return "local" if "MapInPandas" in plan else "distributed"


def test_local_path_decision_bounds_symmetrized_count(spark):
    """The path decision counts RAW edges and takes the local path only
    when 2 × raw ≤ local_threshold. 2 × raw bounds the symmetrized
    distinct edge count the decision used to compare, so no graph the
    old decision sent to the distributed path can go local. Pinned at
    the boundary, on a graph whose symmetrized distinct count is
    exactly 2 × raw (no duplicate, reverse or self-loop edges)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"]
    )
    # symmetrized distinct = 6 = 2 × 3 raw edges
    assert _path(connected_components(edges, local_threshold=6)) == "local"
    # one below: the old decision (6 > 5) went distributed, so must we
    assert (
        _path(connected_components(edges, local_threshold=5))
        == "distributed"
    )
    # duplicate and reverse edges count toward raw: 6 raw edges whose
    # symmetrized distinct count is still 6 go distributed below 12
    # (conservative — never local where the old count was larger)
    dup = edges.unionByName(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    assert _path(connected_components(dup, local_threshold=11)) == "distributed"
    assert _path(connected_components(dup, local_threshold=12)) == "local"
    want = {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    for cc in (
        connected_components(dup, local_threshold=11),
        connected_components(dup, local_threshold=12),
    ):
        assert {(r.node, r.component) for r in cc.collect()} == want


def _edge_plan_counts(spark, monkeypatch, sf_dir) -> tuple[int, int]:
    """(band explodes, joins) in the FINAL executed plan of the edge
    relation connected_components materializes for dedup_clusters'
    star-edge cascade."""
    import air_quality_etl_pipeline_spark.operators.graph as graph
    from air_quality_etl_pipeline_spark.operators.dedup import (
        simhash_component_edges,
    )

    seen = []
    real = graph.materialize

    def recording(df):
        seen.append(df)
        return real(df)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = simhash_component_edges(
        d, "doc_id", "text", bits=48, max_hamming=3, block_cols=["lang"]
    )
    with monkeypatch.context() as m:
        m.setattr(graph, "materialize", recording)
        assert _path(connected_components(edges)) == "local"
    assert len(seen) == 1, "local path materializes the edges once"
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    n_gen = final.count("Generate explode")
    n_join = sum(
        final.count(j)
        for j in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )
    )
    return n_gen, n_join


def test_component_edge_relation_runs_band_join_once(
    spark, monkeypatch, sf_dir
):
    """Plan-shape fence for the local path's edge relation. It holds
    exactly two joins — the band self-join and the clone-star join:
    the Hamming check reads both fingerprints off the band rows (no
    join back to the fingerprint frame per pair endpoint), and the
    edges are materialized as given (no self-union symmetrize, which
    would plan every join above the reused exchanges twice).

    With broadcast joins off, both band self-join sides are shuffled
    and canonically equal, so the explode runs exactly once (the right
    side is a ReusedExchange). Under the default config the small band
    side is broadcast instead — a separate BroadcastExchange — so the
    explode is planned once per side."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        assert _edge_plan_counts(spark, monkeypatch, sf_dir) == (1, 2)
    finally:
        spark.conf.set(key, old)
    assert _edge_plan_counts(spark, monkeypatch, sf_dir) == (2, 2)
