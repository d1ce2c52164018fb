"""Graph operators: connected components and duplicate-cluster
resolution.

The dedup operators in :mod:`~air_quality_etl_pipeline_spark.operators.
dedup` emit near-duplicate *pairs* (MinHash-LSH, SimHash, n-gram
Jaccard). A dedup *decision* needs the transitive closure of those
pairs: if a~b and b~c, all three are one duplicate cluster even when
a and c never collide directly. That closure is connected components
over the pair graph — the step every large-corpus pipeline runs between
candidate generation and document dropping (the reference has no such
operator; extension per BASELINE.json's north star).

Strategy is ADAPTIVE on the pair-graph size, which is the property that
actually matters at 100 TB:

* The pair graph after LSH blocking is orders of magnitude smaller than
  the corpus (edges ∝ near-duplicate docs, not total docs). When it
  fits in one task (2 × edges ≤ *local_threshold*), a single-pass
  union-find over a coalesced partition resolves all components in ONE
  job — no per-round scheduling overhead, O(E·α(E)) work. Measured at
  sf0.1: 14 distributed min-propagation rounds (~6 s of job overhead
  on a 3.8 k-edge graph) collapse to ~0.3 s.
* Past the threshold, fall back to distributed min-label propagation —
  each round every node adopts the smallest label among itself and its
  neighbors (one join + one partial-aggregated min-groupBy per round),
  converging in O(graph diameter) rounds with ``cache.materialize``
  lineage truncation and a monotone-label-sum convergence test (one
  scalar action per round, no driver-side row collection). The
  round-efficient refinement for adversarially-chained graphs is
  large-star/small-star (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC 2014) — same per-round relational shape,
  so it swaps in locally.

The union-find closure is deliberately SELF-CONTAINED (imports inside,
no references to this package) so the Python workers never need this
package importable — the driver harness runs from a neutral cwd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from air_quality_etl_pipeline_spark.operators.cache import materialize

#: pair-graph size up to which the single-task union-find path is
#: used, compared against TWICE the raw edge count — an upper bound on
#: the symmetrized distinct edge set, so the local path is never taken
#: for a graph whose symmetrized form exceeds it. Sized for single-task
#: comfort: ~5e6 edges is tens of MB of longs plus two dict passes in
#: one worker.
LOCAL_EDGE_THRESHOLD = 5_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    local_threshold: int = LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """Connected components of an undirected graph given as an edge
    list → ``(node, component)`` where *component* is the smallest
    node id in the component (a deterministic, engine-portable
    canonical label).

    The edge list is materialized once (``cache.materialize``) as
    given — direction and duplicates included — so its producing plan
    runs exactly once. If ``2 × edges ≤ local_threshold`` the
    union-find path reads that relation directly (it ignores direction
    and duplicate edges); otherwise the distributed path symmetrizes it
    with one ``inline`` generator, not a self-union.

    Only nodes that appear in *edges* are returned — callers decide
    how isolated nodes label themselves (see :func:`dedup_clusters`).
    """
    id_type = edges.schema[src].dataType
    raw = materialize(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))

    if 2 * raw.count() <= local_threshold:
        out_schema = StructType(
            [
                StructField("node", id_type, False),
                StructField("component", id_type, False),
            ]
        )

        # nested (pickled by VALUE, not by module reference) and
        # self-contained, so workers never import this package
        def local_union_find(it):
            import pandas as pd

            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:
                    parent[x], x = root, parent[x]
                return root

            nodes = set()
            for pdf in it:
                for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                    nodes.add(a)
                    nodes.add(b)
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        if rb < ra:
                            ra, rb = rb, ra
                        parent[rb] = ra  # smaller root wins ⇒ root = min
            out = sorted(nodes)
            yield pd.DataFrame(
                {"node": out, "component": [find(n) for n in out]}
            )

        return raw.coalesce(1).mapInPandas(local_union_find, out_schema)

    # distributed min-label propagation + pointer jumping (see module
    # docstring). Neighbor propagation alone converges in O(diameter)
    # rounds — a 50-node chain silently exceeds max_iter=30 (caught by
    # a 10k-chain stress test; the fixpoint check below would mask it).
    # The pointer-jump step (lbl ← lbl of lbl) doubles the propagation
    # distance per round, so convergence is O(log diameter): 30 rounds
    # cover any graph that fits on hardware.
    sym = materialize(
        raw.selectExpr("inline(array(struct(u, v), struct(v AS u, u AS v)))")
        .distinct()
    )
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    labels = materialize(labels)
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    converged = False
    for _ in range(max_iter):
        msgs = sym.join(
            labels.withColumnRenamed("node", "u"), on="u"
        ).select(F.col("v").alias("node"), "lbl")
        labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer jump: follow the label one hop (labels form a
        # pointer forest toward each component's minimum)
        parent = labels.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        labels = materialize(
            labels.join(parent, on="lbl", how="left").select(
                "node",
                F.least(F.col("lbl"), F.col("lbl2")).alias("lbl"),
            )
        )
        new_sum = labels.agg(F.sum("lbl")).first()[0]
        if new_sum == prev_sum:  # labels are monotone ⇒ fixpoint
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select("node", F.col("lbl").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-document dedup decision from near-dup pairs:
    ``(id_col, cluster_id, is_keeper, cluster_size)`` over ALL rows of
    *docs* — documents in no pair form singleton clusters of
    themselves. The keeper is the smallest id in the cluster
    (deterministic survivor policy); dropping ``is_keeper = 0`` rows
    deduplicates the corpus.

    Plan shape: components over the (small) pair graph, broadcast-able
    left join back to the corpus on id, then ONE window shuffle on
    cluster_id for the sizes. The corpus-sized relation is touched
    exactly twice (join + window); the component resolution only ever
    sees the pair graph, which is orders of magnitude smaller than the
    corpus when the dedup rate is sane.
    """
    comp = connected_components(pairs, src, dst).withColumnRenamed(
        "node", id_col
    )
    full = docs.select(id_col).join(comp, on=id_col, how="left")
    full = full.withColumn(
        "cluster_id", F.coalesce("component", F.col(id_col))
    ).drop("component")
    w = Window.partitionBy("cluster_id")
    return full.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id"))
        .cast("long")
        .alias("is_keeper"),
        F.count("*").over(w).alias("cluster_size"),
    )


def pagerank_pico(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank in integer PICO-units (Page et al. '99, simplified: no
    dangling-mass redistribution) — every arithmetic step is BIGINT
    floor-division, so the result is bit-identical across engines and
    partition orders with NO float anywhere:

    - ``r0 = 10^12 div N``
    - per edge: ``contrib = r(src) div outdeg(src)`` (exact int)
    - ``r' = ((100-d)·10^12 div 100) div N + (d · Σ contrib) div 100``

    Relational shape per round (the Pregel step as SQL): one hash join
    of the edge list with the rank relation on ``src``, one partial-
    aggregated sum groupBy on ``dst``, one left join back to the node
    set. Ranks are one BIGINT per node — at 100 TB the edge list
    dominates and it co-partitions on ``src`` across rounds, so only
    the (node-sized) rank relation reshuffles. The loop materializes
    per round (``cache.materialize`` of the small rank relation keeps
    lineage O(1)); *iterations* is fixed so an oracle can unroll it.

    Returns ``(node, rank_pico)``. ``Σ rank_pico ≤ 10^12`` strictly:
    besides floor-div truncation (≤ N pico-units/round), DANGLING nodes
    (no out-edges) evaporate their mass each round in this simplified
    variant — redistribute it (one scalar aggregate per round) if
    conserved mass matters for the use case. The tests pin an exact
    3-round integer trace including the dangling decay.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n_rel = F.broadcast(nodes.agg(F.count("*").cast("long").alias("n")))
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    base_pct = 100 - damping_pct
    ranks = nodes.crossJoin(n_rel).select(
        "id", F.expr("CAST(1000000000000 AS BIGINT) div n").alias("pico")
    )
    ranks = materialize(ranks)
    for _ in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("id", "src"), on="src")
            .join(deg, on="src")
            .select(
                F.col("dst").alias("id"),
                F.expr("pico div outdeg").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        ranks = (
            nodes.join(contrib, on="id", how="left")
            .crossJoin(n_rel)
            .select(
                "id",
                F.expr(
                    f"(CAST({base_pct} AS BIGINT) * 10000000000) div n"
                    f" + (CAST({damping_pct} AS BIGINT)"
                    f" * COALESCE(s, CAST(0 AS BIGINT))) div 100"
                ).alias("pico"),
            )
        )
        ranks = materialize(ranks)
    return ranks.select(F.col("id").alias("node"), F.col("pico").alias("rank_pico"))


def personalized_pagerank_pico(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "id",
) -> DataFrame:
    """Personalized PageRank (Haveliwala WWW'02) in the same integer
    pico-unit arithmetic as :func:`pagerank_pico`: the teleport mass
    returns ONLY to the seed set instead of spreading uniformly, so
    ranks measure proximity TO THE SEEDS — the similar-entities /
    recommendation primitive ("users like these three"). Differences
    from the global variant: ``r0`` concentrates all mass on the seeds
    (``10^12 div |S|`` each), and each round's base term is
    ``(100-d)·10^12 div 100 div |S|`` for seeds, 0 elsewhere. Every
    step stays BIGINT floor-division — bit-identical across engines
    and partition orders, unrollable by a SQL oracle.

    Plan shape per round is identical to pagerank_pico (edge ⋈ rank on
    src → sum by dst → left join node set); the seed relation is
    structurally small and broadcasts into the base-term join.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    s = F.broadcast(
        seeds.select(F.col(seed_col).alias("id")).distinct().withColumn(
            "_seed", F.lit(1)
        )
    )
    ns_rel = F.broadcast(s.agg(F.count("*").cast("long").alias("ns")))
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    base_pct = 100 - damping_pct
    flagged = nodes.join(s, on="id", how="left")
    ranks = flagged.crossJoin(ns_rel).select(
        "id",
        F.expr(
            "CASE WHEN _seed IS NOT NULL"
            " THEN CAST(1000000000000 AS BIGINT) div ns"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("pico"),
    )
    ranks = materialize(ranks)
    for _ in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("id", "src"), on="src")
            .join(deg, on="src")
            .select(
                F.col("dst").alias("id"),
                F.expr("pico div outdeg").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        ranks = (
            flagged.join(contrib, on="id", how="left")
            .crossJoin(ns_rel)
            .select(
                "id",
                F.expr(
                    f"CASE WHEN _seed IS NOT NULL THEN"
                    f" (CAST({base_pct} AS BIGINT) * 10000000000) div ns"
                    f" ELSE CAST(0 AS BIGINT) END"
                    f" + (CAST({damping_pct} AS BIGINT)"
                    f" * COALESCE(s, CAST(0 AS BIGINT))) div 100"
                ).alias("pico"),
            )
        )
        ranks = materialize(ranks)
    return ranks.select(
        F.col("id").alias("node"), F.col("pico").alias("rank_pico")
    )
