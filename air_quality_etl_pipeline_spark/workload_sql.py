"""TPC-H analog completion (round 3): the seven query shapes missing
from the ``sql_*`` suite — nation-pair volume shipping (Q7), product
profit (Q9), important-parts value share (Q11), late-shipment priority
mix (Q12), potential part promotion (Q20), waiting suppliers (Q21),
and dormant-customer opportunity (Q22).

The driver's synthetic star schema omits ``partsupp`` and the ship/
commit/receipt date triple, so the Q9/Q11/Q20/Q21 analogs substitute
semantically equivalent structures over ``lineitem``: supply cost →
``p_retailprice · l_quantity`` at a fixed margin, stock value →
shipped lineitem value, and "late" → shipped more than N days after
the order date. The SHAPES (multi-way joins, scalar subqueries,
EXISTS / NOT EXISTS correlation, HAVING over decimal-exact sums) are
the point — they exercise exactly the planner paths the real queries
do.

Float determinism policy (same as workload_analytics): money math
rides DECIMAL(18,2) sums (order-independent, exact) and is cast to
DOUBLE only at the end; date arithmetic uses explicit DATE casts on
both engines; counts and years are cast to the same physical types on
both sides so the driver's value hash sees identical cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from air_quality_etl_pipeline_spark.oracle_fragments import _REV
from air_quality_etl_pipeline_spark.workload import _sql_views, register


@register(
    "sql_volume_shipping",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(CAST(o.o_orderdate AS DATE)) AS INTEGER) AS o_year,
           {_REV} AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q_sql_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): trade revenue between a pair
    of nations by year, in both directions. Five-way star join — the
    two nation copies broadcast (self-aliased), supplier/customer hash
    on their keys, and the direction disjunction stays a post-join
    filter over broadcast columns so both big joins remain equi.
    At 100 TB the orders⋈lineitem join shuffles once on the order key
    and everything else is broadcast — the same shape as
    ``star_join_wide``."""
    _sql_views(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    return spark.sql(
        f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
               {_REV} AS revenue
        FROM lineitem_v l
        JOIN orders_v o    ON l.l_orderkey = o.o_orderkey
        JOIN customer_v c  ON o.o_custkey = c.c_custkey
        JOIN supplier_v s  ON l.l_suppkey = s.s_suppkey
        JOIN nation_v cn   ON c.c_nationkey = cn.n_nationkey
        JOIN nation_v sn   ON s.s_nationkey = sn.n_nationkey
        WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
          AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
        GROUP BY 1, 2, 3
        """
    )


#: decimal-exact profit: revenue minus a 10% retail-price cost per unit.
#: 0.10 is exactly representable in DECIMAL, so the product chain stays
#: exact until the final DOUBLE cast.
_PROFIT = (
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    " - CAST(p_retailprice AS DECIMAL(18,2))"
    " * CAST(0.10 AS DECIMAL(18,2))"
    " * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
)


@register(
    "sql_product_profit",
    f"""
    SELECT n.n_name AS nation,
           CAST(year(CAST(o.o_orderdate AS DATE)) AS INTEGER) AS o_year,
           {_PROFIT} AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%5%'
    GROUP BY 1, 2
    """,
)
def q_sql_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit by supplier nation
    and order year for parts matching a name pattern. The synthetic
    schema has no ``partsupp``, so supply cost is modeled as 10% of
    retail price per unit (reference cost column: ``ps_supplycost``);
    the SHAPE — a five-way join with a LIKE-filtered dimension and a
    subtraction inside the aggregate — is Q9's. The part filter prunes
    before the join (pushed to the parquet scan); nation broadcasts."""
    _sql_views(
        spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation"
    )
    return spark.sql(
        f"""
        SELECT n.n_name AS nation,
               CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
               {_PROFIT} AS profit
        FROM lineitem_v l
        JOIN part_v p     ON l.l_partkey = p.p_partkey
        JOIN supplier_v s ON l.l_suppkey = s.s_suppkey
        JOIN orders_v o   ON l.l_orderkey = o.o_orderkey
        JOIN nation_v n   ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%5%'
        GROUP BY 1, 2
        """
    )


@register(
    "sql_important_parts",
    """
    WITH pv AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
      FROM lineitem GROUP BY 1
    )
    SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
    FROM pv
    WHERE val > (SELECT sum(val) * 0.001 FROM pv)
    """,
)
def q_sql_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose shipped value
    exceeds a fixed fraction of TOTAL shipped value — a scalar subquery
    over the same aggregate CTE. Spark evaluates the scalar side as a
    one-row broadcast (no second scan of lineitem: the CTE aggregate is
    reused); the threshold comparison runs on exact DECIMAL on both
    engines so the cut line cannot drift. At scale: one shuffle for the
    groupBy, one scalar broadcast — Q11's plan minus ``partsupp``."""
    _sql_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        WITH pv AS (
          SELECT l_partkey,
                 sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
          FROM lineitem_v GROUP BY 1
        )
        SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
        FROM pv
        WHERE val > (SELECT sum(val) * 0.001 FROM pv)
        """
    )


@register(
    "sql_late_shipments",
    """
    SELECT o.o_orderstatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE CAST(l.l_shipdate AS DATE)
            > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
      AND CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY 1
    """,
)
def q_sql_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority mix): for lines shipped
    late (>90 days after order placement — the schema has no commit/
    receipt dates, ``o_orderstatus`` stands in for ``l_shipmode``),
    count high- vs low-priority orders. Conditional aggregation over a
    single equi join; the date-window predicate is pushed to the
    lineitem scan, the lateness predicate evaluates post-join."""
    _sql_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o.o_orderstatus,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority
                                  NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders_v o JOIN lineitem_v l ON o.o_orderkey = l.l_orderkey
        WHERE CAST(l.l_shipdate AS DATE)
                > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
          AND CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
        GROUP BY 1
        """
    )


@register(
    "sql_potential_promotion",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_type = 'PROMO'
        AND CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
      GROUP BY 1
      HAVING sum(CAST(l.l_quantity AS DECIMAL(18,2))) > 50
    )
    ORDER BY s.s_suppkey
    """,
)
def q_sql_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who moved
    a significant volume of PROMO parts in a year — an IN-subquery
    (planned as a left-semi hash join) whose inner side is itself a
    join + HAVING aggregate. The decimal-exact HAVING threshold keeps
    the supplier set identical on both engines. At scale the inner
    aggregate shuffles on ``l_suppkey`` and the semi join broadcasts
    the (small) qualifying-supplier set."""
    _sql_views(spark, sf_dir, "supplier", "lineitem", "part")
    return spark.sql(
        """
        SELECT s.s_suppkey, s.s_name
        FROM supplier_v s
        WHERE s.s_suppkey IN (
          SELECT l.l_suppkey
          FROM lineitem_v l JOIN part_v p ON l.l_partkey = p.p_partkey
          WHERE p.p_type = 'PROMO'
            AND CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
            AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
          GROUP BY 1
          HAVING sum(CAST(l.l_quantity AS DECIMAL(18,2))) > 50
        )
        ORDER BY s.s_suppkey
        """
    )


@register(
    "sql_waiting_suppliers",
    """
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND CAST(l.l_shipdate AS DATE)
              > CAST(o.o_orderdate AS DATE) + INTERVAL 120 DAY
      GROUP BY 1, 2
    ),
    allsupp AS (
      SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY 1, 2
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late t
    JOIN supplier s ON t.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM allsupp a
                  WHERE a.l_orderkey = t.l_orderkey
                    AND a.l_suppkey <> t.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late x
                      WHERE x.l_orderkey = t.l_orderkey
                        AND x.l_suppkey <> t.l_suppkey)
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)
def q_sql_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finalized orders, suppliers who were the ONLY late supplier on a
    multi-supplier order — the classic EXISTS + NOT EXISTS correlated
    pair, planned as a left-semi then left-anti join on the order key.
    "Late" is shipped >120 days after placement (no receipt/commit
    dates in the synthetic schema). Both correlations join on
    ``l_orderkey`` so they ride the same hash partitioning; the
    supplier dimension broadcasts."""
    _sql_views(spark, sf_dir, "lineitem", "orders", "supplier")
    return spark.sql(
        """
        WITH late AS (
          SELECT l.l_orderkey, l.l_suppkey
          FROM lineitem_v l JOIN orders_v o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderstatus = 'F'
            AND CAST(l.l_shipdate AS DATE)
                  > CAST(o.o_orderdate AS DATE) + INTERVAL 120 DAY
          GROUP BY 1, 2
        ),
        allsupp AS (
          SELECT l_orderkey, l_suppkey FROM lineitem_v GROUP BY 1, 2
        )
        SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM late t
        JOIN supplier_v s ON t.l_suppkey = s.s_suppkey
        WHERE EXISTS (SELECT 1 FROM allsupp a
                      WHERE a.l_orderkey = t.l_orderkey
                        AND a.l_suppkey <> t.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late x
                          WHERE x.l_orderkey = t.l_orderkey
                            AND x.l_suppkey <> t.l_suppkey)
        GROUP BY 1
        ORDER BY numwait DESC, s_name
        LIMIT 25
        """
    )


@register(
    "sql_sales_opportunity",
    """
    WITH pos AS (
      SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
             count(*) AS n
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS totacctbal
    FROM customer c, pos
    WHERE CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE)
            > CAST(pos.s AS DOUBLE) / pos.n
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
)
def q_sql_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with an
    above-average positive balance who have NEVER ordered, grouped by
    nation. A scalar-average subquery (decimal-exact sum / count, one
    double division — identical on both engines) plus a NOT EXISTS
    anti join against orders. At scale: customer anti-joins orders on
    the customer key (one shuffle); the scalar broadcasts. The balance
    is quantized to DECIMAL(18,2) before the > comparison so the cut
    is engine-independent even at the boundary."""
    _sql_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        WITH pos AS (
          SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
                 count(*) AS n
          FROM customer_v WHERE c_acctbal > 0.0
        )
        SELECT c.c_nationkey,
               CAST(count(*) AS BIGINT) AS numcust,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS totacctbal
        FROM customer_v c, pos
        WHERE CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE)
                > CAST(pos.s AS DOUBLE) / pos.n
          AND NOT EXISTS (SELECT 1 FROM orders_v o
                          WHERE o.o_custkey = c.c_custkey)
        GROUP BY 1
        """
    )


@register(
    "sql_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24.0
    """,
)
def q_sql_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): one filtered sum
    over lineitem, no joins — the query that exists to prove range
    predicates reach the scan (shipdate year, discount band, quantity
    cap all pushable) and that the aggregate is a pure map-side
    partial. Revenue quantizes to DECIMAL(18,4) per line (price ×
    discount carries 4 decimal digits), so the sum is
    order-independent. Completes the 22-query TPC-H analog suite."""
    _sql_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT CAST(sum(CAST(l_extendedprice * l_discount
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem_v
        WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
          AND l_discount BETWEEN 0.03 AND 0.05
          AND l_quantity < 24.0
        """
    )


@register(
    "sql_lateral_topn",
    """
    SELECT c.o_custkey, l.o_orderkey,
           CAST(CAST(l.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             AS o_totalprice
    FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey < 100) c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.o_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) l
    """,
)
def q_sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 orders per customer): the
    SQL-standard per-row derived table, which Catalyst decorrelates
    into the same window/join plan a hand-written row_number query
    produces — the planner capability, not just the window function,
    is what this query pins. Both engines order ties identically
    (price desc, orderkey asc), so the LIMIT-2 cut is deterministic."""
    _sql_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT c.o_custkey, l.o_orderkey,
               CAST(CAST(l.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                 AS o_totalprice
        FROM (SELECT DISTINCT o_custkey FROM orders_v
              WHERE o_custkey < 100) c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders_v o
                 WHERE o.o_custkey = c.o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) l
        """
    )


#: shared recursive walk body — IDENTICAL SQL text runs on Spark 4
#: (native WITH RECURSIVE) and DuckDB; the co-purchase edge ordering
#: (part_a < part_b) makes the graph a DAG and the depth guard bounds
#: the walk, so UNION ALL recursion terminates on both engines.
_RECURSIVE_WALK_SQL = """
    WITH RECURSIVE d AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM {lineitem}),
    pp AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
           FROM d a JOIN d b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey),
    edges AS (SELECT part_a, part_b FROM pp
              GROUP BY 1, 2 HAVING count(*) >= 2),
    seeds AS (SELECT part_a AS node FROM edges
              GROUP BY 1 ORDER BY node ASC LIMIT 3),
    walk(node, depth) AS (
      SELECT node, 0 FROM seeds
      UNION ALL
      SELECT e.part_b, w.depth + 1
      FROM walk w JOIN edges e ON e.part_a = w.node
      WHERE w.depth < 3)
    SELECT node, CAST(count(*) AS BIGINT) AS n_walks,
           CAST(min(depth) AS BIGINT) AS min_depth
    FROM walk GROUP BY node
"""


@register(
    "sql_recursive_paths",
    _RECURSIVE_WALK_SQL.format(lineitem="lineitem"),
)
def q_sql_recursive_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (new in Spark 4): bounded forward walks
    over the co-purchase DAG from 3 seed parts — per reachable node,
    the number of distinct ≤3-step walks (path multiplicity, which the
    hand-unrolled BFS query deliberately does NOT compute) and the
    shortest depth. The SAME query text runs on both engines — the
    recursion itself is the capability under test; the edge ordering
    plus the depth guard give UNION ALL recursion a termination proof
    (Spark does not yet support UNION-distinct recursion)."""
    _sql_views(spark, sf_dir, "lineitem")
    return spark.sql(_RECURSIVE_WALK_SQL.format(lineitem="lineitem_v"))
