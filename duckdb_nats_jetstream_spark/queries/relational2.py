"""TPC-H-adapted relational shapes, batch 2 — fills the classic query
patterns not yet in ``relational.py``: conditional revenue ratio (Q14),
OR'd nation-pair volume shipping (Q7), multi-way join profit rollup (Q9),
returned-items top-k (Q10), CASE priority counts (Q12), correlated EXISTS
(Q4), NOT-IN + COUNT DISTINCT supplier diversity (Q16), scalar-threshold
HAVING (Q11), and nested grouped-HAVING IN (Q20).

The driver's tables have no ``partsupp`` and lineitem carries no
shipmode/commitdate/receiptdate, so each query keeps the *shape* (join
topology, subquery class, aggregation pattern) on the columns that exist.

Scale notes (written for 1000 executors, tested on local[32]): part /
supplier / nation are broadcast — the lineitem side never shuffles for
them; the only data-proportional shuffles are lineitem↔orders equi-joins
on l_orderkey and the final small-key aggregations. Correlated EXISTS /
IN subqueries are expressed as semi joins (Spark's decorrelation), never
per-row lookups.

Float discipline: every money aggregate uses the decimal-exact helpers
from ``functions.exact`` so values hash-match the DuckDB oracle bit-for-bit
(reference exercises these classes through its host engine — SURVEY.md
§2.B; e.g. SUM(CASE WHEN ...) at reference test/sql/test_subject_filtering.sql:209-218).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from duckdb_nats_jetstream_spark import materialize
from duckdb_nats_jetstream_spark.functions.exact import (
    DEC,
    NET_PRICE_SQL,
    decsum,
    dsum,
    net_price,
)
from duckdb_nats_jetstream_spark.operators.broadcast_guard import sized_broadcast
from duckdb_nats_jetstream_spark.tables import read_table


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-revenue ratio over a broadcast part join.

    One row out; the lineitem scan is filter-pruned to one year and the
    aggregation is a total (partial agg on every partition, single final)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01"))
        & (F.col("l_shipdate") < F.lit("1999-01-01"))
    )
    part = read_table(spark, sf_dir, "part")
    net = net_price()
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        (
            F.lit(100).cast("double")
            * F.sum(F.when(F.col("p_type") == "PROMO", net)).cast("double")
            / F.sum(net).cast("double")
        ).alias("promo_pct"),
        decsum(F.when(F.col("p_type") == "PROMO", net), "promo_revenue"),
        decsum(net, "total_revenue"),
    )


PROMO_REVENUE_SQL = f"""
SELECT CAST(100 AS DOUBLE)
         * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {NET_PRICE_SQL} END) AS DOUBLE)
         / CAST(sum({NET_PRICE_SQL}) AS DOUBLE) AS promo_pct,
       CAST(sum(CASE WHEN p_type = 'PROMO' THEN {NET_PRICE_SQL} END) AS DOUBLE)
         AS promo_revenue,
       CAST(sum({NET_PRICE_SQL}) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
"""


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-nation pair trade volume with an OR'd pair
    predicate, grouped by (supp_nation, cust_nation, year).

    supplier⋈nation and customer⋈nation are broadcast maps; the only big
    shuffle is lineitem⋈orders on l_orderkey."""
    nation = read_table(spark, sf_dir, "nation")
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(F.lit("1996-01-01"), F.lit("1997-12-31"))
    )
    orders = read_table(spark, sf_dir, "orders")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(decsum(net_price(), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


VOLUME_SHIPPING_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           {NET_PRICE_SQL} AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1997-12-31 00:00:00'
      AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (sans partsupp): product-line profit by supplier
    nation and order year, part-name LIKE prefilter.

    part and supplier⋈nation broadcast; lineitem⋈orders shuffles once."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    nation = read_table(spark, sf_dir, "nation")
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(decsum(net_price(), "sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


PROFIT_SQL = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(sum({NET_PRICE_SQL}) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


def returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in one
    quarter. Group-by carries the customer attributes; TakeOrderedAndProject
    for the top-k (no global sort)."""
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-04-01"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(decsum(net_price(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


RETURNED_ITEMS_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(sum({NET_PRICE_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-04-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: CASE-split priority counts after an orders⋈lineitem
    join (shipmode column doesn't exist; l_returnflag plays its role)."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_linestatus") == "F")
    orders = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


PRIORITY_SHIPPING_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_linestatus = 'F'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi join. The semi join's
    correlation carries a non-key predicate (l_shipdate > o_orderdate), so
    Catalyst plans a semi hash join on l_orderkey with a residual condition
    — no per-row subquery execution."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-07-01"))
        & (F.col("o_orderdate") < F.lit("1998-10-01"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_EXISTS_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-10-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_returnflag = 'R'
        AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem as the part↔supplier bridge): COUNT
    DISTINCT suppliers per (p_brand, p_type) excluding a NOT-IN supplier
    set. The exclusion is a broadcast anti join; COUNT DISTINCT shuffles
    (brand, type, suppkey) once — Spark's two-phase distinct aggregate."""
    bad = read_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), F.col("p_brand"), F.col("p_type"))
    )


SUPPLIER_DIVERSITY_SQL = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
ORDER BY supplier_cnt DESC, p_brand, p_type
"""


def nation_balance_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-nation customer balance HAVING > fraction of the
    global total (scalar subquery → broadcast of one row). Both engines
    compute the same decimal sums and the same two IEEE ops (mul, compare),
    so the threshold cut is bit-identical."""
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    per_nation = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("c_acctbal", "balance"))
    )
    total = cust.agg(dsum("c_acctbal", "global_balance"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        .filter(F.col("balance") > F.lit(0.02).cast("double") * F.col("global_balance"))
        .select("n_name", "balance")
        .orderBy(F.col("balance").desc(), F.col("n_name"))
    )


NATION_BALANCE_SHARE_SQL = """
SELECT n_name,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > 0
GROUP BY n_name
HAVING CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) >
       CAST(0.02 AS DOUBLE) * (
           SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           FROM customer WHERE c_acctbal > 0
       )
ORDER BY balance DESC, n_name
"""


def excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose shipped widget volume exceeds 1.2×
    the average per-supplier volume — a grouped-HAVING subquery feeding an
    IN (semi join), with the threshold itself a nested scalar aggregate."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = read_table(spark, sf_dir, "lineitem")
    # per_supp feeds BOTH the threshold scalar and the qualifying filter.
    # Left lazy, Catalyst plans the lineitem⋈part aggregate twice (the
    # threshold branch and the qualifying branch each re-scan lineitem —
    # a double scan of the largest fact table at 100 TB). Materialize it
    # ONCE (a lazy checkpoint; the guard below is the materializing action),
    # then route the relation that actually joins supplier — qualifying,
    # supplier-cardinality = group-cardinality shaped — through the
    # runtime-sized guard: broadcast hint iff the realized count is safe,
    # spill-safe merge otherwise. (A hint on per_supp itself would not
    # propagate through the crossJoin/filter derivation to the semi join.)
    per_supp = materialize.checkpoint(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity", "qty")),
        eager=False,
    )
    threshold = per_supp.agg(
        (F.lit(1.2).cast("double") * F.avg("qty")).alias("cut")
    )
    # identity materializer: qualifying is a cheap filter over the
    # checkpoint, so the guard's count() both realizes per_supp's
    # checkpoint AND sizes the join side — no second checkpoint job
    qualifying = sized_broadcast(
        per_supp.crossJoin(F.broadcast(threshold))
        .filter(F.col("qty") > F.col("cut"))
        .select("l_suppkey"),
        materializer=lambda d: d,
    )
    supp = read_table(spark, sf_dir, "supplier")
    return (
        supp.join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


EXCESS_VOLUME_SQL = """
WITH per_supp AS (
    SELECT l_suppkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%widget%'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM per_supp
    WHERE qty > CAST(1.2 AS DOUBLE) * (SELECT avg(qty) FROM per_supp)
)
ORDER BY s_suppkey
"""


def cube_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (segment, nation): all four grouping combinations in one
    pass (Catalyst plans a single Expand + hash aggregate — the table is
    scanned once, not 4×). GROUPING flags disambiguate subtotal rows."""
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return (
        cust.cube("c_mktsegment", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_balance"),
            F.grouping("c_mktsegment").cast("int").alias("g_seg"),
            F.grouping("n_name").cast("int").alias("g_nat"),
        )
        .orderBy("g_seg", "g_nat", "c_mktsegment", "n_name")
    )


CUBE_SQL = """
SELECT c_mktsegment, n_name,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance,
       CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
       CAST(GROUPING(n_name) AS INTEGER) AS g_nat
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (c_mktsegment, n_name)
ORDER BY g_seg, g_nat, c_mktsegment, n_name
"""


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier offering the
    minimum unit cost (correlated-MIN subquery in the textbook form).

    Spark-first rewrite: unit costs aggregate to (part, supplier) grain
    once, then a per-part window rank picks the cheapest supplier — the
    correlated subquery becomes one shuffle + one window over already-
    aggregated rows instead of a rescan per part. Unit cost is decimal-
    exact cents so min/rank ties are deterministic cross-engine; the
    oracle runs the textbook correlated-subquery formulation, so parity
    proves the rewrite."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    )
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    # unit cost in exact cents: min over the part-supplier's line items of
    # round(100 * extendedprice / quantity) — integer thereafter
    unit_cents = F.round(
        F.col("l_extendedprice").cast("decimal(18,6)")
        * 100
        / F.col("l_quantity").cast("decimal(18,6)"),
        0,
    ).cast("long")
    cost = (
        li.join(F.broadcast(part.select("p_partkey", "p_name")),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg(F.min(unit_cents).alias("min_unit_cents"))
    )
    w = W.partitionBy("p_partkey").orderBy("min_unit_cents", "l_suppkey")
    best = (
        cost.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    return (
        best.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey", "p_name", "s_name",
            F.col("n_name").alias("supplier_nation"),
            "min_unit_cents",
        )
    )


MIN_COST_SUPPLIER_SQL = """
WITH costs AS (
  SELECT p_partkey, p_name, l_suppkey,
         min(CAST(round(CAST(l_extendedprice AS DECIMAL(18,6)) * 100
                        / CAST(l_quantity AS DECIMAL(18,6)), 0) AS BIGINT))
           AS min_unit_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size <= 10 AND p_type = 'STANDARD'
  GROUP BY p_partkey, p_name, l_suppkey
)
SELECT c.p_partkey, c.p_name, s_name, n_name AS supplier_nation,
       c.min_unit_cents
FROM costs c
JOIN supplier ON c.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE (c.min_unit_cents, c.l_suppkey) = (
  SELECT (min(c2.min_unit_cents), min(c2.l_suppkey)) FROM costs c2
  WHERE c2.p_partkey = c.p_partkey
    AND c2.min_unit_cents = (SELECT min(c3.min_unit_cents) FROM costs c3
                             WHERE c3.p_partkey = c.p_partkey)
)
"""


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the asymmetric subtotal combinations CUBE
    can't express without waste: (status, priority), (status), () but NOT
    (priority). Single Expand + one hash aggregate, one scan. SQL API
    (``GROUP BY GROUPING SETS`` has no DataFrame equivalent)."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio
FROM gs_orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""
    )


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


QUERIES = {
    "rel_grouping_sets": (grouping_sets_orders, GROUPING_SETS_SQL),
    "rel_min_cost_supplier": (min_cost_supplier, MIN_COST_SUPPLIER_SQL),
    "rel_cube_segment_nation": (cube_segment_nation, CUBE_SQL),
    "rel_promo_revenue": (promo_revenue, PROMO_REVENUE_SQL),
    "rel_volume_shipping": (volume_shipping, VOLUME_SHIPPING_SQL),
    "rel_profit_by_nation_year": (profit_by_nation_year, PROFIT_SQL),
    "rel_returned_items": (returned_items, RETURNED_ITEMS_SQL),
    "rel_priority_shipping": (priority_shipping, PRIORITY_SHIPPING_SQL),
    "rel_order_priority_exists": (order_priority_exists, ORDER_PRIORITY_EXISTS_SQL),
    "rel_supplier_diversity": (supplier_diversity, SUPPLIER_DIVERSITY_SQL),
    "rel_nation_balance_share": (nation_balance_share, NATION_BALANCE_SHARE_SQL),
    "rel_excess_volume_suppliers": (excess_volume_suppliers, EXCESS_VOLUME_SQL),
}
