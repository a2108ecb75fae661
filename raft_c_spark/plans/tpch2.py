"""Second batch of TPC-H-shaped analytics: semi/anti joins, HAVING
subqueries, conditional aggregation, top-k with joins — widening the
join-strategy surface the engine exercises (left_semi, broadcast
chains, re-aggregation joins). Adapted to the driver's slimmer
synthetic schema (no commitdate/shipmode columns)."""

from __future__ import annotations

from pyspark.sql import functions as F

from raft_c_spark.functions.exact import dec, sql_dec, sql_sum_expr
from raft_c_spark.plans.tpch import _SQL_DISC_PRICE, _disc_price
from raft_c_spark.sources.testdata import load_table


def q_priority_late_orders(spark, sf_dir):
    """Q4-shaped: per priority, count orders having at least one line
    shipped more than 90 days after the order date (EXISTS →
    left-semi join, no row duplication)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # orders is fact-sized — shuffle join, no broadcast hint (Catalyst
    # prunes orders to the two referenced columns)
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.date_add(F.col("o_orderdate").cast("date"), 90)
        )
        .select("l_orderkey")
    )
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def q_returned_item_customers(spark, sf_dir):
    """Q10-shaped: top-20 customers by revenue lost to returns
    (returnflag = 'R'), with their nation."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_promo_revenue_share(spark, sf_dir):
    """Q14-shaped: share of revenue from PROMO-type parts (conditional
    aggregation over a broadcast part join) — all-decimal so the ratio
    divides two exact doubles."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(
            F.lit(0).cast("decimal(14,4)")
        )
    ).cast("double")
    total = F.sum(_disc_price()).cast("double")
    return joined.agg(
        (F.lit(100.0) * promo / total).alias("promo_revenue_pct"),
        promo.alias("promo_revenue"),
        total.alias("total_revenue"),
    )


def q_large_volume_orders(spark, sf_dir):
    """Q18-shaped: orders whose total quantity exceeds 150, with the
    customer — aggregate, HAVING, then join back (re-aggregation +
    broadcast)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity", "9,2")).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150.0)
    )
    # `big` is |orders|-sized and orders is a fact table: both joins
    # shuffle on their keys; only the customer dimension is hinted
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("l_orderkey"))
    )


def q_brand_part_stats(spark, sf_dir):
    """Q16-flavored: per brand, distinct parts supplied + supplier
    count (multi-distinct aggregate), anti-joined against a brand
    exclusion."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


QUERIES = {
    "tpch_priority_late_orders": q_priority_late_orders,
    "tpch_returned_item_customers": q_returned_item_customers,
    "tpch_promo_revenue_share": q_promo_revenue_share,
    "tpch_large_volume_orders": q_large_volume_orders,
    "tpch_brand_part_stats": q_brand_part_stats,
}

ORACLES = {
    "tpch_priority_late_orders": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        )
        GROUP BY o_orderpriority
    """,
    "tpch_returned_item_customers": f"""
        SELECT c_custkey, c_name, n_name AS nation,
               {sql_sum_expr(_SQL_DISC_PRICE)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "tpch_promo_revenue_share": f"""
        SELECT 100.0 * promo / total AS promo_revenue_pct,
               promo AS promo_revenue,
               total AS total_revenue
        FROM (
            SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                                 THEN {_SQL_DISC_PRICE}
                                 ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
                       AS promo,
                   {sql_sum_expr(_SQL_DISC_PRICE)} AS total
            FROM lineitem JOIN part ON l_partkey = p_partkey
        )
    """,
    "tpch_large_volume_orders": f"""
        SELECT c_custkey, c_name, l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               total_qty
        FROM (
            SELECT l_orderkey,
                   CAST(SUM({sql_dec('l_quantity', '9,2')}) AS DOUBLE) AS total_qty
            FROM lineitem GROUP BY l_orderkey
        ) big
        JOIN orders ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE total_qty > 150.0
    """,
    "tpch_brand_part_stats": """
        SELECT p_brand,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_suppliers,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
        GROUP BY p_brand
    """,
}
