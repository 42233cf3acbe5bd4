"""TPC-H-shaped anchor queries over the driver star schema.

These are the bench headliners: classic scan-heavy aggregate, selective
join, and top-k shapes whose plans must show pushed filters, pruned columns,
broadcast dims, and partial aggregation (checked in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from job_crawler_spark.functions.compat import stable_round, stable_round_sql


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide scan, selective date filter, 4-group hash agg.
    Whole plan is one scan + partial/final agg — zero joins, one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            stable_round(F.sum("l_quantity"), 2).alias("sum_qty"),
            stable_round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            stable_round(F.sum(disc_price), 2).alias("sum_disc_price"),
            stable_round(F.sum(charge), 2).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q_PRICING_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           {stable_round_sql("SUM(l_quantity)", 2)} AS sum_qty,
           {stable_round_sql("SUM(l_extendedprice)", 2)} AS sum_base_price,
           {stable_round_sql("SUM(l_extendedprice * (1 - l_discount))", 2)}
               AS sum_disc_price,
           {stable_round_sql(
               "SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))", 2)}
               AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (broadcast customer dim), filtered on both
    sides, revenue agg, top-10. AQE picks broadcast for customer; lineitem
    never shuffles more than once."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            stable_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q_TOP_REVENUE_SQL = f"""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           {stable_round_sql("SUM(l_extendedprice * (1 - l_discount))", 2)}
               AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: snowflake join through two broadcast dims + regional agg."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            stable_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


Q_NATION_REVENUE_SQL = f"""
    SELECT r_name, n_name,
           {stable_round_sql("SUM(l_extendedprice * (1 - l_discount))", 2)}
               AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name ORDER BY r_name, n_name
"""


def q_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE + GROUPING() — the full grouping lattice, here the per-status,
    per-priority and cross-slice totals. Spark's Expand operator fans each
    row into its grouping sets before one hash-agg shuffle, so the 4
    grouping sets cost a 4x map-side fan-out, never 4 scans.
    grouping_id() is emitted so NULL-as-subtotal rows are
    distinguishable from NULL data values — both engines use the
    SQL-standard bit encoding (first grouping column = most significant
    bit), which the oracle's native GROUPING() call cross-checks."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            stable_round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.grouping_id().alias("gid"),
        )
        .orderBy(
            F.col("gid").asc(),
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


Q_STATUS_CUBE_SQL = f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           {stable_round_sql("SUM(o_totalprice)", 2)} AS total_price,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST,
             o_orderpriority ASC NULLS FIRST
"""


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance similarity self-join over the distinct part
    names: every unordered name pair within levenshtein distance 2, with
    each name's part count — character-level fuzzy matching (typo'd /
    template-drifted names), the class the token-set dedup family
    (MinHash/SimHash/word-shingle Jaccard) cannot express.

    Built on :func:`editdist_join` (q-gram prefix filter, Ed-Join shape —
    see operators/editdist.py for the scale analysis): the only
    corpus-sized shuffles are the signature build, the signature-bucket
    equi-join, and the pair distinct — never a cartesian or nested-loop
    join (plan-pinned). The oracle is the naive quadratic join, fine at
    gate scale, so any pair the prefix filter missed (or invented) is a
    hash mismatch."""
    from job_crawler_spark.operators.editdist import editdist_join

    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count("*").alias("n_parts"))
    pairs = editdist_join(names, "p_name", max_dist=2)
    out = (
        pairs.join(
            names.select(
                F.col("p_name").alias("p_name_a"),
                F.col("n_parts").alias("n_parts_a"),
            ),
            "p_name_a",
        )
        .join(
            names.select(
                F.col("p_name").alias("p_name_b"),
                F.col("n_parts").alias("n_parts_b"),
            ),
            "p_name_b",
        )
        .select(
            F.col("p_name_a").alias("name_a"),
            F.col("p_name_b").alias("name_b"),
            F.col("dist").cast("long").alias("dist"),
            "n_parts_a",
            "n_parts_b",
        )
        .orderBy("name_a", "name_b")
    )
    out._graft_checkpoints = getattr(pairs, "_graft_checkpoints", [])
    return out


Q_FUZZY_NAME_PAIRS_SQL = """
WITH names AS (
    SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a,
       b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist,
       a.n_parts AS n_parts_a,
       b.n_parts AS n_parts_b
FROM names a
JOIN names b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY name_a, name_b
"""


QUERIES = {
    "tpch_pricing_summary": q_pricing_summary,
    "tpch_top_revenue_orders": q_top_revenue_orders,
    "tpch_nation_revenue": q_nation_revenue,
    "tpch_status_cube": q_status_cube,
    "fuzzy_name_pairs": q_fuzzy_name_pairs,
}

ORACLES = {
    "tpch_pricing_summary": Q_PRICING_SQL,
    "tpch_top_revenue_orders": Q_TOP_REVENUE_SQL,
    "tpch_nation_revenue": Q_NATION_REVENUE_SQL,
    "tpch_status_cube": Q_STATUS_CUBE_SQL,
    "fuzzy_name_pairs": Q_FUZZY_NAME_PAIRS_SQL,
}
