"""Relational core — scans, filters, joins, aggregations, set operations
and distinct aggregation over the TPC-H-shaped tables (SURVEY.md §2.2/2.5
analogues)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mit_spark.queries.core import register
from mit_spark.sources.docs_source import read_table


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_topk_revenue",
    """
    SELECT l.l_orderkey AS orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q3_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
            & (F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        )
        .groupBy(F.col("l_orderkey").alias("orderkey"), "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    # dimension tables are tiny: broadcast them (SURVEY.md §2.6 joins note)
    n = F.broadcast(read_table(spark, sf_dir, "nation"))
    r = F.broadcast(read_table(spark, sf_dir, "region"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "nation")
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analogue — the canonical scan-dominated query: every
    predicate (ship-date range, discount band, quantity cap) reaches the
    parquet scan as a pushed filter, the aggregation is a single map-side-
    combinable global sum, and the plan has ZERO shuffles beyond the final
    single-row exchange. The baseline shape for 'is the scan path clean'."""
    l = read_table(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@register(
    "q10_returned_items",
    """
    SELECT c.c_custkey AS custkey, n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1998-01-01'
    GROUP BY c.c_custkey, n.n_name
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analogue — lost-revenue ranking over returned items: the
    returnflag + order-date predicates push to both fact scans, the
    customer<-orders<-lineitem chain shuffles on its keys, the nation dim
    broadcasts, and the top-20 is a TakeOrdered over the aggregated
    (custkey, nation) rows — never a global sort of the join output."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    n = F.broadcast(read_table(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(F.col("c_custkey").alias("custkey"), F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "custkey")
        .limit(20)
    )


@register(
    "top_customer_per_nation",
    """
    SELECT nation, custkey, balance FROM (
      SELECT n.n_name AS nation, c.c_custkey AS custkey,
             round(c.c_acctbal, 2) AS balance,
             row_number() OVER (PARTITION BY n.n_name
                                ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ) WHERE rn <= 3
    ORDER BY nation, balance DESC, custkey
    """,
)
def top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    n = F.broadcast(read_table(spark, sf_dir, "nation"))
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_custkey").alias("custkey"),
            F.round("c_acctbal", 2).alias("balance"),
        )
        .orderBy("nation", F.desc("balance"), "custkey")
    )


@register(
    "orders_without_lineitems",
    """
    SELECT o.o_orderkey AS orderkey, o.o_orderstatus AS status
    FROM orders o ANTI JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ORDER BY orderkey
    """,
)
def orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join — the checkpoint-resume primitive (SURVEY.md §2.6)."""
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_anti")
        .select(F.col("o_orderkey").alias("orderkey"), F.col("o_orderstatus").alias("status"))
        .orderBy("orderkey")
    )


@register(
    "priority_orders_semi",
    """
    SELECT o.o_orderpriority AS priority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
)
def priority_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("priority")
    )


@register(
    "part_type_stats",
    """
    SELECT p_type AS type, count(*) AS n_parts,
           round(avg(p_retailprice), 4) AS avg_price,
           max(p_size) AS max_size
    FROM part
    GROUP BY p_type
    HAVING count(*) > 5
    ORDER BY type
    """,
)
def part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part")
    return (
        p.groupBy(F.col("p_type").alias("type"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
        .filter(F.col("n_parts") > 5)
        .orderBy("type")
    )


@register(
    "supplier_balance_rollup",
    """
    SELECT coalesce(CAST(s_nationkey AS VARCHAR), 'ALL') AS nationkey,
           round(sum(s_acctbal), 2) AS total_bal, count(*) AS n_supp
    FROM supplier
    GROUP BY ROLLUP (s_nationkey)
    ORDER BY nationkey
    """,
)
def supplier_balance_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = read_table(spark, sf_dir, "supplier")
    return (
        s.rollup("s_nationkey")
        .agg(F.round(F.sum("s_acctbal"), 2).alias("total_bal"), F.count(F.lit(1)).alias("n_supp"))
        .select(
            F.coalesce(F.col("s_nationkey").cast("string"), F.lit("ALL")).alias("nationkey"),
            "total_bal",
            "n_supp",
        )
        .orderBy("nationkey")
    )


@register(
    "repeat_customers_intersect",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    ORDER BY custkey
    """,
)
def repeat_customers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).select(
        F.col("o_custkey").alias("custkey")
    )
    late = o.filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")).select(
        F.col("o_custkey").alias("custkey")
    )
    return early.intersect(late).orderBy("custkey")


@register(
    "churned_customers_except",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    ORDER BY custkey
    """,
)
def churned_customers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).select(
        F.col("o_custkey").alias("custkey")
    )
    late = o.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")).select(
        F.col("o_custkey").alias("custkey")
    )
    # subtract == EXCEPT DISTINCT (exceptAll would be bag difference: a key
    # with more early orders than late orders would wrongly survive)
    return early.subtract(late).orderBy("custkey")


@register(
    "supplier_distinct_parts",
    """
    SELECT l_suppkey AS suppkey,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_items
    FROM lineitem GROUP BY l_suppkey
    HAVING count(DISTINCT l_partkey) >= 3
    ORDER BY suppkey
    """,
)
def supplier_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .filter(F.col("n_parts") >= 3)
        .orderBy("suppkey")
    )
