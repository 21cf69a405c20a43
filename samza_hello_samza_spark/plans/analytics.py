"""Headline analytics queries (TPC-H-shaped, adapted to driver schema).

These exercise the engine the way the reference's Samza SQL surface
would be used for analytics at scale, and are the bench.py headliners.
Every plan is declarative DataFrame API: filters reach the parquet
scan (PushedFilters), dims broadcast, aggregates get map-side partial
aggregation, and AQE picks final partitioning at runtime.

Column aliases match the DuckDB oracles exactly; money aggregates are
rounded to 2dp on both sides so double summation order can't flip the
value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: pricing summary report. Pure scan + partial agg."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter → 3-way join → agg → top-10.

    customer is broadcast (small dim); orders⋈lineitem shuffles on
    o_orderkey only. Date filters push to both scans. Revenue is summed
    as DECIMAL(15,2) money, TPC-H's own type, so an order whose exact
    sum ends on a half cent rounds up in both engines; a double sum
    lands on either side of the half (390294.77499999997 for one such
    order) and the engines round it differently.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(15,2)")
                    * (1 - F.col("l_discount").cast("decimal(15,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "revenue",
        )
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join, revenue per nation.

    All dims (region→nation→customer/supplier) broadcast; only
    orders⋈lineitem moves data. The c_nationkey = s_nationkey
    condition is the classic same-nation constraint.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            maybe_broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: highly selective filter + single sum — pushdown showcase."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Samza-SQL-groupby-style rollup over a join: revenue by part type/brand."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order counts by priority for orders with a return.

    The EXISTS subquery becomes a *left-semi* join — lineitem never
    widens the orders rows, and Spark's semi-join stops probing a key
    after the first match. At scale both sides shuffle on orderkey
    once; no dedup pass is needed (semi-join dedups by construction).
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation after a fact-fact join.

    high/low counts are CASE-WHEN folds inside one aggregate pass —
    one shuffle total, no per-branch scans.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — ratio of conditional sums.

    part broadcasts; numerator and denominator fold in a single agg so
    the lineitem scan happens once.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0))
                / F.sum(disc_price),
                6,
            ).alias("promo_revenue_pct")
        )
    )


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier variety per part group, minus bad suppliers.

    No partsupp table in this schema — lineitem is the part↔supplier
    link. Negative-balance suppliers are removed with a *left-anti*
    broadcast join (the NOT IN subquery), then count-distinct runs on
    the already-narrowed (partkey, suppkey) projection. At 100 TB the
    distinct is a partial-agg-friendly two-phase plan, not a global set.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#15") & (F.col("p_size").isin(1, 9, 19, 29, 39, 49))
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(maybe_broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a threshold.

    The HAVING subquery is an aggregate→filter→join: lineitem collapses
    to per-order totals *first* (map-side partial sums), and only the
    surviving keys join orders/customer. customer broadcasts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate over a broadcast join.

    Catalyst extracts the common `l_quantity <= 36` bound and pushes it
    to the lineitem scan even though the full predicate is disjunctive;
    the per-brand clauses evaluate post-join in one codegen stage.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(26, 36)
        )
    )
    return j.filter(clause).agg(
        F.coalesce(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2),
            F.lit(0.0),
        ).alias("revenue")
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers who never ordered.

    The scalar AVG subquery is a 1-row broadcast cross join (computed
    once, shipped to every task); the NOT EXISTS is a left-anti join
    against the urgent-order keys (the priority filter pushes to the
    orders scan before the anti-join shuffles anything). Grouping by
    nation plays the cntrycode role in this reduced schema.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part (argmin per group).

    No partsupp in this schema — per-(part, supplier) unit price comes
    from lineitem. The argmin is a row_number window *partitioned by
    part* (every partition ranks independently; no global sort), with
    a deterministic (cost, suppkey) tiebreak.
    """
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    unit = (
        li.withColumn(
            "unit_price", F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_price").alias("min_unit_price"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey").orderBy("min_unit_price", "l_suppkey")
    best = (
        unit.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(maybe_broadcast(part), best.l_partkey == part.p_partkey)
        .select(
            "p_partkey",
            "p_brand",
            F.col("l_suppkey").alias("best_suppkey"),
            "min_unit_price",
        )
    )


def events_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users — exact distinct count per day."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(F.count_distinct("user_id").alias("dau"))
    )


def events_dau_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users via HyperLogLog++ (rows-only check).

    At 100 TB exact count-distinct shuffles every (day, user) pair;
    the HLL sketch combines map-side into ~KB per day — the scale
    path. rsd=0.5% keeps it within a few percent of exact (asserted
    against `events_dau` in tests).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(F.approx_count_distinct("user_id", rsd=0.005).alias("dau"))
    )


ORACLES: dict[str, str] = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey,
               CAST(o_orderdate AS VARCHAR) AS o_orderdate,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                              * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2)
                    AS DOUBLE) AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < DATE '1998-01-01'
          AND l_shipdate > DATE '1997-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "q5_local_supplier": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1998-01-01'
        GROUP BY n_name
    """,
    "q6_forecast_revenue": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1997-01-01'
          AND l_shipdate < DATE '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate >= DATE '1996-10-01'
          AND o_orderdate < DATE '1997-01-01'
          AND l_returnflag = 'R'
          AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "part_type_stats": """
        SELECT p_type, p_brand,
               count(*) AS n_items,
               round(sum(l_extendedprice), 2) AS total_price,
               round(avg(l_quantity), 6) AS avg_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_type, p_brand
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= DATE '1996-07-01'
          AND o_orderdate < DATE '1996-10-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
          )
        GROUP BY o_orderpriority
    """,
    "q12_priority_lines": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= DATE '1997-01-01'
          AND l_shipdate < DATE '1998-01-01'
        GROUP BY l_linestatus
    """,
    "q14_promo_revenue": """
        SELECT round(
                 100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1997-03-01'
          AND l_shipdate < DATE '1997-04-01'
    """,
    "q16_supplier_variety": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#15'
          AND p_size IN (1, 9, 19, 29, 39, 49)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
    """,
    "q18_large_volume": """
        SELECT c_name, c_custkey, o_orderkey,
               CAST(o_orderdate AS VARCHAR) AS o_orderdate,
               o_totalprice, total_qty
        FROM (
          SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
        ) big
        JOIN orders ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
    "q19_disjunctive_revenue": """
        SELECT coalesce(round(sum(l_extendedprice * (1 - l_discount)), 2), 0.0) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 26 AND 36)
    """,
    "q22_idle_customers": """
        SELECT c_nationkey,
               count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
          )
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
          )
        GROUP BY c_nationkey
    """,
    "q2_min_cost_supplier": """
        WITH unit AS (
            SELECT l_partkey, l_suppkey,
                   min(round(l_extendedprice / l_quantity, 6)) AS min_unit_price
            FROM lineitem
            GROUP BY l_partkey, l_suppkey
        ),
        ranked AS (
            SELECT l_partkey, l_suppkey, min_unit_price,
                   row_number() OVER (PARTITION BY l_partkey
                                      ORDER BY min_unit_price, l_suppkey) AS rn
            FROM unit
        )
        SELECT p_partkey, p_brand,
               l_suppkey AS best_suppkey,
               min_unit_price
        FROM ranked JOIN part ON l_partkey = p_partkey
        WHERE rn = 1 AND p_type = 'PROMO'
    """,
    "events_dau": """
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               count(DISTINCT user_id) AS dau
        FROM events
        GROUP BY 1
    """,
}

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "part_type_stats": part_type_stats,
    "q4_order_priority": q4_order_priority,
    "q12_priority_lines": q12_priority_lines,
    "q14_promo_revenue": q14_promo_revenue,
    "q16_supplier_variety": q16_supplier_variety,
    "q18_large_volume": q18_large_volume,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q22_idle_customers": q22_idle_customers,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "events_dau": events_dau,
    "events_dau_approx": events_dau_approx,
}
