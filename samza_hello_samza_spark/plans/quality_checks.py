"""Data-quality / constraint-validation report over the warehouse.

The dbt-test / Deequ feature expressed as ONE Spark job: every
ingested table gets its nullability, range, uniqueness, and
referential-integrity checks evaluated in a single pass per table
(fused conditional aggregates — adding a check costs one more
aggregate expression, not another scan), plus anti-join RI probes
between fact and dimension tables. Output is the audit artifact: one
row per check with violation and total counts.

Scale design: per-table checks are 1-row conditional aggregates over
one scan (column-pruned to exactly the checked columns); uniqueness
is ``count(*) − count(distinct key)`` (two-phase distinct, no window);
RI violations are left-anti equi-joins (broadcast when the dim fits,
AQE otherwise). The final report is a union of 1-row frames —
driver-side literals assemble NOTHING; every count stays a Spark
aggregate until the single collect the caller does.

All outputs are integers — engine-exact by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import load_table, materialize


def _check_row(check: str, table: str, n_bad: F.Column, n_total: F.Column):
    return [
        F.lit(check).alias("check"),
        F.lit(table).alias("tbl"),
        n_bad.cast("long").alias("n_bad"),
        n_total.cast("long").alias("n_total"),
    ]


def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the standard check suite; one row per check.

    Checks: primary-key uniqueness (orders, part), NOT-NULL
    (events.user_id, documents.text), value ranges (o_totalprice > 0,
    l_quantity > 0, l_discount ∈ [0,1]), and referential integrity
    (orders→customer, lineitem→orders, lineitem→part).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    bad = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731

    o_agg = orders.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_pk"),
        bad(F.col("o_totalprice") <= 0).alias("bad_price"),
        bad(F.col("o_custkey").isNull()).alias("null_fk_cust"),
    )
    li_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        bad(F.col("l_quantity") <= 0).alias("bad_qty"),
        bad((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias("bad_disc"),
        bad(F.col("l_orderkey").isNull()).alias("null_fk_order"),
        bad(F.col("l_partkey").isNull()).alias("null_fk_part"),
    )
    p_agg = part.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("p_partkey")).alias("dup_pk"),
    )
    e_agg = ev.agg(
        F.count(F.lit(1)).alias("n"),
        bad(F.col("user_id").isNull()).alias("null_user"),
    )
    d_agg = docs.agg(
        F.count(F.lit(1)).alias("n"),
        bad(F.col("text").isNull() | (F.length("text") == 0)).alias("empty_text"),
    )
    ri_oc = orders.join(
        maybe_broadcast(cust), orders.o_custkey == cust.c_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("orphans"))
    ri_lo = li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").agg(
        F.count(F.lit(1)).alias("orphans")
    )
    ri_lp = li.join(
        maybe_broadcast(part), li.l_partkey == part.p_partkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("orphans"))

    # ONE 1-row stats relation: the per-table aggregates cross-joined
    # (each 1-row) and materialized ONCE. Pre-r11, every check row
    # re-evaluated its table's aggregate subtree (one SELECT per check
    # against the lazy agg → the plan audit showed 19 table scans for
    # 13 report rows: orders aggregated 4×, lineitem 6×). Now each
    # table is scanned exactly once for its aggregate + once per
    # anti-join probe it participates in — the "single pass per table"
    # the docstring always promised.
    def pfx(agg: DataFrame, p: str) -> DataFrame:
        return agg.select(*(F.col(c).alias(f"{p}_{c}") for c in agg.columns))

    stats = (
        pfx(o_agg, "o")
        .crossJoin(pfx(li_agg, "l"))
        .crossJoin(pfx(p_agg, "p"))
        .crossJoin(pfx(e_agg, "e"))
        .crossJoin(pfx(d_agg, "d"))
        .transform(materialize, "bounded")
    )

    def rows(specs: list[tuple[str, str, str, str]]) -> DataFrame:
        out = None
        for check, tbl, col, ncol in specs:
            r = stats.select(*_check_row(check, tbl, F.col(col), F.col(ncol)))
            out = r if out is None else out.unionByName(r)
        return out

    def ri_rows(anti: DataFrame, ncol: str, check: str, tbl: str) -> DataFrame:
        return anti.crossJoin(maybe_broadcast(stats.select(ncol))).select(
            *_check_row(check, tbl, F.col("orphans"), F.col(ncol))
        )

    report = (
        rows(
            [
                ("pk_unique", "orders", "o_dup_pk", "o_n"),
                ("totalprice_positive", "orders", "o_bad_price", "o_n"),
                ("custkey_not_null", "orders", "o_null_fk_cust", "o_n"),
                ("quantity_positive", "lineitem", "l_bad_qty", "l_n"),
                ("discount_in_range", "lineitem", "l_bad_disc", "l_n"),
                ("orderkey_not_null", "lineitem", "l_null_fk_order", "l_n"),
                ("partkey_not_null", "lineitem", "l_null_fk_part", "l_n"),
                ("pk_unique", "part", "p_dup_pk", "p_n"),
                ("user_id_not_null", "events", "e_null_user", "e_n"),
                ("text_not_empty", "documents", "d_empty_text", "d_n"),
            ]
        )
        .unionByName(ri_rows(ri_oc, "o_n", "fk_orders_customer", "orders"))
        .unionByName(ri_rows(ri_lo, "l_n", "fk_lineitem_orders", "lineitem"))
        .unionByName(ri_rows(ri_lp, "l_n", "fk_lineitem_part", "lineitem"))
    )
    return report.select(
        "check", "tbl", "n_bad", "n_total", (F.col("n_bad") == 0).cast("int").alias("passed")
    )


ORACLES: dict[str, str] = {
    "data_quality_report": """
        WITH o AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_pk,
                   CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
                   CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_fk_cust
            FROM orders
        ),
        l AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
                   CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc,
                   CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_fk_order,
                   CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_fk_part
            FROM lineitem
        ),
        p AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) - count(DISTINCT p_partkey) AS BIGINT) AS dup_pk
            FROM part
        ),
        e AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user
            FROM events
        ),
        d AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_text
            FROM documents
        ),
        -- NOT EXISTS (not NOT IN) mirrors Spark's left-anti join
        -- exactly: a NULL FK matches nothing and IS counted as an
        -- orphan, where NOT IN's three-valued logic would drop it.
        ri_oc AS (
            SELECT CAST(count(*) AS BIGINT) AS orphans FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        ),
        ri_lo AS (
            SELECT CAST(count(*) AS BIGINT) AS orphans FROM lineitem li
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)
        ),
        ri_lp AS (
            SELECT CAST(count(*) AS BIGINT) AS orphans FROM lineitem li
            WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = li.l_partkey)
        )
        , u AS (
            SELECT 'pk_unique' AS "check", 'orders' AS tbl, dup_pk AS n_bad, n AS n_total FROM o
            UNION ALL SELECT 'totalprice_positive', 'orders', bad_price, n FROM o
            UNION ALL SELECT 'custkey_not_null', 'orders', null_fk_cust, n FROM o
            UNION ALL SELECT 'quantity_positive', 'lineitem', bad_qty, n FROM l
            UNION ALL SELECT 'discount_in_range', 'lineitem', bad_disc, n FROM l
            UNION ALL SELECT 'orderkey_not_null', 'lineitem', null_fk_order, n FROM l
            UNION ALL SELECT 'partkey_not_null', 'lineitem', null_fk_part, n FROM l
            UNION ALL SELECT 'pk_unique', 'part', dup_pk, n FROM p
            UNION ALL SELECT 'user_id_not_null', 'events', null_user, n FROM e
            UNION ALL SELECT 'text_not_empty', 'documents', empty_text, n FROM d
            UNION ALL SELECT 'fk_orders_customer', 'orders', orphans, n FROM ri_oc, o
            UNION ALL SELECT 'fk_lineitem_orders', 'lineitem', orphans, n FROM ri_lo, l
            UNION ALL SELECT 'fk_lineitem_part', 'lineitem', orphans, n FROM ri_lp, l
        )
        SELECT "check", tbl, n_bad, n_total,
               CAST(n_bad = 0 AS INT) AS passed
        FROM u
    """,
}

QUERIES = {
    "data_quality_report": data_quality_report,
}
