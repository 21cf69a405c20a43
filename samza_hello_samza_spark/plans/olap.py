"""OLAP shapes beyond plain group-by: rollup, pivot, window frames.

These round out the SQL surface an analytics engine owes its users
(the reference's Samza SQL is Calcite, whose surface includes grouping
sets and windowed aggregates). Each remains one declarative plan:

- rollup: Spark expands grouping sets inside a single Expand+Aggregate
  — one shuffle for all grouping levels, not one scan per level.
- pivot: with an explicit value list, pivot compiles to conditional
  aggregates (no second pass to discover keys — at 100 TB a
  discover-values pass is a full extra scan).
- window frame: per-user moving average — state bounded by the frame,
  partitioned by user so no global ordering exists anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import load_table, materialize

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def orders_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts/value at (priority, status), (priority), and () levels."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
    )


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): all four grouping-set levels —
    (type, day), (type), (day), () — in a single Expand+Aggregate pass
    (one scan, one shuffle), with grouping_id disambiguating the NULL
    markers from real values."""
    ev = load_table(spark, sf_dir, "events")
    cube = (
        ev.select("event_type", F.to_date("ts").alias("day"), "value")
        .cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )
    # NULL grouping markers → '(all)' sentinels: gid already encodes
    # which dims are aggregated out, and sort/compare stays total.
    return cube.select(
        F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
        F.coalesce(F.col("day").cast("string"), F.lit("(all)")).alias("day"),
        "n_events",
        "total_value",
        "gid",
    )


def events_mixed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with a non-cube set selection: (type, day),
    (type, hour-of-day), and the grand total — the mixed-granularity
    report (daily trend + intraday profile per event type) that CUBE
    cannot express without computing the unwanted (day, hour) sets.
    Still ONE Expand+Aggregate pass: each input row expands to exactly
    the 3 requested sets (vs 8 for a 3-dim cube), so the shuffle is
    3× the input instead of 2^d×. grouping_id disambiguates NULL
    markers exactly as in ``events_cube``.
    """
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.hour("ts").alias("hour"),
            "value",
        )
        .groupingSets(
            [["event_type", "day"], ["event_type", "hour"], []],
            "event_type",
            "day",
            "hour",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )
    return g.select(
        F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
        F.coalesce(F.col("day").cast("string"), F.lit("(all)")).alias("day"),
        F.coalesce(F.col("hour"), F.lit(-1)).cast("long").alias("hour"),
        "n_events",
        "total_value",
        "gid",
    )


Z_THRESHOLD = 3.0


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier events by per-type z-score — the monitoring pass.

    Per-type mean/stddev is a 5-row pre-aggregate broadcast back onto
    the stream (never a global window over the fact table); the z-score
    is pure column math and the |z| filter pushes nothing upstream but
    costs one scan + one tiny join. population stddev (stddev_pop) so
    the oracle is engine-exact.
    """
    from ..functions.hints import maybe_broadcast

    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(maybe_broadcast(stats), "event_type")
        .filter(F.col("sigma") > 0)
        .withColumn("z", F.round(z, 4))
        .filter(F.abs(F.col("z")) >= Z_THRESHOLD)
        .select("event_id", "event_type", "value", "z")
    )


def revenue_yearly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth — lag window over a years-sized
    aggregate (the window runs on ~7 rows, not the fact table; the
    heavy lifting is one scan + one map-side-combinable agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    yearly = li.groupBy(F.year("l_shipdate").alias("yr")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    w = Window.orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "yr",
        "revenue",
        # first year: growth defined as 0.0 (NULL would make the
        # order-insensitive compare's tuple sort ill-typed)
        F.coalesce(
            F.round((F.col("revenue") - prev) / prev * 100.0, 4), F.lit(0.0)
        ).alias("growth_pct"),
    )


#: lineitem columns profiled — chosen so min/max stringification is
#: engine-identical (bigint, string, integral-valued double, date).
PROFILE_COLS = ("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics (the data-profiling pass).

    One 1-row aggregation per column, unioned — each agg's scan is
    column-pruned to exactly that column (parquet reads one column
    chunk, not the table), and each exact count_distinct stays a
    single-distinct aggregate, avoiding the multi-distinct Expand that
    multiplies shuffle volume by the number of profiled columns. The
    sketch path for unbounded columns is approx_count_distinct, as
    with events_dau_approx.
    """
    li = load_table(spark, sf_dir, "lineitem")
    parts = []
    for c in PROFILE_COLS:
        parts.append(
            li.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(c).isNull().cast("long")).alias("n_nulls"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                F.min(c).cast("string").alias("min_val"),
                F.max(c).cast("string").alias("max_val"),
            ).select(
                F.lit(c).alias("col_name"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.coalesce(F.col("n_nulls"), F.lit(0)).cast("long").alias("n_nulls"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                "min_val",
                "max_val",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type counts, wide form (explicit pivot values)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


def user_value_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-event moving average of value per user (window frame).

    Partitioned by user_id — every partition sorts independently;
    there is no single-partition WindowExec anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("moving_avg"),
    )


PCTS = (0.5, 0.9, 0.99)


def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of value per event type.

    Exact percentiles buffer each group's values — fine for bounded
    groups (5 event types), the correctness baseline for the approx
    variant, which is the 100 TB path.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.percentile("value", p), 6).alias(f"p{int(p * 100)}")
            for p in PCTS
        ]
    )


def event_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 via the KLL-style percentile_approx sketch.

    Bounded-memory mergeable sketch per group — the only percentile
    that works when one group holds billions of values. Accuracy is
    asserted against the exact operator in tests (rows-only check).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.percentile_approx("value", p, 10000).alias(f"p{int(p * 100)}")
            for p in PCTS
        ]
    )


def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation and its share of the total.

    Share-of-total via a 1-row broadcast of the global sum — the
    distributed form of ``sum() OVER ()`` (which would funnel every
    row through one partition).
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    per_nation = (
        orders.join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    total = per_nation.agg(F.sum("rev").alias("total_rev"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        .select(
            "n_name",
            F.round("rev", 2).alias("revenue"),
            F.round(F.col("rev") / F.col("total_rev"), 6).alias("share"),
        )
    )


def customer_value_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer quartile segmentation by total order value.

    The ntile-free plan: quartile thresholds are one exact-percentile
    aggregate (a 1-row broadcast), binning is a CASE expression — no
    global-ordering window anywhere, unlike ``ntile(4) OVER (ORDER BY
    ...)`` which single-partitions the world.
    """
    orders = load_table(spark, sf_dir, "orders")
    monetary = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        F.count("*").alias("frequency"),
    )
    thresholds = monetary.agg(
        F.percentile("monetary", 0.25).alias("q1"),
        F.percentile("monetary", 0.50).alias("q2"),
        F.percentile("monetary", 0.75).alias("q3"),
    )
    return (
        monetary.crossJoin(F.broadcast(thresholds))
        .select(
            F.col("o_custkey").alias("custkey"),
            "monetary",
            "frequency",
            F.when(F.col("monetary") <= F.col("q1"), "Q1")
            .when(F.col("monetary") <= F.col("q2"), "Q2")
            .when(F.col("monetary") <= F.col("q3"), "Q3")
            .otherwise("Q4")
            .alias("segment"),
        )
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel: view → later click → later purchase.

    Each stage narrows to per-user first-times with a min() aggregate,
    then the next stage joins on user_id and keeps only later events —
    stage joins all share the user_id key, so after the first shuffle
    the rest co-locate. Output is one row of stage conversion counts
    (three 1-row aggregates broadcast-crossed, no global ordering).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # each stage relation is users-sized and consumed TWICE (the next
    # stage's join + its own funnel count): materialize so each stage's
    # events pass runs once — lazily, users_purchased re-ran the whole
    # v → c → p chain (6 events scans for the 3 counts; now 3).
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .transform(materialize, "bounded")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .transform(materialize, "bounded")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("users_viewed"))
        .crossJoin(F.broadcast(c.agg(F.count("*").alias("users_clicked"))))
        .crossJoin(F.broadcast(p.agg(F.count("*").alias("users_purchased"))))
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers active N months after first order.

    first-order month per customer (one agg) joins back to orders
    (broadcast: one row per customer) and the month offset is pure
    date arithmetic — no window over the full fact table.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    first = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    offset = (F.year("o_orderdate") - F.year("first_dt")) * 12 + (
        F.month("o_orderdate") - F.month("first_dt")
    )
    return (
        orders.join(maybe_broadcast(first), "o_custkey")
        .groupBy(
            F.trunc("first_dt", "MM").cast("string").alias("cohort_month"),
            offset.alias("month_offset"),
        )
        .agg(F.count_distinct("o_custkey").alias("customers"))
    )


def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload analytics: extract a field from the
    JSON ``props`` column and aggregate it per event type.

    Samza's JsonSerdeV2 deserializes payloads at ingest
    (reference PageViewProfileJoin uses JSON-serialized streams);
    the Spark-first equivalent keeps the payload as a string column
    and extracts lazily with ``get_json_object`` — JVM-side JsonPath,
    whole-stage codegen, no Python. The extraction sits under the
    aggregation, so only the extracted long (not the JSON string)
    enters the shuffle, and the output is one row per event type.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def parts_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts: min retail price, max size.

    The skyline/"best trade-offs" query — no point on the frontier is
    beaten on BOTH dimensions by any other. In 2-D the frontier is a
    running-max scan over (price asc, size desc) — but a GLOBAL
    ordered window is the single-partition anti-pattern, so this is
    the two-phase distributed form (the sequence_packing prefix-sum
    pattern): price-range buckets each compute their local running
    max in parallel, the per-bucket maxima (a buckets-sized relation)
    triangular-broadcast-join into per-bucket "best size in any
    earlier bucket" offsets, and a point survives iff its size beats
    BOTH its in-bucket predecessor max and its earlier-buckets max.
    Exact duplicates collapse first (groupBy) so equal points don't
    knock each other out. No stage sees more than one bucket's rows
    in one sort.
    """
    part = load_table(spark, sf_dir, "part")
    pts = part.groupBy(
        F.round("p_retailprice", 2).alias("price"), F.col("p_size").alias("size")
    ).agg(F.min("p_partkey").alias("witness_partkey"))
    # ~100-wide price bands; tune with the price domain (bucket count
    # only needs to be ≫ cores and ≪ rows).
    pts = pts.withColumn("_bucket", F.floor(F.col("price") / 100))
    # distinct-points sized; consumed by the in-bucket window, the
    # bucket maxima AND the survivor filter — one part scan+dedup
    # instead of one per consumer.
    pts = materialize(pts, "bounded")
    w_in = (
        Window.partitionBy("_bucket")
        .orderBy(F.asc("price"), F.desc("size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = pts.withColumn("max_in_before", F.max("size").over(w_in))
    bucket_max = pts.groupBy("_bucket").agg(F.max("size").alias("_bmax"))
    earlier = bucket_max.select(
        F.col("_bucket").alias("_b2"), F.col("_bmax").alias("_m2")
    )
    offsets = (
        bucket_max.join(F.broadcast(earlier), F.col("_b2") < F.col("_bucket"), "left")
        .groupBy("_bucket")
        .agg(F.max("_m2").alias("earlier_max"))
    )
    best_before = F.greatest(
        F.coalesce(F.col("max_in_before"), F.lit(-(2**31))),
        F.coalesce(F.col("earlier_max"), F.lit(-(2**31))),
    )
    return (
        within.join(F.broadcast(offsets), "_bucket")
        .filter(F.col("size") > best_before)
        .select("price", "size", "witness_partkey")
    )


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency / frequency / monetary quartile scores.

    The CRM classic. Per-customer metrics are one orders aggregate;
    the anchor date and the three quartile-threshold sets are both
    1-row broadcasts (exact interpolated percentiles — the
    engine-stable pairing with quantile_cont); scoring is pure column
    math. Segment key is 'RFM' digit-concat, 4=best on every axis
    (recent, frequent, high-spend). No window anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    rfm = per_cust.crossJoin(F.broadcast(anchor)).select(
        "custkey",
        F.datediff("anchor", "last_order").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary",
    )
    cuts = rfm.agg(
        *[
            F.percentile("recency_days", q).alias(f"r{i}")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ],
        *[
            F.percentile("frequency", q).alias(f"f{i}")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ],
        *[
            F.percentile("monetary", q).alias(f"m{i}")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ],
    )

    def score(col: str, prefix: str, invert: bool) -> F.Column:
        # quartile score 1..4; recency inverts (smaller = better = 4)
        s = F.lit(1)
        for i in (1, 2, 3):
            s = F.when(F.col(col) > F.col(f"{prefix}{i}"), i + 1).otherwise(s)
        return (F.lit(5) - s) if invert else s

    return rfm.crossJoin(F.broadcast(cuts)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        score("recency_days", "r", invert=True).cast("int").alias("r_score"),
        score("frequency", "f", invert=False).cast("int").alias("f_score"),
        score("monetary", "m", invert=False).cast("int").alias("m_score"),
    )


BASKET_TOP_K = 25


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: top part pairs co-occurring in an order.

    The frequent-itemset primitive. A lineitem self-join on orderkey
    would re-derive the scan per side; instead each order's (small,
    bounded — TPC-H ≤7 lines) part set collapses to one row via
    collect_set, pairs expand IN-ROW from the sorted array (the
    dedup._bucket_pairs trick), and one groupBy counts supports. The
    shuffle carries (partkey, partkey) longs only; top-k is
    TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pair_expr = """
        explode(flatten(transform(sequence(0, size(parts) - 2), i ->
            transform(sequence(i + 1, size(parts) - 1), j ->
                struct(parts[i] AS pa, parts[j] AS pb)))))
    """
    return (
        baskets.filter(F.size("parts") > 1)
        .select(F.expr(pair_expr).alias("p"))
        .groupBy(F.col("p.pa").alias("part_a"), F.col("p.pb").alias("part_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(BASKET_TOP_K)
    )


def supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier fulfilment latency: order-date → ship-date stats.

    Ops-view: each lineitem's lag from its order's placement to its
    ship date (integer date diff — engine-exact) plus the return rate,
    grouped by supplier. The orderdate rides in on the orderkey
    equi-join (fact-fact, both sides pre-hashed on the key; bucketed
    layouts make it shuffle-free); map-side partials carry four
    numbers per supplier.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    j = li.join(orders, "l_orderkey")
    lag = F.datediff("l_shipdate", "o_orderdate")
    returned = (F.col("l_returnflag") == "R").cast("int")
    return j.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(F.avg(lag), 4).alias("avg_ship_lag_days"),
        F.max(lag).cast("long").alias("max_ship_lag_days"),
        F.round(F.avg(returned), 6).alias("return_rate"),
    )


def nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full supplier-nation × customer-nation revenue matrix.

    TPC-H Q7 restricted to one nation pair; the analytics user's next
    ask is the whole flow matrix. Dims (nation twice, supplier,
    customer) ride in as size-gated broadcasts; the one real shuffle
    is lineitem⋈orders on orderkey; the final aggregate has
    n_nations² groups. Revenue terms are cast to DECIMAL(18,4)
    before the sum: the per-term double math is bit-identical across
    engines, and decimal addition is order-independent — so the
    aggregate is exact regardless of partitioning (a plain double sum
    drifts across the round(2) boundary on some summation orders).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    supp_nat = maybe_broadcast(
        supplier.join(
            nation.select(
                F.col("n_nationkey").alias("s_nationkey"),
                F.col("n_name").alias("supp_nation"),
            ),
            "s_nationkey",
        ).select("s_suppkey", "supp_nation")
    )
    cust_nat = maybe_broadcast(
        customer.join(
            nation.select(
                F.col("n_nationkey").alias("c_nationkey"),
                F.col("n_name").alias("cust_nation"),
            ),
            "c_nationkey",
        ).select("c_custkey", "cust_nation")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp_nat, li.l_suppkey == supp_nat.s_suppkey)
        .join(cust_nat, orders.o_custkey == cust_nat.c_custkey)
    )
    term = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return j.groupBy("supp_nation", "cust_nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(F.sum(term).cast("double"), 2).alias("revenue"),
    )


def repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifecycle: days between consecutive orders.

    Per-customer lag() over order dates (one custkey shuffle), then
    per-customer mean/min/max of the integer day gaps. Single-order
    customers drop out (no interval). Engine-exact date arithmetic.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev_date", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_date").isNotNull())
        .withColumn("gap_days", F.datediff("o_orderdate", "prev_date"))
    )
    return gaps.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
    )


ORACLES: dict[str, str] = {
    "nation_trade_flow": """
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(count(*) AS BIGINT) AS n_lines,
               round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        GROUP BY 1, 2
    """,
    "repeat_purchase_interval": """
        WITH gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                             lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                    ORDER BY o_orderdate, o_orderkey),
                             o_orderdate) AS gap_days
            FROM orders
        )
        SELECT o_custkey AS custkey,
               CAST(count(*) AS BIGINT) AS n_intervals,
               round(avg(gap_days), 4) AS avg_gap_days,
               CAST(min(gap_days) AS BIGINT) AS min_gap_days,
               CAST(max(gap_days) AS BIGINT) AS max_gap_days
        FROM gaps
        WHERE gap_days IS NOT NULL
        GROUP BY 1
    """,
    "basket_part_pairs": f"""
        WITH baskets AS (
            SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey
        ),
        pairs AS (
            SELECT unnest(flatten(list_transform(generate_series(1, len(parts) - 1), i ->
                       list_transform(generate_series(i + 1, len(parts)), j ->
                           {{'pa': parts[i], 'pb': parts[j]}})))) AS p
            FROM baskets WHERE len(parts) > 1
        )
        SELECT p.pa AS part_a, p.pb AS part_b, CAST(count(*) AS BIGINT) AS n_orders
        FROM pairs
        GROUP BY 1, 2
        ORDER BY n_orders DESC, part_a ASC, part_b ASC
        LIMIT {BASKET_TOP_K}
    """,
    "supplier_lead_time": """
        SELECT l_suppkey AS suppkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               round(avg(date_diff('day', o_orderdate, l_shipdate)), 4) AS avg_ship_lag_days,
               CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS max_ship_lag_days,
               round(avg(CAST(l_returnflag = 'R' AS INT)), 6) AS return_rate
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        GROUP BY 1
    """,
    "customer_rfm_segments": """
        WITH per_cust AS (
            SELECT o_custkey AS custkey,
                   max(o_orderdate) AS last_order,
                   count(*) AS frequency,
                   round(sum(o_totalprice), 2) AS monetary
            FROM orders GROUP BY 1
        ),
        anchor AS (SELECT max(o_orderdate) AS anchor FROM orders),
        rfm AS (
            SELECT custkey,
                   CAST(date_diff('day', last_order, anchor) AS BIGINT) AS recency_days,
                   CAST(frequency AS BIGINT) AS frequency,
                   monetary
            FROM per_cust CROSS JOIN anchor
        ),
        cuts AS (
            SELECT quantile_cont(recency_days, 0.25) AS r1,
                   quantile_cont(recency_days, 0.5)  AS r2,
                   quantile_cont(recency_days, 0.75) AS r3,
                   quantile_cont(frequency, 0.25) AS f1,
                   quantile_cont(frequency, 0.5)  AS f2,
                   quantile_cont(frequency, 0.75) AS f3,
                   quantile_cont(monetary, 0.25) AS m1,
                   quantile_cont(monetary, 0.5)  AS m2,
                   quantile_cont(monetary, 0.75) AS m3
            FROM rfm
        )
        SELECT custkey, recency_days, frequency, monetary,
               CAST(5 - (CASE WHEN recency_days > r3 THEN 4
                              WHEN recency_days > r2 THEN 3
                              WHEN recency_days > r1 THEN 2 ELSE 1 END) AS INT) AS r_score,
               CAST(CASE WHEN frequency > f3 THEN 4
                         WHEN frequency > f2 THEN 3
                         WHEN frequency > f1 THEN 2 ELSE 1 END AS INT) AS f_score,
               CAST(CASE WHEN monetary > m3 THEN 4
                         WHEN monetary > m2 THEN 3
                         WHEN monetary > m1 THEN 2 ELSE 1 END AS INT) AS m_score
        FROM rfm CROSS JOIN cuts
    """,
    "parts_skyline": """
        WITH pts AS (
            SELECT round(p_retailprice, 2) AS price, p_size AS size,
                   min(p_partkey) AS witness_partkey
            FROM part GROUP BY 1, 2
        ),
        ranked AS (
            SELECT *,
                   max(size) OVER (ORDER BY price ASC, size DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS max_size_before
            FROM pts
        )
        SELECT price, size, witness_partkey
        FROM ranked
        WHERE max_size_before IS NULL OR size > max_size_before
    """,
    "events_props_stats": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(k) AS BIGINT) AS n_with_k,
               CAST(sum(k) AS BIGINT) AS sum_k,
               round(avg(k), 4) AS avg_k,
               min(k) AS min_k,
               max(k) AS max_k
        FROM (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        GROUP BY event_type
    """,
    "events_funnel": """
        WITH v AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > v.t1
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t2
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS users_viewed,
               (SELECT count(*) FROM c) AS users_clicked,
               (SELECT count(*) FROM p) AS users_purchased
    """,
    "cohort_retention": """
        WITH first AS (
            SELECT o_custkey, min(o_orderdate) AS first_dt
            FROM orders GROUP BY o_custkey
        )
        SELECT CAST(CAST(date_trunc('month', first_dt) AS DATE) AS VARCHAR) AS cohort_month,
               CAST((year(o_orderdate) - year(first_dt)) * 12
                    + (month(o_orderdate) - month(first_dt)) AS INT) AS month_offset,
               count(DISTINCT o_custkey) AS customers
        FROM orders JOIN first USING (o_custkey)
        GROUP BY 1, 2
    """,
    "nation_revenue_share": """
        WITH per_nation AS (
            SELECT n_name, sum(o_totalprice) AS rev
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name,
               round(rev, 2) AS revenue,
               round(rev / (SELECT sum(rev) FROM per_nation), 6) AS share
        FROM per_nation
    """,
    "customer_value_segments": """
        WITH monetary AS (
            SELECT o_custkey,
                   round(sum(o_totalprice), 2) AS monetary,
                   count(*) AS frequency
            FROM orders GROUP BY o_custkey
        ),
        t AS (
            SELECT quantile_cont(monetary, 0.25) AS q1,
                   quantile_cont(monetary, 0.50) AS q2,
                   quantile_cont(monetary, 0.75) AS q3
            FROM monetary
        )
        SELECT o_custkey AS custkey, monetary, frequency,
               CASE WHEN monetary <= q1 THEN 'Q1'
                    WHEN monetary <= q2 THEN 'Q2'
                    WHEN monetary <= q3 THEN 'Q3'
                    ELSE 'Q4' END AS segment
        FROM monetary, t
    """,
    "event_value_percentiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events
        GROUP BY event_type
    """,
    "orders_priority_rollup": """
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_value
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    "events_cube": """
        SELECT coalesce(event_type, '(all)') AS event_type,
               coalesce(CAST(day AS VARCHAR), '(all)') AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value,
               CAST(GROUPING(event_type, day) AS BIGINT) AS gid
        FROM (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events)
        GROUP BY CUBE (event_type, day)
    """,
    "events_mixed_rollup": """
        SELECT coalesce(event_type, '(all)') AS event_type,
               coalesce(CAST(day AS VARCHAR), '(all)') AS day,
               CAST(coalesce(hour, -1) AS BIGINT) AS hour,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value,
               CAST(GROUPING(event_type, day, hour) AS BIGINT) AS gid
        FROM (SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(hour(ts) AS INT) AS hour, value FROM events)
        GROUP BY GROUPING SETS ((event_type, day), (event_type, hour), ())
    """,
    "events_anomaly_zscore": f"""
        WITH stats AS (
            SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT event_id, e.event_type, value,
               round((value - mu) / sigma, 4) AS z
        FROM events e JOIN stats USING (event_type)
        WHERE sigma > 0
          AND abs(round((value - mu) / sigma, 4)) >= {Z_THRESHOLD}
    """,
    "revenue_yearly_growth": """
        WITH yearly AS (
            SELECT CAST(year(l_shipdate) AS INT) AS yr,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem GROUP BY 1
        )
        SELECT yr, revenue,
               coalesce(round((revenue - lag(revenue) OVER (ORDER BY yr))
                              / lag(revenue) OVER (ORDER BY yr) * 100.0, 4),
                        0.0) AS growth_pct
        FROM yearly
    """,
    "table_profile": """
        SELECT 'l_orderkey' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
               CAST(min(l_orderkey) AS VARCHAR) AS min_val,
               CAST(max(l_orderkey) AS VARCHAR) AS max_val
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT l_quantity) AS BIGINT),
               CAST(min(l_quantity) AS VARCHAR),
               CAST(max(l_quantity) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_returnflag',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT l_returnflag) AS BIGINT),
               CAST(min(l_returnflag) AS VARCHAR),
               CAST(max(l_returnflag) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_shipdate',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT l_shipdate) AS BIGINT),
               CAST(min(l_shipdate) AS VARCHAR),
               CAST(max(l_shipdate) AS VARCHAR)
        FROM lineitem
    """,
    "user_event_pivot": """
        SELECT user_id,
               CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
               CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
               CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
               CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
               CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        FROM events
        GROUP BY user_id
    """,
    "user_value_moving_avg": """
        SELECT event_id, user_id,
               round(avg(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg
        FROM events
    """,
}

QUERIES = {
    "orders_priority_rollup": orders_priority_rollup,
    "events_cube": events_cube,
    "events_mixed_rollup": events_mixed_rollup,
    "table_profile": table_profile,
    "events_anomaly_zscore": events_anomaly_zscore,
    "revenue_yearly_growth": revenue_yearly_growth,
    "user_event_pivot": user_event_pivot,
    "user_value_moving_avg": user_value_moving_avg,
    "event_value_percentiles": event_value_percentiles,
    "event_value_percentiles_approx": event_value_percentiles_approx,
    "nation_revenue_share": nation_revenue_share,
    "customer_value_segments": customer_value_segments,
    "events_funnel": events_funnel,
    "cohort_retention": cohort_retention,
    "events_props_stats": events_props_stats,
    "parts_skyline": parts_skyline,
    "customer_rfm_segments": customer_rfm_segments,
    "basket_part_pairs": basket_part_pairs,
    "supplier_lead_time": supplier_lead_time,
    "nation_trade_flow": nation_trade_flow,
    "repeat_purchase_interval": repeat_purchase_interval,
}
