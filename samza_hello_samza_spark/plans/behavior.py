"""Behavioral / product-analytics operators over events and orders.

The reference's cookbook stops at sessionization and windowed counts
(SessionWindowExample.java, WikipediaApplication.java); these are the
next four queries every product-analytics user of that pipeline
writes:

- session_paths          : top navigation paths — the ordered
                           event-type sequence of each session
                           (GA-style "behavior flow"), counted and
                           ranked corpus-wide.
- nation_month_rank      : full ranking-window suite (rank /
                           percent_rank / cume_dist / ntile) over
                           per-nation monthly revenue.
- orders_seasonality     : month-of-year seasonality index — each
                           calendar month's revenue vs the uniform
                           1/12 share.
- funnel_time_to_convert : latency distribution from first view to
                           first purchase (the "how long does
                           conversion take" follow-up to
                           events_funnel).

Scale design:
- session_paths reuses the exact session break rule of
  ``session_window`` (micros, ``>= gap`` half-open) so session ids
  agree across operators. ONE hash shuffle on user_id feeds the
  break window, the per-session rank window (partition keys
  (user_id, session_id) are clustered by the user_id exchange — no
  second shuffle), and the session groupBy. Events beyond the first
  ``PATH_LEN`` per session are dropped BEFORE ``collect_list``, so
  state per group is bounded at PATH_LEN rows even for a runaway bot
  session. The final path count is a map-side-partial aggregate and
  the top-k compiles to TakeOrderedAndProject.
- nation_month_rank windows over a nations × months aggregate
  (bounded: 25 × ~84 rows) — the window input is dimension-sized, the
  fact table is reduced by a partial-agg shuffle first. Revenue is
  summed as DECIMAL(18,4) (order-independent) so rank ties are
  engine-exact under any partitioning.
- orders_seasonality is a 12-group aggregate crossed with its own
  1-row total (broadcast); no window, no second scan of orders.
- funnel_time_to_convert is one user_id shuffle (conditional min
  aggregates), then a single-row global percentile aggregate over the
  per-user deltas. The exact ``percentile`` is the correctness
  baseline; at an unbounded user count the same plan runs with
  ``percentile_approx`` (KLL sketch) — the proven pattern of
  event_value_percentiles_approx.

Cross-engine determinism: ordering keys are (unix_micros(ts),
event_id) — integer micros are identical in both engines (see
session.normalize_nanos_ts) and event_id makes the order total.
Revenue sums are DECIMAL(18,4)-hardened per SURVEY §4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..operators.samza_surface import sessionized
from ..session import load_table, materialize

PATH_LEN = 5
TOP_PATHS = 20
RANK_NTILES = 4


def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session navigation paths (first 5 event types, in order).

    Reference seam: SessionWindowExample.java:66-74 sessionizes;
    this answers the question those sessions exist for — what do
    users *do* inside one? Row_number (bounded to PATH_LEN) runs on
    the same user_id exchange as the break window; collect_list then
    holds at most PATH_LEN structs per session, sorted in-array for
    deterministic order regardless of shuffle arrival.
    """
    sess = sessionized(load_table(spark, sf_dir, "events"))
    w_sess = Window.partitionBy("user_id", "session_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    first_n = sess.withColumn("rn", F.row_number().over(w_sess)).filter(
        F.col("rn") <= PATH_LEN
    )
    per_session = first_n.groupBy("user_id", "session_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("rn").alias("rn"), F.col("event_type").alias("et")))
        ).alias("evs")
    )
    return (
        per_session.select(
            F.array_join(F.transform("evs", lambda x: x.et), ">").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(TOP_PATHS)
    )


def nation_month_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window suite over per-nation monthly order revenue.

    rank / percent_rank / cume_dist / ntile(4) within each nation,
    months ordered by revenue. The window input is the
    nations × months aggregate (bounded), never the fact table; the
    total order (decimal revenue desc, ym) makes every rank function
    engine-exact, ties included.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(maybe_broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("ym"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("rev"), "ym")
    return rev.select(
        "n_name",
        "ym",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.rank().over(w).alias("rnk"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
        F.ntile(RANK_NTILES).over(w).alias("quartile"),
    )


def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index of order revenue.

    12 groups; the index is each month's revenue against the uniform
    1/12 share (index > 1 = hot month). The denominator is the same
    aggregate re-summed as a 1-row broadcast — no window, no second
    scan (Spark reuses the shuffle output via exchange reuse).
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(F.month("o_orderdate").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"),
    )
    total = monthly.agg(F.sum("rev").alias("total_rev"))
    return monthly.crossJoin(maybe_broadcast(total)).select(
        "month",
        "n_orders",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(
            F.lit(12) * F.col("rev").cast("double") / F.col("total_rev").cast("double"),
            4,
        ).alias("seasonality_index"),
    )


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view → first-purchase latency distribution (one row).

    Conditional min aggregates per user (one shuffle), then exact
    p50/p90 over the converted users' deltas. A user converts if
    their first purchase is at-or-after their first view. Deltas are
    integer micros → seconds as double (exact in IEEE, both engines).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("fp"),
    )
    delta = F.when(
        F.col("fp") >= F.col("fv"), (F.col("fp") - F.col("fv")) / 1_000_000.0
    )
    return per_user.agg(
        F.count("fv").alias("n_viewers"),
        F.count(delta).alias("n_converted"),
        F.round(F.percentile(delta, 0.5), 3).alias("p50_sec"),
        F.round(F.percentile(delta, 0.9), 3).alias("p90_sec"),
        F.round(F.avg(delta), 3).alias("avg_sec"),
    )


def user_recency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users and value-at-risk bucketed by days since last activity.

    The churn-risk curve every retention team pulls: per-user last
    activity + lifetime value (one user_id shuffle), anchored at the
    corpus max day (1-row broadcast — never a global window), rolled
    up per inactivity-days bucket with the LTV that bucket puts at
    risk. DECIMAL LTV; day math all-integer.
    """
    ev = load_table(spark, sf_dir, "events")
    day = (F.unix_timestamp("ts") / 86400).cast("bigint")
    per_user = ev.groupBy("user_id").agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("decimal(18,2)").alias("ltv"),
    ).transform(materialize, "bounded")  # users-sized; feeds the anchor AND the rollup
    # corpus max day == max over the per-user maxima: derive the anchor
    # from the materialized per-user relation instead of a second
    # events scan (same integer, one corpus pass total).
    anchor = per_user.agg(F.max("last_day").alias("max_day"))
    return (
        per_user.crossJoin(maybe_broadcast(anchor))
        .groupBy((F.col("max_day") - F.col("last_day")).cast("long").alias("days_inactive"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("ltv").cast("decimal(18,2)").cast("double").alias("value_at_risk"),
        )
    )


def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: active users decomposed into
    new / retained / resurrected, plus that day's churn.

    The standard DAU decomposition (every growth team's first chart):
    for each day, active = new (first-ever day) + retained (also
    active yesterday) + resurrected (active before, but not
    yesterday); churned(d) = users active on d−1 who are not active
    on d — which is exactly active(d−1) − retained(d), so churn falls
    out of the same aggregates with ONE lag over the days-sized
    table, no extra user-level pass.

    Plan shape: distinct (user, day) reduces the events table once
    (user_id shuffle); first-day and previous-active-day are windows
    over that per-user table (same shuffle reused); the day-level
    rollup is a days-sized aggregate and the final lag runs on ~days
    rows. All integers — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        (F.floor(F.unix_timestamp("ts") / 86400)).cast("long").alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    classified = ud.select(
        "day",
        F.when(F.lag("day").over(w).isNull(), F.lit("new"))
        .when(F.lag("day").over(w) == F.col("day") - 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("kind"),
    )
    daily = classified.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum((F.col("kind") == "new").cast("long")).alias("n_new"),
        F.sum((F.col("kind") == "retained").cast("long")).alias("n_retained"),
        F.sum((F.col("kind") == "resurrected").cast("long")).alias(
            "n_resurrected"
        ),
    )
    wd = Window.orderBy("day")
    prev_active = F.lag("n_active").over(wd)
    # churn is defined only against an ADJACENT observed day: if the
    # previous row is a gap (no activity at all corpus-wide), every
    # prior active user churned the day after it — report vs the
    # previous CALENDAR day, 0 when that day had no actives.
    prev_cal = F.when(
        F.lag("day").over(wd) == F.col("day") - 1, prev_active
    ).otherwise(F.lit(0))
    return daily.select(
        "day",
        F.col("n_active").cast("long").alias("n_active"),
        F.col("n_new").cast("long").alias("n_new"),
        F.col("n_retained").cast("long").alias("n_retained"),
        F.col("n_resurrected").cast("long").alias("n_resurrected"),
        (F.coalesce(prev_cal, F.lit(0)) - F.col("n_retained"))
        .cast("long")
        .alias("n_churned"),
    )


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per cohort customer, by cohort age.

    The revenue companion to ``cohort_retention``: customers cohort on
    their first-order month; each (cohort, months-since) cell carries
    that month's revenue and the running cumulative LTV per cohort
    customer. One fact shuffle on o_custkey feeds both the first-order
    aggregate and the join back; the cumulative window runs over the
    bounded cohorts × ages grid (never the fact table), and cohort
    sizes are a months-sized broadcast. DECIMAL(18,4) sums make the
    running totals order-independent (engine-exact).
    """
    orders = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    o = orders.select(
        "o_custkey", ym.alias("ym"), F.col("o_totalprice").cast("decimal(18,4)").alias("price")
    )
    # customers-sized; consumed by the cohort sizes AND the grid join —
    # one orders aggregation instead of one per consumer.
    first = materialize(o.groupBy("o_custkey").agg(F.min("ym").alias("cohort")), "bounded")
    sizes = first.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_customers"))
    grid = (
        o.join(first, "o_custkey")
        .groupBy("cohort", (F.col("ym") - F.col("cohort")).alias("age"))
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum("price").alias("rev"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.withColumn("cum_rev", F.sum("rev").over(w))
        .join(maybe_broadcast(sizes), "cohort")
        # the per-customer average is integer cent-arithmetic end to
        # end: scale-4 decimal → exact bigint, truncating integer
        # division, /10⁴ back to double. round(double, 2) here would
        # hit .XX5 halfway doubles that the two engines round apart
        # (SURVEY §4); integer division cannot.
        .withColumn("c4", (F.col("cum_rev") * 10000).cast("bigint"))
        .select(
            "cohort",
            "age",
            "n_active",
            # same hazard for the cell revenue: round in the DECIMAL
            # domain (exact digits) before going to double.
            F.col("rev").cast("decimal(18,2)").cast("double").alias("revenue"),
            (F.expr("c4 DIV n_customers") / F.lit(10000.0)).alias(
                "cum_ltv_per_customer"
            ),
        )
    )


def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard overlap between event-type audiences (the segment
    Venn-diagram query).

    Distinct (user, type) pairs reduce the stream once; the pair
    intersection is a self equi-join on user_id with amplification
    bounded by types-per-user² (≤ |types|² = tiny), and the per-type
    audience sizes are a types-sized broadcast. All counts are
    integers; only the final Jaccard ratio is floating (rounded,
    identical division in both engines).
    """
    ev = load_table(spark, sf_dir, "events")
    # distinct (user, type) pairs consumed 3× (sizes + both self-join
    # sides): one events scan + distinct shuffle instead of three.
    ut = ev.select("user_id", "event_type").distinct().transform(materialize, "bounded")
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.alias("a")
    b = ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(maybe_broadcast(sa), "type_a")
        .join(maybe_broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both") / (F.col("n_a") + F.col("n_b") - F.col("n_both")), 4
            ).alias("jaccard"),
        )
    )


_SESSION_CTE = """
        WITH breaks AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS is_break
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessions AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
                   CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM breaks
        )
"""

ORACLES: dict[str, str] = {
    "growth_accounting": """
        WITH ud AS (
            SELECT DISTINCT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
            FROM events
        ),
        cl AS (
            SELECT day,
                   CASE WHEN lag(day) OVER w IS NULL THEN 'new'
                        WHEN lag(day) OVER w = day - 1 THEN 'retained'
                        ELSE 'resurrected' END AS kind
            FROM ud
            WINDOW w AS (PARTITION BY user_id ORDER BY day)
        ),
        daily AS (
            SELECT day, count(*) AS n_active,
                   sum(CAST(kind = 'new' AS BIGINT)) AS n_new,
                   sum(CAST(kind = 'retained' AS BIGINT)) AS n_retained,
                   sum(CAST(kind = 'resurrected' AS BIGINT)) AS n_resurrected
            FROM cl GROUP BY day
        )
        SELECT day,
               CAST(n_active AS BIGINT) AS n_active,
               CAST(n_new AS BIGINT) AS n_new,
               CAST(n_retained AS BIGINT) AS n_retained,
               CAST(n_resurrected AS BIGINT) AS n_resurrected,
               CAST(coalesce(CASE WHEN lag(day) OVER wd = day - 1
                                  THEN lag(n_active) OVER wd
                                  ELSE 0 END, 0) - n_retained AS BIGINT)
                   AS n_churned
        FROM daily
        WINDOW wd AS (ORDER BY day)
    """,
    "session_paths": _SESSION_CTE
    + """
        , paths AS (
            SELECT user_id, session_id,
                   array_to_string(list_slice(list(event_type ORDER BY us, event_id), 1, 5), '>') AS path
            FROM sessions GROUP BY user_id, session_id
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 20
    """,
    "nation_month_rank": """
        WITH rev AS (
            SELECT n_name,
                   CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
                   sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        )
        SELECT n_name, ym,
               round(CAST(rev AS DOUBLE), 2) AS revenue,
               CAST(rank() OVER w AS INT) AS rnk,
               round(percent_rank() OVER w, 4) AS pct_rank,
               round(cume_dist() OVER w, 4) AS cume,
               CAST(ntile(4) OVER w AS INT) AS quartile
        FROM rev
        WINDOW w AS (PARTITION BY n_name ORDER BY rev DESC, ym)
    """,
    "orders_seasonality": """
        WITH monthly AS (
            SELECT month(o_orderdate) AS month,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
            FROM orders GROUP BY 1
        ), total AS (SELECT sum(rev) AS total_rev FROM monthly)
        SELECT CAST(month AS INT) AS month, n_orders,
               round(CAST(rev AS DOUBLE), 2) AS revenue,
               round(12 * CAST(rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 4) AS seasonality_index
        FROM monthly, total
    """,
    "user_recency_buckets": """
        WITH per_user AS (
            SELECT user_id,
                   max(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS last_day,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,2)) AS ltv
            FROM events GROUP BY user_id
        ),
        anchor AS (
            SELECT max(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS max_day FROM events
        )
        SELECT CAST(max_day - last_day AS BIGINT) AS days_inactive,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(CAST(sum(ltv) AS DECIMAL(18,2)) AS DOUBLE) AS value_at_risk
        FROM per_user, anchor
        GROUP BY 1
    """,
    "cohort_ltv_curve": """
        WITH o AS (
            SELECT o_custkey,
                   CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
                   CAST(o_totalprice AS DECIMAL(18,4)) AS price
            FROM orders
        ),
        fst AS (SELECT o_custkey, min(ym) AS cohort FROM o GROUP BY 1),
        sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers FROM fst GROUP BY 1),
        grid AS (
            SELECT cohort, ym - cohort AS age,
                   CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
                   sum(price) AS rev
            FROM o JOIN fst USING (o_custkey)
            GROUP BY 1, 2
        ),
        cum AS (
            SELECT cohort, age, n_active, rev,
                   sum(rev) OVER (PARTITION BY cohort ORDER BY age
                                  ROWS UNBOUNDED PRECEDING) AS cum_rev
            FROM grid
        )
        SELECT cohort, age, n_active,
               CAST(CAST(rev AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
               CAST(CAST(cum_rev * 10000 AS BIGINT) // n_customers AS DOUBLE) / 10000.0
                   AS cum_ltv_per_customer
        FROM cum JOIN sizes USING (cohort)
    """,
    "audience_overlap": """
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1),
        inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS n_both
            FROM ut a JOIN ut b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT type_a, type_b,
               sa.n AS n_a, sb.n AS n_b, n_both,
               round(n_both / (sa.n + sb.n - n_both), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.event_type = type_a
        JOIN sizes sb ON sb.event_type = type_b
    """,
    "funnel_time_to_convert": """
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS fv,
                   min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
            FROM events GROUP BY user_id
        ), deltas AS (
            SELECT fv,
                   CASE WHEN fp >= fv THEN (fp - fv) / 1000000.0 END AS delta
            FROM per_user
        )
        SELECT CAST(count(fv) AS BIGINT) AS n_viewers,
               CAST(count(delta) AS BIGINT) AS n_converted,
               round(quantile_cont(delta, 0.5), 3) AS p50_sec,
               round(quantile_cont(delta, 0.9), 3) AS p90_sec,
               round(avg(delta), 3) AS avg_sec
        FROM deltas
    """,
}

QUERIES = {
    "growth_accounting": growth_accounting,
    "user_recency_buckets": user_recency_buckets,
    "cohort_ltv_curve": cohort_ltv_curve,
    "audience_overlap": audience_overlap,
    "session_paths": session_paths,
    "nation_month_rank": nation_month_rank,
    "orders_seasonality": orders_seasonality,
    "funnel_time_to_convert": funnel_time_to_convert,
}
