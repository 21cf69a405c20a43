"""Statistical analytics: regression trends, concentration, dispersion.

The "analyst follow-up" layer over the same facts the reference's SQL
examples aggregate — each operator is a statistical summary Spark can
compute as a pure aggregate (no window over fact tables, no UDFs):

- revenue_trend_regression : per-nation least-squares trend of the
                             monthly revenue series (``regr_slope`` /
                             ``regr_intercept`` / ``corr`` — one agg).
- order_size_distribution  : histogram of lines-per-order (two-level
                             count aggregate, all integers).
- supplier_concentration_hhi : Herfindahl–Hirschman index of supplier
                             revenue concentration per nation.
- user_event_entropy       : Shannon entropy of each user's
                             event-type mix (engagement diversity).

Scale notes: every operator is aggregates over aggregates — the first
level reduces the fact table on its natural key (one shuffle), the
second level is dimension-sized. The regression input is nations ×
months (bounded); HHI's per-nation totals are a 25-row broadcast;
entropy reuses ONE user_id shuffle for both grouping levels (the
second groupBy's key is a prefix of the first). DECIMAL(18,4)
hardening (SURVEY §4) makes every revenue sum order-independent
before it enters float math; float outputs are rounded in both
engines (two-sum entropy form proven by text_entropy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import load_table, materialize


def revenue_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation linear trend of monthly order revenue.

    x = months since epoch (year*12 + month — an exact integer), y =
    the month's DECIMAL-hardened revenue rounded to cents (identical
    doubles in both engines), so the regression aggregates consume
    bit-identical inputs and only the final statistics are rounded.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(maybe_broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("x"),
        )
        .agg(
            # Decimal-domain rounding (see segment_migration) so the
            # regression inputs are bit-identical across engines.
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("y")
        )
    )
    return monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.round(F.regr_slope("y", "x"), 2).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 2).alias("intercept"),
        F.round(F.corr("y", "x"), 4).alias("r"),
    )


def order_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many orders have k line items — the order-size histogram.

    Two-level integer aggregate: lineitem reduces on l_orderkey (its
    natural key — one shuffle with map-side partials), then the
    order-sized intermediate collapses onto the tiny k keyspace
    (1..7 in TPC-H). All integers; engine-exact by construction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders"),
    )


def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-revenue concentration per nation.

    HHI = Σ_s share_s² over each supplier's share of its nation's
    lineitem revenue — the market-concentration metric. Supplier
    revenue reduces the fact table on l_suppkey; nation totals are a
    25-row relation broadcast back; the share square-sum is a bounded
    per-nation aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    )
    per_supp = (
        li.join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(maybe_broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(rev.alias("srev"))
        # suppliers-sized; consumed by the nation totals AND the HHI
        # aggregate — one lineitem join+reduction instead of two.
        .transform(materialize, "bounded")
    )
    totals = per_supp.groupBy("n_name").agg(F.sum("srev").alias("trev"))
    share = F.col("srev").cast("double") / F.col("trev").cast("double")
    return (
        per_supp.join(maybe_broadcast(totals), "n_name")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum(share * share), 4).alias("hhi"),
            F.round(F.max(share), 4).alias("top_share"),
        )
    )


def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each user's event-type distribution.

    Two-sum form (text_entropy's proven cross-engine shape):
    H = ln(N) − Σ n·ln(n) / N. Both grouping levels share the
    user_id shuffle — the second groupBy's key is a prefix of the
    first's, so Spark reuses the partitioning.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_type.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.log(F.sum("n").cast("double"))
            - F.sum(F.col("n") * F.log(F.col("n").cast("double"))) / F.sum("n"),
            6,
        ).alias("entropy"),
    )


def value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / variance / skewness per event type from raw power sums.

    Built from Σx, Σx², Σx³ with the explicit population formulas —
    NOT the engines' skewness() builtins, whose sample-vs-population
    conventions differ between Spark and DuckDB. Both engines sum the
    same doubles and apply the same algebra; outputs are rounded
    (power-sum ulp drift is ~1e-15 relative).
    """
    ev = load_table(spark, sf_dir, "events")
    x = F.col("value")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    skew = (
        F.col("s3") / F.col("n") - 3 * mean * var - mean * mean * mean
    ) / F.pow(var, 1.5)
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(mean, 4).alias("mean"),
        F.round(var, 3).alias("variance"),
        F.round(skew, 3).alias("skewness"),
    )


def orders_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index (variance/mean) of daily order counts.

    The Poisson-ness check of the arrival process (index ≈ 1 ⇒
    Poisson; ≫1 ⇒ bursty). Daily counts are integers, so the power
    sums are EXACT and every engine computes identical doubles — no
    rounding hazard at all. Two-level aggregate, days-sized window
    input.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        (F.unix_timestamp("o_orderdate") / 86400).cast("bigint").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    agg = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    mean = F.col("s1") / F.col("n_days")
    var = F.col("s2") / F.col("n_days") - mean * mean
    return agg.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.round(mean, 4).alias("mean_daily_orders"),
        F.round(var, 4).alias("var_daily_orders"),
        F.round(var / mean, 4).alias("dispersion_index"),
    )


def segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-quartile migration between the two halves of the
    order history (the churn/upgrade transition matrix).

    The time split is the midpoint of the observed month range (1-row
    broadcast); per-period customer revenue is DECIMAL-hardened; the
    quartile cuts are per-period exact percentiles (1-row broadcast,
    the customer_value_segments pattern); the matrix is a full-outer
    join of the two period assignments (customers absent from a
    period land in the 'none' row/column). All counts integer-exact.
    """
    orders = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    o = orders.select(
        "o_custkey",
        ym.alias("ym"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
    )
    # Integer floor division in BOTH engines: a double midpoint would
    # truncate here but round half-to-even in DuckDB's CAST, shifting
    # the split month whenever min+max is odd.
    span = o.agg(F.min("ym").alias("mn"), F.max("ym").alias("mx")).select(
        F.expr("(mn + mx) DIV 2").alias("mid")
    )
    tagged = o.crossJoin(maybe_broadcast(span)).withColumn(
        "period", F.when(F.col("ym") < F.col("mid"), 1).otherwise(2)
    )
    per_cust = tagged.groupBy("o_custkey", "period").agg(
        # Round in the DECIMAL domain (HALF_UP in both engines) before
        # the double cast — double-domain round() diverges on .XX50.
        F.sum("price").cast("decimal(18,2)").cast("double").alias("rev")
    ).transform(materialize, "bounded")  # customers-sized; cuts AND assignment
    cuts = per_cust.groupBy("period").agg(
        F.round(F.percentile("rev", 0.25), 6).alias("q1"),
        F.round(F.percentile("rev", 0.5), 6).alias("q2"),
        F.round(F.percentile("rev", 0.75), 6).alias("q3"),
    )
    seg = (
        F.when(F.col("rev") <= F.col("q1"), "low")
        .when(F.col("rev") <= F.col("q2"), "mid")
        .when(F.col("rev") <= F.col("q3"), "high")
        .otherwise("top")
    )
    assigned = per_cust.join(maybe_broadcast(cuts), "period").select(
        "o_custkey", "period", seg.alias("seg")
    ).transform(materialize, "bounded")  # BOTH period sides of the matrix join
    p1 = assigned.filter(F.col("period") == 1).select(
        "o_custkey", F.col("seg").alias("seg_from")
    )
    p2 = assigned.filter(F.col("period") == 2).select(
        "o_custkey", F.col("seg").alias("seg_to")
    )
    return (
        p1.join(p2, "o_custkey", "full_outer")
        .select(
            F.coalesce("seg_from", F.lit("none")).alias("seg_from"),
            F.coalesce("seg_to", F.lit("none")).alias("seg_to"),
        )
        .groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford.

    The forensic-accounting screen: naturally-occurring monetary
    amounts follow P(d) = log10(1 + 1/d); a synthetic or manipulated
    ledger deviates. Digit extraction is the explicit
    floor(p / 10^floor(log10 p)) formula evaluated identically in
    both engines; counts are integers and only the shares/expected
    columns are floating (rounded).
    """
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    digit = F.floor(p / F.pow(F.lit(10.0), F.floor(F.log10(p)))).cast("int")
    counts = (
        orders.filter(p > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(materialize, "bounded")  # ≤9 rows; the total AND the report
    )
    total = counts.agg(F.sum("n").alias("total"))
    expected = F.log10(1 + 1 / F.col("digit").cast("double"))
    share = F.col("n") / F.col("total")
    return counts.crossJoin(maybe_broadcast(total)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford_expected"),
        F.round(share - expected, 6).alias("deviation"),
    )


MAD_K = 3.0 * 1.4826  # 3σ-equivalent under normality


def price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) price-outlier report per part type.

    Mean/stddev outlier rules break under the very outliers they hunt;
    the robust pair is the median and the median absolute deviation.
    Two chained exact-percentile aggregates over the bounded p_type
    keyspace (median broadcast back, then MAD of |x − med|), then one
    conditional count of rows beyond 3σ-equivalent (k = 3·1.4826·MAD).
    ``percentile_approx`` replaces both percentile passes at an
    unbounded group count.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # 2 narrow cols; consumed by all 3 percentile passes; one row per
    # lineitem
    priced = li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_type", F.col("l_extendedprice").alias("x")
    ).transform(materialize, "corpus")
    med = priced.groupBy("p_type").agg(
        F.round(F.percentile("x", 0.5), 6).alias("med")
    )
    with_med = priced.join(maybe_broadcast(med), "p_type")
    mad = with_med.groupBy("p_type").agg(
        F.round(F.percentile(F.abs(F.col("x") - F.col("med")), 0.5), 6).alias("mad"),
        F.first("med").alias("med"),
    )
    return (
        priced.join(maybe_broadcast(mad), "p_type")
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("med").alias("median_price"),
            F.first("mad").alias("mad"),
            F.sum(
                (F.abs(F.col("x") - F.col("med")) > F.lit(MAD_K) * F.col("mad"))
                .cast("long")
            ).alias("n_outliers"),
        )
    )


def priority_mix_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: order-priority mix vs year.

    "Did the priority mix shift over time?" — the contingency-table
    test as pure aggregates: cell counts (year × priority), marginals
    joined back (both bounded relations, broadcast), χ² = Σ(o−e)²/e.
    Counts are integers so every expected value is computed from
    identical doubles; only the final statistic is rounded.
    """
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.col("o_orderpriority").alias("pr")
    ).agg(F.count(F.lit(1)).alias("n")).transform(materialize, "bounded")
    # ^ years×priorities bounded; consumed by 3 marginal aggregates +
    #   the χ² join — one orders scan instead of four.
    row_tot = cells.groupBy("yr").agg(F.sum("n").alias("rn"))
    col_tot = cells.groupBy("pr").agg(F.sum("n").alias("cn"))
    total = cells.agg(F.sum("n").alias("t"))
    e = F.col("rn").cast("double") * F.col("cn") / F.col("t")
    contrib = (F.col("n") - e) * (F.col("n") - e) / e
    joined = (
        cells.join(maybe_broadcast(row_tot), "yr")
        .join(maybe_broadcast(col_tot), "pr")
        .crossJoin(maybe_broadcast(total))
    )
    return joined.agg(
        F.sum("n").cast("long").alias("n_orders"),
        F.round(F.sum(contrib), 4).alias("chi2"),
        (
            (F.countDistinct("yr") - 1) * (F.countDistinct("pr") - 1)
        ).cast("long").alias("dof"),
    )


AB_Z = 1.96  # 95% two-sided
AB_MIN_PURCHASES = 14  # ≈ per-user median purchase count: interior rate at every SF


def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: per-arm conversion with Wilson 95%
    intervals and the two-proportion pooled z-statistic.

    The analysis every product experiment ends in, as ONE Spark job.
    Arm assignment is the deterministic user-id parity (standing in
    for the experiment's hash bucket); a user converts at
    ``AB_MIN_PURCHASES`` purchase events (≥1 would be degenerate on
    this synthetic corpus — every user purchases — and a degenerate
    pooled rate makes the z-statistic 0/0; the guard below also
    handles that edge explicitly). Per arm: distinct users, distinct converters
    (two exact count-distincts over one scan), conversion rate,
    Wilson score interval (the interval that stays sane at small n
    and extreme p, unlike the normal approximation), and the pooled
    two-proportion z for THIS arm minus the other (antisymmetric by
    construction). Cross-engine: counts are integers, and every
    float derives from identical integer operands via +,·,/ and one
    correctly-rounded sqrt — bit-identical in both engines; outputs
    rounded at 6dp.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.withColumn("arm", F.pmod("user_id", F.lit(2)).cast("int"))
        .groupBy("arm", "user_id")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "n_purch"
            )
        )
    )
    # second groupBy keys on a prefix of the first — shuffle reused
    per_arm = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("n_purch") >= AB_MIN_PURCHASES).cast("long")).alias(
            "n_converters"
        ),
    ).transform(materialize, "bounded")  # 2 rows; itself AND the other-arm side
    other = per_arm.select(
        (1 - F.col("arm")).alias("arm"),
        F.col("n_users").alias("o_users"),
        F.col("n_converters").alias("o_conv"),
    )
    z = F.lit(AB_Z)
    n = F.col("n_users").cast("double")
    p = F.col("n_converters") / n
    center = p + z * z / (2 * n)
    margin = z * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    denom = 1 + z * z / n
    pooled = (F.col("n_converters") + F.col("o_conv")) / (
        F.col("n_users") + F.col("o_users")
    ).cast("double")
    se = F.sqrt(
        pooled
        * (1 - pooled)
        * (1 / n + 1 / F.col("o_users").cast("double"))
    )
    zdiff = F.when(
        se > 0,
        (p - F.col("o_conv") / F.col("o_users").cast("double")) / se,
    ).otherwise(F.lit(0.0))
    return (
        per_arm.join(maybe_broadcast(other), "arm")
        .select(
            "arm",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_converters").cast("long").alias("n_converters"),
            F.round(p, 6).alias("conv_rate"),
            F.round((center - margin) / denom, 6).alias("wilson_lo"),
            F.round((center + margin) / denom, 6).alias("wilson_hi"),
            F.round(zdiff, 6).alias("z_vs_other"),
        )
    )


def daily_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan of the daily value series per type.

    cusum_k = Σ_{i≤k}(v_i − v̄); the day with max |cusum| is the level
    shift candidate. The daily series is DECIMAL(18,2)-exact, so the
    prefix sums (window over BOUNDED days-per-type partitions) and
    the deviation math are identical doubles in both engines; argmax
    uses (|cusum| desc, day) — a total order.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("decimal(18,2)").alias("v"))
    # (type, day)-bounded; consumed by the totals AND the prefix window
    daily = materialize(daily, "bounded")
    totals = daily.groupBy("event_type").agg(
        F.sum("v").alias("tv"), F.count(F.lit(1)).alias("nd")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_prefix = daily.withColumn("prefix", F.sum("v").over(w)).withColumn(
        "k", F.count(F.lit(1)).over(w)
    )
    cusum = (
        with_prefix.join(maybe_broadcast(totals), "event_type")
        .withColumn(
            "cusum",
            F.col("prefix").cast("double")
            - F.col("k") * (F.col("tv").cast("double") / F.col("nd")),
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "day"
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.round("cusum", 3).alias("cusum"),
            F.col("nd").cast("long").alias("n_days"),
        )
    )


ORACLES: dict[str, str] = {
    "ab_test_report": f"""
        WITH per_user AS (
            SELECT CAST(user_id % 2 AS INT) AS arm, user_id,
                   sum(CAST(event_type = 'purchase' AS BIGINT)) AS n_purch
            FROM events GROUP BY 1, 2
        ),
        per_arm AS (
            SELECT arm, count(*) AS n_users,
                   sum(CAST(n_purch >= {AB_MIN_PURCHASES} AS BIGINT)) AS n_converters
            FROM per_user GROUP BY arm
        ),
        paired AS (
            SELECT a.arm, a.n_users, a.n_converters,
                   b.n_users AS o_users, b.n_converters AS o_conv
            FROM per_arm a JOIN per_arm b ON b.arm = 1 - a.arm
        )
        SELECT arm,
               CAST(n_users AS BIGINT) AS n_users,
               CAST(n_converters AS BIGINT) AS n_converters,
               round(n_converters / CAST(n_users AS DOUBLE), 6) AS conv_rate,
               round((n_converters / CAST(n_users AS DOUBLE)
                      + {AB_Z} * {AB_Z} / (2 * CAST(n_users AS DOUBLE))
                      - {AB_Z} * sqrt(
                          (n_converters / CAST(n_users AS DOUBLE))
                          * (1 - n_converters / CAST(n_users AS DOUBLE))
                          / CAST(n_users AS DOUBLE)
                          + {AB_Z} * {AB_Z}
                            / (4 * CAST(n_users AS DOUBLE) * CAST(n_users AS DOUBLE))))
                     / (1 + {AB_Z} * {AB_Z} / CAST(n_users AS DOUBLE)), 6)
                   AS wilson_lo,
               round((n_converters / CAST(n_users AS DOUBLE)
                      + {AB_Z} * {AB_Z} / (2 * CAST(n_users AS DOUBLE))
                      + {AB_Z} * sqrt(
                          (n_converters / CAST(n_users AS DOUBLE))
                          * (1 - n_converters / CAST(n_users AS DOUBLE))
                          / CAST(n_users AS DOUBLE)
                          + {AB_Z} * {AB_Z}
                            / (4 * CAST(n_users AS DOUBLE) * CAST(n_users AS DOUBLE))))
                     / (1 + {AB_Z} * {AB_Z} / CAST(n_users AS DOUBLE)), 6)
                   AS wilson_hi,
               round(CASE WHEN sqrt(((n_converters + o_conv)
                             / CAST(n_users + o_users AS DOUBLE))
                            * (1 - (n_converters + o_conv)
                               / CAST(n_users + o_users AS DOUBLE))
                            * (1 / CAST(n_users AS DOUBLE)
                               + 1 / CAST(o_users AS DOUBLE))) > 0
                     THEN (n_converters / CAST(n_users AS DOUBLE)
                      - o_conv / CAST(o_users AS DOUBLE))
                     / sqrt(((n_converters + o_conv)
                             / CAST(n_users + o_users AS DOUBLE))
                            * (1 - (n_converters + o_conv)
                               / CAST(n_users + o_users AS DOUBLE))
                            * (1 / CAST(n_users AS DOUBLE)
                               + 1 / CAST(o_users AS DOUBLE)))
                     ELSE 0.0 END, 6)
                   AS z_vs_other
        FROM paired
    """,
    "priority_mix_chi2": """
        WITH cells AS (
            SELECT year(o_orderdate) AS yr, o_orderpriority AS pr,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1, 2
        ),
        rt AS (SELECT yr, CAST(sum(n) AS BIGINT) AS rn FROM cells GROUP BY yr),
        ct AS (SELECT pr, CAST(sum(n) AS BIGINT) AS cn FROM cells GROUP BY pr),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells)
        SELECT CAST(sum(n) AS BIGINT) AS n_orders,
               round(sum((n - CAST(rn AS DOUBLE) * cn / t.t)
                         * (n - CAST(rn AS DOUBLE) * cn / t.t)
                         / (CAST(rn AS DOUBLE) * cn / t.t)), 4) AS chi2,
               CAST((count(DISTINCT cells.yr) - 1) * (count(DISTINCT cells.pr) - 1) AS BIGINT) AS dof
        FROM cells JOIN rt USING (yr) JOIN ct USING (pr) CROSS JOIN t
    """,
    "daily_cusum_changepoint": """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,2)) AS v
            FROM events GROUP BY 1, 2
        ),
        totals AS (
            SELECT event_type, sum(v) AS tv, CAST(count(*) AS BIGINT) AS nd
            FROM daily GROUP BY event_type
        ),
        pre AS (
            SELECT d.event_type, day,
                   sum(v) OVER (PARTITION BY d.event_type ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS prefix,
                   CAST(count(*) OVER (PARTITION BY d.event_type ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k,
                   tv, nd
            FROM daily d JOIN totals USING (event_type)
        ),
        cus AS (
            SELECT event_type, day,
                   CAST(prefix AS DOUBLE) - k * (CAST(tv AS DOUBLE) / nd) AS cusum,
                   nd,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY abs(CAST(prefix AS DOUBLE) - k * (CAST(tv AS DOUBLE) / nd)) DESC, day) AS rn
            FROM pre
        )
        SELECT event_type, day AS change_day,
               round(cusum, 3) AS cusum, nd AS n_days
        FROM cus WHERE rn = 1
    """,
    "benford_deviation": """
        WITH counts AS (
            SELECT CAST(floor(o_totalprice / pow(10.0, floor(log10(o_totalprice)))) AS INT) AS digit,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders WHERE o_totalprice > 0
            GROUP BY 1
        ),
        total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
        SELECT digit, n,
               round(CAST(n AS DOUBLE) / total, 6) AS share,
               round(log10(1 + 1.0 / digit), 6) AS benford_expected,
               round(CAST(n AS DOUBLE) / total - log10(1 + 1.0 / digit), 6) AS deviation
        FROM counts, total
    """,
    "price_mad_outliers": f"""
        WITH priced AS (
            SELECT p_type, l_extendedprice AS x
            FROM lineitem JOIN part ON l_partkey = p_partkey
        ),
        med AS (
            SELECT p_type, round(quantile_cont(x, 0.5), 6) AS med
            FROM priced GROUP BY p_type
        ),
        mad AS (
            SELECT p.p_type, round(quantile_cont(abs(x - med), 0.5), 6) AS mad,
                   min(med) AS med
            FROM priced p JOIN med USING (p_type)
            GROUP BY p.p_type
        )
        SELECT p.p_type,
               CAST(count(*) AS BIGINT) AS n,
               min(m.med) AS median_price,
               min(m.mad) AS mad,
               CAST(sum(CAST(abs(x - m.med) > {MAD_K} * m.mad AS INT)) AS BIGINT) AS n_outliers
        FROM priced p JOIN mad m USING (p_type)
        GROUP BY p.p_type
    """,
    "value_moments": """
        WITH agg AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   sum(value) AS s1,
                   sum(value * value) AS s2,
                   sum(value * value * value) AS s3
            FROM events GROUP BY event_type
        )
        SELECT event_type, n,
               round(s1 / n, 4) AS mean,
               round(s2 / n - (s1/n) * (s1/n), 3) AS variance,
               round((s3 / n - 3 * (s1/n) * (s2/n - (s1/n)*(s1/n)) - (s1/n)*(s1/n)*(s1/n))
                     / pow(s2/n - (s1/n)*(s1/n), 1.5), 3) AS skewness
        FROM agg
    """,
    "orders_dispersion": """
        WITH daily AS (
            SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
                   count(*) AS c
            FROM orders GROUP BY 1
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_days,
                   sum(c) AS s1, sum(c * c) AS s2
            FROM daily
        )
        SELECT n_days,
               round(CAST(s1 AS DOUBLE) / n_days, 4) AS mean_daily_orders,
               round(CAST(s2 AS DOUBLE) / n_days
                     - (CAST(s1 AS DOUBLE)/n_days) * (CAST(s1 AS DOUBLE)/n_days), 4) AS var_daily_orders,
               round((CAST(s2 AS DOUBLE) / n_days
                     - (CAST(s1 AS DOUBLE)/n_days) * (CAST(s1 AS DOUBLE)/n_days))
                     / (CAST(s1 AS DOUBLE)/n_days), 4) AS dispersion_index
        FROM agg
    """,
    "segment_migration": """
        WITH o AS (
            SELECT o_custkey,
                   CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
                   CAST(o_totalprice AS DECIMAL(18,4)) AS price
            FROM orders
        ),
        span AS (SELECT (min(ym) + max(ym)) // 2 AS mid FROM o),
        per_cust AS (
            SELECT o_custkey,
                   CASE WHEN ym < (SELECT mid FROM span) THEN 1 ELSE 2 END AS period,
                   CAST(CAST(sum(price) AS DECIMAL(18,2)) AS DOUBLE) AS rev
            FROM o GROUP BY 1, 2
        ),
        cuts AS (
            SELECT period,
                   round(quantile_cont(rev, 0.25), 6) AS q1,
                   round(quantile_cont(rev, 0.5), 6) AS q2,
                   round(quantile_cont(rev, 0.75), 6) AS q3
            FROM per_cust GROUP BY period
        ),
        assigned AS (
            SELECT o_custkey, p.period,
                   CASE WHEN rev <= q1 THEN 'low'
                        WHEN rev <= q2 THEN 'mid'
                        WHEN rev <= q3 THEN 'high'
                        ELSE 'top' END AS seg
            FROM per_cust p JOIN cuts c ON p.period = c.period
        ),
        p1 AS (SELECT o_custkey, seg AS seg_from FROM assigned WHERE period = 1),
        p2 AS (SELECT o_custkey, seg AS seg_to FROM assigned WHERE period = 2)
        SELECT coalesce(seg_from, 'none') AS seg_from,
               coalesce(seg_to, 'none') AS seg_to,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM p1 FULL OUTER JOIN p2 USING (o_custkey)
        GROUP BY 1, 2
    """,
    "revenue_trend_regression": """
        WITH monthly AS (
            SELECT n_name,
                   CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS x,
                   CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,2)) AS DOUBLE) AS y
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        )
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_months,
               round(regr_slope(y, x), 2) AS slope,
               round(regr_intercept(y, x), 2) AS intercept,
               round(corr(y, x), 4) AS r
        FROM monthly GROUP BY n_name
    """,
    "order_size_distribution": """
        WITH per_order AS (
            SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
        FROM per_order GROUP BY n_lines
    """,
    "supplier_concentration_hhi": """
        WITH per_supp AS (
            SELECT n_name, s_suppkey,
                   sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS srev
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY 1, 2
        ),
        totals AS (SELECT n_name, sum(srev) AS trev FROM per_supp GROUP BY n_name)
        SELECT p.n_name,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               round(sum((CAST(srev AS DOUBLE) / CAST(trev AS DOUBLE))
                         * (CAST(srev AS DOUBLE) / CAST(trev AS DOUBLE))), 4) AS hhi,
               round(max(CAST(srev AS DOUBLE) / CAST(trev AS DOUBLE)), 4) AS top_share
        FROM per_supp p JOIN totals t ON p.n_name = t.n_name
        GROUP BY p.n_name
    """,
    "user_event_entropy": """
        WITH per_type AS (
            SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY user_id, event_type
        )
        SELECT user_id,
               CAST(sum(n) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_types,
               round(ln(CAST(sum(n) AS DOUBLE))
                     - sum(n * ln(CAST(n AS DOUBLE))) / sum(n), 6) AS entropy
        FROM per_type GROUP BY user_id
    """,
}

QUERIES = {
    "ab_test_report": ab_test_report,
    "priority_mix_chi2": priority_mix_chi2,
    "daily_cusum_changepoint": daily_cusum_changepoint,
    "benford_deviation": benford_deviation,
    "price_mad_outliers": price_mad_outliers,
    "value_moments": value_moments,
    "orders_dispersion": orders_dispersion,
    "segment_migration": segment_migration,
    "revenue_trend_regression": revenue_trend_regression,
    "order_size_distribution": order_size_distribution,
    "supplier_concentration_hhi": supplier_concentration_hhi,
    "user_event_entropy": user_event_entropy,
}
