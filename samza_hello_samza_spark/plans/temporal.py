"""Temporal / per-entity analytics over the events and lineitem tables.

Five operators the reference's analytics surface implies but never
spells out (hello-samza's wikipedia-stats job does windowed counts and
running totals; these are the natural next queries a user of that job
writes):

- events_time_rollup      : hypertable-style multi-grain rollup
                            (day → hour → minute) in ONE scan via
                            ``rollup()`` grouping sets.
- top_events_per_user     : per-group top-k (row_number window, k=3).
- user_transition_counts  : event-type Markov transitions via
                            ``lead()`` — the "what happens next"
                            query over a keyed stream.
- decayed_user_value      : exponentially time-decayed per-user value
                            (recency-weighted engagement score).
- value_histogram         : fixed-bound ``width_bucket`` histogram of
                            lineitem prices (equal-width, engine-exact).

Scale design: the rollup is a single aggregate with grouping sets —
Spark plans one shuffle with partial aggregation per grouping set (no
N scans for N grains). The top-k window partitions by user_id (hash
shuffle on the group key, no global sort). Transitions shuffle once by
user_id for the lead() window, then the pair-count agg is map-side
partial. The decay anchor is a 1-row aggregate broadcast (never a
global window). The histogram is pure column math + a 22-group agg.

Cross-engine determinism notes (the driver hashes stringified values):
- rollup NULL markers are coalesced to -1 sentinels in BOTH engines —
  the compare harness sorts tuples and None breaks the sort; the
  grouping level is also exported explicitly (``lvl``) via
  grouping_id()/GROUPING(), whose bit order (first col = MSB) agrees
  between Spark and DuckDB.
- orderings that feed lead()/row_number() use (epoch-second, event_id)
  keys: events.ts is TIMESTAMP(NANOS) in parquet and the two engines
  truncate sub-second precision differently mid-plan, so any ordering
  finer than seconds could disagree on ties; second + unique event_id
  is total and engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, materialize

TOP_K = 3
DECAY_TAU_SEC = 604_800  # 7 days
HIST_LO = 900.0
HIST_HI = 110_000.0
HIST_NBUCKETS = 22
PARETO_NBUCKETS = 10
# 4 h: the widest hop deadline at which the synthetic corpus still
# DISCRIMINATES — 1 h yields zero completions, 1 week collapses every
# user to stage 3; 4 h populates all reached stages.
FUNNEL_WINDOW_S = 14_400


def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain time rollup: minute, hour, day, grand total — one scan.

    The timeseries-store pattern (continuous aggregates / hypertable
    rollups) expressed as grouping sets: ``rollup(day, hour, minute)``
    plans ONE shuffle whose map side emits partial aggregates for every
    grain, instead of four separate scans. Grains are epoch-bucket
    bigints (day = sec div 86400) so the group keys are 8-byte ints,
    not formatted strings.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    return (
        ev.select(
            (sec / 86400).cast("bigint").alias("day"),
            (sec / 3600).cast("bigint").alias("hour"),
            (sec / 60).cast("bigint").alias("minute"),
            "value",
        )
        .rollup("day", "hour", "minute")
        .agg(
            F.grouping_id().alias("lvl"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "lvl",
            F.coalesce("day", F.lit(-1)).alias("day"),
            F.coalesce("hour", F.lit(-1)).alias("hour"),
            F.coalesce("minute", F.lit(-1)).alias("minute"),
            "n_events",
            "sum_value",
        )
    )


def top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user — per-group top-k via row_number.

    The window partitions by user_id: one hash shuffle on the group
    key, each partition sorts only its own users' rows (no global
    sort, no TakeOrdered over the whole table). At 100 TB this is the
    canonical per-entity leaderboard plan; a skewed power-user key
    would be handled by AQE skew-split since the window shuffle is a
    plain hash exchange.

    value is ordered RAW (both engines read identical double bits from
    parquet) with event_id as total tiebreak; the emitted value is
    rounded for stable stringification.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.select("user_id", "event_id", "value")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("user_id", "rnk", "event_id", F.round("value", 2).alias("value"))
    )


def user_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_type → next event_type transition counts per the user stream.

    lead() over (user_id ORDER BY second, event_id): one shuffle on
    user_id, per-partition sort, then the (prev, next) pair count is a
    map-side-partial agg over a tiny key space. This is the Markov
    /"next action" query a session-analytics user writes right after
    session_window.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_timestamp("ts"), F.col("event_id")
    )
    return (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("prev_type"), "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


def decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed per-user value (recency-weighted score).

    weight = exp(-(t_anchor - t) / tau), tau = 7 days, anchored at the
    corpus max event second. The anchor is a 1-row aggregate broadcast
    (crossJoin of a 1-row frame — same audited pattern as q22's scalar
    subquery), NOT a global window; the decay itself is pure column
    math inside whole-stage codegen, and the per-user sum is one hash
    agg. round(3) absorbs last-ulp libm exp() differences between the
    JVM and DuckDB.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    anchor = ev.agg(F.max(F.unix_timestamp("ts")).alias("anchor_sec"))
    return (
        ev.select("user_id", sec.alias("sec"), "value")
        .crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.col("value")
                    * F.exp(-(F.col("anchor_sec") - F.col("sec")) / F.lit(float(DECAY_TAU_SEC)))
                ),
                3,
            ).alias("decayed_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of lineitem extended price (width_bucket semantics).

    The bucket id is the explicit floor((x-lo)/(hi-lo)*n)+1 formula —
    written IDENTICALLY in both engines (DuckDB lacks width_bucket),
    so the integer bucket comes out of the same double bits and needs
    no approx tolerance. Pure column math + a 24-group agg: the scan
    reads ONE column and the shuffle carries ≤24 rows per map task.
    """
    li = load_table(spark, sf_dir, "lineitem")
    step = (HIST_HI - HIST_LO) / HIST_NBUCKETS
    raw = (
        F.floor(
            (F.col("l_extendedprice") - F.lit(HIST_LO))
            / F.lit(HIST_HI - HIST_LO)
            * F.lit(HIST_NBUCKETS)
        )
        + 1
    )
    bucket = F.least(
        F.lit(HIST_NBUCKETS + 1).cast("bigint"),
        F.greatest(F.lit(0).cast("bigint"), raw),
    )
    return (
        li.select(bucket.alias("bucket"), "l_extendedprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .withColumn(
            "bucket_lo",
            F.round(F.lit(HIST_LO) + (F.col("bucket") - 1) * F.lit(step), 2),
        )
        .select("bucket", "bucket_lo", "n_items", "sum_price")
    )


ROLLING_DAYS = 7
EQUIDEPTH_NBUCKETS = 20


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day distinct users per day — without a range join.

    The naive plan is a non-equi join (day BETWEEN d-6 AND d) — a
    nested loop at scale. Instead each (day, user) row fans out to its
    ≤7 anchor days via ``explode(sequence(day, day+6))``: every join
    and aggregate is an EQUI shuffle, row growth is a fixed ×7, and
    the per-anchor distinct count is an ordinary two-phase distinct
    agg. Anchors that aren't real event days (the 6 days after the
    last event) are dropped by a broadcast semi-join against the
    distinct-day set (bounded: one row per calendar day).
    """
    from ..functions.hints import maybe_broadcast

    ev = load_table(spark, sf_dir, "events")
    day = (F.unix_timestamp("ts") / 86400).cast("bigint")
    # distinct (day, user) consumed TWICE (day set + anchor fanout):
    # one events scan + distinct shuffle instead of two.
    user_days = materialize(ev.select(day.alias("day"), "user_id").distinct(), "bounded")
    days = user_days.select("day").distinct()
    anchors = user_days.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (ROLLING_DAYS - 1))
        ).alias("day"),
        "user_id",
    )
    return (
        anchors.join(maybe_broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("active_users_7d"))
    )


def rolling_active_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch path for rolling_active_users: one HLL sketch per day,
    merged over the trailing window — the 100 TB shape.

    The exact plan shuffles every (day, user) pair ×7; this one
    aggregates each day to a single ~KB HLL sketch FIRST (map-side
    partial, tiny shuffle), fans out only the per-day sketches to
    their anchor days, and merges ≤7 sketches per anchor with
    hll_union_agg. Shuffle volume is O(days × sketch_bytes),
    independent of user cardinality. rows-only: sketch estimates have
    no DuckDB twin; accuracy vs the exact plan is pytest-asserted.
    """
    ev = load_table(spark, sf_dir, "events")
    day = (F.unix_timestamp("ts") / 86400).cast("bigint")
    day_sketches = (
        ev.select(day.alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        # days-sized (~KB sketches); consumed by the day set AND the
        # anchor fanout — one events scan + sketch fold instead of two.
        .transform(materialize, "bounded")
    )
    days = day_sketches.select("day")
    anchors = day_sketches.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (ROLLING_DAYS - 1))
        ).alias("day"),
        "sk",
    )
    from ..functions.hints import maybe_broadcast

    return (
        anchors.join(maybe_broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("active_users_7d")
        )
    )


def price_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-boundary) histogram of lineitem prices.

    Boundaries are EXACT percentiles (Spark F.percentile interpolation
    is bit-identical to DuckDB quantile_cont — verified property of
    this repo's oracle harness), computed as ONE 1-row aggregate and
    broadcast back; bucket assignment is array math (count of
    boundaries strictly below the price) inside codegen. No global
    sort, no ntile window over the fact table — the classic
    equi-depth trap at scale is ntile(), which range-partitions the
    whole table; this plan's only wide op is the 1-row percentile agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pcts = [i / EQUIDEPTH_NBUCKETS for i in range(1, EQUIDEPTH_NBUCKETS)]
    bounds = li.agg(
        F.percentile("l_extendedprice", pcts).alias("bs")
    )
    px = F.col("l_extendedprice")
    bucket = (
        F.size(F.filter("bs", lambda b: px > b)) + 1
    )
    return (
        li.select("l_extendedprice")
        .crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "l_extendedprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


def customer_revenue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ranking-window surface per nation: rank, dense_rank,
    percent_rank, cume_dist, ntile — one partitioned window.

    The window partitions by nation (25 partitions, each a bounded
    customer set): one hash shuffle, per-partition sort, no global
    ordering anywhere. Revenue is rounded BEFORE ranking (cross-engine
    float noise flips winners otherwise) and ntile gets a c_custkey
    tiebreak because ntile, unlike rank, is not tie-stable.
    """
    from ..functions.hints import maybe_broadcast

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    # decimal-domain sum + round (SURVEY §4 hazard classes 1 and 2):
    # a plain round(sum(double), 2) diverged from the oracle at sf0.1
    # on knife-edge customers — caught by the sf0.1 oracle sweep.
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("revenue")
        )
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(maybe_broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "c_custkey", "revenue")
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    wpart = Window.partitionBy("n_name")
    # pct_rank/cume via truncating INTEGER division at 6dp: the order
    # is tie-free (c_custkey tiebreak), so rank = row_number and
    # percent_rank = (rn−1)/(n−1) — but round(double, 6) of that ratio
    # sits on exact-halfway knife edges (333/640 = 0.5203125) where
    # Spark's shortest-repr HALF_UP and DuckDB's binary-double round
    # disagree (caught by the sf0.1 sweep). (k*10⁶) DIV denom is
    # engine-exact; the final /1e6 maps equal integers to equal
    # doubles.
    return (
        rev.withColumn("rnk", F.rank().over(w))
        .withColumn("npart", F.count(F.lit(1)).over(wpart))
        .select(
            "n_name",
            "c_custkey",
            "revenue",
            "rnk",
            F.dense_rank().over(w).alias("dense_rnk"),
            # single-customer nations: (npart-1)=0 — non-ANSI DIV
            # would yield NULL (and error under ANSI); percent_rank's
            # defined value there is 0.0, so guard it explicitly.
            F.when(
                F.col("npart") > 1,
                F.expr("((rnk - 1) * 1000000L) DIV (npart - 1)") / 1e6,
            )
            .otherwise(0.0)
            .alias("pct_rank"),
            (F.expr("(rnk * 1000000L) DIV npart") / 1e6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )


GAP_THRESHOLD_S = 3600
REDELIVERY_WINDOW_US = 600 * 1_000_000  # 10 min


def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB-``time_weight``-style per-user value average.

    Irregularly-sampled series must weight each observation by how
    long it was "current": TWA = Σ value·Δt / Σ Δt with Δt the
    integer seconds until the user's next event (the last observation
    carries no weight — LOCF semantics). One user_id shuffle feeds
    the lead() window and the aggregate. Exactness: Δt is integer
    seconds, value·Δt is a DECIMAL(18,4)·bigint product — the
    weighted sum is order-independent; only the final ratio is
    floating (identical operands both engines). Also reports the
    longest silence and the count of gaps over an hour (the uptime /
    monitoring companion).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    with_dt = ev.select(
        "user_id",
        F.col("value").cast("decimal(18,4)").alias("v"),
        F.expr(
            "(lead(unix_micros(ts)) OVER "
            "(PARTITION BY user_id ORDER BY unix_micros(ts), event_id) "
            "- unix_micros(ts)) DIV 1000000"
        ).alias("dt_s"),
    )
    agg = with_dt.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("dt_s").alias("span_s"),
        F.sum(F.col("v") * F.col("dt_s")).alias("wv"),
        F.max("dt_s").alias("max_gap_s"),
        F.sum(F.when(F.col("dt_s") > GAP_THRESHOLD_S, 1).otherwise(0)).alias(
            "n_long_gaps"
        ),
    )
    return agg.select(
        "user_id",
        "n_events",
        F.coalesce("span_s", F.lit(-1)).cast("long").alias("span_s"),
        F.coalesce(
            F.round(F.col("wv").cast("double") / F.col("span_s"), 6), F.lit(-1.0)
        ).alias("time_weighted_avg"),
        F.coalesce("max_gap_s", F.lit(-1)).cast("long").alias("max_gap_s"),
        F.col("n_long_gaps").cast("long").alias("n_long_gaps"),
    )


def redelivery_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``dropDuplicatesWithinWatermark`` — WITH an oracle.

    At-least-once transports redeliver: rows with identical content
    key (user_id, event_type, value) arriving in a burst are one
    logical event. A burst is a chain whose consecutive arrivals are
    < 10 min apart (the same break rule as sessionization, keyed by
    content); the FIRST arrival survives, later ones count as
    redeliveries. One shuffle on the content key; the streaming twin
    (streaming/jobs.py redelivery_dedup_job) holds the same chain
    head in watermark-expiring state.
    """
    ev = load_table(spark, sf_dir, "events")
    key = ["user_id", "event_type", "value"]
    w = Window.partitionBy(*key).orderBy(F.unix_micros("ts"), "event_id")
    chains = ev.withColumn(
        "is_new_burst",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            >= F.lit(REDELIVERY_WINDOW_US)
        )
        .cast("int"),
    ).withColumn(
        "burst", F.coalesce(F.sum("is_new_burst").over(w), F.lit(0))
    )
    w_burst = Window.partitionBy("user_id", "event_type", "value", "burst").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    numbered = chains.withColumn("rn", F.row_number().over(w_burst))
    return (
        numbered.groupBy(
            "user_id", "event_type", F.round("value", 6).alias("value"), "burst"
        )
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("event_id"))).alias("kept_event_id"),
            F.count(F.lit(1)).alias("n_deliveries"),
        )
        .select(
            "user_id",
            "event_type",
            "value",
            F.col("burst").cast("long").alias("burst"),
            "kept_event_id",
            (F.col("n_deliveries") - 1).cast("long").alias("n_redeliveries"),
        )
    )


MEDIAN_HALF_WINDOW = 3
ATTR_WINDOW_US = 14_400 * 1_000_000  # 4 h, same horizon as the funnel


def daily_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN of daily event counts per type.

    The robust smoother (a rolling mean chases outliers; the rolling
    median ignores them): ``percentile(·, 0.5)`` evaluated over a
    ±3-day rows frame — an aggregate used as a window function, a
    plan shape nothing else in the repo exercises. Window input is
    the bounded per-type daily series; counts are integers so the
    interpolated median is engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-MEDIAN_HALF_WINDOW, MEDIAN_HALF_WINDOW)
    )
    return daily.select(
        "event_type",
        "day",
        F.col("c").cast("long").alias("n_events"),
        F.round(F.percentile("c", 0.5).over(w), 1).alias("rolling_median"),
    )


def purchase_touch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: how many views share each purchase's
    credit, and the per-touch credit.

    The linear-attribution companion to ``purchase_attribution``
    (last-touch): each purchase counts the views in its trailing 4-h
    horizon with a RANGE frame over integer micros — value-based
    framing, not row counting, so simultaneous events resolve
    identically in both engines. One user_id shuffle; no join, no row
    amplification.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        us.alias("us"),
        (F.col("event_type") == "view").cast("long").alias("is_view"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-ATTR_WINDOW_US, -1)
    )
    return (
        base.withColumn("n_touches", F.sum("is_view").over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.coalesce("n_touches", F.lit(0)).cast("long").alias("n_touches"),
            F.round(
                F.when(
                    F.col("n_touches") > 0, F.col("value") / F.col("n_touches")
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("credit_per_touch"),
        )
    )


ORACLES: dict[str, str] = {
    "daily_rolling_median": """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, day, c AS n_events,
               round(quantile_cont(c, 0.5) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 1) AS rolling_median
        FROM daily
    """,
    "purchase_touch_counts": """
        WITH base AS (
            SELECT user_id, event_id, event_type, value,
                   epoch_us(ts) AS us,
                   CAST(event_type = 'view' AS BIGINT) AS is_view
            FROM events
        ),
        counted AS (
            SELECT *,
                   sum(is_view) OVER (
                       PARTITION BY user_id ORDER BY us
                       RANGE BETWEEN 14400000000 PRECEDING AND 1 PRECEDING
                   ) AS n_touches
            FROM base
        )
        SELECT user_id, event_id,
               CAST(coalesce(n_touches, 0) AS BIGINT) AS n_touches,
               round(CASE WHEN n_touches > 0 THEN value / n_touches ELSE 0.0 END, 4)
                   AS credit_per_touch
        FROM counted WHERE event_type = 'purchase'
    """,
    "time_weighted_value": """
        WITH with_dt AS (
            SELECT user_id,
                   CAST(value AS DECIMAL(18,4)) AS v,
                   (lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    - epoch_us(ts)) // 1000000 AS dt_s
            FROM events
        ),
        agg AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   sum(dt_s) AS span_s,
                   sum(v * dt_s) AS wv,
                   max(dt_s) AS max_gap_s,
                   CAST(sum(CASE WHEN dt_s > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_gaps
            FROM with_dt GROUP BY user_id
        )
        SELECT user_id, n_events,
               CAST(coalesce(span_s, -1) AS BIGINT) AS span_s,
               coalesce(round(CAST(wv AS DOUBLE) / span_s, 6), -1.0) AS time_weighted_avg,
               CAST(coalesce(max_gap_s, -1) AS BIGINT) AS max_gap_s,
               n_long_gaps
        FROM agg
    """,
    "redelivery_dedup": """
        WITH base AS (
            SELECT user_id, event_type, value,
                   epoch_us(ts) AS us, event_id
            FROM events
        ),
        flagged AS (
            SELECT *,
                   CASE WHEN us - lag(us) OVER w >= 600000000 THEN 1 ELSE 0 END AS is_new_burst
            FROM base
            WINDOW w AS (PARTITION BY user_id, event_type, value ORDER BY us, event_id)
        ),
        chains AS (
            SELECT *,
                   CAST(sum(is_new_burst) OVER (PARTITION BY user_id, event_type, value
                                                ORDER BY us, event_id
                                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst
            FROM flagged
        )
        , numbered AS (
            SELECT *,
                   row_number() OVER (PARTITION BY user_id, event_type, value, burst
                                      ORDER BY us, event_id) AS rn
            FROM chains
        )
        SELECT user_id, event_type,
               round(value, 6) AS value,
               burst,
               min(CASE WHEN rn = 1 THEN event_id END) AS kept_event_id,
               CAST(count(*) - 1 AS BIGINT) AS n_redeliveries
        FROM numbered
        GROUP BY user_id, event_type, round(value, 6), burst
    """,
}


ORACLES.update({
    "events_autocorrelation": """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                   round(sum(value), 6) AS v
            FROM events GROUP BY 1, 2
        ),
        pairs AS (
            SELECT d.event_type, d.v, n.v AS v_next
            FROM daily d JOIN daily n
              ON n.event_type = d.event_type AND n.day = d.day + 1
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_pairs,
               coalesce(round(corr(v, v_next), 4), -2.0) AS lag1_corr
        FROM pairs GROUP BY event_type
    """,
    "events_heatmap": """
        SELECT CAST(((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7 AS BIGINT) AS dow,
               CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS BIGINT) AS hour,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "user_state_scd2": """
        WITH base AS (
            SELECT user_id, event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
            FROM events
        ),
        flagged AS (
            SELECT *,
                   CASE WHEN lag(event_type) OVER w IS NULL
                          OR lag(event_type) OVER w <> event_type
                        THEN 1 ELSE 0 END AS chg
            FROM base
            WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
        ),
        numbered AS (
            SELECT *,
                   sum(chg) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS period
            FROM flagged
        ),
        periods AS (
            SELECT user_id, period,
                   min(event_type) AS state,
                   min(sec) AS valid_from
            FROM numbered GROUP BY user_id, period
        )
        SELECT user_id,
               CAST(period AS BIGINT) AS period,
               state,
               CAST(valid_from AS BIGINT) AS valid_from,
               CAST(coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, period), -1) AS BIGINT) AS valid_to
        FROM periods
    """,
    "events_gapfill": """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                   round(sum(value), 6) AS v
            FROM events GROUP BY 1, 2
        ),
        span AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        spine AS (
            SELECT t.event_type, d.day
            FROM (SELECT DISTINCT event_type FROM daily) t,
                 (SELECT unnest(generate_series(lo, hi)) AS day FROM span) d
        ),
        filled AS (
            SELECT s.event_type, s.day, daily.v
            FROM spine s LEFT JOIN daily USING (event_type, day)
        ),
        carried AS (
            SELECT *,
                   last_value(v IGNORE NULLS) OVER back AS prev_v,
                   last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER back AS prev_d,
                   first_value(v IGNORE NULLS) OVER fwd AS next_v,
                   first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER fwd AS next_d
            FROM filled
            WINDOW back AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   fwd AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, day,
               CAST(v IS NOT NULL AS INT) AS observed,
               round(coalesce(v,
                   CASE WHEN prev_d IS NULL THEN next_v
                        WHEN next_d IS NULL THEN prev_v
                        ELSE prev_v + (next_v - prev_v) * (day - prev_d) / (next_d - prev_d)
                   END), 6) AS value
        FROM carried
    """,
    "purchase_attribution": """
        WITH base AS (
            SELECT user_id, event_id, event_type,
                   round(value, 2) AS value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                   CASE WHEN event_type = 'view' THEN event_id END AS view_id,
                   CASE WHEN event_type = 'view' THEN CAST(floor(epoch(ts)) AS BIGINT) END AS view_sec
            FROM events
        ),
        attributed AS (
            SELECT *,
                   last_value(view_id IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_view_id,
                   last_value(view_sec IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_view_sec
            FROM base
        )
        SELECT event_id AS purchase_id, user_id, value,
               CAST(coalesce(attr_view_id, -1) AS BIGINT) AS attr_view_id,
               CAST(coalesce(sec - attr_view_sec, -1) AS BIGINT) AS latency_s
        FROM attributed
        WHERE event_type = 'purchase'
    """,
    "events_time_rollup": """
        SELECT GROUPING(day) * 4 + GROUPING(hour) * 2 + GROUPING(minute) AS lvl,
               coalesce(day, -1) AS day,
               coalesce(hour, -1) AS hour,
               coalesce(minute, -1) AS minute,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                   CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
                   CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute,
                   value
            FROM events
        )
        GROUP BY ROLLUP(day, hour, minute)
    """,
    "top_events_per_user": f"""
        SELECT user_id, rnk, event_id, round(value, 2) AS value
        FROM (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY value DESC, event_id) AS rnk
            FROM events
        )
        WHERE rnk <= {TOP_K}
    """,
    "user_transition_counts": """
        SELECT prev_type, next_type, count(*) AS n_transitions
        FROM (
            SELECT event_type AS prev_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
                   ) AS next_type
            FROM events
        )
        WHERE next_type IS NOT NULL
        GROUP BY prev_type, next_type
    """,
    "decayed_user_value": f"""
        WITH anchor AS (
            SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS anchor_sec FROM events
        )
        SELECT user_id,
               round(sum(value * exp(-(anchor_sec - CAST(floor(epoch(ts)) AS BIGINT))
                                     / {float(DECAY_TAU_SEC)})), 3) AS decayed_value,
               count(*) AS n_events
        FROM events, anchor
        GROUP BY user_id
    """,
    "value_histogram": f"""
        SELECT bucket,
               round({HIST_LO} + (bucket - 1) * {(HIST_HI - HIST_LO) / HIST_NBUCKETS}, 2) AS bucket_lo,
               count(*) AS n_items,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM (
            SELECT least(CAST({HIST_NBUCKETS + 1} AS BIGINT),
                         greatest(CAST(0 AS BIGINT),
                                  CAST(floor((l_extendedprice - {HIST_LO})
                                             / {HIST_HI - HIST_LO} * {HIST_NBUCKETS}) AS BIGINT)
                                  + 1)) AS bucket,
                   l_extendedprice
            FROM lineitem
        )
        GROUP BY bucket
    """,
    "customer_revenue_rank": """
        WITH rev AS (
            SELECT n_name, c_custkey,
                   -- round(DECIMAL, 2) = exact half-away = Spark's
                   -- decimal(18,2) HALF_UP cast for positive values
                   -- (DuckDB's decimal->decimal CAST truncates!)
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name, c_custkey
        )
        SELECT n_name, c_custkey, revenue,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS dense_rnk,
               -- integer-exact 6dp ratios (see Spark-side comment);
               -- guard the single-customer nation (n-1 = 0): both
               -- engines' integer // NULLs there, percent_rank is 0.0
               CASE WHEN count(*) OVER p > 1
                    THEN ((rank() OVER w - 1) * 1000000)
                         // (count(*) OVER p - 1) / 1000000.0
                    ELSE 0.0 END AS pct_rank,
               (rank() OVER w * 1000000) // (count(*) OVER p)
                   / 1000000.0 AS cume,
               ntile(4) OVER w AS quartile
        FROM rev
        WINDOW w AS (PARTITION BY n_name ORDER BY revenue DESC, c_custkey),
               p AS (PARTITION BY n_name)
    """,
    "rolling_active_users": f"""
        WITH ud AS (
            SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                            user_id
            FROM events
        ),
        days AS (SELECT DISTINCT day FROM ud),
        anchors AS (
            SELECT ud.day + t.i AS day, user_id
            FROM ud, (SELECT unnest(range({ROLLING_DAYS})) AS i) t
        )
        SELECT day, count(DISTINCT user_id) AS active_users_7d
        FROM anchors
        WHERE day IN (SELECT day FROM days)
        GROUP BY day
    """,
    "price_equidepth_histogram": f"""
        WITH bounds AS (
            SELECT quantile_cont(l_extendedprice,
                                 [{", ".join(str(i / EQUIDEPTH_NBUCKETS) for i in range(1, EQUIDEPTH_NBUCKETS))}]) AS bs
            FROM lineitem
        )
        SELECT len(list_filter(bs, b -> l_extendedprice > b)) + 1 AS bucket,
               count(*) AS n_items,
               round(min(l_extendedprice), 2) AS lo,
               round(max(l_extendedprice), 2) AS hi
        FROM lineitem, bounds
        GROUP BY 1
    """,
    "orders_open_backlog": """
        WITH spans AS (
            SELECT CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400 AS open_day,
                   c.close_day
            FROM orders o
            JOIN (SELECT l_orderkey,
                         max(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400) AS close_day
                  FROM lineitem GROUP BY l_orderkey) c
              ON c.l_orderkey = o.o_orderkey
        ),
        deltas AS (
            SELECT day,
                   CAST(sum(opened) AS BIGINT) AS opened,
                   CAST(sum(closed) AS BIGINT) AS closed
            FROM (
                SELECT open_day AS day, 1 AS opened, 0 AS closed FROM spans
                UNION ALL
                SELECT close_day + 1 AS day, 0 AS opened, 1 AS closed FROM spans
            )
            GROUP BY day
        )
        SELECT day, opened, closed,
               CAST(sum(opened - closed) OVER (
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS open_orders
        FROM deltas
    """,
    "customer_pareto_curve": f"""
        WITH rev AS (
            SELECT o_custkey,
                   -- round(DECIMAL, 2): exact half-away = Spark's
                   -- decimal(18,2) HALF_UP cast (decimal->decimal
                   -- CAST would TRUNCATE in DuckDB)
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS rev
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_custkey
        ),
        cuts AS (
            SELECT quantile_cont(rev, [{", ".join(str(i / PARETO_NBUCKETS) for i in range(1, PARETO_NBUCKETS))}]) AS cs
            FROM rev
        ),
        total AS (SELECT sum(CAST(rev AS DECIMAL(18,2))) AS total_rev FROM rev)
        SELECT len(list_filter(cs, c -> rev > c)) + 1 AS decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(CAST(sum(CAST(rev AS DECIMAL(18,2))) AS DOUBLE), 2) AS decile_rev,
               round(CAST(sum(CAST(rev AS DECIMAL(18,2))) AS DOUBLE)
                     / CAST(any_value(total_rev) AS DOUBLE), 6) AS rev_share
        FROM rev, cuts, total
        GROUP BY 1
    """,
    "events_window_funnel": f"""
        WITH base AS (
            SELECT user_id, event_id, event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                   CASE WHEN event_type = 'view'
                        THEN CAST(floor(epoch(ts)) AS BIGINT) END AS view_sec
            FROM events
        ),
        v AS (
            SELECT *, last_value(view_sec IGNORE NULLS) OVER w AS last_view
            FROM base
            WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        q AS (
            SELECT *,
                   CASE WHEN event_type = 'click' AND last_view IS NOT NULL
                             AND sec - last_view <= {FUNNEL_WINDOW_S}
                        THEN sec END AS qclick_sec
            FROM v
        ),
        q2 AS (
            SELECT *, last_value(qclick_sec IGNORE NULLS) OVER w AS last_qclick
            FROM q
            WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        staged AS (
            SELECT user_id,
                   max(CASE
                       WHEN event_type = 'purchase' AND last_qclick IS NOT NULL
                            AND sec - last_qclick <= {FUNNEL_WINDOW_S} THEN 3
                       WHEN event_type = 'click' AND last_view IS NOT NULL
                            AND sec - last_view <= {FUNNEL_WINDOW_S} THEN 2
                       WHEN event_type = 'view' THEN 1
                       ELSE 0 END) AS stage
            FROM q2 GROUP BY user_id
        )
        SELECT CAST(stage AS BIGINT) AS stage,
               CAST(count(*) AS BIGINT) AS n_users
        FROM staged GROUP BY stage
    """,
    "priority_fulfillment_sla": """
        WITH ship AS (
            SELECT l_orderkey,
                   min(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400) AS ship_day
            FROM lineitem GROUP BY l_orderkey
        ),
        lat AS (
            SELECT o_orderpriority,
                   ship_day - (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS lat_days
            FROM orders JOIN ship ON l_orderkey = o_orderkey
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(avg(lat_days), 4) AS avg_days,
               round(quantile_cont(lat_days, 0.5), 6) AS p50_days,
               round(quantile_cont(lat_days, 0.9), 6) AS p90_days,
               CAST(max(lat_days) AS BIGINT) AS max_days
        FROM lat
        GROUP BY o_orderpriority
    """,
})

def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent preceding 'view' event.

    The marketing-analytics classic, and a distinct window shape from
    the as-of JOIN (asof_last_order): here both sides live in ONE
    stream, so the plan is a single shuffle on user_id and a
    ``last(ignorenulls=True)`` over a strictly-preceding row frame —
    the view's id/ts ride forward as nulls-except-on-views columns,
    and every purchase row reads the latest non-null. No join, no row
    amplification, one sort per user partition. Ordering is the
    module's (epoch-second, event_id) total key, engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        sec.alias("sec"),
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_id"),
        F.when(F.col("event_type") == "view", sec).alias("view_sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.withColumn("attr_view_id", F.last("view_id", ignorenulls=True).over(w))
        .withColumn("attr_view_sec", F.last("view_sec", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "value",
            # -1 sentinel for "no preceding view" (module convention:
            # NULLs break the compare harness's sort AND pandas turns
            # nullable BIGINT into float64 on the oracle side).
            F.coalesce("attr_view_id", F.lit(-1)).cast("long").alias("attr_view_id"),
            F.coalesce(
                (F.col("sec") - F.col("attr_view_sec")).cast("long"), F.lit(-1)
            ).alias("latency_s"),
        )
    )


def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 build: each user's event_type as validity periods.

    The dbt-snapshot / slowly-changing-dimension shape: collapse the
    keyed event stream into (user, state, valid_from, valid_to) rows,
    one per run of consecutive equal states. Plan: ONE shuffle on
    user_id feeds all three window passes (change flag via lag, period
    id via running sum of flags, valid_to via lead of the period
    start) — Catalyst plans them over a single sort. Open periods get
    the -1 sentinel (engine-comparable; NULL would go float in the
    oracle's pandas frame).
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    base = ev.select("user_id", "event_type", sec.alias("sec"), "event_id")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = base.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    ).withColumn("period", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    periods = flagged.groupBy("user_id", "period").agg(
        # all rows in a period share one state by construction; min()
        # (not first()) keeps the agg order-insensitive anyway.
        F.min("event_type").alias("state"),
        F.min("sec").alias("valid_from"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "period")
    return periods.select(
        "user_id",
        F.col("period").cast("long").alias("period"),
        "state",
        F.col("valid_from").cast("long").alias("valid_from"),
        F.coalesce(F.lead("valid_from").over(w2), F.lit(-1))
        .cast("long")
        .alias("valid_to"),
    )


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily value series with linear interpolation.

    The TimescaleDB ``time_bucket_gapfill`` + ``interpolate`` op: the
    per-(type, day) aggregate is densified to EVERY day in the
    corpus span (day spine = sequence-explode of a 1-row min/max
    broadcast crossed with the distinct types — never a corpus-sized
    generator), then missing days interpolate between the carried
    previous and next real points (last/first ignore-nulls over
    directional frames; one shuffle on event_type for all four window
    columns). Edges extrapolate flat (coalesce to the one real
    neighbor).
    """
    ev = load_table(spark, sf_dir, "events")
    day = (F.unix_timestamp("ts") / 86400).cast("bigint")
    daily = ev.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.round(F.sum("value"), 6).alias("v")
    )
    span = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    filled = spine.join(daily, ["event_type", "day"], "left")
    back = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("v", ignorenulls=True).over(back)
    prev_d = F.last(F.when(F.col("v").isNotNull(), F.col("day")), ignorenulls=True).over(back)
    next_v = F.first("v", ignorenulls=True).over(fwd)
    next_d = F.first(F.when(F.col("v").isNotNull(), F.col("day")), ignorenulls=True).over(fwd)
    interp = prev_v + (next_v - prev_v) * (F.col("day") - prev_d) / (next_d - prev_d)
    return filled.select(
        "event_type",
        "day",
        F.col("v").isNotNull().cast("int").alias("observed"),
        F.round(
            F.coalesce(
                F.col("v"),
                F.when(prev_d.isNull(), next_v)
                .when(next_d.isNull(), prev_v)
                .otherwise(interp),
            ),
            6,
        ).alias("value"),
    )


def events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage heatmap: activity by (day-of-week, hour-of-day) cell.

    The ops-dashboard staple. Day-of-week comes from pure epoch
    integer math — ``(days_since_epoch + 4) % 7`` (1970-01-01 was a
    Thursday; 0=Sunday) — because the engines' calendar dow functions
    disagree on numbering (Spark 1=Sunday, DuckDB 0=Sunday) while
    integer arithmetic is identical everywhere. One scan, 168-cell
    aggregate, map-side partials do all the work.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    dow = ((sec / 86400).cast("bigint") + 4) % 7
    hour = (sec % 86400 / 3600).cast("bigint")
    return (
        ev.groupBy(dow.alias("dow"), hour.alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("dow").cast("long").alias("dow"),
            F.col("hour").cast("long").alias("hour"),
            F.col("n_events").cast("long").alias("n_events"),
            "total_value",
        )
    )


def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily value series, per event type.

    Time-series diagnostics (is today's volume predicted by
    yesterday's?): the corpus collapses to a (type, day) aggregate
    first — everything after runs on days-sized data — then each day
    equi-joins its successor (day+1 join key, no window needed) and a
    per-type Pearson ``corr`` aggregate finishes. Types without enough
    pairs surface with NULL→-2 sentinel (corr ∈ [-1,1], so -2 is
    unambiguous).
    """
    ev = load_table(spark, sf_dir, "events")
    day = (F.unix_timestamp("ts") / 86400).cast("bigint")
    daily = ev.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.round(F.sum("value"), 6).alias("v")
    )
    nxt = daily.select(
        "event_type",
        (F.col("day") - 1).alias("day"),
        F.col("v").alias("v_next"),
    )
    pairs = daily.join(nxt, ["event_type", "day"])
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.coalesce(F.round(F.corr("v", "v_next"), 4), F.lit(-2.0)).alias("lag1_corr"),
    )


def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: how many orders are in flight each day.

    The interval-concurrency query (ops dashboards, WIP accounting):
    an order opens at o_orderdate and closes when its last lineitem
    ships. Instead of joining every order span against a day spine
    (O(days × orders) row amplification), each span emits exactly TWO
    delta rows in-row — (+1 open, -1 close+1) via an array inline, no
    second scan of the join — which collapse to a days-sized
    (opened, closed) aggregate; the running prefix sum over that
    aggregate is the backlog. The only window runs over the days-sized
    frame (thousands of rows at any corpus size — days don't grow with
    data volume), never the fact table.

    Scale: one orderkey equi-join (bucketing co-locates it, see
    sources/bucketing.py), one tiny groupBy, all-integer outputs (no
    cross-engine float hazard).
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    open_day = (F.unix_timestamp("o_orderdate") / 86400).cast("bigint")
    close = li.groupBy("l_orderkey").agg(
        F.max((F.unix_timestamp("l_shipdate") / 86400).cast("bigint")).alias("close_day")
    )
    spans = (
        orders.select("o_orderkey", open_day.alias("open_day"))
        .join(close, F.col("o_orderkey") == close["l_orderkey"])
        .select("open_day", "close_day")
    )
    deltas = (
        spans.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("open_day").alias("day"),
                        F.lit(1).alias("opened"),
                        F.lit(0).alias("closed"),
                    ),
                    F.struct(
                        (F.col("close_day") + 1).alias("day"),
                        F.lit(0).alias("opened"),
                        F.lit(1).alias("closed"),
                    ),
                )
            ).alias("d")
        )
        .select("d.*")
        .groupBy("day")
        .agg(
            F.sum("opened").cast("long").alias("opened"),
            F.sum("closed").cast("long").alias("closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "day",
        "opened",
        "closed",
        F.sum(F.col("opened") - F.col("closed")).over(w).cast("long").alias("open_orders"),
    )


def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (ClickHouse ``windowFunnel`` shape):
    view → click within FUNNEL_WINDOW_S of the latest view → purchase
    within FUNNEL_WINDOW_S of the latest qualifying click; per-user
    max stage, then a stage histogram.

    Unlike ``events_funnel`` (first-times, no deadline), each hop here
    must land within FUNNEL_WINDOW_S of its predecessor, and the
    predecessor is the *most recent* qualifying event — the
    last-touch rule. Plan: ONE shuffle on user_id feeds both chained
    window passes (``last(ignorenulls)`` over strictly-preceding rows;
    the second window reuses the first's sort), then two tiny
    aggregates. No joins, no row amplification; deadline math is pure
    integer seconds — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        sec.alias("sec"),
        F.when(F.col("event_type") == "view", sec).alias("view_sec"),
    )
    prev = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_view = base.withColumn(
        "last_view", F.last("view_sec", ignorenulls=True).over(prev)
    )
    qual_click = (
        (F.col("event_type") == "click")
        & F.col("last_view").isNotNull()
        & (F.col("sec") - F.col("last_view") <= FUNNEL_WINDOW_S)
    )
    with_q = with_view.withColumn(
        "qclick_sec", F.when(qual_click, F.col("sec"))
    ).withColumn("last_qclick", F.last("qclick_sec", ignorenulls=True).over(prev))
    complete = (
        (F.col("event_type") == "purchase")
        & F.col("last_qclick").isNotNull()
        & (F.col("sec") - F.col("last_qclick") <= FUNNEL_WINDOW_S)
    )
    stage = (
        F.when(complete, 3)
        .when(qual_click, 2)
        .when(F.col("event_type") == "view", 1)
        .otherwise(0)
    )
    return (
        with_q.groupBy("user_id")
        .agg(F.max(stage).alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(F.col("stage").cast("long").alias("stage"), "n_users")
    )


def priority_fulfillment_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment SLA report: placement → FIRST shipment latency
    distribution (count, mean, p50, p90, max days) per order priority.

    The ops-SLA twin of q4's existence check: latency is an integer
    day diff (engine-exact), aggregated per priority — 5 bounded
    groups. Plan: min-shipdate pre-agg on lineitem (map-side partial),
    one orderkey equi-join (Catalyst/AQE picks the strategy — no
    forced hint), then a 5-group agg. Exact percentiles buffer each
    group, the correctness baseline; at 100 TB swap
    ``F.percentile_approx`` (mergeable KLL sketch) exactly as
    event_value_percentiles_approx does.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min((F.unix_timestamp("l_shipdate") / 86400).cast("bigint")).alias("ship_day")
    )
    lat = (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            (F.unix_timestamp("o_orderdate") / 86400).cast("bigint").alias("order_day"),
        )
        .join(first_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "o_orderpriority", (F.col("ship_day") - F.col("order_day")).alias("lat_days")
        )
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.avg("lat_days"), 4).alias("avg_days"),
        F.round(F.percentile("lat_days", 0.5), 6).alias("p50_days"),
        F.round(F.percentile("lat_days", 0.9), 6).alias("p90_days"),
        F.max("lat_days").cast("long").alias("max_days"),
    )


def customer_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration by customer decile (Lorenz / 80-20 curve).

    Which slice of the customer base carries the revenue? Per-customer
    revenue is bucketed by exact decile cut points — a 1-row
    ``percentile`` broadcast, never a global ntile sort — then each
    decile reports its customer count and revenue share against a
    1-row total broadcast.

    Cross-engine float hardening (SURVEY §5): per-customer revenue
    sums DECIMAL(18,4)-cast terms (order-independent addition), lands
    on a rounded DOUBLE both engines derive identically; the decile
    sums re-cast that rounded value to DECIMAL(18,2) so the share
    ratio divides two exact decimals.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    term = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    # round in the DECIMAL domain before the double cast (hazard class
    # 2): round(CAST(exact_decimal AS DOUBLE), 2) flipped a knife-edge
    # customer at sf0.1 (Spark HALF_UP vs DuckDB rint on the double).
    rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        # customers-sized relation consumed 3× (decile cuts, the total
        # and the bucketing itself): materialize once — the plan audit
        # showed the lineitem⋈orders join + aggregation running once
        # per consumer (3 full fact scans)
        .agg(F.sum(term).cast("decimal(18,2)").cast("double").alias("rev"))
        .transform(materialize, "bounded")
    )
    qs = [i / PARETO_NBUCKETS for i in range(1, PARETO_NBUCKETS)]
    cuts = rev.agg(F.percentile("rev", F.lit(qs)).alias("cuts"))
    total = rev.agg(F.sum(F.col("rev").cast("decimal(18,2)")).alias("total_rev"))
    bucketed = (
        rev.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(total))
        .select(
            (
                F.aggregate(
                    "cuts",
                    F.lit(0),
                    lambda acc, c: acc + F.when(F.col("rev") > c, 1).otherwise(0),
                )
                + 1
            ).alias("decile"),
            "rev",
            "total_rev",
        )
    )
    return bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.sum(F.col("rev").cast("decimal(18,2)")).cast("double"), 2).alias("decile_rev"),
        F.round(
            (
                F.sum(F.col("rev").cast("decimal(18,2)")).cast("double")
                / F.first("total_rev").cast("double")
            ),
            6,
        ).alias("rev_share"),
    )


QUERIES = {
    "events_time_rollup": events_time_rollup,
    "events_autocorrelation": events_autocorrelation,
    "purchase_attribution": purchase_attribution,
    "user_state_scd2": user_state_scd2,
    "events_gapfill": events_gapfill,
    "events_heatmap": events_heatmap,
    "top_events_per_user": top_events_per_user,
    "user_transition_counts": user_transition_counts,
    "decayed_user_value": decayed_user_value,
    "value_histogram": value_histogram,
    "rolling_active_users": rolling_active_users,
    "rolling_active_users_approx": rolling_active_users_approx,
    "price_equidepth_histogram": price_equidepth_histogram,
    "customer_revenue_rank": customer_revenue_rank,
    "orders_open_backlog": orders_open_backlog,
    "customer_pareto_curve": customer_pareto_curve,
    "events_window_funnel": events_window_funnel,
    "priority_fulfillment_sla": priority_fulfillment_sla,
    "time_weighted_value": time_weighted_value,
    "redelivery_dedup": redelivery_dedup,
    "daily_rolling_median": daily_rolling_median,
    "purchase_touch_counts": purchase_touch_counts,
}
