"""As-of (point-in-time) join — a custom operator Spark lacks natively.

For each left row, find the latest right row at-or-before its
timestamp within the same key. The naive formulations both fail at
100 TB: a range-condition join explodes to every earlier match before
aggregating it back down, and a per-key loop isn't a plan at all.

The scalable form is **tag-union + running last**:

1. tag both sides and union them into one (key, time)-stream;
2. one window partitioned by key, ordered by (time, side-tag) —
   right rows sort before left rows at equal timestamps, making the
   match inclusive;
3. ``last(right_value, ignorenulls=True)`` over the running frame
   carries the most recent right row forward;
4. keep only left rows.

One shuffle (by key), a linear per-partition scan, zero row
amplification. The right side is pre-deduplicated to one row per
(key, time) — max value wins — so results are deterministic; DuckDB's
native ASOF JOIN (the oracle) leaves equal-time ties unspecified
otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Generic as-of join: latest ``right`` row at-or-before each left row.

    Returns all left columns plus ``value_cols`` from the matched right
    row (null when no right row precedes). ``right`` must be unique per
    (key, right_ts) for deterministic results.
    """
    lt = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left.columns if c != key],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    rt = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c != key],
        *[F.col(c) for c in value_cols],
    )
    w = Window.partitionBy("_k").orderBy("_t", "_side").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    carried = lt.unionByName(rt).select(
        "_k",
        "_side",
        *[c for c in left.columns if c != key],
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
    )
    return carried.filter(F.col("_side") == 1).select(
        F.col("_k").alias(key),
        *[c for c in left.columns if c != key],
        *value_cols,
    )


def asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event enriched with the customer's latest order at-or-before it."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("event_id"), F.col("ts")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("order_ts"),
        )
        .agg(F.max("o_orderkey").alias("asof_orderkey"))
    )
    out = asof_join(
        ev, orders, key="user_id", left_ts="ts", right_ts="order_ts",
        value_cols=["asof_orderkey"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("event_ts_epoch"),
        "asof_orderkey",
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tolerance_s: int | None = None,
) -> DataFrame:
    """Forward as-of join: EARLIEST right row at-or-after each left row,
    optionally within ``tolerance_s`` seconds.

    The mirror of ``asof_join`` (same tag-union + one window, zero row
    amplification), run over the key-stream in DESCENDING time order
    so ``last(..., ignorenulls=True)`` carries the nearest future
    right row backward; right rows sort before left at equal
    timestamps, keeping the match inclusive. The matched right
    timestamp is carried alongside the values so the tolerance is one
    post-hoc null-out — no second pass, no range join.
    """
    lt = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left.columns if c != key],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
        F.lit(None).cast("timestamp").alias("_rt"),
    )
    rt = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
            if c != key
        ],
        *[F.col(c) for c in value_cols],
        F.col(right_ts).cast("timestamp").alias("_rt"),
    )
    w = Window.partitionBy("_k").orderBy(F.col("_t").desc(), "_side").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    carried = lt.unionByName(rt).select(
        "_k",
        "_side",
        F.col("_t").alias("_lt"),
        *[c for c in left.columns if c != key],
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
        F.last("_rt", ignorenulls=True).over(w).alias("_rt"),
    )
    out = carried.filter(F.col("_side") == 1)
    if tolerance_s is not None:
        in_tol = (
            F.unix_timestamp("_rt")
            <= F.unix_timestamp(F.col("_lt").cast("timestamp")) + tolerance_s
        )
        out = out.select(
            "_k",
            "_lt",
            *[c for c in left.columns if c != key],
            *[
                F.when(in_tol, F.col(c)).otherwise(F.lit(None)).alias(c)
                for c in value_cols
            ],
        )
    return out.select(
        F.col("_k").alias(key),
        *[c for c in left.columns if c != key],
        *value_cols,
    )


#: attribution horizon for the forward probe: an order more than 30
#: days after the touchpoint is not credited to it.
FORWARD_TOL_DAYS = 30


def asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event enriched with the customer's NEXT order at-or-after
    it, within a 30-day horizon — the forward-attribution twin of
    ``asof_last_order`` ("did this touchpoint lead to an order?")."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("event_id"), F.col("ts")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("order_ts"),
        )
        .agg(F.max("o_orderkey").alias("next_orderkey"))
    )
    out = asof_join_forward(
        ev,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="order_ts",
        value_cols=["next_orderkey"],
        tolerance_s=FORWARD_TOL_DAYS * 86400,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("event_ts_epoch"),
        # -1 = no order within the horizon (nullable bigint crosses the
        # oracle bridge as NaN-laden float64 — the repo's sentinel rule)
        F.coalesce("next_orderkey", F.lit(-1)).cast("long").alias("next_orderkey"),
    )


def bucketed_range_join(
    fact: DataFrame,
    val_col: str,
    intervals: DataFrame,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Range join (fact.val ∈ [lo, hi]) without a nested-loop join.

    Both sides are mapped onto fixed-width buckets: the fact row to its
    single bucket, each interval to every bucket it overlaps. The join
    becomes an *equi*-join on bucket id (hash-partitionable at any
    scale) and the exact range predicate filters inside the matched
    bucket. Cost is |fact| + Σ interval_width/bucket_width join rows —
    never |fact|×|intervals|. Each (fact, interval) pair meets in
    exactly one bucket (the fact's), so no dedup pass is needed.
    """
    f = fact.withColumn("_b", F.floor(F.col(val_col) / bucket_width))
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width),
                F.floor(F.col(hi_col) / bucket_width),
            )
        ),
    )
    return (
        f.join(iv, "_b")
        .filter((F.col(val_col) >= F.col(lo_col)) & (F.col(val_col) <= F.col(hi_col)))
        .drop("_b")
    )


VALUE_BANDS = (
    ("low", 0.0, 50.0),
    ("mid", 50.0, 100.0),
    ("high", 100.0, 200.0),
    ("xhigh", 200.0, 1e9),
)


def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events joined to a value-band interval table (range join).

    With a literal dim-sized band table the practical plan is a
    broadcast non-equi join (and fully static bands could even be a
    CASE expression); when the interval table is itself big, the
    bucketized form above is the plan that scales.
    """
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(list(VALUE_BANDS), ["band", "lo", "hi"])
    return (
        ev.join(
            F.broadcast(bands),
            (ev.value >= bands.lo) & (ev.value < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def bucketed_interval_join(
    left: DataFrame,
    l_lo: str,
    l_hi: str,
    right: DataFrame,
    r_lo: str,
    r_hi: str,
    keys: list[str],
    bucket_width: int,
) -> DataFrame:
    """Interval-OVERLAP join (both sides are intervals) as an equi-join.

    The third member of the family (``asof_join`` = point-to-latest,
    ``bucketed_range_join`` = point-in-interval): emit every (left,
    right) pair whose closed intervals overlap, sharing ``keys``.
    Both sides explode onto fixed-width buckets, the join is an
    equi-join on (keys, bucket), and the exact overlap predicate
    filters inside the bucket. An overlapping pair meets in EVERY
    shared bucket, so ownership is assigned to exactly one — the
    bucket containing the overlap's start, max(l_lo, r_lo) — which
    dedups without any distinct() shuffle. Cost is Σ width/bucket
    join rows per side; never |left|×|right|.
    """
    w = bucket_width

    def boxed(df: DataFrame, lo: str, hi: str) -> DataFrame:
        from .dedup import explode_nonempty

        return explode_nonempty(
            df,
            [F.col(c) for c in df.columns],
            F.sequence(F.floor(F.col(lo) / w), F.floor(F.col(hi) / w)),
            "_b",
        )

    pairs = boxed(left, l_lo, l_hi).join(boxed(right, r_lo, r_hi), keys + ["_b"])
    overlap_start = F.greatest(F.col(l_lo), F.col(r_lo))
    return (
        pairs.filter(
            (F.col(l_lo) <= F.col(r_hi)) & (F.col(r_lo) <= F.col(l_hi))
        )
        .filter(F.col("_b") == F.floor(overlap_start / w))
        .drop("_b")
    )


#: order-fulfillment attention window: 3 days from (re-based) placement.
ORDER_WINDOW_DAYS = 3
DAY_SEC = 86400
#: events month start (TESTDATA events span 2024-01): orders carry
#: 1995–2001 TPC-H dates, so fulfillment windows are re-based
#: deterministically into the events month from the order key — the
#: same synthesized-from-columns discipline as pii_redact's contact
#: trailers and the wikipedia raw lines; both engines compute the
#: identical placement.
EVENTS_EPOCH0 = 1704067200  # 2024-01-01 00:00:00 UTC
REBASE_MOD_DAYS = 28


def session_order_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which user sessions overlap an open order-fulfillment window?

    The interval×interval question (did the user come back while an
    order was in flight?) that a nested-loop overlap join cannot
    answer at scale. Sessions are ``samza_surface.sessionized`` (a
    ≥30-min silence breaks one); each order opens a 3-day closed window
    placed deterministically inside the events month (see
    EVENTS_EPOCH0 note); the overlap join is
    ``bucketed_interval_join`` on (user, day-bucket) — an equi-join
    with first-shared-bucket dedup, no distinct, no nested loop.
    Output: one row per overlapping (session, order) with the overlap
    length in seconds.
    """
    from .samza_surface import sessionized

    sessions = (
        sessionized(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("s_start"),
            F.unix_timestamp(F.max("ts")).alias("s_end"),
        )
    )
    w_start = (
        F.lit(EVENTS_EPOCH0)
        + (F.col("o_orderkey") % REBASE_MOD_DAYS) * DAY_SEC
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        w_start.cast("long").alias("w_start"),
        (w_start + ORDER_WINDOW_DAYS * DAY_SEC).cast("long").alias("w_end"),
    )
    return (
        bucketed_interval_join(
            sessions, "s_start", "s_end", orders, "w_start", "w_end",
            # bucket width == the order-window length: the EXPLODED volume is the
            # join's cost driver, and the heavy side (orders, 10×
            # sessions) explodes into ⌈len/width⌉+1 buckets, so a
            # 1-day bucket blew every 3-day order window into 4 rows
            # (profiled at sf1: the probe stage dominated the key).
            # With width = window length an order spans ≤2 buckets and
            # a (short) session almost always 1; the first-shared-
            # bucket dedup rule is width-independent, so the relation
            # is IDENTICAL for any width (oracle-pinned).
            ["user_id"], ORDER_WINDOW_DAYS * DAY_SEC,
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "o_orderkey",
            (
                F.least(F.col("s_end"), F.col("w_end"))
                - F.greatest(F.col("s_start"), F.col("w_start"))
            ).cast("long").alias("overlap_seconds"),
        )
    )


ORACLES: dict[str, str] = {
    "session_order_overlap": f"""
        WITH breaks AS (
            SELECT user_id, ts,
                   CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS is_break
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), numbered AS (
            SELECT user_id, ts,
                   CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM breaks
        ), sessions AS (
            SELECT user_id, session_id,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS s_start,
                   CAST(floor(epoch(max(ts))) AS BIGINT) AS s_end
            FROM numbered GROUP BY user_id, session_id
        ), wins AS (
            SELECT o_custkey AS user_id, o_orderkey,
                   CAST({EVENTS_EPOCH0} + (o_orderkey % {REBASE_MOD_DAYS}) * {DAY_SEC}
                        AS BIGINT) AS w_start,
                   CAST({EVENTS_EPOCH0} + (o_orderkey % {REBASE_MOD_DAYS}) * {DAY_SEC}
                        + {ORDER_WINDOW_DAYS * DAY_SEC} AS BIGINT) AS w_end
            FROM orders
        )
        SELECT s.user_id, s.session_id, o_orderkey,
               CAST(least(s_end, w_end) - greatest(s_start, w_start) AS BIGINT)
                   AS overlap_seconds
        FROM sessions s JOIN wins w
          ON s.user_id = w.user_id
         AND s_start <= w_end AND w_start <= s_end
    """,
    "range_join_value_bands": """
        SELECT band,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 100.0),
                     ('high', 100.0, 200.0), ('xhigh', 200.0, 1e9))
             AS bands(band, lo, hi)
          ON value >= lo AND value < hi
        GROUP BY band
    """,
    "asof_last_order": """
        WITH o AS (
            SELECT o_custkey, o_orderdate, max(o_orderkey) AS asof_orderkey
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id,
               CAST(floor(epoch(e.ts)) AS BIGINT) AS event_ts_epoch,
               o.asof_orderkey
        FROM events e
        ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
    "asof_next_order": f"""
        WITH o AS (
            SELECT o_custkey, o_orderdate, max(o_orderkey) AS next_orderkey
            FROM orders GROUP BY 1, 2
        ),
        matched AS (
            SELECT e.event_id, e.user_id, e.ts, o.o_orderdate, o.next_orderkey
            FROM events e
            ASOF LEFT JOIN o
              ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
        )
        SELECT event_id, user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS event_ts_epoch,
               CAST(coalesce(CASE WHEN CAST(floor(epoch(o_orderdate)) AS BIGINT)
                         <= CAST(floor(epoch(ts)) AS BIGINT)
                            + {FORWARD_TOL_DAYS * 86400}
                    THEN next_orderkey END, -1) AS BIGINT) AS next_orderkey
        FROM matched
    """,
}

QUERIES = {
    "asof_last_order": asof_last_order,
    "asof_next_order": asof_next_order,
    "range_join_value_bands": range_join_value_bands,
    "session_order_overlap": session_order_overlap,
}
