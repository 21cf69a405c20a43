"""Batch analogs of every samza-hello-samza cookbook/SQL operator.

Each key takes ``(spark, sf_dir)`` and returns a DataFrame; the
module-level ``ORACLES`` dict holds the equivalent DuckDB SQL. Column
names are aliased identically on both sides (driver hashes values
after sorting columns by name).

A job the reference also runs as a stream is written once, as a
``DataFrame -> DataFrame`` function: ``valid_events``,
``tumbling_counts``, ``enrich_events`` here and the Wikipedia feed →
parser → stats stages in ``streaming.pipelines``. The key applies it to
``load_table``; a stream applies the same function to ``readStream``.

Scale notes (100 TB target):
- Dim joins (`customer`, `nation`) are explicit ``broadcast()`` —
  no shuffle of the fact side.
- Aggregations are plain ``groupBy`` so Catalyst plans partial
  (map-side) aggregation before the exchange.
- The stream-stream join is an interval equi-join: equi key first
  (user_id) so the planner shuffles on the key and the time predicate
  is applied post-match; AQE handles skewed users.
- Timestamps are surfaced as epoch seconds (bigint) so results are
  engine-portable and cheap to hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import load_table
from ..streaming.pipelines import WATERMARK, feed_job, parser_job, stats_job

#: the session gap of every sessionizer, batch and stream (the batch
#: analog of SessionWindowExample's 10s gap).
SESSION_GAP_MIN = 30
JOIN_WINDOW_MIN = 3  # JoinExample.java: Duration.ofMinutes(3)


def valid_events(events: DataFrame) -> DataFrame:
    """FilterExample.java:59-61 — drop invalid users, forward the rest."""
    return events.filter(
        F.col("user_id").isNotNull() & (F.col("event_type") != "error")
    ).select(
        "event_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "user_id",
        "event_type",
        "value",
    )


def filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``valid_events`` over the events table.

    The filter is a pushed-down parquet predicate (check
    `PushedFilters` in .explain): no row ever leaves the scan.
    """
    return valid_events(load_table(spark, sf_dir, "events"))


def project_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """samza-sql-casewhen/samza.sql — quality flag via CASE WHEN."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.when((F.col("n_chars") > 200) & (F.col("lang") == "en"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("quality"),
    )


def casewhen_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """samza-sql-casewhen applied to orders: priority class + open flag."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority").startswith("1"), F.lit("urgent"))
        .when(F.col("o_orderpriority").startswith("2"), F.lit("high"))
        .otherwise(F.lit("normal"))
        .alias("priority_class"),
        F.when(F.col("o_orderstatus") == "O", F.lit(1)).otherwise(F.lit(0)).alias("is_open"),
    )


def groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """samza-sql-groupby/samza.sql — counts per key (partial agg + one exchange)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("*").alias("views"))


def tumbling_counts(events: DataFrame) -> DataFrame:
    """TumblingWindowExample.java:64-70 — per-user counts per 5-min window.

    Grouping on the window struct itself lets a stream expire a
    window's state once the watermark passes it; a batch plan drops
    the watermark.
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "5 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("views"))
        .select(
            F.unix_timestamp("win.start").alias("window_start_epoch"),
            "user_id",
            "views",
        )
    )


def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``tumbling_counts`` over the events table."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


def sessionized(events: DataFrame) -> DataFrame:
    """``events`` plus ``is_break`` and ``session_id``: a session break
    is a silence of at least ``SESSION_GAP_MIN`` since the user's
    previous event, and the running sum of breaks is the session id.

    Micros and ``>=`` match streaming ``F.session_window`` exactly (an
    event at precisely last+gap starts a NEW session: half-open
    session intervals), with no floor-to-seconds boundary artifacts.
    One shuffle on user_id (the window partition); a later groupBy on
    user_id reuses it, no second exchange.
    """
    by_user = Window.partitionBy("user_id").orderBy("ts")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    return events.withColumn(
        "is_break",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(by_user))
            >= F.lit(gap_us)
        ).cast("int"),
    ).withColumn("session_id", F.coalesce(F.sum("is_break").over(by_user), F.lit(0)))


def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SessionWindowExample.java:66-74 — gap-based per-user sessions:
    ``sessionized`` events rolled up per session."""
    return sessionized(load_table(spark, sf_dir, "events")).groupBy(
        "user_id", "session_id"
    ).agg(
        F.unix_timestamp(F.min("ts")).alias("session_start_epoch"),
        F.count("*").alias("views"),
    )


def session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-grain conversion analytics over ``sessionized`` events.

    The question session analytics exists to answer: which sessions
    convert (contain a purchase) and how much do they spend? The
    per-session rollup adds conditional aggregates — converted flag,
    purchases, session value — on the same user_id exchange.
    """
    is_purchase = (F.col("event_type") == "purchase").cast("int")
    return sessionized(load_table(spark, sf_dir, "events")).groupBy(
        "user_id", "session_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(is_purchase).cast("long").alias("n_purchases"),
        F.max(is_purchase).cast("int").alias("converted"),
        F.round(F.sum(F.when(is_purchase == 1, F.col("value")).otherwise(0.0)), 2).alias(
            "purchase_value"
        ),
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JoinExample.java:86-105 — views ⋈ clicks within a 3-minute window.

    DELEGATES to the time-bucketed plan: the skew probe (SCALING.md)
    measured the naive user_id-equi + interval-filter plan at ~2.9×
    under a 20%-hot user (pair-quadratic comparisons on the hot key),
    while the bucketed rewrite holds ~1× on identical output rows —
    so the bucketed plan IS the default surface, and the naive shape
    is kept only as ``_stream_stream_join_naive`` for the probe's
    before/after evidence. Same oracle, same columns, same hashes.
    """
    return stream_stream_join_bucketed(spark, sf_dir)


def _stream_stream_join_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The textbook equi-join + interval-filter plan (pre-r05 default).

    Equi-join on user_id carries the shuffle; the interval predicate
    (click within 3 min after the view) filters post-match. Correct,
    but a hot user does n_views×n_clicks comparisons — kept
    unregistered as the skew probe's baseline.
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = views.join(clicks, on="user_id", how="inner").filter(
        (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {JOIN_WINDOW_MIN} MINUTES"))
    )
    return joined.select(
        "user_id",
        "view_id",
        "click_id",
        F.unix_timestamp("view_ts").alias("view_ts_epoch"),
        F.unix_timestamp("click_ts").alias("click_ts_epoch"),
    )


def stream_stream_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_stream_join through the skew remedy that actually works
    for a hot key in an interval self-join: TIME BUCKETING.

    Identical rows to ``stream_stream_join`` (same oracle). The skew
    probe (SCALING.md) measured the plain join at ~2.9× under a
    20%-hot user_id. Instrumenting the plan showed why the textbook
    salt is the WRONG remedy here: both variants plan as
    BroadcastHashJoin (clicks are dim-sized), so there are no shuffle
    partitions for a salt to spread — salting only multiplies the
    broadcast build side ×n_salts and measured SLOWER (4.75× vs 2.9×).
    The blowup is comparison count: a hot user's n_views×n_clicks
    probe-match iterations, invariant under salting.

    The fix reduces the comparisons themselves (the
    ``session_order_overlap`` bucketed-interval-join trick): join on
    (user_id, time_bucket) with the bucket width = the join window, a
    click exploded to its own bucket and the previous one (the only
    two a matching view can sit in). The hot user's comparisons drop
    from n_views×n_clicks to Σ_b v_b·(c_b + c_{b+1}) — pairs only
    against temporally-plausible clicks — and the exact interval
    predicate then filters within those. Each (view, click) pair can
    match on at most one of the two exploded bucket values, so no
    dedup step is needed.
    """
    bucket_s = JOIN_WINDOW_MIN * 60
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        (F.unix_timestamp("ts") / bucket_s).cast("long").alias("bucket"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.explode(
            F.array(
                (F.unix_timestamp("ts") / bucket_s).cast("long"),
                (F.unix_timestamp("ts") / bucket_s).cast("long") - 1,
            )
        ).alias("bucket"),
    )
    joined = views.join(clicks, on=["user_id", "bucket"], how="inner").filter(
        (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {JOIN_WINDOW_MIN} MINUTES")
        )
    )
    return joined.select(
        "user_id",
        "view_id",
        "click_id",
        F.unix_timestamp("view_ts").alias("view_ts_epoch"),
        F.unix_timestamp("click_ts").alias("click_ts_epoch"),
    )


def enrich_events(events: DataFrame, customer: DataFrame) -> DataFrame:
    """StreamTableJoinExample.java:95-99 — enrich events from the customer dim.

    The dim is broadcast when it fits: the fact stream is never
    shuffled, matching the RocksDB-local-lookup semantics of the
    reference at cluster scale.
    """
    return events.join(
        maybe_broadcast(customer), events.user_id == customer.c_custkey, "inner"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("c_name").alias("company"),
        F.col("c_mktsegment").alias("segment"),
    )


def stream_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``enrich_events`` over the events and customer tables."""
    return enrich_events(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


def stream_table_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_table_join through the explicit skew remedy.

    Same rows as `stream_table_join` (the oracle is byte-identical) —
    but joined via operators.skew.salted_join, so one hot user_id
    spreads across n_salts tasks instead of one straggler. This is
    the hand-applied fallback for when AQE's runtime skew split can't
    help (e.g. a shuffle-free broadcast isn't possible because the
    dim is too big, and the skew is known ahead of time).
    """
    from .skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("company"),
        F.col("c_mktsegment").alias("segment"),
    )
    return salted_join(ev, cust, "user_id").select(
        "event_id", "user_id", "event_type", "company", "segment"
    )


def remote_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RemoteTableJoinExample.java:86-95 — keyed lookup against a remote table.

    The remote (HTTP, rate-limited, cached) table is modeled by
    ``sources.remote_table.CachedLookupTable``; for the distributed
    plan the resolved lookup table is broadcast — the Spark-correct
    equivalent of Samza's cached remote table, since a per-row RPC
    from executors is an anti-pattern at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    nation = load_table(spark, sf_dir, "nation")
    keyed = ev.withColumn("n_key", (F.col("user_id") % 25).cast("int"))
    return (
        keyed.join(F.broadcast(nation), keyed.n_key == nation.n_nationkey, "left")
        .select(
            "event_id",
            "user_id",
            F.col("n_name").alias("looked_up"),
        )
    )


def merge_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WikipediaApplication.java:141-143 mergeAll — union of three channels."""
    ev = load_table(spark, sf_dir, "events")

    def channel(event_type: str, name: str) -> DataFrame:
        return ev.filter(F.col("event_type") == event_type).select(
            "event_id", "user_id", F.lit(name).alias("channel")
        )

    return (
        channel("view", "#en.wikipedia")
        .unionAll(channel("click", "#en.wiktionary"))
        .unionAll(channel("signup", "#en.wikinews"))
    )


def wikipedia_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WikipediaParser.java:46-80 — regex parse of raw edit lines.

    The topology's feed and parser stages over the events table: raw
    lines are synthesized deterministically from events (the container
    has no IRC feed), then parsed back with the reference's regex — all
    inside whole-stage codegen.
    """
    return parser_job(feed_job(load_table(spark, sf_dir, "events"))).drop("ts")


def wikipedia_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WikipediaStatsStreamTask.java:30-75 — 10-min-window edit stats.

    The topology's three stages over the events table, plus
    ``edits_all_time`` — the KeyValueStore-backed running total —
    expressed as a cumulative sum over the aggregated window rows, not
    over raw events.

    The running total is one ``Window.orderBy`` over the windowed
    aggregate, which runs in a single partition. That relation has one
    row per 10 minutes of event time — at most 52,560 rows per year of
    events, whatever the event volume — so the single task stays small
    at any scale. The aggregate has one consumer, so the plan scans and
    parses the events once with nothing materialised eagerly.
    """
    running = Window.orderBy("window_start_epoch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    edits = parser_job(feed_job(load_table(spark, sf_dir, "events")))
    return stats_job(edits).withColumn("edits_all_time", F.sum("edits").over(running))


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quickstart/wordcount — explode(split) + count over documents."""
    from .dedup import explode_nonempty

    docs = load_table(spark, sf_dir, "documents")
    words = explode_nonempty(
        docs, [], F.split(F.lower(F.col("text")), r"\s+"), "word"
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count("*").alias("cnt"))


def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 10-minute windows every 5 minutes.

    The other windowing mode next to tumbling/session — each event
    lands in exactly window_size/slide windows (2 here), which Spark's
    ``window()`` expands JVM-side before the aggregate; shuffle volume
    is 2× tumbling, the inherent cost of overlap.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(
                F.window("ts", "10 minutes", "5 minutes").start
            ).alias("window_start_epoch"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )


def top_users_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-style ranking: top-10 users by total event value."""
    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count("*").alias("n_events"),
    )
    return totals.orderBy(F.desc("total_value"), F.asc("user_id")).limit(10)


# --- DuckDB oracles (identical column names/aliases) -----------------

_WIKI_RAW_SQL = """
    SELECT event_id,
           '[[' || CASE WHEN event_type = 'signup' THEN 'Special:' ELSE '' END
                || 'Page_' || CAST(event_id % 97 AS VARCHAR) || ']] '
           || CASE WHEN f = '' THEN '-' ELSE f END || ' '
           || 'https://diff/' || CAST(event_id AS VARCHAR) || ' * '
           || 'user_' || CAST(user_id AS VARCHAR) || ' * ('
           || CASE WHEN bd >= 0 THEN '+' ELSE '' END || CAST(bd AS VARCHAR)
           || ') edit summary ' || CAST(event_id % 13 AS VARCHAR) AS raw
    FROM (
        SELECT event_id, user_id,
               CASE WHEN value < 100 THEN 'M' ELSE '' END
               || CASE WHEN event_type = 'signup' THEN 'N' ELSE '' END
               || CASE WHEN user_id % 2 = 0 THEN 'B' ELSE '' END
               || CASE WHEN event_type = 'error' THEN '!' ELSE '' END AS f,
               CAST(trunc(value * 10) AS BIGINT) - 500 AS bd,
               event_type, value
        FROM events
    )
"""

_WIKI_REGEX = r"\[\[(.*)\]\] (\S*) (\S*) \* (.*) \* \(\+?(-?\d+)\) (.*)"

_WIKI_PARSED_SQL = f"""
    SELECT event_id,
           regexp_extract(raw, '{_WIKI_REGEX}', 1) AS title,
           regexp_extract(raw, '{_WIKI_REGEX}', 4) AS edit_user,
           CAST(regexp_extract(raw, '{_WIKI_REGEX}', 5) AS BIGINT) AS diff_bytes,
           regexp_extract(raw, '{_WIKI_REGEX}', 3) AS diff_url,
           regexp_extract(raw, '{_WIKI_REGEX}', 6) AS summary,
           CASE WHEN contains(regexp_extract(raw, '{_WIKI_REGEX}', 2), 'M') THEN 1 ELSE 0 END AS is_minor,
           CASE WHEN contains(regexp_extract(raw, '{_WIKI_REGEX}', 2), 'N') THEN 1 ELSE 0 END AS is_new,
           CASE WHEN contains(regexp_extract(raw, '{_WIKI_REGEX}', 2), '!') THEN 1 ELSE 0 END AS is_unpatrolled,
           CASE WHEN contains(regexp_extract(raw, '{_WIKI_REGEX}', 2), 'B') THEN 1 ELSE 0 END AS is_bot_edit,
           CASE WHEN starts_with(regexp_extract(raw, '{_WIKI_REGEX}', 1), 'Special:') THEN 1 ELSE 0 END AS is_special,
           CASE WHEN starts_with(regexp_extract(raw, '{_WIKI_REGEX}', 1), 'Talk:') THEN 1 ELSE 0 END AS is_talk
    FROM ({_WIKI_RAW_SQL})
"""

ORACLES: dict[str, str] = {
    "filter_events": """
        SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch, user_id, event_type, value
        FROM events
        WHERE user_id IS NOT NULL AND event_type <> 'error'
    """,
    "project_case_when": """
        SELECT doc_id, lang,
               CASE WHEN n_chars > 200 AND lang = 'en' THEN 1 ELSE 0 END AS quality
        FROM documents
    """,
    "casewhen_orders": """
        SELECT o_orderkey,
               CASE WHEN starts_with(o_orderpriority, '1') THEN 'urgent'
                    WHEN starts_with(o_orderpriority, '2') THEN 'high'
                    ELSE 'normal' END AS priority_class,
               CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_open
        FROM orders
    """,
    "groupby_count": """
        SELECT event_type, count(*) AS views FROM events GROUP BY event_type
    """,
    "tumbling_window": """
        SELECT user_id,
               CAST(floor(epoch(time_bucket(INTERVAL '5 minutes', ts))) AS BIGINT) AS window_start_epoch,
               count(*) AS views
        FROM events GROUP BY 1, 2
    """,
    "session_window": """
        WITH breaks AS (
            SELECT user_id, ts,
                   CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS is_break
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessions AS (
            SELECT user_id, ts,
                   CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM breaks
        )
        SELECT user_id, session_id,
               CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
               count(*) AS views
        FROM sessions GROUP BY user_id, session_id
    """,
    "session_conversion": """
        WITH breaks AS (
            SELECT user_id, ts, event_type, value,
                   CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS is_break
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessions AS (
            SELECT user_id, event_type, value,
                   CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM breaks
        )
        SELECT user_id, session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(event_type = 'purchase' AS INT)) AS BIGINT) AS n_purchases,
               CAST(max(CAST(event_type = 'purchase' AS INT)) AS INT) AS converted,
               round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS purchase_value
        FROM sessions GROUP BY user_id, session_id
    """,
    "stream_stream_join": """
        SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
               CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ts_epoch,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_epoch
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 3 MINUTE
    """,
    "stream_stream_join_bucketed": """
        SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
               CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ts_epoch,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts_epoch
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 3 MINUTE
    """,
    "stream_table_join": """
        SELECT e.event_id, e.user_id, e.event_type,
               c.c_name AS company, c.c_mktsegment AS segment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    "sliding_window_counts": """
        WITH e AS (
            SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
        ),
        w AS (
            SELECT event_type,
                   unnest([(sec // 300) * 300, (sec // 300) * 300 - 300]) AS ws
            FROM e
        )
        SELECT ws AS window_start_epoch, event_type, count(*) AS n_events
        FROM w
        GROUP BY 1, 2
    """,
    "stream_table_join_salted": """
        SELECT e.event_id, e.user_id, e.event_type,
               c.c_name AS company, c.c_mktsegment AS segment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    "remote_table_join": """
        SELECT e.event_id, e.user_id, n.n_name AS looked_up
        FROM events e LEFT JOIN nation n ON (e.user_id % 25) = n.n_nationkey
    """,
    "merge_streams": """
        SELECT event_id, user_id, '#en.wikipedia' AS channel FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT event_id, user_id, '#en.wiktionary' AS channel FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT event_id, user_id, '#en.wikinews' AS channel FROM events WHERE event_type = 'signup'
    """,
    "wikipedia_parse": _WIKI_PARSED_SQL,
    "wikipedia_stats": f"""
        WITH parsed AS ({_WIKI_PARSED_SQL}),
        edits AS (
            SELECT p.*, e.ts FROM parsed p JOIN events e USING (event_id)
        ),
        windowed AS (
            SELECT CAST(floor(epoch(time_bucket(INTERVAL '10 minutes', ts))) AS BIGINT) AS window_start_epoch,
                   count(*) AS edits,
                   CAST(sum(diff_bytes) AS BIGINT) AS bytes_added,
                   count(DISTINCT title) AS unique_titles,
                   CAST(sum(is_minor) AS BIGINT) AS minor_edits,
                   CAST(sum(is_new) AS BIGINT) AS new_edits,
                   CAST(sum(is_bot_edit) AS BIGINT) AS bot_edits,
                   CAST(sum(is_special) AS BIGINT) AS special_edits
            FROM edits GROUP BY 1
        )
        SELECT *, CAST(sum(edits) OVER (ORDER BY window_start_epoch
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS edits_all_time
        FROM windowed
    """,
    "wordcount": """
        SELECT word, count(*) AS cnt
        FROM (
            SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    """,
    "top_users_by_value": """
        SELECT user_id, round(sum(value), 2) AS total_value, count(*) AS n_events
        FROM events
        GROUP BY user_id
        ORDER BY total_value DESC, user_id ASC
        LIMIT 10
    """,
}

QUERIES = {
    "filter_events": filter_events,
    "project_case_when": project_case_when,
    "casewhen_orders": casewhen_orders,
    "groupby_count": groupby_count,
    "tumbling_window": tumbling_window,
    "session_window": session_window,
    "session_conversion": session_conversion,
    "stream_stream_join": stream_stream_join,
    "stream_stream_join_bucketed": stream_stream_join_bucketed,
    "sliding_window_counts": sliding_window_counts,
    "stream_table_join": stream_table_join,
    "stream_table_join_salted": stream_table_join_salted,
    "remote_table_join": remote_table_join,
    "merge_streams": merge_streams,
    "wikipedia_parse": wikipedia_parse,
    "wikipedia_stats": wikipedia_stats,
    "wordcount": wordcount,
    "top_users_by_value": top_users_by_value,
}
