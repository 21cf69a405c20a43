"""Mergeable-sketch operators beyond the built-ins.

Spark ships HLL++ (``approx_count_distinct`` — used by
events_dau_approx) and KLL-ish percentiles (``percentile_approx``).
This module adds the third classic: a **count-min sketch** for
frequency estimation / heavy hitters over an unbounded key space —
the stream-side answer to "top users" when the exact
``groupBy(user_id)`` state would not fit anywhere.

The sketch is built with deterministic md5-derived hash rows, so the
whole pipeline — build, point-estimate, top-k — is reproducible AND
expressible in ANSI SQL, which makes this (unusually, for a sketch)
a fully oracle-checked operator rather than rows-only.

Scale notes (100 TB):
- the build is ONE corpus scan: each event explodes to D (row, bucket)
  pairs and aggregates into a D×W table (4×256 cells here) — map-side
  partial aggregation collapses each task's contribution to ≤ D·W
  rows, so the shuffle is bounded by the sketch size × tasks, not by
  the data.
- the estimate side joins candidate keys against the D×W cell table
  (broadcast — it is sketch-sized by construction) and takes
  min-over-rows; CMS guarantees estimate ≥ true count, the
  over-estimate bounded by εN with ε = e/W.
- at true stream scale the same fold runs under
  ``applyInPandasWithState`` (see streaming/jobs.py's counter) with
  the D×W array as the state value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, materialize

#: sketch geometry: D independent hash rows × W buckets.
CMS_D = 4
CMS_W = 256
#: report the top-k estimated-frequency keys.
CMS_TOP_K = 20


def _cms_bucket(key: F.Column, row: int) -> F.Column:
    """Row-salted md5 bucket — independent-ish hash per sketch row,
    identical in DuckDB (same string → same md5 → same hex parse)."""
    salted = F.concat(F.lit(f"{row}:"), key.cast("string"))
    return (
        F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long") % CMS_W
    )


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by count-min-sketch frequency estimate.

    Build: one events scan exploding each row into D (row, bucket)
    pairs → groupBy into the D×W cell table. Estimate: candidate keys
    (here the distinct users; on a true firehose, whatever key sample
    you track) join the broadcast cell table on their D buckets and
    keep min(cell). The exact count rides along for the
    overestimate-bound check (CMS never underestimates — asserted in
    tests and visible in the output).
    """
    events = load_table(spark, sf_dir, "events")
    pairs = F.array(
        *[
            F.struct(
                F.lit(row).alias("row"),
                _cms_bucket(F.col("user_id"), row).alias("bucket"),
            )
            for row in range(CMS_D)
        ]
    )
    from .dedup import explode_nonempty

    cells = (
        explode_nonempty(events, [], pairs, "p")
        .groupBy(F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    cand = exact.select(
        "user_id",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(row).alias("row"),
                        _cms_bucket(F.col("user_id"), row).alias("bucket"),
                    )
                    for row in range(CMS_D)
                ]
            )
        ).alias("p"),
    ).select("user_id", "exact_count", "p.row", "p.bucket")
    est = (
        cand.join(F.broadcast(cells), ["row", "bucket"])  # sketch-sized build side
        .groupBy("user_id", "exact_count")
        .agg(F.min("cnt").alias("est_count"))
    )
    return (
        est.select(
            "user_id",
            F.col("est_count").cast("long").alias("est_count"),
            F.col("exact_count").cast("long").alias("exact_count"),
        )
        .orderBy(F.desc("est_count"), F.asc("user_id"))
        .limit(CMS_TOP_K)
    )


_CMS_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5({row} || ':' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % "
    + str(CMS_W)
)

#: KMV sample size: quantile error ~ O(1/sqrt(K)) per group.
KMV_K = 256


#: phase-1 salt cells per group for the two-phase k-min.
KMV_SALTS = 64


def _kmv_sample(ev: DataFrame) -> DataFrame:
    """Per-group k-minimum-values sample: the KMV_K rows with the
    smallest md5-slice32(event_id) — a deterministic uniform sample.
    Mergeable by construction (k-min of a union = k-min over the
    per-part k-mins; pytest-asserted), so partial samples fold across
    partitions/batches exactly like the CMS cells above.

    The same merge rule shapes the PLAN: group counts here are tiny
    (5 event types), so a single rank window would sort the whole
    table through |groups| partitions. Phase 1 ranks within
    (group, salt) — |groups|·SALTS cells, each a parallel partial
    k-min; phase 2 re-ranks the surviving ≤ SALTS·K rows per group.
    The heavy sort spreads over every core; the final sort is
    sketch-sized."""
    from pyspark.sql import Window

    h = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    w1 = Window.partitionBy("event_type", "_salt").orderBy("h", "event_id")
    w2 = Window.partitionBy("event_type").orderBy("h", "event_id")
    return (
        ev.select("event_type", "event_id", "value", h.alias("h"))
        .withColumn("_salt", F.pmod(F.col("event_id"), F.lit(KMV_SALTS)))
        .withColumn("rnk", F.row_number().over(w1))
        .filter(F.col("rnk") <= KMV_K)
        .drop("_salt", "rnk")
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= KMV_K)
    )


def quantile_kmv_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV quantile sketch vs exact — per-group calibration report.

    The fourth classic sketch family (after CMS/HLL/KLL): keep the K
    rows with the globally-smallest deterministic hash per group —
    a uniform sample whose merge rule (k-min of a union) makes it a
    true mergeable summary, and whose determinism (md5 of the unique
    event_id) makes the ESTIMATE itself oracle-checkable: DuckDB
    derives the identical sample, so estimated AND exact p50/p90 per
    event type hash-match — the sketch's error is committed evidence,
    not a promise (minhash_jaccard_estimate discipline).

    Scale: one shuffle on the group key; the per-group rank window
    sorts only within bounded groups (top_events_per_user plan), and
    at unbounded group counts the same k-min fold runs as a salted
    two-phase top-k. Estimation cost after sampling is K·groups rows.
    """
    ev = load_table(spark, sf_dir, "events")
    sample = _kmv_sample(ev)
    est = sample.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sample"),
        F.round(F.percentile("value", 0.5), 6).alias("est_p50"),
        F.round(F.percentile("value", 0.9), 6).alias("est_p90"),
    )
    exact = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("exact_p50"),
        F.round(F.percentile("value", 0.9), 6).alias("exact_p90"),
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_sample", "est_p50", "exact_p50", "est_p90", "exact_p90"
    )


#: audience sketch size (k-minimum-values per event type).
KMV_SET_K = 32
#: md5-slice32 hash space: estimates are (K−1)·2³² div h_k.
KMV_SPACE = 1 << 32


def _user_hash(user: F.Column) -> F.Column:
    """Deterministic 32-bit user hash (md5-slice32 family) — identical
    in DuckDB, so the SKETCH ITSELF is cross-engine reproducible."""
    return F.conv(F.substring(F.md5(user.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )


def _kmv_est() -> F.Column:
    """KMV distinct-count estimate from a k-sample carried in columns
    ``n_sk`` / ``hk``: exhaustive sketch (n < K) returns the exact
    count; else (K−1)·2³² div h_k — INTEGER division (never a float
    divide: doubles round the 2⁴¹-sized numerator), hence oracle-exact
    — the property that makes this, unusually for a cardinality
    sketch, hash-checkable."""
    return F.expr(
        f"CASE WHEN n_sk >= {KMV_SET_K} AND hk > 0 "
        f"THEN CAST({(KMV_SET_K - 1) * KMV_SPACE} AS BIGINT) div hk "
        f"ELSE CAST(n_sk AS BIGINT) END"
    )


def audience_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style AUDIENCE SET ALGEBRA: per-event-type KMV
    sketches of the distinct-user set, with union / intersection
    estimates for every type pair — the "how many users did A and B
    reach together / in common" question answered from k-row
    summaries instead of a re-scan, next to exact companions.

    The sketch is the K smallest md5-slice32 user hashes per type.
    Set algebra runs ON THE SKETCHES (the Apache DataSketches theta
    contract): the union sketch is the k-min of the two samples' union
    — exactly the k-min of the true union by the KMV merge theorem
    (pytest-asserted), so a pair's estimate costs 2K rows, never a
    corpus rescan; intersections come from inclusion–exclusion on the
    integer estimates. Every estimate is integer math over
    deterministic hashes, so the whole report is ORACLE-CHECKED —
    the committed-evidence discipline of quantile_kmv_calibration.

    Scale: ONE distinct-shuffle of (event_type, user_id) builds every
    sketch (bounded group count; the salted two-phase k-min of
    ``_kmv_sample`` is the unbounded-groups variant); pair algebra
    touches |types|²·K sketch rows. The exact companions are the
    expensive path (distinct self-join) — at 100 TB you drop them and
    keep the sketches, which is the point of the report.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # distinct (type, user) pairs consumed FIVE ways (sketch build,
    # exact counts, the type list, and both exact-intersection join
    # sides): one events scan + distinct shuffle instead of one per
    # consumer — the plan audit read 14 exchanges on this key.
    du = ev.select("event_type", "user_id").distinct().transform(materialize, "bounded")
    hashed = du.select(
        "event_type", "user_id", _user_hash(F.col("user_id")).alias("h")
    )
    w = Window.partitionBy("event_type").orderBy("h", "user_id")
    sk = (
        hashed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KMV_SET_K)
        .drop("rnk")
        .transform(materialize, "bounded")  # sketch-sized; reused by singles + pairs
    )
    singles = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("hk")
    )
    exact = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    per_type = singles.join(exact, "event_type").select(
        "event_type", "exact_n", _kmv_est().alias("est_n")
    )
    # union sketch per pair: k-min over the two samples' (h, user)
    # union — sketch-sized input (the merge theorem does the rest: the
    # true union's k-min is a subset of the two k-mins' union). The
    # pair frame is a bounded |types|² cross of the type list; every
    # sketch row then arrives via an equi-join on its type.
    types = du.select("event_type").distinct()
    tp = (
        types.select(F.col("event_type").alias("et_a"))
        .crossJoin(types.select(F.col("event_type").alias("et_b")))
        .filter(F.col("et_a") < F.col("et_b"))
    )
    merged = (
        tp.join(
            sk.select(F.col("event_type").alias("et_a"), "user_id", "h"),
            "et_a",
        )
        .select("et_a", "et_b", "user_id", "h")
        .unionByName(
            tp.join(
                sk.select(F.col("event_type").alias("et_b"), "user_id", "h"),
                "et_b",
            ).select("et_a", "et_b", "user_id", "h")
        )
        .distinct()  # same user in both sketches collapses once
    )
    wu = Window.partitionBy("et_a", "et_b").orderBy("h", "user_id")
    usk = (
        merged.withColumn("rnk", F.row_number().over(wu))
        .filter(F.col("rnk") <= KMV_SET_K)
        .groupBy("et_a", "et_b")
        .agg(F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("hk"))
        .select("et_a", "et_b", _kmv_est().alias("est_union"))
    )
    exact_inter = (
        du.select(F.col("event_type").alias("et_a"), "user_id")
        .join(du.select(F.col("event_type").alias("et_b"), "user_id"), "user_id")
        .filter(F.col("et_a") < F.col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    pa = per_type.select(
        F.col("event_type").alias("et_a"),
        F.col("est_n").alias("est_a"),
        F.col("exact_n").alias("exact_a"),
    )
    pb = per_type.select(
        F.col("event_type").alias("et_b"),
        F.col("est_n").alias("est_b"),
        F.col("exact_n").alias("exact_b"),
    )
    return (
        usk.join(pa, "et_a")
        .join(pb, "et_b")
        .join(exact_inter, ["et_a", "et_b"], "left")
        .select(
            "et_a", "et_b", "est_a", "est_b", "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union"))
            .cast("long")
            .alias("est_inter"),
            "exact_a", "exact_b",
            F.coalesce("exact_inter", F.lit(0)).cast("long").alias("exact_inter"),
            (F.col("exact_a") + F.col("exact_b")
             - F.coalesce("exact_inter", F.lit(0)))
            .cast("long")
            .alias("exact_union"),
        )
    )


ORACLES: dict[str, str] = {
    "quantile_kmv_calibration": f"""
        WITH h AS (
            SELECT event_type, event_id, value,
                   CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS h
            FROM events
        ),
        ranked AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h, event_id) AS rnk
            FROM h
        ),
        est AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_sample,
                   round(quantile_cont(value, 0.5), 6) AS est_p50,
                   round(quantile_cont(value, 0.9), 6) AS est_p90
            FROM ranked WHERE rnk <= {KMV_K}
            GROUP BY event_type
        ),
        exact AS (
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS exact_p50,
                   round(quantile_cont(value, 0.9), 6) AS exact_p90
            FROM events
            GROUP BY event_type
        )
        SELECT event_type, n_sample, est_p50, exact_p50, est_p90, exact_p90
        FROM est JOIN exact USING (event_type)
    """,
    "heavy_hitters_cms": f"""
        WITH pairs AS (
            SELECT user_id, r.row,
                   CASE r.row
                       {' '.join(f"WHEN {row} THEN {_CMS_BUCKET_SQL.format(row=row)}" for row in range(CMS_D))}
                   END AS bucket
            FROM events, (SELECT unnest(generate_series(0, {CMS_D - 1})) AS row) r
        ),
        cells AS (
            SELECT row, bucket, count(*) AS cnt FROM pairs GROUP BY row, bucket
        ),
        exact AS (
            SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id
        ),
        est AS (
            SELECT e.user_id, e.exact_count, min(c.cnt) AS est_count
            FROM exact e,
                 (SELECT unnest(generate_series(0, {CMS_D - 1})) AS row) r
            JOIN cells c
              ON c.row = r.row
             AND c.bucket = CASE r.row
                     {' '.join(f"WHEN {row} THEN CAST(concat('0x', substr(md5('{row}:' || CAST(e.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % {CMS_W}" for row in range(CMS_D))}
                 END
            GROUP BY e.user_id, e.exact_count
        )
        SELECT user_id,
               CAST(est_count AS BIGINT) AS est_count,
               CAST(exact_count AS BIGINT) AS exact_count
        FROM est
        ORDER BY est_count DESC, user_id ASC
        LIMIT {CMS_TOP_K}
    """,
}

_KMV_EST_SQL = (
    f"CASE WHEN n_sk >= {KMV_SET_K} AND hk > 0 "
    f"THEN CAST({(KMV_SET_K - 1) * KMV_SPACE} AS BIGINT) // hk "
    f"ELSE CAST(n_sk AS BIGINT) END"
)

ORACLES["audience_kmv_setops"] = f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    hashed AS (
        SELECT event_type, user_id,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS h
        FROM du
    ),
    sk AS MATERIALIZED (
        SELECT event_type, user_id, h FROM (
            SELECT event_type, user_id, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h, user_id) AS rnk
            FROM hashed
        ) WHERE rnk <= {KMV_SET_K}
    ),
    per_type AS (
        SELECT s.event_type, e.exact_n, {_KMV_EST_SQL} AS est_n
        FROM (SELECT event_type, count(*) AS n_sk, max(h) AS hk
              FROM sk GROUP BY event_type) s
        JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_n
              FROM du GROUP BY event_type) e USING (event_type)
    ),
    tp AS (
        SELECT a.event_type AS et_a, b.event_type AS et_b
        FROM (SELECT DISTINCT event_type FROM du) a,
             (SELECT DISTINCT event_type FROM du) b
        WHERE a.event_type < b.event_type
    ),
    merged AS (
        SELECT DISTINCT et_a, et_b, user_id, h FROM (
            SELECT tp.et_a, tp.et_b, sk.user_id, sk.h
            FROM tp JOIN sk ON sk.event_type = tp.et_a
            UNION ALL
            SELECT tp.et_a, tp.et_b, sk.user_id, sk.h
            FROM tp JOIN sk ON sk.event_type = tp.et_b
        )
    ),
    usk AS (
        SELECT et_a, et_b, {_KMV_EST_SQL} AS est_union FROM (
            SELECT et_a, et_b, count(*) AS n_sk, max(h) AS hk FROM (
                SELECT et_a, et_b, user_id, h,
                       row_number() OVER (PARTITION BY et_a, et_b
                                          ORDER BY h, user_id) AS rnk
                FROM merged
            ) WHERE rnk <= {KMV_SET_K}
            GROUP BY et_a, et_b
        )
    ),
    ei AS (
        SELECT a.event_type AS et_a, b.event_type AS et_b,
               CAST(count(*) AS BIGINT) AS exact_inter
        FROM du a JOIN du b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT u.et_a, u.et_b,
           pa.est_n AS est_a, pb.est_n AS est_b, u.est_union,
           CAST(pa.est_n + pb.est_n - u.est_union AS BIGINT) AS est_inter,
           pa.exact_n AS exact_a, pb.exact_n AS exact_b,
           CAST(coalesce(ei.exact_inter, 0) AS BIGINT) AS exact_inter,
           CAST(pa.exact_n + pb.exact_n - coalesce(ei.exact_inter, 0)
                AS BIGINT) AS exact_union
    FROM usk u
    JOIN per_type pa ON pa.event_type = u.et_a
    JOIN per_type pb ON pb.event_type = u.et_b
    LEFT JOIN ei ON ei.et_a = u.et_a AND ei.et_b = u.et_b
"""

QUERIES = {
    "heavy_hitters_cms": heavy_hitters_cms,
    "quantile_kmv_calibration": quantile_kmv_calibration,
    "audience_kmv_setops": audience_kmv_setops,
}
