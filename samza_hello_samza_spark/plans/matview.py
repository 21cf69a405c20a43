"""Materialized views (continuous aggregates) with incremental refresh.

The TimescaleDB/Druid/Pinot feature the reference's windowed-stats job
(WikipediaStatsStreamTask + KeyValueStore) approximates by hand: a
persisted aggregate at a fine grain that (a) ANSWERS coarser-grain
queries by re-aggregation instead of scanning the fact table, and
(b) REFRESHES from deltas at delta cost, never a rebuild.

Design for 100 TB:
- Grain rows are MERGEABLE partials: ``count`` and DECIMAL(18,4)
  ``sum`` re-aggregate exactly (decimal addition is associative and
  order-independent, so MV-served sums are bit-identical to
  fact-table sums under any partitioning — SURVEY §4's hardening
  pattern); distinct users are a DataSketches HLL sketch column
  (``hll_sketch_agg``), which ``hll_union_agg`` merges associatively
  — the non-summable aggregate made summable.
- The MV is ``partitionBy(day)``: a refresh overwrites ONLY the day
  partitions its delta touches (dynamic partition overwrite), and the
  read side of the merge is partition-pruned to those days — cost is
  O(delta + touched grain rows), never O(history).
- Serving is a re-aggregation of grain rows (days × event_types —
  bounded), so every coarser rollup (per-type, per-day, grand total)
  is a dimension-sized scan.

``mv_event_type_stats`` is the registered correctness probe: it
builds the MV from the raw events table, serves the per-type rollup
FROM THE MV, and the DuckDB oracle aggregates the raw table directly
— hash-equality proves the MV path end to end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import index_base_dir, load_table, materialize, read_parquet

HLL_LGK = 12
MEASURES = ("n_events", "sum_value", "users_hll")


def _mv_root() -> str:
    return os.path.join(index_base_dir(), "samza_spark_matview")


def _grain(events: DataFrame) -> DataFrame:
    """Aggregate events to the MV grain: (day, event_type) partials."""
    return events.groupBy(
        (F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        # stored grain type is DECIMAL(18,4): the partial sum widens to
        # (28,4) in flight, but persisting the narrow type keeps every
        # partition's schema identical across build and refresh.
        F.sum(F.col("value").cast("decimal(18,4)")).cast("decimal(18,4)").alias(
            "sum_value"
        ),
        F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(HLL_LGK)).alias(
            "users_hll"
        ),
    )


def build_mv(spark: SparkSession, events: DataFrame, out_dir: str) -> str:
    """Materialize the (day, event_type) continuous aggregate."""
    (
        _grain(events)
        .repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(out_dir)
    )
    return out_dir


def refresh_mv(spark: SparkSession, out_dir: str, delta: DataFrame) -> list[int]:
    """Merge a delta of raw events into the MV at delta cost.

    1. Aggregate the delta to grain partials (delta-sized shuffle).
    2. Read ONLY the touched day partitions of the MV (the ``day IN``
       predicate is a partition filter — pruned at file listing, see
       test_matview's plan assertion).
    3. Re-aggregate union(existing partials, delta partials) — exact
       for count/decimal-sum, associative for the HLL sketches.
    4. Dynamic partition overwrite writes ONLY those days back.

    Returns the list of refreshed days. Single-writer contract per
    partition, like every Hive-style dynamic overwrite.
    """
    delta_grain = materialize(_grain(delta), "bounded")  # delta-sized; days for pruning
    days = [r.day for r in delta_grain.select("day").distinct().collect()]
    if not days:
        return []
    existing = read_parquet(spark, out_dir).filter(F.col("day").isin(days))
    merged = (
        existing.unionByName(delta_grain)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.hll_union_agg("users_hll").alias("users_hll"),
        )
        # partial sums of DECIMAL(18,4) widen to (28,4); restore the
        # stored grain type so refreshed partitions match built ones.
        .withColumn("sum_value", F.col("sum_value").cast("decimal(18,4)"))
        .withColumn("n_events", F.col("n_events").cast("long"))
    )
    (
        merged.repartition("day")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(out_dir)
    )
    return sorted(days)


def serve_rollup(spark: SparkSession, out_dir: str, *group_cols: str) -> DataFrame:
    """Answer a coarser-grain aggregate FROM the MV (no fact scan).

    Valid because every measure is mergeable; ``users_est`` is the
    HLL-union estimate (the exact-distinct path needs the fact table
    by definition — that is the point of carrying the sketch).
    """
    mv = read_parquet(spark, out_dir)
    grouped = mv.groupBy(*group_cols) if group_cols else mv.groupBy()
    return grouped.agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sum_value").cast("decimal(18,4)").alias("sum_value"),
        F.hll_sketch_estimate(F.hll_union_agg("users_hll")).alias("users_est"),
    )


def _built_mv_for(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache of the events MV per scale factor (the
    ann_index pattern: an index/MV is corpus state, built per corpus)."""
    tag = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(_mv_root(), tag, "events_daily")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        build_mv(spark, load_table(spark, sf_dir, "events"), out)
    return out


def mv_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type totals served from the MV; oracle scans the raw table.

    Exactness: counts are integers, sums are order-independent
    decimals, so the MV path must hash-match a direct fact-table
    aggregate — the end-to-end proof the MV serves correct answers.
    (The HLL estimate column is pytest-checked against exact distinct
    separately; it has no cross-engine oracle by design.)
    """
    mv_dir = _built_mv_for(spark, sf_dir)
    return serve_rollup(spark, mv_dir, "event_type").select(
        "event_type",
        "n_events",
        F.round(F.col("sum_value").cast("double"), 2).alias("sum_value"),
    )


ORACLES: dict[str, str] = {
    "mv_event_type_stats": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
        FROM events GROUP BY event_type
    """,
}

QUERIES = {
    "mv_event_type_stats": mv_event_type_stats,
}
