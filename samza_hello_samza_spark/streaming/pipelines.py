"""Multi-job topologies: chained streaming jobs connected by storage.

The reference runs the Wikipedia pipeline as THREE separate jobs
wired by Kafka topics (wikipedia-feed.properties → wikipedia-raw →
wikipedia-parser.properties → wikipedia-edits →
wikipedia-stats.properties → wikipedia-stats). The Spark-first
topology keeps each stage an independent streaming query connected by
a replayable store — here a parquet directory per topic (exactly how
Kafka topics function: an appendable, replayable log), on a cluster
the same code points at Kafka.

Each stage is restartable from its own checkpoint; downstream stages
discover upstream output incrementally (file-source listing = topic
consumption).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.wikipedia import parse_raw_line, synthesize_raw_line
from ..session import read_parquet
from .jobs import WATERMARK


def feed_job(events: DataFrame) -> DataFrame:
    """Stage 1 (WikipediaFeedStreamTask): raw edit lines onto the log."""
    return events.select(
        "event_id",
        "ts",
        synthesize_raw_line(
            F.col("event_id"), F.col("user_id"), F.col("event_type"), F.col("value")
        ).alias("raw"),
    )


def parser_job(raw: DataFrame) -> DataFrame:
    """Stage 2 (WikipediaParserStreamTask): raw → structured edits.

    Unparseable lines are dropped, mirroring the reference's
    log-and-skip (WikipediaParser.java:39) — the real IRC feeds carry
    malformed lines and a NULL ``raw`` (bad JSON) must not poison the
    downstream stats.
    """
    p = parse_raw_line(F.col("raw"))
    return raw.filter(F.col("raw").isNotNull() & p["matched"]).select(
        "event_id",
        "ts",
        p["title"].alias("title"),
        p["diff_bytes"].alias("diff_bytes"),
        p["is_minor"].cast("int").alias("is_minor"),
        p["is_new"].cast("int").alias("is_new"),
        p["is_bot_edit"].cast("int").alias("is_bot_edit"),
        p["is_special"].cast("int").alias("is_special"),
    )


def stats_job(edits: DataFrame) -> DataFrame:
    """Stage 3 (WikipediaStatsStreamTask): windowed stats over edits."""
    return (
        edits.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(
            F.count("*").alias("edits"),
            F.sum("diff_bytes").alias("bytes_added"),
            F.size(F.collect_set("title")).cast("long").alias("unique_titles"),
            F.sum("is_minor").alias("minor_edits"),
        )
        .select(
            F.unix_timestamp("win.start").alias("window_start_epoch"),
            "edits",
            "bytes_added",
            "unique_titles",
            "minor_edits",
        )
    )


def run_wikipedia_topology(
    spark: SparkSession, events: DataFrame, work_dir: str, timeout_sec: int = 180
) -> DataFrame:
    """Run the 3-stage topology over a bounded stream; return final stats.

    Stages 1→2 write append-mode parquet "topics"; stage 3 reads the
    edits topic and aggregates. Each stage has its own checkpoint, so
    any stage can restart independently — the reference's per-job
    deployment model.
    """
    raw_topic = os.path.join(work_dir, "wikipedia-raw")
    edits_topic = os.path.join(work_dir, "wikipedia-edits")

    q1 = (
        feed_job(events)
        .writeStream.format("parquet")
        .option("path", raw_topic)
        .option("checkpointLocation", os.path.join(work_dir, "ck-feed"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(timeout_sec)

    raw_stream = spark.readStream.schema(
        read_parquet(spark, raw_topic).schema
    ).parquet(raw_topic)
    q2 = (
        parser_job(raw_stream)
        .writeStream.format("parquet")
        .option("path", edits_topic)
        .option("checkpointLocation", os.path.join(work_dir, "ck-parse"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(timeout_sec)

    edits_stream = spark.readStream.schema(
        read_parquet(spark, edits_topic).schema
    ).parquet(edits_topic)
    return stats_job(edits_stream)
