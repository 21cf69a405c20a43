"""The Wikipedia application's three stages, one definition for batch and stream.

The reference runs the Wikipedia pipeline as THREE separate jobs
wired by Kafka topics (wikipedia-feed.properties → wikipedia-raw →
wikipedia-parser.properties → wikipedia-edits →
wikipedia-stats.properties → wikipedia-stats). ``feed_job``,
``parser_job`` and ``stats_job`` are those stages as
``DataFrame -> DataFrame`` functions, written once:

- the registry keys ``wikipedia_parse`` / ``wikipedia_stats``
  (operators/samza_surface.py) apply them to the batch events table;
- ``run_wikipedia_topology`` runs each stage as an independent
  streaming query connected by a replayable store — here a parquet
  directory per topic (exactly how Kafka topics function: an
  appendable, replayable log), on a cluster the same code points at
  Kafka;
- ``sources.wikipedia_live_feed`` is ``feed_job`` over a rate source.

Each stage is restartable from its own checkpoint; downstream stages
discover upstream output incrementally (file-source listing = topic
consumption).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.wikipedia import edit_fields, parse_raw_line, synthesize_raw_line
from ..operators.dedup import explode_nonempty
from ..session import read_parquet

WATERMARK = "10 minutes"

#: the parsed record's 0/1 flag columns (WikipediaParser.java:60-66)
FLAGS = ("is_minor", "is_new", "is_unpatrolled", "is_bot_edit", "is_special", "is_talk")


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
    """Stage 2 (WikipediaParserStreamTask): raw → the reference's parsed
    edit record, plus ``ts``.

    Unparseable lines are dropped, mirroring the reference's
    log-and-skip (WikipediaParser.java:39) — the real IRC feeds carry
    malformed lines and a NULL ``raw`` (bad JSON) must not poison the
    downstream stats. The drop explodes a one-element array whose
    element is NULL for an unparseable line and filters the NULL out
    after the Generate (``dedup.explode_nonempty``). A plain filter on
    the record's size would be pushed below the parse projection and
    run the regex twice per line: ``wikipedia_stats`` at sf0.1 took
    2.5 s that way against 1.3 s (2 cores).
    """
    lines = raw.select("event_id", "ts", parse_raw_line(F.col("raw")).alias("rec"))
    matched = F.array(F.when(F.size("rec") == 6, F.col("rec")))
    f = edit_fields(F.col("rec"))
    return explode_nonempty(lines, ["event_id", "ts"], matched, "rec").select(
        "event_id",
        "ts",
        f["title"].alias("title"),
        f["user"].alias("edit_user"),
        f["diff_bytes"].alias("diff_bytes"),
        f["diff_url"].alias("diff_url"),
        f["summary"].alias("summary"),
        *(f[c].cast("int").alias(c) for c in FLAGS),
    )


def stats_job(edits: DataFrame) -> DataFrame:
    """Stage 3 (WikipediaStatsStreamTask): 10-minute window stats over edits.

    ``size(collect_set(title))`` counts unique titles on both paths:
    streaming aggregation has no ``countDistinct``. Per-window state is
    one set per window, bounded by the watermark.
    """
    return (
        edits.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(
            F.count("*").alias("edits"),
            F.sum("diff_bytes").alias("bytes_added"),
            F.size(F.collect_set("title")).cast("long").alias("unique_titles"),
            F.sum("is_minor").alias("minor_edits"),
            F.sum("is_new").alias("new_edits"),
            F.sum("is_bot_edit").alias("bot_edits"),
            F.sum("is_special").alias("special_edits"),
        )
        .select(F.unix_timestamp("win.start").alias("window_start_epoch"), "*")
        .drop("win")
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
