"""Streaming sources.

Samza's input surface (Kafka topics, Kinesis, EventHubs, the
Wikipedia IRC feed — reference src/main/java/samza/examples/
wikipedia/system/WikipediaSystemFactory.java) maps to Spark's
``readStream`` formats. In this container there is no broker, so the
concrete sources are:

- file streams over the driver's parquet (the production pattern for
  replayable ingestion; swap ``format("parquet")`` for
  ``format("kafka")`` + ``subscribe`` on a cluster — the downstream
  job code is unchanged, which is the point of declaring jobs as
  DataFrame→DataFrame transformations),
- ``rate`` source for synthetic load,
- per-test in-memory/file-append dirs for multi-batch scenarios.

Kafka wiring (commented, requires the spark-sql-kafka package on a
real cluster)::

    spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", "broker:9092")
        .option("subscribe", "pageview-filter-input")
        .load()
        .select(F.from_json(F.col("value").cast("string"), schema).alias("v"))
        .select("v.*")
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, read_parquet
from .pipelines import feed_job


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-streaming source over the events table (schema from batch).

    The nanos→micros timestamp conversion matches session.load_table.
    """
    from ..session import normalize_nanos_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    # file streaming sources need a directory; pathGlobFilter narrows
    # the listing to the events table within the sf dir.
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_nanos_ts(stream)


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-streaming source over the documents table — the live-ingest
    path of the curation pipeline (docs arrive, get gated and deduped
    continuously instead of in nightly batches)."""
    schema = read_parquet(spark, os.path.join(sf_dir, "documents.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def customer_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static dim side for stream-table joins (Samza's RocksDB table)."""
    return load_table(spark, sf_dir, "customer")


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic load source shaped like events."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 100).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("signup")),
                (F.col("value") % 3 + 1).cast("int"),
            ).alias("event_type"),
            (F.col("value") % 1000).cast("double").alias("value"),
        )
    )


def wikipedia_live_feed(spark: SparkSession, rows_per_second: int = 500) -> DataFrame:
    """LIVE ingest of the wikipedia feed: ``pipelines.feed_job`` over an
    unbounded rate source, emitting reference-format raw edit lines as
    they are generated.

    The in-container analog of the reference's IRC consumer
    (wikipedia/system/WikipediaConsumer.java): a push source producing
    raw lines in real time, feeding the SAME parser → stats chain as
    the replayable file path and the batch keys. On a cluster the rate
    source swaps for the socket/Kafka feed; everything downstream is
    unchanged.
    """
    return feed_job(rate_stream(spark, rows_per_second))
