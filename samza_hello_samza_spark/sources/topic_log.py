"""File-backed partitioned topic: Kafka semantics without a broker.

The reference's primary transport is Kafka (every
``src/main/config/*.properties``; JoinExample/wikipedia run on
topics). This container has no broker and no spark-sql-kafka jar, so
this module provides a transport with the same *contract* over
parquet files, letting every topic→parse→window→sink topology run and
be tested end-to-end in-container:

- **partitioned append-only log**: records hash-partitioned by key
  (``pmod(xxhash64(key), n)``, Kafka's keyed-producer guarantee: one
  key → one partition → per-key order), offsets strictly increasing
  per partition;
- **consumer groups**: committed offsets per (group, partition),
  at-least-once replay from the last commit (read again before
  commit → same records);
- **streaming source**: ``read_stream()`` is a real Structured
  Streaming file source over the log directory — new produce batches
  are discovered as they land, giving the live topology path
  (``maxFilesPerTrigger`` = backpressure analog).

On a cluster you swap ``TopicLog`` for ``connectors.kafka_reader``
(same record schema: partition/offset/key/value/ts) — operators
downstream are transport-agnostic. Swap is config, not code.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import read_parquet, write_json_atomic

#: wire schema, mirroring kafka source output (key/value as strings
#: here; binary on a real broker — serde.py handles either).
RECORD_SCHEMA = (
    "partition INT NOT NULL, offset BIGINT NOT NULL, "
    "key STRING, value STRING, ts TIMESTAMP"
)


class TopicLog:
    """One named topic rooted at ``path`` with ``n_partitions``."""

    def __init__(self, spark: SparkSession, path: str, n_partitions: int = 4):
        self.spark = spark
        self.path = path
        self.n_partitions = n_partitions
        self._data_dir = os.path.join(path, "data")
        self._meta_dir = os.path.join(path, "_meta")
        os.makedirs(self._data_dir, exist_ok=True)
        os.makedirs(os.path.join(self._meta_dir, "groups"), exist_ok=True)
        self._offsets_file = os.path.join(self._meta_dir, "next_offsets.json")

    # -- metadata ---------------------------------------------------------

    def _next_offsets(self) -> dict[str, int]:
        if os.path.exists(self._offsets_file):
            with open(self._offsets_file) as f:
                return {k: int(v) for k, v in json.load(f).items()}
        return {str(p): 0 for p in range(self.n_partitions)}

    def _write_next_offsets(self, offsets: dict[str, int]) -> None:
        write_json_atomic(self._offsets_file, offsets)

    def _group_file(self, group: str) -> str:
        return os.path.join(self._meta_dir, "groups", f"{group}.json")

    def committed(self, group: str) -> dict[str, int]:
        """Last committed (exclusive) offset per partition for a group."""
        path = self._group_file(group)
        if os.path.exists(path):
            with open(path) as f:
                return {k: int(v) for k, v in json.load(f).items()}
        return {str(p): 0 for p in range(self.n_partitions)}

    def commit(self, group: str, offsets: dict[str, int]) -> None:
        merged = self.committed(group)
        for p, o in offsets.items():
            merged[str(p)] = max(merged.get(str(p), 0), int(o))
        write_json_atomic(self._group_file(group), merged)

    # -- produce ----------------------------------------------------------

    def produce(self, df: DataFrame, key_col: str, value_col: str) -> dict[str, int]:
        """Append one batch; returns the new end offsets per partition.

        Partition = ``pmod(xxhash64(key), n)`` (stable across calls →
        per-key ordering, Kafka's keyed guarantee). Offsets are
        ``base + row_number within partition`` — the base comes from
        driver-side metadata, the numbering is a distributed window
        per partition (each partition numbers independently; no global
        sort). One parquet file per topic-partition per batch — the
        same file-count behavior as a Kafka segment roll.
        """
        from pyspark.sql import Window

        base = self._next_offsets()
        part = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(self.n_partitions)).cast("int")
        w = Window.partitionBy("partition").orderBy(F.col("key"), F.monotonically_increasing_id())
        base_expr = F.create_map(
            *[x for p, o in base.items() for x in (F.lit(int(p)), F.lit(o))]
        )
        batch = (
            df.select(
                part.alias("partition"),
                F.col(key_col).cast("string").alias("key"),
                F.col(value_col).cast("string").alias("value"),
            )
            .withColumn("offset", base_expr[F.col("partition")] + F.row_number().over(w) - 1)
            .withColumn("ts", F.lit(time.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp"))
            .select("partition", "offset", "key", "value", "ts")
        )
        out = os.path.join(self._data_dir, f"batch-{uuid.uuid4().hex}")
        batch.repartition("partition").write.mode("overwrite").parquet(out)
        # advance the high-water marks from what was actually written
        ends = (
            read_parquet(self.spark, out)
            .groupBy("partition")
            .agg((F.max("offset") + 1).alias("end"))
            .collect()
        )
        nxt = dict(base)
        for r in ends:
            nxt[str(r.partition)] = int(r.end)
        self._write_next_offsets(nxt)
        return nxt

    # -- consume ----------------------------------------------------------

    def read_all(self) -> DataFrame:
        return read_parquet(
            self.spark,
            self._data_dir,
            schema=StructType.fromDDL(RECORD_SCHEMA),
            recursiveFileLookup="true",
        )

    def read_from(self, offsets: dict[str, int]) -> DataFrame:
        """Records at or past explicit per-partition offsets — the seek
        primitive; callers owning their own offset store (e.g. a
        transactional view manifest) use this instead of group state."""
        if not offsets:  # empty map literal is untyped (map<void,void>)
            return self.read_all()
        floor = F.create_map(
            *[x for p, o in offsets.items() for x in (F.lit(int(p)), F.lit(int(o)))]
        )
        return self.read_all().filter(
            F.col("offset") >= F.coalesce(floor[F.col("partition")], F.lit(0))
        )

    def read_batch(self, group: str) -> DataFrame:
        """Records past the group's committed offsets (at-least-once:
        calling again before ``commit`` returns the same records)."""
        return self.read_from(self.committed(group))

    def end_offsets(self) -> dict[str, int]:
        return self._next_offsets()

    def consumer_lag(self, group: str) -> dict[str, int]:
        """Per-partition lag (end offset − committed offset) for a
        consumer group — Kafka's `kafka-consumer-groups --describe`
        number, the metric every ingest pipeline alarms on: a stuck
        consumer shows as monotonically growing lag long before any
        downstream table looks stale. Metadata-only (two JSON reads);
        partitions the group never committed count their full depth."""
        end = self.end_offsets()
        committed = self.committed(group)
        return {
            p: int(end[p]) - int(committed.get(p, 0))
            for p in sorted(end)
        }

    def read_stream(self, max_files_per_trigger: int | None = None) -> DataFrame:
        """Structured Streaming source over the log — the live path."""
        reader = self.spark.readStream.schema(StructType.fromDDL(RECORD_SCHEMA)).option(
            "recursiveFileLookup", "true"
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.parquet(self._data_dir)

    # -- compaction --------------------------------------------------------

    def data_batch_dirs(self) -> list[str]:
        return sorted(
            os.path.join(self._data_dir, d)
            for d in os.listdir(self._data_dir)
            if os.path.isdir(os.path.join(self._data_dir, d))
        )

    def compact(
        self, sort_runs: bool = False, parquet_block_bytes: int | None = None
    ) -> dict[str, int]:
        """Kafka-style log compaction: retain the latest record per key.

        The KV-changelog retention contract (Samza's changelog topics
        are compacted exactly like this): for every key only the
        highest-offset record survives; its (partition, offset, ts) are
        UNCHANGED, so per-key ordering, committed group offsets, and the
        high-water marks all stay valid — consumers simply stop seeing
        superseded updates. Null-value records are tombstones and are
        dropped entirely (Kafka ``delete`` semantics).

        Plan shape: latest-per-key is an argmax via ``row_number`` over
        ``partitionBy(key)`` — keys hash-spread across tasks, no global
        sort — and the rewrite coalesces each topic-partition into one
        file (segment merge). Single-writer contract, like Kafka's log
        cleaner: don't compact concurrently with ``produce``.

        Returns {"records_before", "records_after", "files_before",
        "files_after"} so a maintenance loop can log its effect.
        """
        import shutil

        from pyspark.sql import Window

        old_dirs = self.data_batch_dirs()
        if not old_dirs:
            return {"records_before": 0, "records_after": 0, "files_before": 0, "files_after": 0}
        all_rows = self.read_all()
        n_before = all_rows.count()
        files_before = sum(
            len([f for f in files if f.endswith(".parquet")])
            for d in old_dirs
            for _, _, files in os.walk(d)
        )
        w = Window.partitionBy("key").orderBy(F.desc("offset"))
        compacted = (
            all_rows.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & F.col("value").isNotNull())
            .drop("_rn")
        )
        out = os.path.join(self._data_dir, f"compacted-{uuid.uuid4().hex}")
        writer = compacted.repartition("partition")
        if sort_runs:
            # LSM-style sorted run: key-sorted within each topic
            # partition with bounded parquet row groups, so a later
            # ``lookup()``'s key predicate prunes on row-group min/max
            # stats — a changelog point-restore touches O(row-group)
            # data instead of the whole run. Sorting rides the same
            # repartition exchange (sort is per-partition, no extra
            # shuffle / no global range partitioning).
            writer = writer.sortWithinPartitions("partition", "key")
        write = writer.write.mode("overwrite")
        if parquet_block_bytes:
            write = write.option("parquet.block.size", parquet_block_bytes)
        write.parquet(out)
        n_after = read_parquet(self.spark, out).count()
        for d in old_dirs:
            shutil.rmtree(d)
        files_after = sum(
            len([f for f in files if f.endswith(".parquet")])
            for _, _, files in os.walk(out)
        )
        return {
            "records_before": int(n_before),
            "records_after": int(n_after),
            "files_before": files_before,
            "files_after": files_after,
        }

    def compact_sorted(self, parquet_block_bytes: int = 8 << 20) -> dict[str, int]:
        """``compact()`` with the read-optimized sorted-run layout."""
        return self.compact(sort_runs=True, parquet_block_bytes=parquet_block_bytes)

    def lookup(self, keys: list[str]) -> DataFrame:
        """Latest surviving value for each requested key (point reads —
        Samza's KeyValueStore ``get`` over the changelog).

        The ``key IN`` predicate pushes down to the parquet scan; over
        a ``compact_sorted()`` run it prunes whole row groups via
        min/max stats (pytest measures the scan's numOutputRows), so a
        point read touches O(row groups hit), not the run. Correct on
        an uncompacted log too — the latest-wins window then does the
        de-duplication the compactor hasn't yet."""
        from pyspark.sql import Window

        rows = self.read_all().filter(F.col("key").isin([str(k) for k in keys]))
        w = Window.partitionBy("key").orderBy(F.desc("offset"))
        return (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & F.col("value").isNotNull())
            .drop("_rn")
        )

    def maybe_compact(self, min_batches: int = 8) -> dict[str, int] | None:
        """The maintenance-loop entry: compact when enough segment dirs
        have accumulated (the analog of Kafka's ``min.cleanable.dirty
        .ratio`` trigger), else do nothing. Call it after every N
        produces or from a scheduled job; idempotent and cheap to skip."""
        if len(self.data_batch_dirs()) < min_batches:
            return None
        return self.compact()
