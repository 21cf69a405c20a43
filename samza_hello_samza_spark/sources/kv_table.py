"""Keyed table storage: the Samza Table API analog.

Reference surface:
- StreamTableJoinExample.java:88-92 — a profile stream is sent TO a
  RocksDB table (``profileStream.map(...).sendTo(profileTable)``),
  and a pageview stream joins against it.
- CouchbaseTableExample.java — an external KV table read/written from
  the pipeline.

Spark-first: the durable keyed table is a parquet directory of
upserted snapshots (Delta-style compaction without the dependency —
last write per key wins via a window over a monotonically increasing
version). ``sendTo`` = ``upsert`` (foreachBatch from streaming, or a
batch call); ``getTable`` = ``snapshot`` which resolves latest values
and is broadcastable into joins.

At 100 TB the snapshot read is a partition-pruned scan of the last
compaction plus the tail of upserts; ``compact()`` folds the log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import materialize, read_parquet, released
from ..streaming.sinks import fold_stream


class KVTable:
    """An upsert log + latest-wins snapshot over parquet."""

    def __init__(self, spark: SparkSession, path: str, key_col: str):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        os.makedirs(path, exist_ok=True)

    def _next_version(self) -> int:
        existing = [
            int(d.split("=", 1)[1])
            for d in os.listdir(self.path)
            if d.startswith("v=")
        ]
        return (max(existing) + 1) if existing else 0

    def upsert(self, df: DataFrame) -> int:
        """sendTo(table): append a new version of key→row records."""
        version = self._next_version()
        df.write.mode("overwrite").parquet(os.path.join(self.path, f"v={version}"))
        return version

    def snapshot(self) -> DataFrame:
        """Latest value per key across all versions (latest-wins)."""
        versions = sorted(
            d for d in os.listdir(self.path) if d.startswith("v=")
        )
        if not versions:
            raise ValueError(f"KVTable at {self.path} is empty")
        frames = [
            read_parquet(self.spark, os.path.join(self.path, d)).withColumn(
                "_v", F.lit(int(d.split("=", 1)[1]))
            )
            for d in versions
        ]
        log = frames[0]
        for f in frames[1:]:
            log = log.unionByName(f)
        w = Window.partitionBy(self.key_col).orderBy(F.desc("_v"))
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_v")
        )

    def compact(self) -> None:
        """Fold the upsert log into a single version."""
        with released():
            snap = materialize(self.snapshot(), "corpus")
            snap.count()  # materialize before deleting source versions
            version = self._next_version()
            snap.write.mode("overwrite").parquet(os.path.join(self.path, f"v={version}"))
        import shutil

        for d in list(os.listdir(self.path)):
            if d.startswith("v=") and int(d.split("=", 1)[1]) < version:
                shutil.rmtree(os.path.join(self.path, d))

    def join_stream(self, stream: DataFrame, stream_key: str) -> DataFrame:
        """Stream-table join against the broadcast latest snapshot.

        The table-side key column is dropped from the output (it
        duplicates the stream key — leaving both makes the shared
        name ambiguous for downstream selects).
        """
        snap = self.snapshot()
        joined = stream.join(
            maybe_broadcast(snap), stream[stream_key] == snap[self.key_col], "left"
        )
        return joined.drop(snap[self.key_col])


def stream_to_table(stream: DataFrame, table: KVTable, checkpoint: str):
    """Streaming sendTo(table): upsert each non-empty micro-batch."""
    return fold_stream(
        stream, checkpoint, lambda batch, _id: table.upsert(batch), available_now=True
    )
