"""External KV table: read/write integration against a real local store.

Reference: CouchbaseTableExample.java — a Samza job doing per-message
``table.getAsync`` reads and ``sendTo`` writes against an *external*
KV system (Couchbase). The round-1 ``KVTable`` is parquet-backed
(Samza's local RocksDB analog); this module is the external-system
analog, integrating with a genuinely out-of-Spark store: a SQLite
database (stdlib ``sqlite3`` — the in-container stand-in for
Couchbase/DynamoDB/an HTTP service; the integration seams are
identical, swap the three ``_connect``-touching methods).

Shapes, matching the reference:

- ``get``/``put``/``delete``: driver-side point ops (admin path).
- ``enrich_stream``: per-executor cached reads through
  ``lookup_map_in_pandas`` — each Python worker opens its own
  connection and LRU-caches hot keys, the Samza
  CachingTableDescriptor pattern; no driver collect, no shuffle.
- ``write_stream``/``write_batch``: ``sendTo`` — rows land in the
  external store via executor-side batched UPSERTs (one connection
  per partition, WAL journal so concurrent partition writers don't
  serialize on the whole file). Streaming uses ``foreachBatch``
  (idempotent upserts → effectively-once on replay).
"""

from __future__ import annotations

import os
import sqlite3
from collections.abc import Iterator

from pyspark.sql import DataFrame

from ..streaming.sinks import fold_stream

_SCHEMA = "CREATE TABLE IF NOT EXISTS kv (k TEXT PRIMARY KEY, v TEXT)"


def _connect(db_path: str) -> sqlite3.Connection:
    con = sqlite3.connect(db_path, timeout=30.0)
    con.execute("PRAGMA journal_mode=WAL")  # concurrent readers + writer
    con.execute(_SCHEMA)
    return con


class SqliteKVTable:
    """A keyed external store reachable from driver and executors."""

    def __init__(self, db_path: str):
        self.db_path = os.path.abspath(db_path)
        _connect(self.db_path).close()  # create schema eagerly

    # -- point ops (driver/admin path) -----------------------------------

    def put(self, key: str, value: str) -> None:
        with _connect(self.db_path) as con:
            con.execute(
                "INSERT INTO kv(k, v) VALUES(?, ?) "
                "ON CONFLICT(k) DO UPDATE SET v = excluded.v",
                (str(key), value),
            )

    def get(self, key: str) -> str | None:
        with _connect(self.db_path) as con:
            row = con.execute("SELECT v FROM kv WHERE k = ?", (str(key),)).fetchone()
        return row[0] if row else None

    def delete(self, key: str) -> None:
        with _connect(self.db_path) as con:
            con.execute("DELETE FROM kv WHERE k = ?", (str(key),))

    def count(self) -> int:
        with _connect(self.db_path) as con:
            return con.execute("SELECT count(*) FROM kv").fetchone()[0]

    # -- stream read path (getAsync analog) ------------------------------

    def enrich_stream(
        self,
        stream: DataFrame,
        key_col: str,
        value_col: str = "kv_value",
        cache_name: str | None = None,
        max_entries: int = 100_000,
    ) -> DataFrame:
        """Per-row external lookups from the executors, cached per worker.

        The external read function is a picklable closure over the db
        path — each Python worker opens its own connection lazily and
        keeps a TTL/LRU cache, so repeated keys cost no I/O and driver
        memory stays O(1).
        """
        from .remote_table import lookup_map_in_pandas

        db_path = self.db_path

        def read_fn(key: object) -> str | None:
            con = _connect(db_path)
            try:
                row = con.execute(
                    "SELECT v FROM kv WHERE k = ?", (str(key),)
                ).fetchone()
                return row[0] if row else None
            finally:
                con.close()

        return lookup_map_in_pandas(
            stream,
            read_fn,
            key_col,
            value_col,
            cache_name=cache_name or f"sqlite:{db_path}",
            max_entries=max_entries,
        )

    # -- write path (sendTo analog) --------------------------------------

    def write_batch(self, df: DataFrame, key_col: str, value_col: str) -> None:
        """UPSERT a DataFrame into the store from the executors.

        One connection + one transaction per partition; idempotent
        (last-writer-wins upsert), so streaming replays converge.
        """
        db_path = self.db_path

        def write_partition(rows: Iterator) -> None:
            con = _connect(db_path)
            try:
                con.executemany(
                    "INSERT INTO kv(k, v) VALUES(?, ?) "
                    "ON CONFLICT(k) DO UPDATE SET v = excluded.v",
                    ((str(r[key_col]), str(r[value_col])) for r in rows),
                )
                con.commit()
            finally:
                con.close()

        df.select(key_col, value_col).foreachPartition(write_partition)

    def write_stream(self, stream: DataFrame, key_col: str, value_col: str, checkpoint: str):
        """Streaming ``sendTo``: idempotent upserts per micro-batch."""
        return fold_stream(
            stream,
            checkpoint,
            lambda batch, _id: self.write_batch(batch, key_col, value_col),
            output_mode="append",
        )
