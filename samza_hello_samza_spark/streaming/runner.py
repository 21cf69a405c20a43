"""Run streaming jobs to completion on bounded input (test/demo harness).

``run_stream_to_memory`` drives a query on a finite file source:
process all available data, then stop and return the collected rows
from the memory sink. Update/append mode chosen per job (joins are
append-only; aggregations use update so bounded input emits every
touched group without waiting for watermark expiry).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Row


def run_stream_to_memory(
    df: DataFrame, mode: str = "update", timeout_sec: int = 120
) -> list[Row]:
    name = f"mem_{uuid.uuid4().hex[:10]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    spark = df.sparkSession
    return spark.sql(f"SELECT * FROM {name}").collect()


def last_update_per_key(rows: list[Row], key_cols: list[str]) -> dict:
    """For update-mode sinks: the final emitted value per key wins."""
    out = {}
    for r in rows:
        out[tuple(r[k] for k in key_cols)] = r
    return out


def watermark_drops(query) -> int:
    """Total late rows DROPPED by watermarks across a query's recent
    progress — the observability counter a production watermark
    pipeline must alarm on (silent late-data loss is the classic
    streaming correctness failure: results look fine, a slice of the
    input simply never arrived). Sums ``numRowsDroppedByWatermark``
    over every state operator in every progress event."""
    total = 0
    for p in query.recentProgress:
        for op in (p.get("stateOperators") or []):
            total += int(op.get("numRowsDroppedByWatermark", 0) or 0)
    return total
